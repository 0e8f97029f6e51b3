package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.apply.CdcApply._
import graft.decode.{DecodeOptions, EnvelopeDecoder, MixedTopic, MongoDecoder}
import graft.model.CdcSchema

/** The reference-shaped strict apply, kept as the differential oracle for
  * the engine's one strict path (per-key deltas folded onto prior rows,
  * `CdcApply.applyBatch`): prior state rows enter the batch as synthetic
  * ("state","r") events at offset 0 (reference cogroup,
  * DebeziumTransform.scala:660-680), and one `flatMapGroups` walks each
  * key's offset-ordered chain (reference validateEvents /
  * applyMongoPatch, :472-524). */
object ChainWalker {

  val ConnectorState = "state"; val ConnectorMongo = "mongodb"
  // event IR field indices the walkers read beyond CdcApply's
  val IConnector = 2; val IBefore = 4

  /** Decode a mixed topic into the walker's event IR (key, offset,
    * connector, operation, before, after, keyMask, pk): each message
    * routes by its own `payload.source.connector` — Mongo messages to
    * `MongoDecoder`, the rest to the relational decoder in per-message
    * dispatch mode. Strict only: Mongo patches are not LWW-mergeable. */
  def decodeMixed(raw: DataFrame, schema: CdcSchema, opts: DecodeOptions): DataFrame = {
    require(opts.strict, "mixed-topic decode requires strict mode (Mongo patches are not LWW-mergeable)")
    val live = raw.filter(col("value").isNotNull)
    val isMongo = MixedTopic.connectorOf(col("value")) <=> lit("mongodb")
    EnvelopeDecoder.decodeRelational(live.filter(!isMongo), schema, opts.copy(connector = None))
      .unionByName(MongoDecoder.decode(live.filter(isMongo), schema,
        opts.copy(connector = Some("mongodb"))))
  }

  /** Inject previous state as synthetic ("state","r") events at offset 0
    * (reference cogroup, DebeziumTransform.scala:660-680). `snapshot` must
    * have the enriched schema (user cols + _topic/_offset). */
  def withInitialState(events: DataFrame, snapshot: DataFrame,
      schema: CdcSchema): DataFrame = {
    val keyCol = concat_ws("|", schema.keyNames.map(n => col(n).cast("string")): _*)
    val stateEvents = snapshot.select(
      keyCol.as("key"),
      lit(0L).as("offset"),
      lit(ConnectorState).as("connector"),
      lit(OpRead).as("operation"),
      lit(null).cast(schema.structType).as("before"),
      struct(schema.structType.fieldNames.map(col).toSeq: _*).as("after"),
      lit(null).cast("array<string>").as("keyMask"))
    events.select("key", "offset", "connector", "operation", "before", "after", "keyMask")
      .unionByName(stateEvents)
  }

  /** Strict apply: offset-ordered chain validation per key.
    * Throws on an invalid transition (mirrors validateEvents /
    * applyMongoPatch, reference :472-524). */
  def applyStrict(events: DataFrame, schema: CdcSchema): DataFrame = {
    val outSchema = schema.structType
    val nFields = outSchema.length
    implicit val rowEnc = Encoders.row(outSchema)
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

    events
      .groupByKey(_.getString(IKey))(Encoders.STRING)
      .flatMapGroups { (key: String, it: Iterator[Row]) =>
        val evs = it.toArray.sortBy(_.getLong(IOffset))
        val isMongo = evs.head.getString(IConnector) == ConnectorMongo
        val last = if (isMongo) applyMongoChain(key, evs, outSchema)
                   else validateChain(key, evs)
        last match {
          case Some(row) => Iterator.single(row)
          case None => Iterator.empty
        }
      }
  }

  /** Relational strict chain validation (reference validateEvents
    * :472-496): adjacent-pair checks, comparing rows on all fields except
    * the trailing `_offset` (the reference's `dropRight(1)`). Returns the
    * final after-image, or None for a delete. */
  private def validateChain(key: String, evs: Array[Row]): Option[Row] = {
    def img(r: Row, idx: Int): Seq[Any] =
      if (r.isNullAt(idx)) null else r.getStruct(idx).toSeq.dropRight(1)
    var i = 0
    while (i < evs.length) {
      val next = evs(i)
      val op = next.getString(IOperation)
      if (i == 0) {
        if (op != OpCreate && op != OpRead)
          throw new IllegalStateException(
            s"key '$key': expected first operation to be 'c'/'r' but got '$op' at offset ${next.getLong(IOffset)}")
      } else {
        val prev = evs(i - 1)
        op match {
          case OpCreate | OpRead =>
            if (!prev.isNullAt(IAfter))
              throw new IllegalStateException(
                s"key '$key': expected previous value to be null for operation '$op' at offset ${next.getLong(IOffset)}")
          case OpUpdate | OpDelete =>
            if (prev.isNullAt(IAfter) || next.isNullAt(IBefore) ||
                img(prev, IAfter) != img(next, IBefore))
              throw new IllegalStateException(
                s"key '$key': expected previous value to equal next before value for operation '$op' at offset ${next.getLong(IOffset)}")
          case other =>
            throw new IllegalStateException(s"key '$key': unknown operation '$other'")
        }
      }
      i += 1
    }
    val last = evs.last
    if (last.getString(IOperation) == OpDelete) None
    else Option(last.getStruct(IAfter))
  }

  /** Mongo strict patch application (reference applyMongoPatch :500-524):
    * c/r replaces, u copies only keyMask fields onto the accumulator,
    * d empties. */
  private def applyMongoChain(key: String, evs: Array[Row],
      outSchema: org.apache.spark.sql.types.StructType): Option[Row] = {
    val empty: Seq[Any] = Seq.fill(outSchema.length)(null)
    var acc: Seq[Any] =
      if (evs.head.isNullAt(IAfter)) empty else evs.head.getStruct(IAfter).toSeq
    var lastOp = evs.head.getString(IOperation)
    var lastAfterRowIsDelete = lastOp == OpDelete
    var i = 1
    while (i < evs.length) {
      val next = evs(i)
      val op = next.getString(IOperation)
      op match {
        case OpCreate | OpRead =>
          if (acc != empty)
            throw new IllegalStateException(
              s"key '$key': expected previous value to be null for operation '$op'")
          acc = next.getStruct(IAfter).toSeq
        case OpUpdate =>
          if (acc == empty)
            throw new IllegalStateException(
              s"key '$key': expected previous value to not be null for operation 'u'")
          val mask = next.getSeq[String](IKeyMask)
          val patch = next.getStruct(IAfter)
          acc = mask.foldLeft(acc) { (seq, field) =>
            val idx = outSchema.fieldIndex(field)
            seq.updated(idx, patch.get(idx))
          }
          // lineage columns track the patch event
          acc = acc
            .updated(outSchema.fieldIndex("_topic"), patch.get(outSchema.fieldIndex("_topic")))
            .updated(outSchema.fieldIndex("_offset"), patch.get(outSchema.fieldIndex("_offset")))
        case OpDelete =>
          if (acc == empty)
            throw new IllegalStateException(
              s"key '$key': expected previous value to not be null for operation 'd'")
          acc = empty
        case other =>
          throw new IllegalStateException(s"key '$key': unknown operation '$other'")
      }
      lastOp = op
      i += 1
    }
    if (lastOp == OpDelete || acc == empty) None
    else Some(Row.fromSeq(acc))
  }
}
