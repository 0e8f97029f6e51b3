package graft.apply

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.model.CdcSchema

/** The per-key merge ("apply") stage: reduce all change events per primary
  * key into the final row state.
  *
  * Two modes, mirroring the reference:
  *  - non-strict (DebeziumTransform.scala:740-759): last-writer-wins by
  *    offset. Implemented as ONE declarative hash aggregate
  *    (`max_by(struct(op, after), offset)`): Catalyst plans partial+final
  *    aggregation, so map-side combine reduces every partition to ≤1 row
  *    per key before the shuffle — hot keys cannot skew the reducer, and
  *    the whole stage is codegen'd. This is the 10^10-events hot path.
  *  - strict (reference :683-739): all events of a key are collected,
  *    sorted by offset, and the state-transition chain is validated
  *    (c/r from nothing; u/d from the exact previous after-image; Mongo
  *    patches applied via keyMask). One `flatMapGroups` pass — a
  *    deliberate, stronger semantic than the reference's order-agnostic
  *    `reduceGroups` (which admits non-deterministic merge order,
  *    reference comment :690-699).
  */
object CdcApply {

  val OpCreate = "c"; val OpRead = "r"; val OpUpdate = "u"; val OpDelete = "d"
  val ConnectorState = "state"; val ConnectorMongo = "mongodb"

  // event IR field indices (mirror of reference :190-196); IPk = the typed
  // primary-key struct the decoders append after keyMask
  val IKey = 0; val IOffset = 1; val IConnector = 2; val IOperation = 3
  val IBefore = 4; val IAfter = 5; val IKeyMask = 6; val IPk = 7

  import graft.functions.LastByOffset.lastByOffset

  /** Non-strict last-writer-wins apply → final table rows
    * (user cols + _topic/_offset). Deletes drop out (after is null).
    * One ObjectHashAggregate (see LastByOffset). */
  def applyNonStrict(events: DataFrame): DataFrame =
    events
      .groupBy(col("key"))
      .agg(lastByOffset(struct(col("after")), col("offset")).as("_last"))
      .filter(col("_last.after").isNotNull)
      .select("_last.after.*")

  /** Reduce events to ≤1 winning event per key (keeps op + after),
    * without dropping deletes — the delta set fed to the lake MERGE. */
  def reduceToDeltas(events: DataFrame): DataFrame =
    events
      .groupBy(col("key"))
      .agg(lastByOffset(struct(col("operation"), col("offset"), col("after")),
        col("offset")).as("_last"))
      .select(col("key"), col("_last.operation").as("operation"),
        col("_last.offset").as("offset"), col("_last.after").as("after"))

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

  /** Strict MERGE-ready deltas: per key, validate the in-batch transition
    * chain (offset-ordered), then emit ONE delta row carrying
    *  - the winning (last) event's payload + operation + offset, and
    *  - `_first_op` / `_first_before`: the first event's precondition,
    * so the lake MERGE can finish the validation against the snapshot row
    * it joins with (c/r requires no snapshot row; u/d requires the
    * snapshot row to equal the first before-image). This distributes the
    * reference's initial-state cogroup validation (DebeziumTransform.
    * scala:660-680 + :472-496) through the merge join instead of
    * re-reading the whole table state per batch — the 10^10-row strict
    * path. Relational connectors only (Mongo patch chains need the base
    * row; use applyStrict + withInitialState for Mongo).
    */
  def strictDeltas(events: DataFrame, schema: CdcSchema): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payloadType = schema.structType
    val keyNames = schema.keyNames
    val payloadNames = payloadType.fieldNames.filterNot(keyNames.contains).toSeq
    // row-image comparison drops the trailing `_offset` lineage field
    // (the reference's `dropRight(1)`, DebeziumTransform.scala:483)
    val imgFields = payloadType.fieldNames.dropRight(1).toSeq
    def img(c: Column): Column = struct(imgFields.map(f => c.getField(f).as(f)): _*)

    // DECLARATIVE chain validation (round-3 verdict #2): the former
    // groupByKey.flatMapGroups was an optimizer-opaque object boundary
    // with a per-key array sort — the same shape SURVEY §4 criticizes in
    // the reference. lag(after) over (key, offset) gives each event its
    // predecessor's after-image; assert_true raises the reference's
    // messages on a broken chain. The window's hashpartitioning(key) is
    // reused by the aggregate below, so the whole strict path costs ONE
    // shuffle + sort, all inside whole-stage codegen.
    val w = Window.partitionBy(col("key")).orderBy(col("offset"))
    val prevAfter = lag(col("after"), 1).over(w)
    val op = col("operation")
    val offS = col("offset").cast("string")
    val keyPfx = concat(lit("key '"), col("key"), lit("': "))
    val check =
      when(row_number().over(w) === 1, lit(null).cast("string"))
        .when(op.isin(OpCreate, OpRead), assert_true(prevAfter.isNull,
          concat(keyPfx, lit("expected previous value to be null for operation 'c'/'r' at offset "), offS)).cast("string"))
        .when(op.isin(OpUpdate, OpDelete), assert_true(
          prevAfter.isNotNull && col("before").isNotNull &&
            (img(prevAfter) <=> img(col("before"))),
          concat(keyPfx, lit("expected previous value to equal next before value at offset "), offS)).cast("string"))
        .otherwise(assert_true(lit(false),
          concat(keyPfx, lit("unknown operation '"), op, lit("'"))).cast("string"))

    import graft.functions.LastByOffset.lastByOffset
    // `_chk` rides inside the aggregate input structs so column pruning
    // can never drop it: the asserts evaluate exactly once per event,
    // where the winner struct is materialized anyway. `_first` reuses
    // LastByOffset on the negated offset (min_by on a struct would plan
    // as SortAggregate).
    val agged = events
      .select(col("key"), col("offset"), op, col("before"), col("after"),
        col("pk"), check.as("_chk"))
      .groupBy(col("key"))
      .agg(
        lastByOffset(struct(col("operation"), col("offset"), col("after"),
          col("pk"), col("_chk")), col("offset")).as("_last"),
        lastByOffset(struct(col("operation").as("op"),
          col("before").as("before"), col("_chk").as("chk")),
          -col("offset")).as("_first"),
        count(lit(1)).as("n_events"))
    agged.select(
      keyNames.map(n => col(s"_last.pk.$n").as(n)) ++
      payloadNames.map(n => col(s"_last.after.$n").as(n)) ++
      Seq(col("_last.operation").as("operation"),
        col("_last.offset").as("offset"),
        col("n_events"),
        col("_first.op").as("_first_op"),
        col("_first.before").as("_first_before")): _*)
  }

  /** Mongo strict MERGE-ready deltas: compose each key's in-batch patch
    * chain (reference applyMongoPatch semantics, :500-524) into ONE net
    * delta, so the lake MERGE can finish the job against only the
    * affected buckets' snapshot rows — the Mongo analog of
    * [[strictDeltas]]. Replaces `applyStrict` + `withInitialState`, which
    * unions the ENTIRE snapshot into every micro-batch's groupByKey —
    * O(table) per batch at 10^10 rows.
    *
    * The net effect of a chain over an unknown base row B is exactly one
    * of three shapes, and all intra-chain presence checks are decidable
    * in-batch (patches never empty a document, deletes always do):
    *  - FULL(row): state independent of B (chain starts with c/r, or
    *    passes through d → c);
    *  - PATCH(mask, values): B with masked fields overwritten (chain is
    *    all 'u');
    *  - DELETE: absent.
    * What is NOT decidable in-batch is B's presence itself — exported as
    * `_first_op` (c/r ⇒ B absent, u/d ⇒ B present; Mongo events carry no
    * before-image, so presence is the whole precondition) and enforced
    * inside the merge join. PATCH deltas carry `_patch_mask` (+ lineage
    * cols, which the reference stamps on every patch); the merge takes
    * masked fields from the delta and the rest from the snapshot row.
    */
  def mongoStrictDeltas(events: DataFrame, schema: CdcSchema): DataFrame = {
    import org.apache.spark.sql.types._
    val payloadType = schema.structType
    val keyNames = schema.keyNames
    val payloadNames = payloadType.fieldNames.filterNot(keyNames.contains).toSeq
    val outSchema = StructType(
      schema.keyColumns.map(c => StructField(c.name, c.dataType, c.nullable)) ++
      payloadNames.map(n => payloadType(payloadType.fieldIndex(n)).copy(nullable = true)) ++
      Seq(StructField("operation", StringType, nullable = false),
        StructField("offset", LongType, nullable = false),
        StructField("n_events", LongType, nullable = false),
        StructField("_first_op", StringType, nullable = false),
        StructField("_patch_mask", ArrayType(StringType, containsNull = false), nullable = true)))
    implicit val enc = Encoders.row(outSchema)
    val nFields = payloadType.length
    val payloadIdx = payloadNames.map(payloadType.fieldIndex)
    val lineageIdx = Seq("_topic", "_offset").map(payloadType.fieldIndex)
    val FULL = 0; val PATCH = 1; val DELETE = 2

    events.groupByKey(_.getString(IKey))(Encoders.STRING)
      .flatMapGroups { (key: String, it: Iterator[Row]) =>
        val evs = it.toArray.sortBy(_.getLong(IOffset))
        val acc = new Array[Any](nFields)
        val mask = scala.collection.mutable.LinkedHashSet[String]()
        var mode = -1
        def copyMasked(e: Row): Unit = {
          val after = e.getStruct(IAfter)
          val m = e.getSeq[String](IKeyMask)
          m.foreach { f => acc(payloadType.fieldIndex(f)) = after.get(payloadType.fieldIndex(f)) }
          lineageIdx.foreach(i => acc(i) = after.get(i))
          if (mode == PATCH) mask ++= m
        }
        def setFull(e: Row): Unit = {
          val after = e.getStruct(IAfter)
          var i = 0; while (i < nFields) { acc(i) = after.get(i); i += 1 }
          mode = FULL
        }
        evs.zipWithIndex.foreach { case (e, i) =>
          val op = e.getString(IOperation)
          if (i == 0) op match {
            case OpCreate | OpRead => setFull(e)
            case OpUpdate => mode = PATCH; copyMasked(e)
            case OpDelete => mode = DELETE
            case other => throw new IllegalStateException(s"key '$key': unknown operation '$other'")
          } else op match {
            case OpCreate | OpRead =>
              if (mode != DELETE)
                throw new IllegalStateException(
                  s"key '$key': expected previous value to be null for operation '$op'")
              setFull(e)
            case OpUpdate =>
              if (mode == DELETE)
                throw new IllegalStateException(
                  s"key '$key': expected previous value to not be null for operation 'u'")
              copyMasked(e)
            case OpDelete =>
              if (mode == DELETE)
                throw new IllegalStateException(
                  s"key '$key': expected previous value to not be null for operation 'd'")
              mode = DELETE
            case other => throw new IllegalStateException(s"key '$key': unknown operation '$other'")
          }
        }
        val first = evs.head; val last = evs.last
        val pk = last.getStruct(IPk)
        val outOp = if (mode == DELETE) OpDelete else last.getString(IOperation)
        val payload: Seq[Any] =
          if (mode == DELETE) Seq.fill(payloadIdx.length)(null)
          else payloadIdx.map(acc)
        val outMask: Seq[String] =
          if (mode == PATCH)
            (mask.toSeq.filterNot(keyNames.contains) ++ Seq("_topic", "_offset")).distinct
          else null
        Iterator.single(Row.fromSeq(
          (0 until pk.length).map(pk.get) ++ payload ++
          Seq(outOp, last.getLong(IOffset), evs.length.toLong,
            first.getString(IOperation), outMask)))
      }
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
