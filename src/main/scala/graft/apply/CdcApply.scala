package graft.apply

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.model.CdcSchema

/** The per-key merge ("apply") stage: reduce each key's change events to
  * ONE delta and apply the deltas onto prior state.
  *
  * Two modes, mirroring the reference:
  *  - non-strict (DebeziumTransform.scala:740-759): last-writer-wins by
  *    offset. Implemented as ONE declarative hash aggregate
  *    (`LastByOffset`): Catalyst plans partial+final aggregation, so
  *    map-side combine reduces every partition to ≤1 row per key before
  *    the shuffle — hot keys cannot skew the reducer, and the whole stage
  *    is codegen'd. This is the 10^10-events hot path.
  *  - strict (reference :683-739): each key's offset-ordered chain is
  *    validated in-batch and reduced to one delta carrying its first-op
  *    precondition ([[strictDeltas]]; Mongo patch chains compose in
  *    [[mongoStrictDeltas]]); [[applyDeltas]] finishes the check against
  *    the key's prior state row — a deliberate, stronger semantic than the
  *    reference's order-agnostic `reduceGroups` (which admits
  *    non-deterministic merge order, reference comment :690-699).
  *
  * Prior state is a keyed table each batch is joined against (the lake
  * snapshot, or a stage's `initialStateView`), not synthetic events
  * injected into the batch (the reference's cogroup, :660-680).
  */
object CdcApply {

  val OpCreate = "c"; val OpRead = "r"; val OpUpdate = "u"; val OpDelete = "d"

  // event IR field indices (mirror of reference :190-196); IPk = the typed
  // primary-key struct the decoders append after keyMask
  val IKey = 0; val IOffset = 1; val IOperation = 3
  val IAfter = 5; val IKeyMask = 6; val IPk = 7

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
    * row; see [[mongoStrictDeltas]]).
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
    * [[strictDeltas]]: no per-batch union of the whole prior state into
    * the batch's groupByKey, which would cost O(table) per batch at 10^10
    * rows.
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

  /** Apply MERGE-ready deltas (≤1 row per key, from [[strictDeltas]],
    * [[mongoStrictDeltas]] or `EnvelopeDecoder.toDeltas`) onto prior
    * `state` (key + payload columns): the one overlay of the lake MERGE
    * and of a stage's `initialStateView`. State and deltas are
    * full-outer-joined by key; a full delta replaces the key's row, a
    * PATCH delta (non-null `_patch_mask`) takes its masked fields from
    * the delta and the rest from the state row, and a delete drops the
    * key. With `strict`, every delta must pass its first-op precondition
    * against the state row ([[strictChecked]]). With no state the deltas
    * become rows without a join, so a plan over one aggregation stays
    * one (a streaming stage runs in complete mode). Returns key + payload
    * columns. */
  def applyDeltas(state: Option[DataFrame], deltas: DataFrame, keyCols: Seq[String],
      payloadCols: Seq[String], strict: Boolean): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val extraCols = deltas.columns
      .filter(c => c == "operation" || c == "_patch_mask" || c.startsWith("_first_")).toSeq
    val hasMask = deltas.columns.contains("_patch_mask")
    val d = deltas.select(keyCols.map(col) :+
      struct((payloadCols ++ extraCols).map(col): _*).as("_delta"): _*)
    val joined = state match {
      case Some(s) =>
        s.select(keyCols.map(col) :+ struct(payloadCols.map(col): _*).as("_snap"): _*)
          .join(d, keyCols, "full_outer")
      case None =>
        val snapType = StructType(payloadCols.map(deltas.schema(_).copy(nullable = true)))
        d.withColumn("_snap", lit(null).cast(snapType))
    }
    val validated =
      if (strict) strictChecked(joined, keyCols, payloadCols, "_delta.",
        deltas.columns.contains("_first_before"))
      else joined
    validated
      .filter(col("_delta").isNull || col("_delta.operation") =!= OpDelete)
      .select(keyCols.map(col) ++ payloadCols.map { c =>
        val fromDelta =
          if (hasMask)
            when(col("_delta._patch_mask").isNotNull &&
                 !array_contains(col("_delta._patch_mask"), c), col(s"_snap.$c"))
              .otherwise(col(s"_delta.$c"))
          else col(s"_delta.$c")
        when(col("_delta").isNotNull, fromDelta).otherwise(col(s"_snap.$c")).as(c)
      }: _*)
  }

  /** Rows of `joined` — delta rows beside each key's current row `_snap`
    * — that pass the batch's strict first-op precondition (reference
    * validateEvents semantics, distributed through the join: no state
    * re-read), raising `strict merge violation` on the first that
    * fails: a create/read needs no current row, an update/delete needs
    * one equal to its first before-image. Deltas without a before-image
    * check presence only, which IS the reference's whole Mongo
    * precondition (:500-524); a PER-ROW null before-image means a Mongo
    * delta in a mixed commit, sound because relational strict decode
    * raises on u/d with a null before (EnvelopeDecoder). `delta` prefixes
    * the delta fields: "_delta." in [[applyDeltas]]' full outer join,
    * whose state-only rows pass (their null `_first_op` takes the
    * presence branch), "" in the lake's merge-on-read left join. */
  private[graft] def strictChecked(joined: DataFrame, keyCols: Seq[String],
      payloadCols: Seq[String], delta: String, hasBefore: Boolean): DataFrame = {
    val cmp = payloadCols.filterNot(_ == "_offset")
    val sameBefore =
      if (hasBefore)
        when(col(s"${delta}_first_before").isNull, lit(true))
          .otherwise(struct(cmp.map(c => col(s"${delta}_first_before.$c")): _*) <=>
            struct(cmp.map(c => col(s"_snap.$c")): _*))
      else lit(true)
    val ok = when(col(s"${delta}_first_op").isin(OpCreate, OpRead), col("_snap").isNull)
      .otherwise(col("_snap").isNotNull && sameBefore)
    joined.filter(
      when(assert_true(ok, concat(lit("strict merge violation: key="),
        concat_ws("|", keyCols.map(c => col(c).cast("string")): _*),
        lit(" first_op="), col(s"${delta}_first_op"))).isNull, lit(true)))
  }
}
