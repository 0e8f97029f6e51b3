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
  *    [[mongoStrictDeltas]]); the fold finishes the check against the
  *    key's prior image ([[applyBatch]]) — a deliberate,
  *    stronger semantic than the reference's order-agnostic `reduceGroups`
  *    (which admits non-deterministic merge order, reference comment
  *    :690-699).
  *
  * Prior state is keyed rows (lake files, a stage's `initialStateView`)
  * each batch folds into through [[foldImages]], the fold every lake read
  * runs — not events injected into the batch (reference cogroup :660-680).
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
    * which [[applyBatch]] checks against the key's prior image. This
    * distributes the reference's initial-state cogroup validation
    * (DebeziumTransform.scala:660-680 + :472-496) through the fold of the
    * affected buckets instead of re-reading the whole table state per
    * batch — the 10^10-row strict path. Relational connectors only (Mongo
    * patch chains need the base row; see [[mongoStrictDeltas]]).
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
    * delta that [[applyBatch]] folds onto the affected buckets' rows —
    * the Mongo analog of [[strictDeltas]]: no per-batch union of the whole
    * prior state into the batch's groupByKey (O(table) at 10^10 rows).
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
    * before-image, so presence is the whole precondition). PATCH deltas
    * carry `_patch_mask` (+ lineage cols, which the reference stamps on
    * every patch); the fold takes the rest from the prior image.
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

  /** The merge-on-read fold, the one place deltas meet rows: per key,
    * one image per seq column of `in` (key + payload columns, `operation`,
    * `_patch_mask`), the payload struct its non-null-seq rows reconstruct,
    * null where the key is deleted or absent. FULL rows only: the last
    * writer (greatest seq) wins, one LastByOffset ObjectHashAggregate. Any
    * PARTIAL (patch-masked) row: the rows fold in seq order
    * (PatchFoldBySeq). Partial aggregation keeps hot keys combine-side.
    * `extra` aggregates ride in the same group-by, after the images. */
  def foldImages(in: DataFrame, keyCols: Seq[String], payloadCols: Seq[String],
      anyPatch: Boolean, seqCols: Seq[String], extra: Seq[Column] = Nil): DataFrame = {
    import graft.functions.PatchFoldBySeq.patchFoldBySeq
    val keys = keyCols.map(col)
    val fold: Column => Column =
      if (anyPatch) patchFoldBySeq(
        struct((payloadCols ++ Seq("operation", "_patch_mask")).map(col): _*), _)
      else lastByOffset(struct((payloadCols :+ "operation").map(col): _*), _)
    val folds = seqCols.map(s => fold(col(s)).as(s)) ++ extra
    val folded = in.groupBy(keys: _*).agg(folds.head, folds.tail: _*)
    if (anyPatch) folded // the patch fold is already null for a deleted key
    else folded.select(keys ++ seqCols.map(s => when(col(s"$s.operation") =!= "d",
      struct(payloadCols.map(c => col(s"$s.$c")): _*)).as(s)) ++
      folded.columns.drop(keys.size + seqCols.size).map(col): _*)
  }

  /** Plain rows (key + payload) as [[applyBatch]]'s prior rows at seq 0. */
  def asPrior(rows: DataFrame, keyCols: Seq[String], payloadCols: Seq[String]): DataFrame =
    rows.select((keyCols ++ payloadCols).map(col) ++ Seq(lit(OpRead).as("operation"),
      lit(null).cast(MaskType).as("_patch_mask"), lit(0L).as("_o")): _*)

  private val MaskType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  /** The new rows of `prior` (key + payload, `operation`, `_patch_mask`,
    * seq `_o`) after a reduced delta batch folds onto them at `batchSeq`,
    * above every prior seq. `strict` checks [[firstOpHolds]]; `unique` =
    * (seq column, message of the key) raises on a key with two rows on that
    * side (`_d` batch, `_o` prior). Both checks read the fold's aggregate. */
  def applyBatch(prior: DataFrame, deltas: DataFrame, batchSeq: Long, keyCols: Seq[String],
      payloadCols: Seq[String], anyPatch: Boolean, strict: Boolean,
      unique: Option[(String, Column => Column)] = None): DataFrame = {
    val carry = if (strict) deltas.columns.toSeq.filter(_.startsWith("_first_")) else Nil
    val in = withBatch(prior, deltas, batchSeq, keyCols, payloadCols, carry)
      .withColumn("_n", coalesce(col("_d"), col("_o")))
    val folded = foldImages(in, keyCols, payloadCols, anyPatch,
      Option.when(strict)("_o").toSeq :+ "_n",
      Option.when(strict)(lastByOffset(col("_b"), col("_d")).as("_b")).toSeq ++
        unique.map { case (seq, _) => count(col(seq)).as("_k") })
    val once = unique.fold(folded) { case (_, msg) =>
      holding(folded, col("_k") <= 1, msg(keyString(keyCols))) }
    val checked = if (!strict) once else strictRows(once,
      firstOpHolds(payloadCols, deltas.columns.contains("_first_before")), keyCols, col("_b._first_op"))
    checked.filter(col("_n").isNotNull)
      .select(keyCols.map(col) ++ payloadCols.map(c => col(s"_n.$c").as(c)): _*)
  }

  /** The rows of a reduced strict delta batch, unchanged, once each has
    * passed [[firstOpHolds]] against its key's image in `prior` (as in
    * [[applyBatch]]): the merge-on-read check, which writes the batch. */
  def strictBatch(prior: DataFrame, deltas: DataFrame, batchSeq: Long, keyCols: Seq[String],
      payloadCols: Seq[String], anyPatch: Boolean): DataFrame = {
    val carry = deltas.columns.toSeq.filterNot(keyCols.contains)
    val folded = foldImages(withBatch(prior, deltas, batchSeq, keyCols, payloadCols, carry),
      keyCols, payloadCols, anyPatch, Seq("_o"), Seq(lastByOffset(col("_b"), col("_d")).as("_b")))
    strictRows(folded, firstOpHolds(payloadCols, deltas.columns.contains("_first_before")),
        keyCols, col("_b._first_op"))
      .filter(col("_b").isNotNull)
      .select(keyCols.map(col) ++ carry.map(c => col(s"_b.$c").as(c)): _*)
  }

  /** `prior` rows (seq `_o`) ∪ the batch rows (seq `_d` = `batchSeq`),
    * the batch's `carry` columns packed in `_b` for the fold to return. */
  private def withBatch(prior: DataFrame, deltas: DataFrame, batchSeq: Long,
      keyCols: Seq[String], payloadCols: Seq[String], carry: Seq[String]): DataFrame = {
    val common = (keyCols ++ payloadCols :+ "operation").map(col)
    val mask = if (deltas.columns.contains("_patch_mask")) col("_patch_mask") else lit(null)
    val batch = deltas.select(common ++ Seq(mask.cast(MaskType).as("_patch_mask"),
      lit(null).cast("long").as("_o"), lit(batchSeq).as("_d")) ++
      Option.when(carry.nonEmpty)(struct(carry.map(col): _*).as("_b")): _*)
    prior.select(common ++ Seq(col("_patch_mask"), col("_o"), lit(null).cast("long").as("_d")) ++
        Option.when(carry.nonEmpty)(lit(null).cast(batch.schema("_b").dataType).as("_b")): _*)
      .unionByName(batch)
  }

  /** First-op precondition of a key's batch row `_b` against its prior
    * image `_o` (reference validateEvents): c/r needs none, u/d one equal
    * to its first before-image (ignoring `_offset`) or, with a null
    * before-image (Mongo, :500-524; relational strict decode raises on
    * one), any. */
  private def firstOpHolds(payloadCols: Seq[String], hasBefore: Boolean): Column = {
    val cmp = payloadCols.filterNot(_ == "_offset")
    val sameBefore = if (!hasBefore) lit(true) else col("_b._first_before").isNull ||
      (struct(cmp.map(c => col(s"_b._first_before.$c")): _*) <=> struct(cmp.map(c => col(s"_o.$c")): _*))
    when(col("_b").isNull, lit(true))
      .when(col("_b._first_op").isin(OpCreate, OpRead), col("_o").isNull)
      .otherwise(col("_o").isNotNull && sameBefore)
  }

  /** Rows of `df` for which `ok` holds; the first that fails raises
    * `strict merge violation: key=<key> first_op=<firstOp>`. */
  def strictRows(df: DataFrame, ok: Column, keyCols: Seq[String], firstOp: Column): DataFrame =
    holding(df, ok, concat(lit("strict merge violation: key="), keyString(keyCols),
      lit(" first_op="), firstOp))

  private def keyString(keyCols: Seq[String]): Column =
    concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)

  private def holding(df: DataFrame, ok: Column, msg: Column): DataFrame =
    df.filter(when(assert_true(ok, msg).isNull, lit(true)))
}
