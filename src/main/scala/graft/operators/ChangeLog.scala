package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic change-log operators: the column-parameterized core of the CDC
  * apply stage (reference semantics: DebeziumTransform.scala:700-759 —
  * last-writer-wins reduce, delete filter, final projection).
  *
  * Design for scale: LWW is a declarative hash aggregate (`max_by` over a
  * packed struct). Catalyst plans it as partial aggregation (map-side
  * combine) + final aggregation, so each map task emits at most one row per
  * key — a hot key ("skewed conversation") never concentrates more than
  * #partitions rows on a single reducer. This is the property the reference
  * comment at DebeziumTransform.scala:693-695 relies on, expressed natively
  * so whole-stage codegen applies.
  */
object ChangeLog {

  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

  private def isIntegral(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  /** Keep the row with the greatest `orderCol` per key (last-writer-wins).
    * `orderCol` should be a total order within a key (e.g. Kafka offset /
    * LSN); duplicate (key, orderCol) rows are broken deterministically by
    * the packed payload, so the winner is stable under repartitioning and
    * arrival order. The tie ORDER is path-specific (LastByOffset compares
    * serialized payload bytes; max_by/min_by compare the struct
    * field-wise) — each path is individually deterministic, but inputs
    * with duplicate (key, orderCol) may pick different winners across
    * paths, so don't switch an orderCol between integral and non-integral
    * types under an oracle that has ties.
    *
    * Integral order columns run through LastByOffset
    * (TypedImperativeAggregate → ObjectHashAggregate): the built-in
    * `max_by` packs a struct into its aggregate buffer, which
    * HashAggregateExec can't hold — Spark silently falls back to
    * SortAggregate (+40%% on the apply stage, measured in BENCH.md).
    * Non-integral order columns keep the max_by fallback with a
    * struct-packed deterministic tie-break. */
  def latestByKey(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame =
    reduceByKey(df, keyCols, orderCol, descending = true)

  /** Earliest row per key (first-writer-wins) — dedup keeping the original. */
  def earliestByKey(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame =
    reduceByKey(df, keyCols, orderCol, descending = false)

  private def reduceByKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
      descending: Boolean): DataFrame = {
    val payloadCols = df.columns.filterNot(keyCols.contains).toSeq
    val packed = struct(payloadCols.map(col): _*)
    val winner =
      if (isIntegral(df, orderCol)) {
        // earliest = LastByOffset on the negated offset (one aggregate
        // implementation, ObjectHashAggregate on both paths)
        val off = if (descending) col(orderCol).cast("long")
                  else -col(orderCol).cast("long")
        graft.functions.LastByOffset.lastByOffset(packed, off)
      } else if (descending) max_by(packed, struct(col(orderCol), packed))
      else min_by(packed, struct(col(orderCol), packed))
    df.groupBy(keyCols.map(col): _*)
      .agg(winner.as("_w"))
      .select(keyCols.map(col) ++ payloadCols.map(c => col(s"_w.$c").as(c)): _*)
  }

  /** Merge a reduced delta set into a snapshot (MERGE INTO semantics)
    * through the merge-on-read fold, `CdcApply.applyBatch`: a delta row
    * wins, and where `isDelete(deltaStruct)` holds (or is null) the key is
    * dropped (reference: cogroup state-injection
    * DebeziumTransform.scala:660-680 + delete filter :716-717,757-758).
    *
    * Both inputs must already be ≤1 row per key (run [[latestByKey]]
    * first). `snapshot`'s payload columns must be a subset of `delta`'s.
    * Any column name is allowed: the fold runs over positional aliases,
    * so a payload column named like one of its own (`operation`, ...)
    * cannot clash.
    */
  def mergeSnapshot(
      snapshot: DataFrame,
      delta: DataFrame,
      keyCols: Seq[String])(isDelete: Column => Column): DataFrame = {
    import graft.apply.CdcApply
    val payloadCols = snapshot.columns.filterNot(keyCols.contains).toSeq
    val (ks, ps) = (keyCols.indices.map(i => s"k$i"), payloadCols.indices.map(i => s"p$i"))
    val aliased = (keyCols ++ payloadCols).zip(ks ++ ps).map { case (c, a) => col(c).as(a) }
    val dlt = struct(delta.columns.filterNot(keyCols.contains).map(col).toSeq: _*)
    CdcApply.applyBatch(CdcApply.asPrior(snapshot.select(aliased: _*), ks, ps),
      delta.select(aliased :+ when(!isDelete(dlt), lit(CdcApply.OpUpdate))
        .otherwise(lit(CdcApply.OpDelete)).as("operation"): _*),
      1L, ks, ps, anyPatch = false, strict = false)
      .select((ks ++ ps).zip(keyCols ++ payloadCols).map { case (a, c) => col(a).as(c) }: _*)
  }
}
