package graft.decode

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.apply.CdcApply
import graft.model.CdcSchema

/** Per-MESSAGE connector routing for a multiplexed Debezium topic.
  *
  * The reference memoizes the connector from the FIRST message of each
  * partition and reuses it (DebeziumTransform.scala:536,554-565) — a
  * partition actually mixing connectors silently mis-decodes. Here every
  * message is tagged by its own `payload.source.connector` via the
  * byte-level envelope scanner (no Jackson, no row-image parse), then:
  *
  *  - MongoDB messages route to [[MongoDecoder]] (extended-JSON documents
  *    + `\$set`/`\$unset` patch chains);
  *  - everything else routes to [[EnvelopeDecoder.decodeRelational]] in
  *    per-message dispatch mode (`connector = None`), where Postgres
  *    case folding is itself decided row by row.
  *
  * Each branch filters the raw batch with the cheap scanner tag, so the
  * expensive per-branch decode (from_json / Jackson) touches only that
  * branch's rows; the tag pass itself runs once per branch (twice total)
  * — still far cheaper than one Jackson pass over everything, and no
  * persist of the raw batch is needed.
  */
object MixedTopic {

  /** The message's own connector id, extracted by the byte-level scanner
    * (null for malformed envelopes or envelopes without a source). */
  def connectorOf(value: Column): Column =
    graft.functions.EnvelopeSlices
      .envelopeSlices(value, wantSchema = false, wantBefore = false)
      .getField("connector")

  private def isMongo(value: Column): Column =
    connectorOf(value) <=> lit("mongodb")

  /** Strict MERGE-ready deltas for a mixed topic, in ONE commit: the
    * relational family through [[CdcApply.strictDeltas]] (declarative
    * chain validation, `_first_before` precondition) and the Mongo family
    * through [[CdcApply.mongoStrictDeltas]] (in-batch patch composition,
    * presence-only precondition, `_patch_mask` PATCH deltas). The union
    * carries BOTH `_first_before` (null on Mongo rows → the lake MERGE
    * checks presence only) and `_patch_mask` (null on relational rows →
    * full-row overlay), so either merge strategy applies it unchanged.
    *
    * A key must be fed by ONE connector family within a batch (two delta
    * rows for one key would race in the merge); multiplexed topics carry
    * disjoint tables/keys in practice, and a window count over the DELTA
    * set enforces it — one row per touched key, negligible next to the
    * event shuffle.
    */
  def strictDeltas(raw: DataFrame, schema: CdcSchema, opts: DecodeOptions): DataFrame = {
    require(opts.strict, "mixed-topic decode requires strict mode (Mongo patches are not LWW-mergeable)")
    val live = raw.filter(col("value").isNotNull)
    val maskType = ArrayType(StringType, containsNull = false)
    val rel = CdcApply.strictDeltas(
        EnvelopeDecoder.decodeRelational(
          live.filter(!isMongo(col("value"))), schema, opts.copy(connector = None)),
        schema)
      .withColumn("_patch_mask", lit(null).cast(maskType))
    val mon = CdcApply.mongoStrictDeltas(
        MongoDecoder.decode(
          live.filter(isMongo(col("value"))), schema,
          opts.copy(connector = Some("mongodb"))),
        schema)
      .withColumn("_first_before", lit(null).cast(schema.structType))
    rel.unionByName(mon)
      .withColumn("_fam", count(lit(1)).over(Window.partitionBy(schema.keyNames.map(col): _*)))
      .filter(when(assert_true(col("_fam") === 1,
        concat(lit("key fed by multiple connector families in one batch: "),
          concat_ws("|", schema.keyNames.map(n => col(n).cast("string")): _*))).isNull,
        lit(true)))
      .drop("_fam")
  }
}
