package graft

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.apply.CdcApply
import graft.decode.DecodeOptions
import graft.model.{ArcSchemaParser, CdcSchema}
import graft.streaming.CdcPipeline

/** The reference's user-facing stage contract re-expressed as a plain
  * config case class + execute (DebeziumTransform's O1/O2/O18/O19 surface:
  * inputView → decode → merge (optionally onto initialStateView) →
  * repartition → outputView, with optional persist). A user of the
  * reference plugin maps its HOCON fields 1:1 onto this class.
  *
  * Schema source is exactly-one-of `schema` (programmatic) / `schemaJson`
  * (inline Arc schema) / `schemaUri` (Arc schema file) / `schemaView`
  * (single-row view whose first string column holds the Arc schema JSON)
  * — the reference's one-of enforcement at DebeziumTransform.scala:78-87.
  */
case class CdcStageConfig(
    name: String,
    inputView: String,
    outputView: String,
    schema: Option[CdcSchema] = None,
    schemaJson: Option[String] = None,
    schemaUri: Option[String] = None,
    schemaView: Option[String] = None,
    /** key column names, required with the Arc-JSON schema sources
      * (Arc schemas carry no PK; the reference takes keys from the Kafka
      * message key). */
    keyNames: Seq[String] = Nil,
    /** connector id when known up front; REQUIRED for streaming input
      * views — a stream's first event cannot be sniffed with a driver
      * action (the reference memoizes per partition, :554-565). */
    connector: Option[String] = None,
    strict: Boolean = true,
    initialStateView: Option[String] = None,
    /** key column(s) of the initial-state view (comma-separated for a
      * composite key). Validated against the declared schema's key columns
      * — the reference groups the state view by this field
      * (DebeziumTransform.scala:660-680), so a mismatch silently merges on
      * the wrong key; here it errors. */
    initialStateKey: Option[String] = None,
    persist: Boolean = false,
    /** cache level for `persist` (reference passes
      * arcContext.storageLevel, DebeziumTransform.scala:793; tests use
      * MEMORY_AND_DISK_SER). */
    storageLevel: org.apache.spark.storage.StorageLevel =
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER,
    numPartitions: Option[Int] = None,
    partitionBy: List[String] = Nil)

object CdcStage {

  /** `mixed` = per-message routing over a multiplexed topic
    * ([[graft.decode.MixedTopic]]); requires strict, like mongodb. */
  private val Connectors = Set("mongodb", "mysql", "postgresql", "oracle", "mixed")

  /** Resolve the declared schema from the one-of sources. */
  def resolveSchema(cfg: CdcStageConfig)(implicit spark: SparkSession): CdcSchema = {
    val set = Seq(cfg.schema.isDefined, cfg.schemaJson.isDefined,
      cfg.schemaUri.isDefined, cfg.schemaView.isDefined)
    require(set.count(b => b) == 1,
      "exactly one of schema|schemaJson|schemaUri|schemaView must be set")
    cfg.schema.getOrElse {
      val json = cfg.schemaJson
        .orElse(cfg.schemaUri.map(readUri))
        .getOrElse {
          val df = spark.table(cfg.schemaView.get)
          require(df.columns.nonEmpty, s"schemaView '${cfg.schemaView.get}' has no columns")
          df.select(col(df.columns.head).cast("string")).head().getString(0)
        }
      ArcSchemaParser.parse(json, cfg.keyNames)
    }
  }

  private def readUri(uri: String)(implicit spark: SparkSession): String = {
    val p = new Path(uri)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Execute the stage: mirrors DebeziumTransform.execute
    * (reference :202-799) with the engine's operators. Returns the output
    * DataFrame, registered as `outputView`. */
  def execute(cfg: CdcStageConfig)(implicit spark: SparkSession): DataFrame = {
    val raw = spark.table(cfg.inputView)
    // a strict chain and a state view both need prior state across
    // micro-batches, which only the lake-backed pipeline carries
    require(!raw.isStreaming || (!cfg.strict && cfg.initialStateView.isEmpty),
      s"input view '${cfg.inputView}' is streaming: a strict or initialStateView stage " +
        "needs state carried across micro-batches; stream through graft.streaming.CdcPipeline")
    val schema = resolveSchema(cfg)

    // the reference groups initialStateView by initialStateKey — accepting
    // a key that differs from the declared key columns would merge state on
    // the wrong column with no error
    cfg.initialStateKey.foreach { k =>
      // set comparison: "b,a" groups identically to "a,b" for a composite
      // key — only a genuinely different column set merges wrong state
      val keys = k.split(",").map(_.trim).toSet
      require(keys == schema.keyNames.toSet,
        s"initialStateKey '${k}' does not match the declared key columns " +
          schema.keyNames.mkString("[", ",", "]"))
    }

    // connector routing: from config, or (batch only) peek the first
    // non-tombstone envelope. A streaming view cannot be sniffed — head()
    // is a driver-side action a stream does not support.
    val connector = cfg.connector.getOrElse {
      require(!raw.isStreaming,
        s"input view '${cfg.inputView}' is streaming: set CdcStageConfig.connector " +
          s"(one of ${Connectors.mkString("[", ",", "]")})")
      val sample = raw.filter(col("value").isNotNull).select(col("value")).head(1)
      require(sample.nonEmpty, s"input view '${cfg.inputView}' has no events")
      val valueStr = new String(sample.head.getAs[Array[Byte]](0), "UTF-8")
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(valueStr)
      val c = m.path("payload").path("source").path("connector").asText("")
      require(c.nonEmpty, "invalid message format: missing payload.source.connector")
      c
    }
    require(Connectors.contains(connector),
      s"unsupported connector '$connector'. expected one of ${Connectors.mkString("['", "','", "']")}")
    require((connector != "mongodb" && connector != "mixed") || cfg.strict,
      s"connector '$connector' requires strict mode.")

    // the reference validates nullability + null shapes in non-strict mode
    // too — validate stays on; the validate=false fast path is bench-only
    val opts = DecodeOptions(strict = cfg.strict, validate = true,
      connector = Some(connector))
    val keyCols = schema.keyNames
    val payloadCols = schema.structType.fieldNames.filterNot(keyCols.contains).toSeq

    // state rows fold at seq 0 under the batch at seq 1, the fold's
    // aggregate counting each key's state rows. With no state the deltas
    // are the rows: a strict chain must open with c/r, deletes drop.
    val deltas = CdcPipeline.deltas(raw, schema, opts)
    val merged = (cfg.initialStateView match {
      case Some(view) =>
        CdcApply.applyBatch(CdcApply.asPrior(spark.table(view), keyCols, payloadCols), deltas, 1L,
          keyCols, payloadCols, deltas.columns.contains("_patch_mask"), cfg.strict,
          unique = Some(("_o", (k: Column) => concat(lit(s"initialStateView '$view' holds key '"), k,
            lit("' more than once")))))
      case None => (if (!cfg.strict) deltas else CdcApply.strictRows(deltas,
          col("_first_op").isin(CdcApply.OpCreate, CdcApply.OpRead), keyCols, col("_first_op")))
        .filter(col("operation") =!= CdcApply.OpDelete)
    }).select(schema.structType.fieldNames.map(col).toSeq: _*)

    // O18 repartition
    val repartitioned = (cfg.partitionBy, cfg.numPartitions) match {
      case (Nil, None) => merged
      case (Nil, Some(n)) => merged.repartition(n)
      case (cols, None) => merged.repartition(cols.map(col): _*)
      case (cols, Some(n)) => merged.repartition(n, cols.map(col): _*)
    }

    // O19 view sink + optional cache
    repartitioned.createOrReplaceTempView(cfg.outputView)
    if (cfg.persist && !repartitioned.isStreaming) {
      spark.catalog.cacheTable(cfg.outputView, cfg.storageLevel)
      repartitioned.count()
    }
    repartitioned
  }
}
