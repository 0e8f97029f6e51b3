package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.apply.CdcApply
import graft.decode.{DecodeOptions, EnvelopeDecoder, MixedTopic, MongoDecoder}
import graft.lake.LakeTable
import graft.model.CdcSchema

/** Per-micro-batch throughput/lineage metrics (north rule: per-partition
  * lineage + throughput emitted each micro-batch — the declarative
  * equivalent of the reference's StreamingQueryListener logging,
  * MySQLDebeziumTransformSuite.scala:73-83). */
case class BatchMetrics(batchId: Long, events: Long, inserts: Long,
    updates: Long, deletes: Long, offsetMin: Long, offsetMax: Long,
    affectedBuckets: Int, durationMs: Long, eventsPerSec: Double,
    snapshotVersion: Int)

/** The CDC ingest pipeline: raw Debezium envelopes → decode → per-key
  * reduce (LWW or strict-validated) → idempotent lake MERGE.
  *
  * Streaming runs through `foreachBatch` with a checkpoint location:
  * Structured Streaming replays the last un-committed micro-batch after a
  * crash, and the lake's `(checkpointId, batchId)` idempotency makes the
  * replay a no-op if the commit already landed — exactly-once end to end.
  * This replaces the reference's complete-output-mode in-memory state
  * (which re-reduces ALL history every trigger and cannot hold 10^10
  * events); here state lives in the lake table itself.
  */
class CdcPipeline(
    val spark: SparkSession,
    val schema: CdcSchema,
    val table: LakeTable,
    val decodeOptions: DecodeOptions = DecodeOptions(),
    val checkpointId: String = "cdc-pipeline",
    val mergeOnRead: Boolean = false,
    val autoCompact: Int = 8,
    val autoEvolve: Boolean = false) {

  private val metricsBuf = scala.collection.mutable.ArrayBuffer[BatchMetrics]()
  def metrics: Seq[BatchMetrics] = metricsBuf.toSeq

  private var curSchema: CdcSchema = schema
  /** The declared schema, including columns added by auto-evolution. */
  def currentSchema: CdcSchema = curSchema

  /** Handle Debezium schema-evolution messages: if ANY envelope in the
    * batch declares `after` fields the current schema lacks, add them as
    * nullable columns to BOTH the declared schema and the lake table
    * (additive in-place evolution; same-batch old-schema messages simply
    * decode the new columns as null). The batch's DISTINCT schema
    * headers are aggregated — the byte-level scanner slices the header
    * without parsing it, and partial aggregation reduces each partition
    * to its few distinct header strings before the (tiny) shuffle — so a
    * schema-change message interleaved before later old-schema messages
    * evolves the table in the SAME trigger, not one late. Headers are
    * folded newest-first (max offset), first declaration of a name wins.
    * Defensive cap: at most [[CdcPipeline.MaxEvolveHeaders]] distinct
    * headers are inspected per trigger; a pathological batch beyond that
    * evolves the excess one trigger late (the pre-round-4 behavior),
    * never incorrectly. Leave autoEvolve off (the default) when schemas
    * are fixed. No-op on replay: the columns already exist. */
  private def maybeEvolve(raw: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, desc, max}
    val headers = raw.filter(col("value").isNotNull)
      .select(graft.functions.EnvelopeSlices.envelopeSlices(
        col("value"), wantSchema = true, wantBefore = false)
        .getField("schema_json").as("h"), col("offset"))
      .filter(col("h").isNotNull)
      .groupBy(col("h")).agg(max(col("offset")).as("o"))
      .orderBy(desc("o")).take(CdcPipeline.MaxEvolveHeaders)
    if (headers.isEmpty) return
    val added = headers.iterator
      .flatMap(r => graft.model.MessageSchema
        .evolvedColumnsOfSection(r.getString(0), curSchema))
      .toSeq.distinctBy(_.name)
    if (added.nonEmpty) {
      curSchema = curSchema.evolve(added)
      table.evolveSchema(curSchema.structType)
    }
  }

  /** Process one (micro-)batch of raw envelopes; returns the committed
    * snapshot version. Safe to replay: idempotent on (checkpointId, batchId). */
  def processBatch(raw: DataFrame, batchId: Long): Int = {
    val t0 = System.nanoTime()
    val mongo = decodeOptions.connector.contains("mongodb")
    val mixed = decodeOptions.connector.contains("mixed")
    // mixed topics: the relational messages DO carry schema headers —
    // evolve from that subset (Mongo extended-JSON documents have no
    // header; silently ignoring autoEvolve for the whole mixed batch
    // would be a trap). Pure-mongo pipelines: the limitation is inherent.
    if (autoEvolve && !mongo) {
      if (mixed) maybeEvolve(raw.filter(
        !(MixedTopic.connectorOf(org.apache.spark.sql.functions.col("value"))
          <=> org.apache.spark.sql.functions.lit("mongodb"))))
      else maybeEvolve(raw)
    }
    val schema = curSchema
    // mixed routing consumes the raw batch once per connector family —
    // persist it for the duration of this batch so envelope construction
    // and the connector byte-scan don't run twice per branch
    val rawCached =
      if (mixed) raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else raw
    try {
    // strict preconditions and Mongo masked fields are finished in the
    // fold over the affected buckets — state is never re-read wholesale
    val deltas = CdcPipeline.deltas(rawCached, schema, decodeOptions)
    val snap =
      if (mergeOnRead) // Mongo PATCH deltas fold via PatchFoldBySeq on read
        table.mergeDeltas(deltas, checkpointId, batchId,
          strictValidate = decodeOptions.strict, autoCompact = autoCompact)
      else
        table.merge(deltas, checkpointId, batchId,
          strictValidate = decodeOptions.strict)
    val durMs = math.max(1L, (System.nanoTime() - t0) / 1000000)
    snap.lineage.foreach { l =>
      if (l.has("events")) {
        val ev = l.get("events").asLong()
        metricsBuf += BatchMetrics(batchId, ev,
          if (l.has("inserts")) l.get("inserts").asLong() else 0L,
          if (l.has("updates")) l.get("updates").asLong() else 0L,
          if (l.has("deletes")) l.get("deletes").asLong() else 0L,
          if (l.has("offsetMin")) l.get("offsetMin").asLong() else -1L,
          if (l.has("offsetMax")) l.get("offsetMax").asLong() else -1L,
          if (l.has("affectedBuckets")) l.get("affectedBuckets").asInt() else 0,
          durMs, ev * 1000.0 / durMs, snap.version)
      }
    }
    snap.version
    } finally {
      // the merges above are eager, so the cache is fully consumed here;
      // unpersist in finally so a failed batch can't leak the cache
      // across foreachBatch retries
      if (mixed) rawCached.unpersist()
    }
  }

  /** Start the streaming query over a raw-envelope stream. */
  def start(rawStream: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    rawStream.writeStream
      .queryName(s"cdc-$checkpointId")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        processBatch(df, batchId); ()
      }
      .start()
}

object CdcPipeline {
  /** The connector → deltas router of every ingest path: decode a raw
    * batch under `opts` and reduce it to MERGE-ready deltas, ≤1 row per
    * key — a mixed topic through [[MixedTopic.strictDeltas]], mongodb
    * through [[CdcApply.mongoStrictDeltas]], relational strict through
    * [[CdcApply.strictDeltas]] and last-writer-wins through
    * [[EnvelopeDecoder.toDeltas]]. */
  def deltas(raw: DataFrame, schema: CdcSchema, opts: DecodeOptions): DataFrame =
    opts.connector match {
      case Some("mixed") => MixedTopic.strictDeltas(raw, schema, opts)
      case Some("mongodb") =>
        CdcApply.mongoStrictDeltas(MongoDecoder.decode(raw, schema, opts), schema)
      case _ =>
        val events = EnvelopeDecoder.decodeRelational(raw, schema, opts)
        if (opts.strict) CdcApply.strictDeltas(events, schema)
        else EnvelopeDecoder.toDeltas(events, schema)
    }

  /** Cap on distinct schema headers inspected per trigger by
    * auto-evolution — bounds driver work on pathological batches. */
  val MaxEvolveHeaders = 64
}
