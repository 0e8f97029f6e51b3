package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.decode.DecodeOptions
import graft.gen.EnvelopeGen
import graft.lake.LakeTable
import graft.model.CdcSchema
import graft.streaming.CdcPipeline

/** End-to-end streaming ingest: MemoryStream of raw envelopes →
  * CdcPipeline (foreachBatch, checkpointed) → lake table → oracle parity;
  * plus exactly-once replay and strict merge validation. */
class CdcPipelineSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  val schema = CdcSchema.transcripts

  private def newTable(nBuckets: Int = 8): LakeTable = {
    val dir = Files.createTempDirectory("lake").toString
    val t = new LakeTable(spark, dir)
    t.create(schema.structType, schema.keyNames, nBuckets)
    t
  }

  private def rawRows(wl: EnvelopeGen.Workload): Seq[EnvelopeGen.RawEnvelope] =
    wl.ops.zipWithIndex.map { case (op, i) =>
      val (k, v) = EnvelopeGen.relationalEnvelope(op, "mysql", 1700000000000L + i)
      EnvelopeGen.RawEnvelope(k.getBytes("UTF-8"), v.getBytes("UTF-8"),
        "cdc.transcripts", i % 4, i.toLong, new java.sql.Timestamp(1700000000000L + i), 0)
    }

  private def stateSet(t: LakeTable) =
    t.read().select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  private def oracleSet(wl: EnvelopeGen.Workload) =
    wl.finalState.values.map(x => (x.convId, x.turnIdx, x.text)).toSet

  test("streaming ingest over MemoryStream reaches oracle parity (non-strict)") {
    val wl = EnvelopeGen.workload(seed = 20, nConvs = 20, maxTurns = 4, nTxns = 300)
    val table = newTable()
    val pipe = new CdcPipeline(spark, schema, table,
      DecodeOptions(strict = false, validate = true), "cp-stream")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EnvelopeGen.RawEnvelope]
    val ckpt = Files.createTempDirectory("ckpt").toString
    val q = pipe.start(mem.toDF(), ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val rows = rawRows(wl)
    rows.grouped(100).foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    assert(stateSet(table) == oracleSet(wl))
    assert(pipe.metrics.nonEmpty)
    assert(pipe.metrics.map(_.events).sum == rows.length)
  }

  test("merge-on-read streaming ingest: O(batch) commits + auto-compaction reach parity") {
    val wl = EnvelopeGen.workload(seed = 26, nConvs = 20, maxTurns = 4, nTxns = 300)
    val table = newTable()
    val pipe = new CdcPipeline(spark, schema, table,
      DecodeOptions(strict = false, validate = true), "cp-mor",
      mergeOnRead = true, autoCompact = 3)
    val rows = rawRows(wl)
    val batches = rows.grouped(60).toSeq
    batches.zipWithIndex.foreach { case (g, i) => pipe.processBatch(g.toDF(), i.toLong) }
    assert(stateSet(table) == oracleSet(wl))
    // every batch records metrics — INCLUDING batches that triggered
    // auto-compaction (whose returned snapshot must carry the merge
    // lineage, not the compact commit's)
    assert(pipe.metrics.length == batches.length)
    assert(pipe.metrics.map(_.events).sum == rows.length)
    // auto-compaction kept the delta-commit depth per bucket below threshold
    val perBucketDepth = table.currentSnapshot.get.files.filter(_.delta)
      .groupBy(_.bucket).values.map(_.map(_.seq).distinct.size)
    assert(perBucketDepth.forall(_ < 3))
    // exactly-once replay still holds
    val v = table.currentVersion
    batches.zipWithIndex.foreach { case (g, i) => pipe.processBatch(g.toDF(), i.toLong) }
    assert(table.currentVersion == v)
    assert(stateSet(table) == oracleSet(wl))
  }

  test("strict streaming ingest with merge-time validation reaches parity") {
    val wl = EnvelopeGen.workload(seed = 21, nConvs = 15, maxTurns = 4, nTxns = 200)
    val table = newTable()
    val pipe = new CdcPipeline(spark, schema, table,
      DecodeOptions(strict = true, validate = true), "cp-strict")
    // batch boundaries at arbitrary points: cross-batch chains validated
    // against the prior images inside the merge fold
    val rows = rawRows(wl)
    rows.grouped(77).zipWithIndex.foreach { case (g, i) =>
      pipe.processBatch(g.toDF(), i.toLong)
    }
    assert(stateSet(table) == oracleSet(wl))
  }

  test("strict merge rejects an update whose before-image mismatches the snapshot") {
    import EnvelopeGen._
    val t0 = Turn("conv-a", 0, "user", "original", None, 1700000000000000L)
    val wl0 = Workload(IndexedSeq(Create(t0)), Map((("conv-a", 0), t0)))
    val table = newTable()
    val pipe = new CdcPipeline(spark, schema, table,
      DecodeOptions(strict = true, validate = true), "cp-bad")
    pipe.processBatch(rawRows(wl0).toDF(), 0L)
    // forge an update claiming a different before-image
    val wrongBefore = t0.copy(text = "never-existed")
    val upd = Update(wrongBefore, t0.copy(text = "new", tsMicros = t0.tsMicros + 1000000))
    val wl1 = Workload(IndexedSeq(upd), Map.empty)
    val bad = rawRows(wl1).map(r => r.copy(offset = 100L))
    val ex = intercept[Exception] { pipe.processBatch(bad.toDF(), 1L) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("strict merge violation")))
  }

  test("replay from an earlier checkpoint reproduces the identical snapshot (exactly-once)") {
    val wl = EnvelopeGen.workload(seed = 22, nConvs = 15, maxTurns = 4, nTxns = 250)
    val table = newTable()
    val pipe = new CdcPipeline(spark, schema, table,
      DecodeOptions(strict = false), "cp-replay")
    val rows = rawRows(wl)
    val batches = rows.grouped(100).toSeq
    batches.zipWithIndex.foreach { case (g, i) => pipe.processBatch(g.toDF(), i.toLong) }
    val vFinal = table.currentVersion.get
    val finalState = stateSet(table)
    // crash/restart: replay batches 1..n (the last checkpointed batch plus
    // everything after) — all must be no-ops
    val nMetrics = pipe.metrics.length
    batches.zipWithIndex.drop(1).foreach { case (g, i) => pipe.processBatch(g.toDF(), i.toLong) }
    assert(table.currentVersion.contains(vFinal))
    assert(stateSet(table) == finalState)
    assert(finalState == oracleSet(wl))
    // replays record NO metrics (the returned snapshot carries no lineage;
    // a duplicate entry would report stale counts + bogus throughput)
    assert(pipe.metrics.length == nMetrics)
  }

  test("schema evolution mid-stream: new column flows through decode+merge") {
    val table = newTable()
    val pipe = new CdcPipeline(spark, schema, table,
      DecodeOptions(strict = false), "cp-evolve")
    val wl = EnvelopeGen.workload(seed = 23, nConvs = 10, maxTurns = 3, nTxns = 50)
    pipe.processBatch(rawRows(wl).toDF(), 0L)

    // evolve: add nullable 'sentiment' column
    val schema2 = CdcSchema(schema.columns :+
      graft.model.CdcColumn("sentiment", org.apache.spark.sql.types.StringType, nullable = true))
    table.evolveSchema(schema2.structType)
    val pipe2 = new CdcPipeline(spark, schema2, table,
      DecodeOptions(strict = false), "cp-evolve")

    // hand-built envelope carrying the new column
    val k = """{"payload":{"conv_id":"conv-new","turn_idx":0}}"""
    val v = """{"payload":{"before":null,"after":{"conv_id":"conv-new","turn_idx":0,"role":"user","text":"hi","tool":null,"ts":1700000000000000,"sentiment":"positive"},"source":{"connector":"mysql","ts_ms":1},"op":"c","ts_ms":1}}"""
    val raw = Seq(EnvelopeGen.RawEnvelope(k.getBytes("UTF-8"), v.getBytes("UTF-8"),
      "cdc.transcripts", 0, 999999L, new java.sql.Timestamp(0), 0)).toDF()
    pipe2.processBatch(raw, 1L)

    val df = table.read()
    assert(df.filter(col("conv_id") === "conv-new" && col("sentiment") === "positive").count() == 1)
    // pre-evolution rows read as null sentiment
    assert(df.filter(col("sentiment").isNull).count() == df.count() - 1)
  }

  test("AUTO schema evolution: a message declaring new fields evolves the table in place") {
    val table = newTable()
    val pipe = new CdcPipeline(spark, schema, table,
      DecodeOptions(strict = false), "cp-autoevolve", autoEvolve = true)
    val wl = EnvelopeGen.workload(seed = 24, nConvs = 10, maxTurns = 3, nTxns = 50)
    pipe.processBatch(rawRows(wl).toDF(), 0L)
    assert(pipe.currentSchema.columns.map(_.name) == schema.columns.map(_.name))

    // a schema-evolution message: its OWN schema section declares the new
    // nullable columns (string + per-message-encoded timestamp)
    val k = """{"payload":{"conv_id":"conv-auto","turn_idx":0}}"""
    val fields = """[{"field":"conv_id","type":"string","optional":false},
      {"field":"turn_idx","type":"int32","optional":false},
      {"field":"role","type":"string","optional":false},
      {"field":"text","type":"string","optional":false},
      {"field":"tool","type":"string","optional":true},
      {"field":"ts","type":"int64","optional":false,"name":"io.debezium.time.MicroTimestamp"},
      {"field":"sentiment","type":"string","optional":true},
      {"field":"reviewed_at","type":"int64","optional":true,"name":"io.debezium.time.Timestamp"}]"""
    val v = s"""{"schema":{"type":"struct","fields":[
      {"field":"before","type":"struct","optional":true,"fields":$fields},
      {"field":"after","type":"struct","optional":true,"fields":$fields}]},
      "payload":{"before":null,"after":{"conv_id":"conv-auto","turn_idx":0,"role":"user",
      "text":"hi","tool":null,"ts":1700000000000000,"sentiment":"positive",
      "reviewed_at":1700000005000},"source":{"connector":"mysql","ts_ms":1},"op":"c","ts_ms":1}}"""
    val raw = Seq(EnvelopeGen.RawEnvelope(k.getBytes("UTF-8"), v.getBytes("UTF-8"),
      "cdc.transcripts", 0, 999999L, new java.sql.Timestamp(0), 0)).toDF()
    pipe.processBatch(raw, 1L)

    assert(pipe.currentSchema.columns.map(_.name).takeRight(2) == Seq("sentiment", "reviewed_at"))
    val df = table.read()
    assert(df.schema.fieldNames.contains("sentiment") && df.schema.fieldNames.contains("reviewed_at"))
    val row = df.filter(col("conv_id") === "conv-auto").head()
    assert(row.getAs[String]("sentiment") == "positive")
    assert(row.getAs[java.sql.Timestamp]("reviewed_at").getTime == 1700000005000L)
    assert(df.filter(col("sentiment").isNull).count() == df.count() - 1)
    // replaying the evolution batch is a no-op (columns already exist)
    val v1 = table.currentVersion
    pipe.processBatch(raw, 1L)
    assert(table.currentVersion == v1)
  }

  test("AUTO evolution sees a schema-change message that is NOT the batch's newest") {
    val table = newTable()
    val pipe = new CdcPipeline(spark, schema, table,
      DecodeOptions(strict = false), "cp-autoevolve-mid", autoEvolve = true)
    val fields = """[{"field":"conv_id","type":"string","optional":false},
      {"field":"turn_idx","type":"int32","optional":false},
      {"field":"role","type":"string","optional":false},
      {"field":"text","type":"string","optional":false},
      {"field":"tool","type":"string","optional":true},
      {"field":"ts","type":"int64","optional":false,"name":"io.debezium.time.MicroTimestamp"},
      {"field":"sentiment","type":"string","optional":true}]"""
    def env(conv: String, extra: String, withSchema: Boolean) = {
      val sch = if (withSchema) s""""schema":{"type":"struct","fields":[
        {"field":"after","type":"struct","optional":true,"fields":$fields}]},""" else ""
      s"""{$sch"payload":{"before":null,"after":{"conv_id":"$conv","turn_idx":0,
        "role":"user","text":"hi","tool":null,"ts":1700000000000000$extra},
        "source":{"connector":"mysql","ts_ms":1},"op":"c","ts_ms":1}}"""
    }
    def rawOf(conv: String, extra: String, withSchema: Boolean, off: Long) =
      EnvelopeGen.RawEnvelope(
        s"""{"payload":{"conv_id":"$conv","turn_idx":0}}""".getBytes("UTF-8"),
        env(conv, extra, withSchema).getBytes("UTF-8"),
        "cdc.transcripts", 0, off, new java.sql.Timestamp(0), 0)
    // the new-schema message sits at a LOWER offset than a later
    // old-schema message — newest-only inspection would miss it this
    // trigger; distinct-header aggregation must not
    val raw = Seq(
      rawOf("conv-mid", ""","sentiment":"mixed"""", withSchema = true, off = 10L),
      rawOf("conv-late", "", withSchema = false, off = 20L)).toDF()
    pipe.processBatch(raw, 0L)
    assert(pipe.currentSchema.columns.map(_.name).last == "sentiment")
    val df = table.read()
    assert(df.filter(col("conv_id") === "conv-mid" && col("sentiment") === "mixed").count() == 1)
    assert(df.filter(col("conv_id") === "conv-late" && col("sentiment").isNull).count() == 1)
  }
}
