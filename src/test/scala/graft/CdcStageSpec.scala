package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.decode.{DecodeOptions, EnvelopeDecoder}
import graft.gen.EnvelopeGen
import graft.model.{ArcSchemaParser, CdcSchema}
import graft.streaming.MetricsStream

/** The reference-shaped stage API: inputView → CdcStage.execute →
  * outputView, including initial-state chaining across three batches
  * (mirror of the reference Batch tests,
  * MySQLDebeziumTransformSuite.scala:571-785). */
class CdcStageSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val schema = CdcSchema.transcripts

  private def oracleSet(wl: EnvelopeGen.Workload) =
    wl.finalState.values.map(t => (t.convId, t.turnIdx, t.text)).toSet

  private def viewSet(view: String) =
    spark.table(view).select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  private def rowSet(df: DataFrame) =
    df.select(schema.structType.fieldNames.map(col).toSeq: _*).collect().toSet

  private def msgsOf(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgsOf(t.getCause)

  test("stage executes end-to-end and registers the output view") {
    val wl = EnvelopeGen.workload(seed = 40, nConvs = 15, maxTurns = 4, nTxns = 150)
    EnvelopeGen.toDataFrame(spark, wl).createOrReplaceTempView("stage_in")
    val out = CdcStage.execute(CdcStageConfig(
      name = "t", inputView = "stage_in", outputView = "stage_out",
      schema = Some(schema), strict = true, numPartitions = Some(3)))(spark)
    assert(viewSet("stage_out") == oracleSet(wl))
    assert(out.rdd.getNumPartitions == 3)
  }

  test("three chained batches via initialStateView reach source parity") {
    val wl = EnvelopeGen.workload(seed = 41, nConvs = 20, maxTurns = 4, nTxns = 300)
    val all = EnvelopeGen.toDataFrame(spark, wl)
    val n = wl.ops.length
    val cuts = Seq(0L, n / 3L, 2L * n / 3, n.toLong)
    var prevView: Option[String] = None
    // differential oracle: the reference-shaped walker over each batch
    // with the previous state injected as offset-0 events
    var walked: Option[DataFrame] = None
    for (b <- 0 until 3) {
      val batch = all.filter(col("offset") >= cuts(b) && col("offset") < cuts(b + 1))
        // chained batches replay against state at offset 0: shift offsets +1
        .withColumn("offset", col("offset") + 1)
      batch.createOrReplaceTempView(s"stage_b$b")
      val out = CdcStage.execute(CdcStageConfig(
        name = s"b$b", inputView = s"stage_b$b", outputView = s"stage_o$b",
        schema = Some(schema), strict = true,
        initialStateView = prevView,
        initialStateKey = prevView.map(_ => "conv_id,turn_idx")))(spark)
      prevView = Some(s"stage_o$b")
      val events = EnvelopeDecoder.decodeRelational(batch, schema, DecodeOptions(strict = true))
      val w = ChainWalker.applyStrict(
        walked.fold(events)(ChainWalker.withInitialState(events, _, schema)), schema)
      assert(rowSet(out) == rowSet(w), s"batch $b")
      walked = Some(w)
    }
    assert(viewSet(prevView.get) == oracleSet(wl))
  }

  test("initialStateKey must match the declared key columns") {
    val wl = EnvelopeGen.workload(seed = 45, nConvs = 5, maxTurns = 3, nTxns = 30)
    EnvelopeGen.toDataFrame(spark, wl).createOrReplaceTempView("stage_isk_in")
    CdcStage.execute(CdcStageConfig(
      name = "s0", inputView = "stage_isk_in", outputView = "stage_isk_state",
      schema = Some(schema), strict = true))(spark)
    val e = intercept[IllegalArgumentException] {
      CdcStage.execute(CdcStageConfig(
        name = "s1", inputView = "stage_isk_in", outputView = "stage_isk_out",
        schema = Some(schema), strict = true,
        initialStateView = Some("stage_isk_state"),
        initialStateKey = Some("wrong_col")))(spark)
    }
    assert(e.getMessage.contains("initialStateKey"))
    // the matching composite key passes
    CdcStage.execute(CdcStageConfig(
      name = "s2", inputView = "stage_isk_in", outputView = "stage_isk_out",
      schema = Some(schema), strict = true,
      initialStateView = Some("stage_isk_state"),
      initialStateKey = Some("conv_id,turn_idx")))(spark)
  }

  test("mongodb input routes to the mongo decoder") {
    import graft.gen.MongoGen
    val wl = MongoGen.workload(seed = 42, nDocs = 10, nTxns = 40)
    MongoGen.toDataFrame(spark, wl).createOrReplaceTempView("stage_mongo_in")
    CdcStage.execute(CdcStageConfig(
      name = "m", inputView = "stage_mongo_in", outputView = "stage_mongo_out",
      schema = Some(MongoGen.schema), strict = true))(spark)
    val got = spark.table("stage_mongo_out").select("_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == wl.finalState.values.map(d => (d.id, d.text)).toSet)
  }

  test("a streaming inputView requires the connector in config (no head() sniff)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EnvelopeGen.RawEnvelope]
    mem.toDF().createOrReplaceTempView("stage_stream_in")
    val cfg = CdcStageConfig(
      name = "s", inputView = "stage_stream_in", outputView = "stage_stream_out",
      schema = Some(schema), strict = false)
    val e = intercept[IllegalArgumentException] { CdcStage.execute(cfg)(spark) }
    assert(e.getMessage.contains("streaming"))
    // with the connector declared, plan building succeeds on a stream
    val out = CdcStage.execute(cfg.copy(connector = Some("mysql")))(spark)
    assert(out.isStreaming)
    // and the non-strict stage runs as a complete-mode aggregation, its
    // state carried across micro-batches by the streaming state store
    val wl = EnvelopeGen.workload(seed = 47, nConvs = 20, maxTurns = 4, nTxns = 200)
    val envs = EnvelopeGen.toDataFrame(spark, wl).as[EnvelopeGen.RawEnvelope]
      .collect().sortBy(_.offset)
    val q = out.writeStream.outputMode("complete").format("memory")
      .queryName("stage_stream_sink").start()
    try {
      envs.grouped(envs.length / 2 + 1).foreach { part =>
        mem.addData(part.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(viewSet("stage_stream_sink") == oracleSet(wl))
    assert(spark.table("stage_stream_sink").count() == wl.finalState.size)
  }

  test("a strict or state-seeded stage rejects a streaming inputView") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    MemoryStream[EnvelopeGen.RawEnvelope].toDF().createOrReplaceTempView("stage_stream_strict_in")
    val cfg = CdcStageConfig(
      name = "s", inputView = "stage_stream_strict_in", outputView = "stage_stream_strict_out",
      schema = Some(schema), connector = Some("mysql"), strict = true)
    val strictEx = intercept[IllegalArgumentException](CdcStage.execute(cfg)(spark))
    assert(strictEx.getMessage.contains("CdcPipeline"))
    val stateEx = intercept[IllegalArgumentException](CdcStage.execute(
      cfg.copy(strict = false, initialStateView = Some("stage_stream_strict_in")))(spark))
    assert(stateEx.getMessage.contains("CdcPipeline"))
  }

  test("a Mongo patch with no prior document fails the strict precondition") {
    import graft.gen.MongoGen
    // one $set on a document no state holds: a partial row is not a document
    val wl = MongoGen.Workload(
      IndexedSeq[MongoGen.MOp](MongoGen.Patch("doc-q", Map("text" -> "patched"), Nil)), Map.empty)
    MongoGen.toDataFrame(spark, wl).createOrReplaceTempView("stage_mongo_u_in")
    val ex = intercept[Exception] {
      CdcStage.execute(CdcStageConfig(
        name = "mu", inputView = "stage_mongo_u_in", outputView = "stage_mongo_u_out",
        schema = Some(MongoGen.schema), strict = true))(spark).collect()
    }
    assert(msgsOf(ex).exists(_.contains("strict merge violation: key=doc-q first_op=u")))
  }

  test("a key held twice in initialStateView fails the stage, strict or not") {
    val wl = EnvelopeGen.workload(seed = 46, nConvs = 15, maxTurns = 1, nTxns = 15)
    val raw = EnvelopeGen.toDataFrame(spark, wl)
    raw.createOrReplaceTempView("stage_dup_in")
    val once = CdcStage.execute(CdcStageConfig(
      name = "d0", inputView = "stage_dup_in", outputView = "stage_dup_once",
      schema = Some(schema), strict = true))(spark)
    once.unionByName(once).createOrReplaceTempView("stage_dup_state")
    raw.limit(0).createOrReplaceTempView("stage_dup_empty")
    val keys = wl.finalState.keySet.map { case (c, t) => s"$c|$t" }
    val Held = "(?s).*initialStateView 'stage_dup_state' holds key '([^']*)' more than once.*".r
    for (strict <- Seq(true, false)) {
      val ex = intercept[Exception] {
        CdcStage.execute(CdcStageConfig(
          name = "d1", inputView = "stage_dup_empty", outputView = "stage_dup_out",
          schema = Some(schema), connector = Some("mysql"), strict = strict,
          initialStateView = Some("stage_dup_state")))(spark).collect()
      }
      assert(msgsOf(ex).exists {
        case Held(k) => keys.contains(k)
        case _ => false
      }, s"strict=$strict: ${msgsOf(ex).headOption}")
    }
    // the check counts inside the fold's aggregate: the state side
    // shuffles once, into that aggregate
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.createDataFrame(once.collect().toSeq.asJava, once.schema)
      .createOrReplaceTempView("stage_dup_local_state")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = CdcStage.execute(CdcStageConfig(
        name = "d2", inputView = "stage_dup_in", outputView = "stage_dup_plan",
        schema = Some(schema), connector = Some("mysql"), strict = true,
        initialStateView = Some("stage_dup_local_state")))(spark).queryExecution.executedPlan
      val overState = plan.collect { case e: ShuffleExchangeExec if e.collectFirst {
        case s: LocalTableScanExec if once.columns.forall(s.output.map(_.name).contains) => s
      }.nonEmpty => e }
      assert(overState.size == 1, plan)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("a batch event at offset 0 supersedes its state row") {
    import EnvelopeGen._
    val t = Turn("conv-t", 0, "user", "from-state", None, 1700000000000000L)
    val t2 = t.copy(text = "from-batch")
    EnvelopeGen.toDataFrame(spark, Workload(IndexedSeq(Create(t)), Map.empty))
      .createOrReplaceTempView("stage_tie_state_in")
    CdcStage.execute(CdcStageConfig(
      name = "t0", inputView = "stage_tie_state_in", outputView = "stage_tie_state",
      schema = Some(schema), strict = true))(spark)
    // the update's envelope sits at offset 0, the offset state rows had
    // as injected events
    EnvelopeGen.toDataFrame(spark, Workload(IndexedSeq(Update(t, t2)), Map.empty))
      .createOrReplaceTempView("stage_tie_in")
    for (strict <- Seq(true, false)) {
      CdcStage.execute(CdcStageConfig(
        name = "t1", inputView = "stage_tie_in", outputView = "stage_tie_out",
        schema = Some(schema), strict = strict,
        initialStateView = Some("stage_tie_state")))(spark)
      assert(viewSet("stage_tie_out") == Set(("conv-t", 0, "from-batch")), s"strict=$strict")
    }
  }

  test("schema one-of: inline JSON / view resolution, zero or two sources rejected") {
    val json =
      """[
        |{"name":"conv_id","type":"string","nullable":false},
        |{"name":"turn_idx","type":"integer","nullable":false},
        |{"name":"role","type":"string","nullable":false},
        |{"name":"text","type":"string","nullable":false},
        |{"name":"tool","type":"string","nullable":true},
        |{"name":"ts","type":"timestamp","encoding":"micros","nullable":false}
        |]""".stripMargin
    val wl = EnvelopeGen.workload(seed = 44, nConvs = 8, maxTurns = 3, nTxns = 60)
    EnvelopeGen.toDataFrame(spark, wl).createOrReplaceTempView("stage_json_in")
    CdcStage.execute(CdcStageConfig(
      name = "j", inputView = "stage_json_in", outputView = "stage_json_out",
      schemaJson = Some(json), keyNames = Seq("conv_id", "turn_idx"),
      strict = true))(spark)
    assert(viewSet("stage_json_out") == oracleSet(wl))

    import spark.implicits._
    Seq(json).toDF("schema_json").createOrReplaceTempView("stage_schema_view")
    CdcStage.execute(CdcStageConfig(
      name = "v", inputView = "stage_json_in", outputView = "stage_view_out",
      schemaView = Some("stage_schema_view"), keyNames = Seq("conv_id", "turn_idx"),
      strict = true))(spark)
    assert(viewSet("stage_view_out") == oracleSet(wl))

    intercept[IllegalArgumentException] {
      CdcStage.execute(CdcStageConfig(
        name = "x", inputView = "stage_json_in", outputView = "x"))(spark)
    }
    intercept[IllegalArgumentException] {
      CdcStage.execute(CdcStageConfig(
        name = "x", inputView = "stage_json_in", outputView = "x",
        schema = Some(schema), schemaJson = Some(json)))(spark)
    }
  }

  test("ArcSchemaParser parses the reference schema format") {
    val json =
      """[
        |{"name":"conv_id","type":"string","nullable":false},
        |{"name":"turn_idx","type":"integer","nullable":false},
        |{"name":"amount","type":"decimal","precision":20,"scale":2,"nullable":true,
        | "metadata":{"private":true,"securityLevel":2}},
        |{"name":"created","type":"timestamp","timezoneId":"Etc/GMT-5","nullable":false},
        |{"name":"day","type":"date","nullable":true},
        |{"name":"flag","type":"boolean","nullable":true}
        |]""".stripMargin
    val s = ArcSchemaParser.parse(json, keyNames = Seq("conv_id", "turn_idx"))
    assert(s.keyNames == Seq("conv_id", "turn_idx"))
    assert(s.columns.map(_.name) ==
      Seq("conv_id", "turn_idx", "amount", "created", "day", "flag"))
    import org.apache.spark.sql.types._
    assert(s.columns(2).dataType == DecimalType(20, 2))
    assert(s.columns(3).timezoneId == "Etc/GMT-5")
    val meta = ArcSchemaParser.fieldMetadata(json)
    assert(meta("amount").getBoolean("private"))
  }

  test("windowed op-count metrics with watermark (batch + streaming)") {
    val wl = EnvelopeGen.workload(seed = 43, nConvs = 10, maxTurns = 3, nTxns = 100)
    val raw = EnvelopeGen.toDataFrame(spark, wl)
    val counts = MetricsStream.windowedOpCounts(raw, "1 minute", "10 minutes")
    assert(counts.agg(sum(col("n"))).head().getLong(0) == wl.ops.length)

    // streaming: late event beyond the watermark is dropped
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EnvelopeGen.RawEnvelope]
    val q = MetricsStream.windowedOpCounts(mem.toDF(), "1 minute", "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("met_out").start()
    def env(offset: Long, tsMs: Long) = {
      val (k, v) = EnvelopeGen.relationalEnvelope(
        EnvelopeGen.Create(EnvelopeGen.Turn(s"c$offset", 0, "user", "x", None, 1700000000000000L)),
        "mysql", tsMs)
      EnvelopeGen.RawEnvelope(k.getBytes("UTF-8"), v.getBytes("UTF-8"), "t", 0, offset,
        new java.sql.Timestamp(tsMs), 0)
    }
    val base = 1700000000000L
    mem.addData(env(0, base), env(1, base + 60000), env(2, base + 20 * 60000))
    q.processAllAvailable()
    // an event 19 minutes older than the max watermark-ed time → dropped
    mem.addData(env(3, base + 60000))
    q.processAllAvailable()
    mem.addData(env(4, base + 30 * 60000)) // advance watermark to close windows
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("met_out").agg(sum(col("n"))).head().getLong(0)
    assert(emitted <= 4) // the late event never lands in an emitted window
  }
}
