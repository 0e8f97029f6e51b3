package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.apply.CdcApply
import graft.decode.{DecodeOptions, EnvelopeDecoder}
import graft.gen.EnvelopeGen
import graft.model.CdcSchema

/** Round-trip parity: synthetic Debezium workload → decode → apply →
  * final table state must equal the in-memory oracle fold (the analog of
  * the reference's randomized live-DB parity tests,
  * MySQLDebeziumTransformSuite.scala:281-469). */
class CdcRoundTripSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  val schema = CdcSchema.transcripts

  private def decoded(wl: EnvelopeGen.Workload, connector: String,
      strict: Boolean, shuffleSeed: Option[Long] = None): DataFrame =
    EnvelopeDecoder.decodeRelational(
      EnvelopeGen.toDataFrame(spark, wl, connector, shuffleSeed = shuffleSeed),
      schema, DecodeOptions(strict = strict, validate = true))

  /** Final state rows as a comparable set (user cols; ts truncated to
    * millis by the reference's MicroTimestamp rule). */
  private def asSet(df: DataFrame) =
    df.select($"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        Option(r.getString(4)), r.getTimestamp(5).getTime))
      .toSet

  /** The workload through a strict CdcStage: deltas merged onto no
    * prior state. */
  private def staged(wl: EnvelopeGen.Workload, connector: String): DataFrame = {
    val view = s"roundtrip_$connector"
    EnvelopeGen.toDataFrame(spark, wl, connector).createOrReplaceTempView(view)
    CdcStage.execute(CdcStageConfig(name = view, inputView = view,
      outputView = s"${view}_out", schema = Some(schema),
      connector = Some(connector), strict = true))(spark)
  }

  private def oracleSet(wl: EnvelopeGen.Workload) =
    EnvelopeGen.expectedRows(wl)
      .map(t => (t._1, t._2, t._3, t._4, t._5, t._6 / 1000)) // micros → ms truncation
      .toSet

  test("non-strict LWW apply matches oracle (mysql, in-order)") {
    val wl = EnvelopeGen.workload(seed = 1, nConvs = 40, maxTurns = 6, nTxns = 500)
    val got = asSet(CdcApply.applyNonStrict(decoded(wl, "mysql", strict = false)))
    assert(got == oracleSet(wl))
  }

  test("non-strict LWW apply is order-independent (shuffled delivery)") {
    val wl = EnvelopeGen.workload(seed = 2, nConvs = 30, maxTurns = 5, nTxns = 400)
    val got = asSet(CdcApply.applyNonStrict(decoded(wl, "mysql", strict = false,
      shuffleSeed = Some(99))))
    assert(got == oracleSet(wl))
  }

  test("strict chain-validated apply matches oracle (postgresql)") {
    val wl = EnvelopeGen.workload(seed = 3, nConvs = 25, maxTurns = 5, nTxns = 300)
    val got = asSet(ChainWalker.applyStrict(decoded(wl, "postgresql", strict = true), schema))
    assert(got == oracleSet(wl))
    assert(asSet(staged(wl, "postgresql")) == got)
  }

  test("strict apply with Zipf-skewed hot conversations") {
    val wl = EnvelopeGen.workload(seed = 4, nConvs = 50, maxTurns = 6, nTxns = 800,
      zipfSkew = 3.0)
    val got = asSet(ChainWalker.applyStrict(decoded(wl, "mysql", strict = true), schema))
    assert(got == oracleSet(wl))
    assert(asSet(staged(wl, "mysql")) == got)
  }

  test("strict apply rejects a broken chain (update without prior state)") {
    import EnvelopeGen._
    val t = Turn("conv-x", 0, "user", "hello", None, 1700000000000000L)
    val t2 = t.copy(text = "hello2")
    val wl = Workload(IndexedSeq(Update(t, t2)), Map((("conv-x", 0), t2)))
    val ex = intercept[Exception] {
      ChainWalker.applyStrict(decoded(wl, "mysql", strict = true), schema).collect()
    }
    assert(ex.getMessage.contains("expected first operation") ||
      Option(ex.getCause).exists(_.getMessage.contains("expected first operation")))
    // the stage checks the same first-op precondition the lake MERGE does
    val stageEx = intercept[Exception](staged(wl, "mysql").collect())
    assert(msgsOf(stageEx).exists(_.contains("strict merge violation: key=conv-x|0 first_op=u")))
  }

  private def msgsOf(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgsOf(t.getCause)

  test("strictDeltas rejects an in-batch create over existing state") {
    import EnvelopeGen._
    val t0 = Turn("conv-y", 0, "user", "hi", None, 1700000000000000L)
    val wl = Workload(IndexedSeq(Create(t0), Create(t0)), Map((("conv-y", 0), t0)))
    val ex = intercept[Exception] {
      CdcApply.strictDeltas(decoded(wl, "mysql", strict = true), schema).collect()
    }
    assert(msgsOf(ex).exists(_.contains("expected previous value to be null")))
  }

  test("strictDeltas rejects an in-batch forged before-image") {
    import EnvelopeGen._
    val t0 = Turn("conv-z", 0, "user", "hi", None, 1700000000000000L)
    val forged = t0.copy(text = "not-what-was-written")
    val t2 = t0.copy(text = "hi2")
    val wl = Workload(IndexedSeq(Create(t0), Update(forged, t2)),
      Map((("conv-z", 0), t2)))
    val ex = intercept[Exception] {
      CdcApply.strictDeltas(decoded(wl, "mysql", strict = true), schema).collect()
    }
    assert(msgsOf(ex).exists(
      _.contains("expected previous value to equal next before value")))
  }

  test("strictDeltas exports the winner + first-op precondition per key") {
    import EnvelopeGen._
    val t0 = Turn("conv-w", 0, "user", "v0", None, 1700000000000000L)
    val t1 = t0.copy(text = "v1")
    val t2 = t0.copy(text = "v2")
    val wl = Workload(IndexedSeq(Create(t0), Update(t0, t1), Update(t1, t2)),
      Map((("conv-w", 0), t2)))
    val rows = CdcApply.strictDeltas(decoded(wl, "mysql", strict = true), schema)
      .select($"conv_id", $"turn_idx", $"text", $"operation", $"n_events",
        $"_first_op", $"_first_before")
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "conv-w" && r.getInt(1) == 0)
    assert(r.getString(2) == "v2" && r.getString(3) == "u")
    assert(r.getLong(4) == 3L && r.getString(5) == "c")
    assert(r.isNullAt(6)) // first event is 'c' → no before-image
  }

  test("decode validate rejects null in non-nullable column") {
    val raw = Seq(EnvelopeGen.RawEnvelope(
      """{"payload":{"conv_id":"c1","turn_idx":0}}""".getBytes("UTF-8"),
      """{"payload":{"before":null,"after":{"conv_id":"c1","turn_idx":0,"role":null,"text":"x","tool":null,"ts":1700000000000000},"source":{"connector":"mysql","ts_ms":1},"op":"c","ts_ms":1}}""".getBytes("UTF-8"),
      "t", 0, 0L, new java.sql.Timestamp(0), 0)).toDF()
    val ex = intercept[Exception] {
      EnvelopeDecoder.decodeRelational(raw, schema, DecodeOptions(strict = false, validate = true))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("non-nullable")))
  }

  test("tombstones are dropped") {
    val wl = EnvelopeGen.workload(seed = 5, nConvs = 5, maxTurns = 3, nTxns = 20)
    val df = EnvelopeGen.toDataFrame(spark, wl, "mysql")
    val withTombstones = df.unionByName(
      df.limit(3).withColumn("value", lit(null).cast("binary")))
    val got = asSet(CdcApply.applyNonStrict(EnvelopeDecoder.decodeRelational(
      withTombstones, schema, DecodeOptions(strict = false))))
    assert(got == oracleSet(wl))
  }
}
