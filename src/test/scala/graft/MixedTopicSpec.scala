package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.decode.{DecodeOptions, MixedTopic}
import graft.model.{CdcColumn, CdcSchema}

/** Per-message connector routing over ONE topic mixing mysql, postgresql
  * (lower-cased wire names against a case-sensitive declared schema) and
  * mongodb (extended-JSON documents + patch chains). The reference
  * memoizes the connector per PARTITION (DebeziumTransform.scala:554-565)
  * and would mis-decode these batches; graft dispatches per message. */
class MixedTopicSpec extends AnyFunSuite with SparkSessionTestWrapper {

  // case-SENSITIVE declared schema: postgres wire names arrive lower-cased
  private val schema = CdcSchema(Seq(
    CdcColumn("Acct_Id", LongType, nullable = false, keyPart = true),
    CdcColumn("Owner_Name", StringType, nullable = false),
    CdcColumn("Balance", DoubleType, nullable = false),
    CdcColumn("Tier", StringType, nullable = true)))

  private val opts = DecodeOptions(strict = true, validate = true,
    connector = Some("mixed"))

  private def keys = spark.range(1, 61).select(col("id").as("k"))

  // ---- expression-built envelopes, one flavor per k % 3 ----------------

  private def relEnvelope(conn: String, key: org.apache.spark.sql.Column,
      before: org.apache.spark.sql.Column, after: org.apache.spark.sql.Column,
      op: String): org.apache.spark.sql.Column =
    to_json(struct(struct(
      before.as("before"), after.as("after"),
      struct(lit(conn).as("connector")).as("source"),
      lit(op).as("op")).as("payload"))).cast("binary")

  private def row(df: DataFrame, key: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, offBase: Long): DataFrame =
    df.select(key.as("key"), value.as("value"),
      lit("cdc.mixed").as("topic"), lit(0).as("partition"),
      (col("k") + offBase).as("offset"))

  private val k = col("k")
  private def origRow = struct(k.as("Acct_Id"),
    concat(lit("own-"), k.cast("string")).as("Owner_Name"),
    (k.cast("double") * 1.5).as("Balance"), lit("T1").as("Tier"))
  private def origRowLc = struct(k.as("acct_id"),
    concat(lit("own-"), k.cast("string")).as("owner_name"),
    (k.cast("double") * 1.5).as("balance"), lit("T1").as("tier"))
  private val nul = lit(null).cast(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", StringType))))

  private def mysqlKey = to_json(struct(struct(k.as("Acct_Id")).as("payload"))).cast("binary")
  private def pgKey = to_json(struct(struct(k.as("acct_id")).as("payload"))).cast("binary")

  private def batch0: DataFrame = {
    val my = row(keys.filter(k % 3 === 0), mysqlKey,
      relEnvelope("mysql", mysqlKey, nul, origRow, "c"), 0L)
    val pg = row(keys.filter(k % 3 === 1), pgKey,
      relEnvelope("postgresql", pgKey, nul, origRowLc, "c"), 0L)
    val doc = to_json(struct(k.as("Acct_Id"),
      concat(lit("own-"), k.cast("string")).as("Owner_Name"),
      (k.cast("double") * 1.5).as("Balance"), lit("T1").as("Tier")))
    val mo = row(keys.filter(k % 3 === 2), mysqlKey,
      to_json(struct(struct(
        doc.as("after"), lit(null).cast("string").as("patch"),
        struct(lit("mongodb").as("connector")).as("source"),
        lit("c").as("op")).as("payload"))).cast("binary"), 0L)
    my.unionByName(pg).unionByName(mo)
  }

  private def batch1: DataFrame = {
    val myU = row(keys.filter(k % 6 === 0), mysqlKey,
      relEnvelope("mysql", mysqlKey, origRow,
        struct(k.as("Acct_Id"),
          concat(lit("own-"), k.cast("string"), lit(" rev")).as("Owner_Name"),
          (k.cast("double") * 1.5).as("Balance"), lit("T1").as("Tier")), "u"),
      1000L)
    val pgU = row(keys.filter(k % 6 === 1), pgKey,
      relEnvelope("postgresql", pgKey, origRowLc,
        struct(k.as("acct_id"),
          concat(lit("own-"), k.cast("string"), lit(" pgrev")).as("owner_name"),
          (k.cast("double") * 1.5).as("balance"), lit("T1").as("tier")), "u"),
      1000L)
    val set = to_json(struct(struct(
      concat(lit("own-"), k.cast("string"), lit(" m2")).as("Owner_Name")).as("$set")))
    val moSet = row(keys.filter(k % 6 === 2), mysqlKey,
      to_json(struct(struct(
        lit(null).cast("string").as("after"), set.as("patch"),
        struct(lit("mongodb").as("connector")).as("source"),
        lit("u").as("op")).as("payload"))).cast("binary"), 1000L)
    val moDel = row(keys.filter(k % 6 === 5), mysqlKey,
      to_json(struct(struct(
        lit(null).cast("string").as("after"), lit(null).cast("string").as("patch"),
        struct(lit("mongodb").as("connector")).as("source"),
        lit("d").as("op")).as("payload"))).cast("binary"), 1000L)
    myU.unionByName(pgU).unionByName(moSet).unionByName(moDel)
  }

  /** (id, owner, balance, tier, _offset) after both batches. */
  private def expected: Set[(Long, String, Double, Option[String], Long)] =
    (1L until 61L).flatMap { i =>
      if (i % 6 == 5) None // mongo delete
      else {
        val owner =
          if (i % 6 == 0) s"own-$i rev"
          else if (i % 6 == 1) s"own-$i pgrev"
          else if (i % 6 == 2) s"own-$i m2"
          else s"own-$i"
        val off = if (i % 6 <= 2) i + 1000L else i
        Some((i, owner, i * 1.5, Some("T1"), off))
      }
    }.toSet

  private def asSet(df: DataFrame): Set[(Long, String, Double, Option[String], Long)] =
    df.select(col("Acct_Id"), col("Owner_Name"), col("Balance"), col("Tier"), col("_offset"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        Option(r.getString(3)), r.getLong(4))).toSet

  test("decode routes each message by its own connector") {
    val events = ChainWalker.decodeMixed(batch0, schema, opts)
    val byConn = events.groupBy(col("connector")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byConn == Map("mysql" -> 20L, "postgresql" -> 20L, "mongodb" -> 20L))
    // postgres lower-cased wire names decoded into the DECLARED casing
    val pg = events.filter(col("connector") === "postgresql")
      .select(col("after.Owner_Name")).collect().map(_.getString(0)).toSet
    assert(pg == (1L until 61L).filter(_ % 3 == 1).map(i => s"own-$i").toSet)
  }

  test("mixed strict deltas through copy-on-write MERGE") {
    val tmp = java.nio.file.Files.createTempDirectory("mixed-cow").toString
    val table = new graft.lake.LakeTable(spark, tmp)
    table.create(schema.structType, schema.keyNames, nBuckets = 8)
    Seq(batch0, batch1).zipWithIndex.foreach { case (b, i) =>
      table.merge(MixedTopic.strictDeltas(b, schema, opts), "mixed-cow", i.toLong,
        strictValidate = true)
    }
    assert(asSet(table.read()) == expected)
  }

  test("mixed strict deltas through merge-on-read + CdcPipeline(connector=mixed)") {
    val tmp = java.nio.file.Files.createTempDirectory("mixed-mor").toString
    val table = new graft.lake.LakeTable(spark, tmp)
    table.create(schema.structType, schema.keyNames, nBuckets = 8)
    val pipe = new graft.streaming.CdcPipeline(spark, schema, table, opts,
      "mixed-mor", mergeOnRead = true, autoCompact = 0)
    pipe.processBatch(batch0, 0L)
    // batch 0 carries the _patch_mask COLUMN but zero actual patch rows
    // (all inserts): its files must NOT be patch-flagged, so reads use
    // the cheaper LWW reconstruction until a real patch commit lands
    assert(table.currentSnapshot.get.files.forall(!_.patch))
    pipe.processBatch(batch1, 1L)
    assert(table.currentSnapshot.get.files.exists(_.patch))
    // PATCH deltas present → the read exercises PatchFoldBySeq over the
    // mixed commit (relational rows fold as full overlays, mask null)
    assert(asSet(table.read()) == expected)
  }

  test("auto per-message folding is a drop-in for plan-time folding (differential)") {
    import graft.decode.EnvelopeDecoder
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("key"), col("offset"), col("connector"), col("operation"),
        col("before"), col("after"), col("pk"))
        .collect().map(_.toString).toSet
    val strictOpts = DecodeOptions(strict = true, validate = true)
    // pg-only batch: connector=None (per-row dispatch) must decode
    // byte-identically to the static postgresql fold
    val pg = row(keys.filter(k % 3 === 1), pgKey,
      relEnvelope("postgresql", pgKey, nul, origRowLc, "c"), 0L)
    assert(rows(EnvelopeDecoder.decodeRelational(pg, schema, strictOpts)) ==
      rows(EnvelopeDecoder.decodeRelational(pg, schema,
        strictOpts.copy(connector = Some("postgresql")))))
    // mysql-only batch: auto must equal the static mysql (no-fold) plan
    val my = row(keys.filter(k % 3 === 0), mysqlKey,
      relEnvelope("mysql", mysqlKey, nul, origRow, "c"), 0L)
    assert(rows(EnvelopeDecoder.decodeRelational(my, schema, strictOpts)) ==
      rows(EnvelopeDecoder.decodeRelational(my, schema,
        strictOpts.copy(connector = Some("mysql")))))
    // mixed routing over a uniform relational topic degenerates to
    // decodeRelational exactly
    assert(rows(ChainWalker.decodeMixed(my, schema, opts)) ==
      rows(EnvelopeDecoder.decodeRelational(my, schema, strictOpts)))
  }

  test("CdcStage facade routes connector='mixed' (in-memory view path)") {
    batch0.unionByName(batch1).createOrReplaceTempView("mixed_in")
    implicit val s = spark
    val out = graft.CdcStage.execute(graft.CdcStageConfig(
      name = "mixed-stage", inputView = "mixed_in", outputView = "mixed_out",
      schema = Some(schema), connector = Some("mixed"), strict = true))
    assert(asSet(out) == expected)
    assert(asSet(out) == asSet(ChainWalker.applyStrict(
      ChainWalker.decodeMixed(batch0.unionByName(batch1), schema, opts), schema)))
    // chained: batch 1's updates, patches and deletes merge onto batch 0's
    // stage output
    batch0.createOrReplaceTempView("mixed_in0")
    batch1.createOrReplaceTempView("mixed_in1")
    graft.CdcStage.execute(graft.CdcStageConfig(
      name = "mixed-0", inputView = "mixed_in0", outputView = "mixed_out0",
      schema = Some(schema), connector = Some("mixed"), strict = true))
    val chained = graft.CdcStage.execute(graft.CdcStageConfig(
      name = "mixed-1", inputView = "mixed_in1", outputView = "mixed_out1",
      schema = Some(schema), connector = Some("mixed"), strict = true,
      initialStateView = Some("mixed_out0")))
    assert(asSet(chained) == expected)
    // strict is mandatory for mixed (Mongo patches are not LWW-mergeable)
    val ex = intercept[IllegalArgumentException] {
      graft.CdcStage.execute(graft.CdcStageConfig(
        name = "mixed-stage2", inputView = "mixed_in", outputView = "mixed_out2",
        schema = Some(schema), connector = Some("mixed"), strict = false))
    }
    assert(ex.getMessage.contains("requires strict mode"))
  }

  test("a key fed by two connector families in one batch is rejected") {
    val my = row(keys.filter(k === 3), mysqlKey,
      relEnvelope("mysql", mysqlKey, nul, origRow, "c"), 0L)
    val doc = to_json(struct(k.as("Acct_Id"),
      concat(lit("own-"), k.cast("string")).as("Owner_Name"),
      (k.cast("double") * 1.5).as("Balance"), lit("T1").as("Tier")))
    val mo = row(keys.filter(k === 3), mysqlKey,
      to_json(struct(struct(
        doc.as("after"), lit(null).cast("string").as("patch"),
        struct(lit("mongodb").as("connector")).as("source"),
        lit("c").as("op")).as("payload"))).cast("binary"), 5000L)
    val ex = intercept[Exception] {
      MixedTopic.strictDeltas(my.unionByName(mo), schema, opts).collect()
    }
    assert(msgsOf(ex).exists(_.contains("multiple connector families")))
    // the stage routes through the same deltas, so it rejects the key too
    my.unionByName(mo).createOrReplaceTempView("mixed_two_families")
    val stageEx = intercept[Exception] {
      graft.CdcStage.execute(graft.CdcStageConfig(
        name = "mixed-two", inputView = "mixed_two_families", outputView = "mixed_two_out",
        schema = Some(schema), connector = Some("mixed"), strict = true))(spark).collect()
    }
    assert(msgsOf(stageEx).exists(_.contains("multiple connector families")))
  }

  test("strict decode rejects u/d with a null before-image (reference parity)") {
    val bad = row(keys.filter(k === 6), mysqlKey,
      relEnvelope("mysql", mysqlKey, nul, origRow, "u"), 0L)
    val ex = intercept[Exception] {
      // the check rides the before-image, which the strict delta path
      // always materializes (_first_before)
      MixedTopic.strictDeltas(bad, schema, opts).collect()
    }
    assert(msgsOf(ex).exists(_.contains("expected 'before' to be non-null")))
  }

  private def msgsOf(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgsOf(t.getCause)
}
