package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.apply.CdcApply
import graft.decode.{DecodeOptions, MongoDecoder}
import graft.gen.MongoGen

/** Mongo-connector round trip: extended-JSON envelopes with $set/$unset
  * patches, full replaces and deletes → decode → strict patch-fold apply →
  * oracle parity (mirror of MongoDBDebeziumTransformSuite). */
class MongoDecodeSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def applied(wl: MongoGen.Workload) = {
    val events = MongoDecoder.decode(
      MongoGen.toDataFrame(spark, wl), MongoGen.schema, DecodeOptions(strict = true))
    docSet(ChainWalker.applyStrict(events, MongoGen.schema))
  }

  private def docSet(df: org.apache.spark.sql.DataFrame) =
    df.select("_id", "role", "text", "score", "ts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getDecimal(3)).map(_.toPlainString), r.getTimestamp(4).getTime))
      .toSet

  private def oracle(wl: MongoGen.Workload) =
    wl.finalState.values.map(d =>
      (d.id, d.role, d.text, d.score.map(_.toPlainString), d.tsMillis)).toSet

  test("mongo patch workload reaches oracle parity") {
    val wl = MongoGen.workload(seed = 31, nDocs = 30, nTxns = 300)
    assert(applied(wl) == oracle(wl))
  }

  test("mongo $unset clears only masked fields; others survive placeholders") {
    import MongoGen._
    val d = Doc("doc-x", "user", "original", Some(new java.math.BigDecimal("12.34")), 1700000000000L)
    val wl = Workload(
      IndexedSeq(Insert(d), Patch("doc-x", Map.empty, Seq("score"))),
      Map("doc-x" -> d.copy(score = None)))
    assert(applied(wl) == oracle(wl))
  }

  test("mongo full replace rewrites the whole document") {
    import MongoGen._
    val d = Doc("doc-y", "user", "v1", Some(new java.math.BigDecimal("1.00")), 1700000000000L)
    val d2 = Doc("doc-y", "assistant", "v2", None, 1700000001000L)
    val wl = Workload(IndexedSeq(Insert(d), Replace(d2)), Map("doc-y" -> d2))
    assert(applied(wl) == oracle(wl))
  }

  private def lakeState(t: graft.lake.LakeTable) = docSet(t.read())

  test("mongo batched lake ingest: composed patch deltas reach oracle parity") {
    // the SCALE path: per-batch net deltas merged against only the
    // affected buckets — chains split across batch boundaries, so
    // cross-batch patches apply masked fields onto the committed row
    val wl = MongoGen.workload(seed = 33, nDocs = 25, nTxns = 250)
    val dir = java.nio.file.Files.createTempDirectory("lake-mongo").toString
    val table = new graft.lake.LakeTable(spark, dir)
    table.create(MongoGen.schema.structType, MongoGen.schema.keyNames, nBuckets = 8)
    val pipe = new graft.streaming.CdcPipeline(spark, MongoGen.schema, table,
      DecodeOptions(strict = true, validate = true, connector = Some("mongodb")), "cp-mongo")
    val raw = MongoGen.toDataFrame(spark, wl)
    val n = wl.ops.length
    Seq((0, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, n)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        pipe.processBatch(raw.filter(s"offset >= $lo and offset < $hi"), i.toLong)
    }
    assert(lakeState(table) == oracle(wl))
    // a later batch patches documents an earlier batch wrote
    assert(wl.ops.drop(n / 3).exists {
      case MongoGen.Patch(id, _, _) => wl.ops.take(n / 3).exists(_.id == id)
      case _ => false
    })
    // the same batches through chained CdcStages, each merging onto the
    // previous stage's output: after batch i the stage holds what the
    // walker makes of every event up to batch i's end (a state row fed to
    // the walker as a synthetic event would route the key's chain to the
    // relational walker, so the walker replays the prefix instead)
    Seq((0, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, n)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        raw.filter(s"offset >= $lo and offset < $hi").createOrReplaceTempView(s"mongo_chain_in$i")
        val out = CdcStage.execute(CdcStageConfig(name = s"mc$i", inputView = s"mongo_chain_in$i",
          outputView = s"mongo_chain_out$i", schema = Some(MongoGen.schema),
          connector = Some("mongodb"), strict = true,
          initialStateView = if (i == 0) None else Some(s"mongo_chain_out${i - 1}")))(spark)
        val prefix = MongoDecoder.decode(raw.filter(s"offset < $hi"), MongoGen.schema,
          DecodeOptions(strict = true))
        assert(docSet(out) == docSet(ChainWalker.applyStrict(prefix, MongoGen.schema)), s"batch $i")
    }
    assert(docSet(spark.table("mongo_chain_out2")) == oracle(wl))
  }

  test("mongo cross-batch patch takes masked fields from delta, rest from snapshot") {
    import MongoGen._
    val d = Doc("doc-z", "user", "original", Some(new java.math.BigDecimal("12.34")), 1700000000000L)
    val wl0 = Workload(IndexedSeq(Insert(d)), Map.empty)
    // two patches in one later batch compose into one net delta
    val wl1ops = IndexedSeq[MOp](
      Patch("doc-z", Map("text" -> "patched"), Nil),
      Patch("doc-z", Map.empty, Seq("score")))
    val dir = java.nio.file.Files.createTempDirectory("lake-mongo2").toString
    val table = new graft.lake.LakeTable(spark, dir)
    table.create(MongoGen.schema.structType, MongoGen.schema.keyNames, nBuckets = 4)
    val pipe = new graft.streaming.CdcPipeline(spark, MongoGen.schema, table,
      DecodeOptions(strict = true, validate = true, connector = Some("mongodb")), "cp-mongo2")
    pipe.processBatch(MongoGen.toDataFrame(spark, wl0), 0L)
    pipe.processBatch(MongoGen.toDataFrame(spark, Workload(wl1ops, Map.empty))
      .withColumn("offset", org.apache.spark.sql.functions.col("offset") + 100L), 1L)
    // role survives from the snapshot; text patched; score unset
    assert(lakeState(table) ==
      Set(("doc-z", "user", "patched", None, 1700000000000L)))
  }

  test("mongo merge-on-read ingest: patch deltas fold in seq order on read") {
    // O(batch)-write commits for Mongo too: patch deltas land as delta
    // files with their masks; reads fold base+patches per key in commit
    // order (PatchFoldBySeq); compaction folds them into base files
    val wl = MongoGen.workload(seed = 34, nDocs = 25, nTxns = 250)
    val dir = java.nio.file.Files.createTempDirectory("lake-mongo-mor").toString
    val table = new graft.lake.LakeTable(spark, dir)
    table.create(MongoGen.schema.structType, MongoGen.schema.keyNames, nBuckets = 8)
    val pipe = new graft.streaming.CdcPipeline(spark, MongoGen.schema, table,
      DecodeOptions(strict = true, validate = true, connector = Some("mongodb")),
      "cp-mongo-mor", mergeOnRead = true, autoCompact = 0)
    val raw = MongoGen.toDataFrame(spark, wl)
    val n = wl.ops.length
    Seq((0, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, n)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        pipe.processBatch(raw.filter(s"offset >= $lo and offset < $hi"), i.toLong)
    }
    // nothing was rewritten: every data file is a delta; only commits
    // that actually carried patch-mask rows are patch-flagged (the
    // initial all-create commit reads via the cheaper LWW fold)
    assert(table.currentSnapshot.get.files.forall(_.delta))
    assert(table.currentSnapshot.get.files.exists(_.patch))
    assert(lakeState(table) == oracle(wl))
    // compaction folds patches into base files; state unchanged
    table.compact()
    assert(table.currentSnapshot.get.files.forall(f => !f.delta && !f.patch))
    assert(lakeState(table) == oracle(wl))
  }

  test("mongo patch against a missing document fails the merge precondition") {
    import MongoGen._
    val wl = Workload(IndexedSeq[MOp](Patch("doc-ghost", Map("text" -> "boo"), Nil)), Map.empty)
    val dir = java.nio.file.Files.createTempDirectory("lake-mongo3").toString
    val table = new graft.lake.LakeTable(spark, dir)
    table.create(MongoGen.schema.structType, MongoGen.schema.keyNames, nBuckets = 4)
    val pipe = new graft.streaming.CdcPipeline(spark, MongoGen.schema, table,
      DecodeOptions(strict = true, validate = true, connector = Some("mongodb")), "cp-mongo3")
    val ex = intercept[Exception] { pipe.processBatch(MongoGen.toDataFrame(spark, wl), 0L) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("strict merge violation")))
  }

  test("mongo in-batch chain violations throw during delta composition") {
    import MongoGen._
    val d = Doc("doc-w", "user", "v1", None, 1700000000000L)
    // insert twice without an intervening delete: 'expected previous null'
    val wl = Workload(IndexedSeq[MOp](Insert(d), Insert(d)), Map.empty)
    val events = MongoDecoder.decode(
      MongoGen.toDataFrame(spark, wl), MongoGen.schema, DecodeOptions(strict = true))
    val ex = intercept[Exception] {
      CdcApply.mongoStrictDeltas(events, MongoGen.schema).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("expected previous value to be null")))
  }

  test("mongo decode requires strict mode") {
    val wl = MongoGen.workload(seed = 32, nDocs = 3, nTxns = 5)
    val ex = intercept[IllegalArgumentException] {
      MongoDecoder.decode(MongoGen.toDataFrame(spark, wl), MongoGen.schema,
        DecodeOptions(strict = false))
    }
    assert(ex.getMessage.contains("strict"))
  }
}
