package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.decode.{DecodeOptions, EnvelopeDecoder}
import graft.gen.EnvelopeGen
import graft.lake.LakeTable
import graft.model.CdcSchema

class LakeTableSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  val schema = CdcSchema.transcripts

  private def tmpTable(): LakeTable = {
    val dir = Files.createTempDirectory("lake").toString
    val t = new LakeTable(spark, dir)
    t.create(schema.structType, schema.keyNames, nBuckets = 8)
    t
  }

  private def deltasOf(wl: EnvelopeGen.Workload, filter: Long => Boolean = _ => true) = {
    val df = EnvelopeGen.toDataFrame(spark, wl).filter(col("offset").isin(
      wl.ops.indices.filter(i => filter(i.toLong)).map(_.toLong): _*))
    EnvelopeDecoder.toDeltas(
      EnvelopeDecoder.decodeRelational(df, schema, DecodeOptions(strict = false)), schema)
  }

  private def stateSet(df: org.apache.spark.sql.DataFrame) =
    df.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  private def oracleSet(wl: EnvelopeGen.Workload) =
    wl.finalState.values.map(t => (t.convId, t.turnIdx, t.text)).toSet

  test("single merge reproduces oracle state") {
    val wl = EnvelopeGen.workload(seed = 10, nConvs = 20, maxTurns = 4, nTxns = 200)
    val t = tmpTable()
    val snap = t.merge(deltasOf(wl), "cp", 0L)
    assert(snap.version == 1)
    assert(stateSet(t.read()) == oracleSet(wl))
  }

  test("chained batch merges reproduce oracle state (incremental ingest)") {
    val wl = EnvelopeGen.workload(seed = 11, nConvs = 25, maxTurns = 4, nTxns = 400)
    val n = wl.ops.length
    val t = tmpTable()
    t.merge(deltasOf(wl, i => i < n / 3), "cp", 0L)
    t.merge(deltasOf(wl, i => i >= n / 3 && i < 2 * n / 3), "cp", 1L)
    t.merge(deltasOf(wl, i => i >= 2 * n / 3), "cp", 2L)
    assert(stateSet(t.read()) == oracleSet(wl))
    assert(t.currentVersion.contains(3))
  }

  test("replaying a committed batch is a no-op (exactly-once)") {
    val wl = EnvelopeGen.workload(seed = 12, nConvs = 10, maxTurns = 3, nTxns = 100)
    val t = tmpTable()
    t.merge(deltasOf(wl), "cp", 0L)
    val v1 = t.currentVersion
    t.merge(deltasOf(wl), "cp", 0L) // replay
    assert(t.currentVersion == v1)
    assert(stateSet(t.read()) == oracleSet(wl))
  }

  test("time travel: earlier versions remain readable") {
    val wl = EnvelopeGen.workload(seed = 13, nConvs = 15, maxTurns = 3, nTxns = 200)
    val n = wl.ops.length
    val t = tmpTable()
    t.merge(deltasOf(wl, _ < n / 2), "cp", 0L)
    val rowsV1 = t.read(Some(1)).count()
    t.merge(deltasOf(wl, _ >= n / 2), "cp", 1L)
    assert(t.read(Some(1)).count() == rowsV1) // immutable history
    assert(stateSet(t.read()) == oracleSet(wl))
  }

  test("merge only rewrites affected buckets") {
    val wl = EnvelopeGen.workload(seed = 14, nConvs = 40, maxTurns = 4, nTxns = 300)
    val t = tmpTable()
    t.merge(deltasOf(wl), "cp", 0L)
    val before = t.currentSnapshot.get.files.toSet
    // a single-key update touches exactly one bucket
    val one = EnvelopeGen.Workload(
      IndexedSeq(EnvelopeGen.Create(EnvelopeGen.Turn("conv-singleton", 0, "user", "hi", None, 1700000000000000L))),
      Map.empty)
    val onlyDelta = EnvelopeDecoder.toDeltas(
      EnvelopeDecoder.decodeRelational(EnvelopeGen.toDataFrame(spark, one), schema,
        DecodeOptions(strict = false)), schema)
    val snap2 = t.merge(onlyDelta, "cp", 1L)
    val kept = snap2.files.toSet.intersect(before)
    assert(kept.nonEmpty, "unaffected bucket files must be retained as-is")
    val lin = snap2.lineage.get
    assert(lin.get("affectedBuckets").asInt() == 1)
  }

  test("schema evolution: added nullable column reads as null from old files") {
    val wl = EnvelopeGen.workload(seed = 15, nConvs = 10, maxTurns = 3, nTxns = 50)
    val t = tmpTable()
    t.merge(deltasOf(wl), "cp", 0L)
    val evolved = org.apache.spark.sql.types.StructType(
      schema.structType.fields :+
        org.apache.spark.sql.types.StructField("sentiment",
          org.apache.spark.sql.types.StringType, nullable = true))
    t.evolveSchema(evolved)
    val df = t.read()
    assert(df.schema.fieldNames.contains("sentiment"))
    assert(df.filter(col("sentiment").isNotNull).count() == 0)
    assert(stateSet(df) == oracleSet(wl))
  }

  test("concurrent writers: an unreadable interim version blocks rebase, state intact") {
    val wl = EnvelopeGen.workload(seed = 16, nConvs = 8, maxTurns = 3, nTxns = 40)
    val t = tmpTable()
    t.merge(deltasOf(wl), "cp-a", 0L)
    val committed = stateSet(t.read())
    // a garbage version file lands in the race window: the loser must
    // neither trust it (rebase aborts: unknown provenance) nor corrupt
    // committed state. Sound-rebase races are covered by
    // LakeConcurrencySpec; this pins the conservative failure mode.
    val v2 = new java.io.File(t.root, "metadata/v00002.json")
    t.preCommitHook = () => {
      java.nio.file.Files.write(v2.toPath, "{}".getBytes("UTF-8")); ()
    }
    val ex = intercept[IllegalStateException] {
      t.merge(deltasOf(wl, i => i < 10), "cp-b", 0L)
    }
    assert(ex.getMessage.contains("concurrent commit"))
    v2.delete()
    assert(stateSet(t.read()) == committed)
  }

  // ------------------------------------------------------ merge-on-read

  test("merge-on-read: chained delta commits reproduce oracle state") {
    val wl = EnvelopeGen.workload(seed = 30, nConvs = 25, maxTurns = 4, nTxns = 400)
    val n = wl.ops.length
    val t = tmpTable()
    t.mergeDeltas(deltasOf(wl, i => i < n / 3), "cp", 0L)
    t.mergeDeltas(deltasOf(wl, i => i >= n / 3 && i < 2 * n / 3), "cp", 1L)
    t.mergeDeltas(deltasOf(wl, i => i >= 2 * n / 3), "cp", 2L)
    assert(stateSet(t.read()) == oracleSet(wl))
    // nothing was rewritten: every file in the snapshot is a delta file
    assert(t.currentSnapshot.get.files.forall(_.delta))
    // replay is a no-op
    val v = t.currentVersion
    t.mergeDeltas(deltasOf(wl, i => i >= 2 * n / 3), "cp", 2L)
    assert(t.currentVersion == v)
  }

  test("merge-on-read commit is O(batch): prior files untouched, lineage recorded") {
    val wl = EnvelopeGen.workload(seed = 31, nConvs = 40, maxTurns = 4, nTxns = 300)
    val t = tmpTable()
    t.mergeDeltas(deltasOf(wl), "cp", 0L)
    val before = t.currentSnapshot.get.files.toSet
    val one = EnvelopeGen.Workload(
      IndexedSeq(EnvelopeGen.Create(EnvelopeGen.Turn("conv-solo", 0, "user", "hi", None, 1700000000000000L))),
      Map.empty)
    val onlyDelta = EnvelopeDecoder.toDeltas(
      EnvelopeDecoder.decodeRelational(EnvelopeGen.toDataFrame(spark, one), schema,
        DecodeOptions(strict = false)), schema)
    val snap2 = t.mergeDeltas(onlyDelta, "cp", 1L)
    // ALL prior files retained verbatim; exactly one new delta file
    assert(before.subsetOf(snap2.files.toSet))
    val added = snap2.files.toSet -- before
    assert(added.size == 1 && added.forall(_.delta))
    val lin = snap2.lineage.get
    assert(lin.get("operation").asText() == "mergeDeltas")
    assert(lin.get("keys").asLong() == 1L)
    assert(lin.get("inserts").asLong() == 1L)
  }

  test("compaction folds deltas into base; logical state unchanged") {
    val wl = EnvelopeGen.workload(seed = 32, nConvs = 25, maxTurns = 4, nTxns = 350)
    val n = wl.ops.length
    val t = tmpTable()
    t.mergeDeltas(deltasOf(wl, i => i < n / 2), "cp", 0L)
    t.mergeDeltas(deltasOf(wl, i => i >= n / 2), "cp", 1L)
    val preCompact = stateSet(t.read())
    val snap = t.compact()
    assert(snap.files.forall(f => !f.delta), "compacted snapshot has no delta files")
    assert(stateSet(t.read()) == preCompact)
    assert(preCompact == oracleSet(wl))
    // compacting a delta-free table is a no-op
    assert(t.compact().version == snap.version)
  }

  test("auto-compaction triggers once a bucket accumulates the threshold of delta commits") {
    val wl = EnvelopeGen.workload(seed = 33, nConvs = 20, maxTurns = 4, nTxns = 300)
    val n = wl.ops.length
    val t = tmpTable()
    t.mergeDeltas(deltasOf(wl, i => i < n / 2), "cp", 0L, autoCompact = 2)
    assert(t.currentSnapshot.get.files.forall(_.delta))
    val snap = t.mergeDeltas(deltasOf(wl, i => i >= n / 2), "cp", 1L, autoCompact = 2)
    // the returned snapshot keeps the MERGE lineage (metrics!) annotated
    // with the compaction; the on-disk commit lineage is "compact"
    assert(snap.lineage.get.get("operation").asText() == "mergeDeltas")
    assert(snap.lineage.get.get("autoCompactedBuckets").asInt() > 0)
    assert(t.snapshot(snap.version).lineage.get.get("operation").asText() == "compact")
    assert(snap.files.forall(f => !f.delta))
    assert(stateSet(t.read()) == oracleSet(wl))
  }

  test("copy-on-write merge over outstanding deltas reconstructs, then rewrites") {
    val wl = EnvelopeGen.workload(seed = 34, nConvs = 25, maxTurns = 4, nTxns = 300)
    val n = wl.ops.length
    val t = tmpTable()
    t.mergeDeltas(deltasOf(wl, i => i < n / 2), "cp", 0L)
    val snap = t.merge(deltasOf(wl, i => i >= n / 2), "cp", 1L)
    assert(stateSet(t.read()) == oracleSet(wl))
    // rewritten buckets must no longer carry delta files
    val rewritten = snap.lineage.get.get("affectedBuckets").asInt()
    assert(rewritten > 0)
  }

  test("copy-on-write merge rejects a batch holding a key twice; prior duplicates fold") {
    import org.apache.spark.sql.types._
    val t = new LakeTable(spark, Files.createTempDirectory("lake").toString)
    t.create(StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("name", StringType))), Seq("id"), nBuckets = 4)
    def named(ids: Seq[Long], tag: String) =
      ids.map(i => (i, s"$tag-$i")).toDF("id", "name")
    def batch(rs: (Long, String, String)*) = rs.toDF("id", "name", "operation")
      .withColumn("offset", col("id"))
    def state() = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    t.append(named(0L until 10L, "a"), "seed", 0L)
    val before = state()
    val ex = intercept[Exception] {
      t.merge(batch((3L, "x-3", "u"), (3L, "y-3", "u"), (20L, "p-20", "c"), (20L, "q-20", "c")),
        "cp", 0L)
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(ex).exists(_.matches("(?s).*merge batch holds duplicate key '(3|20)'.*")),
      msgs(ex).headOption)
    assert(state() == before)
    // an un-reduced append may hold a key twice: the merge folds the
    // key's rows to one, as compact does
    t.append(named(Seq(5L), "b"), "dup", 0L)
    t.merge(batch((3L, "x-3", "u"), (5L, "c-5", "u"), (20L, "p-20", "c")), "cp", 0L)
    assert(state() == (before.toMap ++ Seq(3L -> "x-3", 5L -> "c-5", 20L -> "p-20")).toSeq.sorted)
  }

  test("merge-on-read strict validation: cross-batch chains pass, forged before-image fails") {
    import graft.apply.CdcApply
    val wl = EnvelopeGen.workload(seed = 35, nConvs = 15, maxTurns = 4, nTxns = 200)
    val n = wl.ops.length
    val t = tmpTable()
    def strictDeltasOf(filter: Long => Boolean) = {
      val df = EnvelopeGen.toDataFrame(spark, wl).filter(col("offset").isin(
        wl.ops.indices.filter(i => filter(i.toLong)).map(_.toLong): _*))
      CdcApply.strictDeltas(
        EnvelopeDecoder.decodeRelational(df, schema, DecodeOptions(strict = true)), schema)
    }
    t.mergeDeltas(strictDeltasOf(_ < n / 2), "cp", 0L, strictValidate = true)
    t.mergeDeltas(strictDeltasOf(_ >= n / 2), "cp", 1L, strictValidate = true)
    assert(stateSet(t.read()) == oracleSet(wl))
    // replaying batch 0 under a NEW checkpoint must violate preconditions
    // ('c' first-ops against already-present rows)
    val ex = intercept[Exception] {
      t.mergeDeltas(strictDeltasOf(_ < n / 2), "cp-forged", 0L, strictValidate = true)
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(ex).exists(_.contains("strict merge violation")))
  }

  test("readColumns prunes the parquet scan through the MoR reconstruction") {
    val wl = EnvelopeGen.workload(seed = 38, nConvs = 20, maxTurns = 4, nTxns = 250)
    val n = wl.ops.length
    val t = tmpTable()
    t.mergeDeltas(deltasOf(wl, i => i < n / 2), "cp", 0L)
    t.mergeDeltas(deltasOf(wl, i => i >= n / 2), "cp", 1L)
    val pruned = t.read(columns = Some(Seq("conv_id", "turn_idx", "text")))
    // values identical to the unpruned read
    val full = t.read().select("conv_id", "turn_idx", "text")
    assert(stateSet(pruned) == stateSet(full))
    assert(stateSet(pruned) == oracleSet(wl))
    // the parquet scan schema must not contain unrequested payload columns
    val scans = pruned.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("FileScan parquet"))
    assert(scans.nonEmpty)
    scans.foreach(l => assert(!l.contains("role"), s"scan not pruned:\n$l"))
  }

  test("rebucket: state round-trips under a new bucket count; later merges use it") {
    val wl = EnvelopeGen.workload(seed = 50, nConvs = 30, maxTurns = 4, nTxns = 300)
    val n = wl.ops.length
    val dir = Files.createTempDirectory("lake-rb").toString
    val t = new LakeTable(spark, dir)
    t.create(schema.structType, schema.keyNames, nBuckets = 2)
    t.merge(deltasOf(wl, i => i < n / 3), "cp", 0L)
    t.mergeDeltas(deltasOf(wl, i => i >= n / 3 && i < 2 * n / 3), "cp", 1L)

    val snap = t.rebucket(16)
    assert(snap.nBuckets == 16)
    assert(snap.files.forall(f => !f.delta), "rebucket folds outstanding deltas")
    assert(snap.files.map(_.bucket).forall(b => b >= 0 && b < 16))
    assert(snap.files.map(_.bucket).distinct.size > 2, "rows spread over the new buckets")
    // checkpoint entries survive: replaying batch 1 is still a no-op
    val v = t.currentVersion
    t.mergeDeltas(deltasOf(wl, i => i >= n / 3 && i < 2 * n / 3), "cp", 1L)
    assert(t.currentVersion == v)
    // the next batch merges through the NEW layout
    t.merge(deltasOf(wl, i => i >= 2 * n / 3), "cp", 2L)
    assert(stateSet(t.read()) == oracleSet(wl))
    // rebucket to the current count is a no-op
    assert(t.rebucket(16).version == t.currentVersion.get)
  }

  test("commit metadata is O(changed files): delta commits reuse every prior manifest") {
    val wl = EnvelopeGen.workload(seed = 51, nConvs = 25, maxTurns = 4, nTxns = 300)
    val n = wl.ops.length
    val t = tmpTable()
    t.mergeDeltas(deltasOf(wl, i => i < n / 3), "cp", 0L)
    val m1 = t.currentSnapshot.get.manifests.map(_.path)
    val snap2 = t.mergeDeltas(deltasOf(wl, i => i >= n / 3 && i < 2 * n / 3), "cp", 1L)
    // prior manifest reused verbatim; exactly one new manifest written
    assert(snap2.manifests.map(_.path).take(m1.size) == m1)
    assert(snap2.manifests.size == m1.size + 1)
    assert(snap2.lineage.get.get("reusedManifests").asInt() == m1.size)
    assert(snap2.lineage.get.get("newManifests").asInt() == 1)
    // the snapshot json itself carries manifest POINTERS, not file lists
    val vjson = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(t.root, f"metadata/v${snap2.version}%05d.json").toPath), "UTF-8")
    assert(vjson.contains("manifest-") && !vjson.contains("\"files\""))
    // compaction folds the touched manifests; state intact throughout
    t.mergeDeltas(deltasOf(wl, i => i >= 2 * n / 3), "cp", 2L)
    t.compact()
    assert(stateSet(t.read()) == oracleSet(wl))
  }

  test("write parallelism is not capped by the bucket count") {
    val wl = EnvelopeGen.workload(seed = 52, nConvs = 40, maxTurns = 4, nTxns = 300)
    val dir = Files.createTempDirectory("lake-fpb").toString
    val t = new LakeTable(spark, dir)
    t.create(schema.structType, schema.keyNames, nBuckets = 1)
    // 4 shuffle partitions vs 1 bucket: the commit writes through 4 salted
    // writer tasks → several files in the one bucket, not a single-task write
    val snap = t.mergeDeltas(deltasOf(wl), "cp", 0L)
    assert(snap.files.size > 1, s"expected >1 file for 1 bucket, got ${snap.files.size}")
    assert(snap.files.forall(_.bucket == 0))
    assert(stateSet(t.read()) == oracleSet(wl))
    // reconstruction + compaction still correct over multi-file buckets
    t.compact()
    assert(stateSet(t.read()) == oracleSet(wl))
  }

  // ------------------------------------------------------ maintenance

  test("expireSnapshots + vacuum delete unreferenced files; current state intact") {
    val wl = EnvelopeGen.workload(seed = 36, nConvs = 25, maxTurns = 4, nTxns = 300)
    val n = wl.ops.length
    val t = tmpTable()
    t.merge(deltasOf(wl, i => i < n / 2), "cp", 0L)
    t.merge(deltasOf(wl, i => i >= n / 2), "cp", 1L) // rewrites buckets → v1 files orphaned once expired
    val committed = stateSet(t.read())
    // an orphan from a "failed commit" (staged but never referenced)
    val orphanDir = new java.io.File(t.root, "data/commit-99/_bucket=0")
    orphanDir.mkdirs()
    val orphan = new java.io.File(orphanDir, "part-orphan.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val expired = t.expireSnapshots(keepLast = 1)
    assert(expired.nonEmpty)
    val deleted = t.vacuum()
    assert(deleted > 0)
    assert(!orphan.exists())
    assert(stateSet(t.read()) == committed)
    assert(committed == oracleSet(wl))
    // expired versions are no longer readable
    intercept[Exception] { t.read(Some(1)).collect() }
  }

  test("rollback restores an earlier state as a new commit; replay then re-applies") {
    val wl = EnvelopeGen.workload(seed = 39, nConvs = 20, maxTurns = 3, nTxns = 200)
    val n = wl.ops.length
    val t = tmpTable()
    t.merge(deltasOf(wl, i => i < n / 2), "cp", 0L)
    val goodState = stateSet(t.read())
    val goodVersion = t.currentVersion.get
    t.merge(deltasOf(wl, i => i >= n / 2), "cp", 1L) // the "bad" batch
    assert(stateSet(t.read()) != goodState)

    val snap = t.rollback(goodVersion)
    assert(snap.version == goodVersion + 2, "rollback is a NEW commit")
    assert(stateSet(t.read()) == goodState)
    assert(snap.lineage.get.get("operation").asText() == "rollback")
    // history is immutable: the bad version stays time-travel readable
    assert(t.read(Some(goodVersion + 1)).count() > 0)
    assert(t.history().map(_._1) == (0 to snap.version))
    // the rolled-back batch replays (checkpoint state restored with the rollback)
    t.merge(deltasOf(wl, i => i >= n / 2), "cp", 1L)
    assert(stateSet(t.read()) == oracleSet(wl))
  }

  test("rollback to an expired version fails with a clear error") {
    val wl = EnvelopeGen.workload(seed = 40, nConvs = 10, maxTurns = 3, nTxns = 100)
    val n = wl.ops.length
    val t = tmpTable()
    t.merge(deltasOf(wl, i => i < n / 2), "cp", 0L)
    t.merge(deltasOf(wl, i => i >= n / 2), "cp", 1L)
    t.expireSnapshots(keepLast = 1)
    val e = intercept[IllegalArgumentException] { t.rollback(1) }
    assert(e.getMessage.contains("expired"))
  }

  test("vacuum never deletes files a retained snapshot references") {
    val wl = EnvelopeGen.workload(seed = 37, nConvs = 15, maxTurns = 3, nTxns = 150)
    val n = wl.ops.length
    val t = tmpTable()
    t.merge(deltasOf(wl, i => i < n / 2), "cp", 0L)
    val v1Rows = t.read(Some(1)).count()
    t.merge(deltasOf(wl, i => i >= n / 2), "cp", 1L)
    assert(t.vacuum() == 0, "all files are referenced by retained snapshots")
    assert(t.read(Some(1)).count() == v1Rows, "time travel survives vacuum")
    assert(stateSet(t.read()) == oracleSet(wl))
  }

  test("expireSnapshots olderThan horizon keeps young snapshots (time-travel SLA)") {
    val wl = EnvelopeGen.workload(seed = 42, nConvs = 8, maxTurns = 3, nTxns = 60)
    val n = wl.ops.length
    val t = tmpTable()
    t.merge(deltasOf(wl, i => i < n / 2), "cp", 0L)
    t.merge(deltasOf(wl, i => i >= n / 2), "cp", 1L)
    // everything is seconds old: a 1h horizon expires nothing
    assert(t.expireSnapshots(keepLast = 1, olderThanMs = 3600 * 1000L).isEmpty)
    assert(t.read(Some(1)).count() > 0, "time travel intact inside the horizon")
    // horizon 0 = pure keepLast semantics
    assert(t.expireSnapshots(keepLast = 1) == Seq(0, 1))
  }

  test("vacuum minAge grace keeps fresh unreferenced files (in-flight staging)") {
    val wl = EnvelopeGen.workload(seed = 41, nConvs = 8, maxTurns = 3, nTxns = 60)
    val t = tmpTable()
    t.merge(deltasOf(wl), "cp", 0L)
    // a freshly-staged file of an in-flight (not yet published) commit
    val staged = new java.io.File(t.root, "data/commit-2-aaaa1111/_bucket=0")
    staged.mkdirs()
    val f = new java.io.File(staged, "part-staged.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    assert(t.vacuum(minAgeMs = 3600 * 1000L) == 0,
      "files younger than the grace period must survive")
    assert(f.exists())
    assert(t.vacuum() == 1, "without the grace the orphan is collected")
    assert(!f.exists())
  }

  test("schema evolution: lossless type widening is metadata-only; narrowing and key changes rejected") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("lake-widen").toString
    val t = new graft.lake.LakeTable(spark, dir)
    val s0 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType, nullable = true),
      StructField("x", FloatType, nullable = true)))
    t.create(s0, Seq("id"), nBuckets = 4)
    t.append(spark.range(0, 100).select(col("id"),
      col("id").cast("int").as("n"), col("id").cast("float").as("x")), "a", 0L)
    // a merge-on-read delta written under the OLD (narrow) schema
    t.mergeDeltas(spark.range(100, 110).select(col("id"),
      col("id").cast("int").as("n"), col("id").cast("float").as("x"),
      lit("c").as("operation"), col("id").as("offset")), "cp", 0L)
    val filesBefore = t.currentSnapshot.get.files.map(_.path).toSet

    val s1 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", LongType, nullable = true),
      StructField("x", DoubleType, nullable = true)))
    val snap = t.evolveSchema(s1)
    assert(snap.files.map(_.path).toSet == filesBefore, "no data rewritten")
    val df = t.read() // old base + old delta files up-cast through the fold
    assert(df.schema("n").dataType == LongType)
    assert(df.schema("x").dataType == DoubleType)
    assert(df.count() == 110)
    assert(df.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) == (0L until 110L).sum)
    // new commits write the wide type; reads stay consistent
    t.mergeDeltas(spark.range(110, 115).select(col("id"), col("id").as("n"),
      col("id").cast("double").as("x"), lit("c").as("operation"),
      col("id").as("offset")), "cp", 1L)
    assert(t.read().count() == 115)

    // narrowing rejected
    val narrow = StructType(s1.fields.map(f =>
      if (f.name == "n") f.copy(dataType = IntegerType) else f))
    assert(intercept[IllegalArgumentException] { t.evolveSchema(narrow) }
      .getMessage.contains("lossless"))
    // key-column type changes rejected (murmur3 buckets by declared type)
    val keyWiden = StructType(s1.fields.map(f =>
      if (f.name == "id") f.copy(dataType = DecimalType(20, 0)) else f))
    assert(intercept[IllegalArgumentException] { t.evolveSchema(keyWiden) }
      .getMessage.contains("key column"))
    // nullability tightening rejected
    val tighten = StructType(s1.fields.map(f =>
      if (f.name == "n") f.copy(nullable = false) else f))
    assert(intercept[IllegalArgumentException] { t.evolveSchema(tighten) }
      .getMessage.contains("nullability"))
  }
}
