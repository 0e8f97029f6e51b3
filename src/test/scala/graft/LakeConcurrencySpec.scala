package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{ConcurrentCommitException, LakeTable}

/** Optimistic concurrency on the snapshot-commit protocol. The race is
  * injected deterministically with `preCommitHook` (fires once, inside
  * the loser's window between building its snapshot and publishing it);
  * the competing writer is a SECOND LakeTable instance on the same
  * root, as two drivers would be. Contract:
  *  - merge-on-read deltas and appends are append-only commits: a lost
  *    race REBASES in O(metadata) — staged files re-stamped with the
  *    final commit seq, which serializes the batch after the winner;
  *  - copy-on-write merges rebase iff every interim commit touched
  *    disjoint buckets; an overlap is the lost-update anomaly and must
  *    abort with committed state intact;
  *  - a racing writer committing the SAME (checkpointId, batchId) —
  *    dual drivers — degenerates to the exactly-once replay no-op;
  *  - layout changes (rebucket) in the window always abort the loser. */
class LakeConcurrencySpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("ts", LongType, nullable = true)))

  private def rows(lo: Long, hi: Long, tag: String = "n"): DataFrame =
    spark.range(lo, hi).select(col("id"),
      concat(lit(tag + "-"), col("id").cast("string")).as("name"),
      col("id").as("ts"))

  private def deltas(lo: Long, hi: Long, tag: String): DataFrame =
    rows(lo, hi, tag)
      .withColumn("operation", lit("c"))
      .withColumn("offset", col("id"))

  private def newTable(): LakeTable = {
    val tmp = java.nio.file.Files.createTempDirectory("lake-occ").toString
    val t = new LakeTable(spark, tmp)
    t.create(schema, Seq("id"), nBuckets = 4)
    t
  }

  private def names(t: LakeTable): Map[Long, String] =
    t.read().select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("merge-on-read race: loser rebases, both batches land, loser serializes after") {
    val t = newTable()
    val t2 = new LakeTable(spark, t.root)
    // key 5 is written by BOTH batches: the loser rebases to a higher
    // commit seq, so its value must win the LWW reconstruction
    t.preCommitHook = () => { t2.mergeDeltas(deltas(5, 15, "B"), "cp-b", 0L); () }
    val snap = t.mergeDeltas(deltas(0, 6, "A"), "cp-a", 0L)
    assert(snap.version == 2, "loser must land at head+1 after rebase")
    assert(snap.lineage.isDefined)
    assert(snap.lineage.get.get("rebaseAttempts").asInt == 1)
    assert(t.snapshot(1).lineage.get.get("rebaseAttempts").asInt == 0)
    // both batches fully present; overlap keys carry the rebased loser's value
    val got = names(t)
    assert(got.keySet == (0L until 15L).toSet)
    assert(got(5L) == "A-5" && got(3L) == "A-3" && got(10L) == "B-10")
    // the rebased delta files were re-stamped with the final commit seq
    assert(snap.files.filter(_.delta).map(_.seq).toSet == Set(1, 2))
    // both checkpoints recorded (exactly-once bookkeeping survives rebase)
    assert(snap.commits.keySet == Set("cp-a", "cp-b"))
  }

  test("copy-on-write race on disjoint buckets: loser rebases, both updates land") {
    val t = newTable()
    t.append(rows(0, 20), "seed", 0L)
    // two ids in provably different buckets under the writers' hash
    val b = spark.range(0, 20)
      .select(col("id"), pmod(hash(col("id")), lit(4)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val idA = b.keys.min
    val idB = b.collectFirst { case (id, bk) if bk != b(idA) => id }.get
    val t2 = new LakeTable(spark, t.root)
    t.preCommitHook = () => {
      t2.merge(deltas(idB, idB + 1, "B"), "cp-b", 0L); ()
    }
    val snap = t.merge(deltas(idA, idA + 1, "A"), "cp-a", 0L)
    assert(snap.version == 3)
    val got = names(t)
    assert(got(idA) == "A-" + idA && got(idB) == "B-" + idB)
    assert(got.size == 20)
  }

  test("copy-on-write race on the SAME bucket: loser aborts, committed state intact, retry succeeds") {
    val t = newTable()
    t.append(rows(0, 20), "seed", 0L)
    val t2 = new LakeTable(spark, t.root)
    t.preCommitHook = () => { t2.merge(deltas(7, 8, "B"), "cp-b", 0L); () }
    val ex = intercept[ConcurrentCommitException] {
      t.merge(deltas(7, 8, "A"), "cp-a", 0L)
    }
    assert(ex.getMessage.contains("touched bucket"))
    // winner's state intact, loser's batch NOT recorded
    assert(names(t)(7L) == "B-7")
    assert(!t.currentSnapshot.get.commits.contains("cp-a"))
    // the remediation: re-run against the new head — applies cleanly
    val snap = t.merge(deltas(7, 8, "A"), "cp-a", 0L)
    assert(snap.version == 3 && names(t)(7L) == "A-7")
  }

  test("dual drivers racing the same batch: loser degenerates to the replay no-op") {
    val t = newTable()
    val t2 = new LakeTable(spark, t.root)
    t.preCommitHook = () => { t2.mergeDeltas(deltas(0, 10, "X"), "cp", 0L); () }
    val snap = t.mergeDeltas(deltas(0, 10, "X"), "cp", 0L)
    assert(snap.version == 1, "no second commit for the same (checkpoint, batch)")
    assert(snap.lineage.isEmpty, "replay marker: lineage stripped")
    assert(t.read().count() == 10)
  }

  test("compaction races ingest: rebase keeps interim deltas overlaying the folded base") {
    val t = newTable()
    t.append(rows(0, 20), "seed", 0L) // v1
    t.mergeDeltas(deltas(0, 5, "A"), "cp-a", 0L) // v2: delta files
    val t2 = new LakeTable(spark, t.root)
    // a delta batch lands in compaction's race window (ids 3..7 overlap
    // the folded keys): maintenance must NOT abort live ingest — it
    // rebases, and the interim deltas (higher seq) overlay its folded
    // base (seq anchored at the compaction's base version)
    t.preCommitHook = () => { t2.mergeDeltas(deltas(3, 8, "B"), "cp-b", 0L); () }
    val snap = t.compact()
    assert(snap.version == 4)
    val got = names(t)
    assert(got.size == 20)
    assert(got(1L) == "A-1", "folded value survives")
    assert(got(4L) == "B-4" && got(7L) == "B-7",
      "interim deltas committed after the fold's base must win")
    assert(snap.files.filter(_.delta).nonEmpty &&
      snap.files.filter(_.delta).forall(_.seq == 3),
      "only the interim commit's delta files remain")
    assert(snap.files.filterNot(_.delta).forall(_.seq <= 2),
      "folded base carries the base version's seq, below the interim deltas")
  }

  test("maintenance vs a COW rewrite in the window: compaction aborts, state intact") {
    val t = newTable()
    t.append(rows(0, 20), "seed", 0L)
    t.mergeDeltas(deltas(0, 5, "A"), "cp-a", 0L)
    val t2 = new LakeTable(spark, t.root)
    t.preCommitHook = () => { t2.merge(deltas(10, 11, "B"), "cp-b", 0L); () }
    val ex = intercept[ConcurrentCommitException] { t.compact() }
    assert(ex.getMessage.contains("not composable"))
    assert(names(t)(10L) == "B-10" && names(t)(1L) == "A-1")
    // the remediation: re-run against the new head
    val snap = t.compact()
    assert(snap.files.forall(!_.delta))
    assert(names(t)(1L) == "A-1" && t.read().count() == 20)
  }

  test("deleteWhere races disjoint-bucket ingest: rebase, write-serializable semantics") {
    val t = newTable()
    // seed ONLY keys living in one bucket, so the rewrite set is that
    // single bucket and a racing insert elsewhere is provably disjoint
    val b = spark.range(0, 200)
      .select(col("id"), pmod(hash(col("id")), lit(4)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val seedIds = b.collect { case (id, 0) => id }.toSeq.sorted.take(6)
    val idB = b.collectFirst { case (id, bk) if bk != 0 => id }.get
    t.append(rows(seedIds.head, seedIds.head + 1, "s")
      .unionAll(seedIds.tail.map(i => rows(i, i + 1, "s")).reduce(_ unionAll _)),
      "seed", 0L) // v1
    val t2 = new LakeTable(spark, t.root)
    // the interim row MATCHES the delete predicate (ts < 1000) but lands
    // in a bucket the rewrite never read: under write-serializable
    // isolation the delete applies to its BASE version's state, so the
    // concurrently-inserted row must survive the rebase
    t.preCommitHook = () => { t2.merge(deltas(idB, idB + 1, "B"), "cp-b", 0L); () }
    val snap = t.deleteWhere(col("ts") < 1000)
    assert(snap.version == 3, "loser must rebase onto the interim head")
    val got = names(t)
    assert(got.keySet == Set(idB), "all seeded rows deleted; racing insert survives")
    assert(got(idB) == "B-" + idB)
  }

  test("updateWhere races an overlapping-bucket merge: abort, state intact, retry succeeds") {
    val t = newTable()
    t.append(rows(0, 20), "seed", 0L)
    val t2 = new LakeTable(spark, t.root)
    // no stats columns → every bucket is a rewrite candidate → ANY
    // interim data commit overlaps → genuine lost-update, must abort
    t.preCommitHook = () => { t2.merge(deltas(7, 8, "B"), "cp-b", 0L); () }
    val ex = intercept[ConcurrentCommitException] {
      t.updateWhere(col("id") === 3, Map("name" -> lit("patched")))
    }
    assert(ex.getMessage.contains("touched bucket"))
    assert(names(t)(7L) == "B-7" && names(t)(3L) == "n-3")
    // remediation: re-run against the new head
    t.updateWhere(col("id") === 3, Map("name" -> lit("patched")))
    val got = names(t)
    assert(got(3L) == "patched" && got(7L) == "B-7" && got.size == 20)
  }

  test("a rebucket in the race window always aborts the loser") {
    val t = newTable()
    t.append(rows(0, 20), "seed", 0L)
    val t2 = new LakeTable(spark, t.root)
    t.preCommitHook = () => { t2.rebucket(8); () }
    intercept[ConcurrentCommitException] {
      t.mergeDeltas(deltas(50, 55, "A"), "cp-a", 0L)
    }
    // committed state intact under the new layout
    assert(t.currentSnapshot.get.nBuckets == 8)
    assert(t.read().count() == 20)
  }

  /** One row per write operation whose race policy no case above pins:
    * `loser` runs on a table seeded with ids 0..19 (v1), and `racer`
    * commits from a second instance inside its publish window (v2). A
    * rebasing loser lands at v3 beside the racer's rows; a throwing one
    * leaves the racer's commit as the head. `ids` = the keys after. */
  private case class Race(name: String, loser: LakeTable => Any,
      racer: LakeTable => Any, rebases: Boolean, ids: Set[Long])

  private val seeded = (0L until 20L).toSet
  private val raced = (200L until 205L).toSet
  private val races = Seq(
    Race("append rebases over an interim mergeDeltas; both batches land",
      _.append(rows(100, 110), "cp-a", 0L), _.mergeDeltas(deltas(200, 205, "B"), "cp-b", 0L),
      rebases = true, seeded ++ (100L until 110L) ++ raced),
    Race("overwrite throws on a lost race; state intact",
      _.overwrite(rows(100, 110), "cp-a", 0L), _.mergeDeltas(deltas(200, 205, "B"), "cp-b", 0L),
      rebases = false, seeded ++ raced),
    Race("cluster rebases over an interim append",
      _.cluster(Seq("ts")), _.append(rows(200, 205, "B"), "cp-b", 0L),
      rebases = true, seeded ++ raced),
    Race("zorder rebases over an interim append",
      _.zorder(Seq("id", "ts")), _.append(rows(200, 205, "B"), "cp-b", 0L),
      rebases = true, seeded ++ raced),
    Race("an empty merge batch rebases like any merge",
      _.merge(deltas(0, 0, "A"), "cp-a", 0L), _.mergeDeltas(deltas(200, 205, "B"), "cp-b", 0L),
      rebases = true, seeded ++ raced),
    Race("setStatsColumns throws on a lost race",
      _.setStatsColumns(Seq("ts")), _.append(rows(200, 205, "B"), "cp-b", 0L),
      rebases = false, seeded ++ raced))

  races.foreach { r =>
    test(s"race policy: ${r.name}") {
      val t = newTable()
      t.append(rows(0, 20), "seed", 0L)
      val t2 = new LakeTable(spark, t.root)
      t.preCommitHook = () => { r.racer(t2); () }
      if (r.rebases) r.loser(t)
      else intercept[ConcurrentCommitException](r.loser(t))
      val head = t.currentSnapshot.get
      assert(head.version == (if (r.rebases) 3 else 2))
      assert(names(t).keySet == r.ids)
      if (!r.rebases) assert(!head.commits.contains("cp-a") && head.statsColumns.isEmpty,
        "the loser must leave no trace")
    }
  }
}

