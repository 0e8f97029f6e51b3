package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** Named tag refs (durable time-travel anchors pinned against snapshot
  * expiry) and the `files 'true'` manifest-inventory SQL view. */
class LakeTagSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", LongType, nullable = true)))

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"), (col("id") * 7).as("v"))

  private def newTable(): LakeTable = {
    val t = new LakeTable(spark, Scratch.dir("lake-tag"))
    t.create(schema, Seq("id"), nBuckets = 4, statsColumns = Seq("v"))
    t
  }

  test("tag pins a version; tagAsOf reads it; retag moves; dropTag releases") {
    val t = newTable()
    t.append(rows(0, 100), "c0", 0L)
    val v1 = t.currentVersion.get
    assert(t.tag("audit") == v1)
    t.append(rows(100, 200), "c1", 1L)
    // read by tag through the SQL surface
    val byTag = spark.read.format("graft-lake")
      .option("tagAsOf", "audit").load(t.root)
    assert(byTag.count() == 100)
    assert(t.read().count() == 200)
    assert(t.tags() == Map("audit" -> v1))
    // retag to head
    t.tag("audit")
    assert(t.resolveTag("audit") == t.currentVersion.get)
    t.dropTag("audit")
    val ex = intercept[Exception] { t.resolveTag("audit") }
    assert(ex.getMessage.contains("unknown tag"))
    // tagging an unknown version fails loudly
    assert(intercept[Exception] { t.tag("x", Some(999)) }
      .getMessage.contains("expired or unknown"))
  }

  test("expireSnapshots never drops a tagged version; dropTag makes it expirable") {
    val t = newTable()
    t.append(rows(0, 10), "c0", 0L)   // v1
    val v1 = t.currentVersion.get
    t.tag("keep", Some(v1))
    t.append(rows(10, 20), "c1", 1L)  // v2
    t.append(rows(20, 30), "c2", 2L)  // v3
    val expired = t.expireSnapshots(keepLast = 1)
    // v0 (create) and v2 expire; tagged v1 survives
    assert(!expired.contains(v1))
    assert(t.read(Some(v1)).count() == 10, "tagged version must stay readable")
    // vacuum respects it too (retained snapshots reference its files)
    t.vacuum()
    assert(t.read(Some(v1)).count() == 10)
    t.dropTag("keep")
    assert(t.expireSnapshots(keepLast = 1).contains(v1))
  }

  test("tags view: the refs as SQL") {
    val t = newTable()
    t.append(rows(0, 10), "c0", 0L)
    t.tag("a")
    t.append(rows(10, 20), "c1", 1L)
    t.tag("b")
    val view = s"tags_v_${System.nanoTime()}"
    spark.sql(s"CREATE TEMPORARY VIEW $view USING `graft-lake` " +
      s"OPTIONS (path '${t.root}', tags 'true')")
    val got = spark.table(view).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == Seq("a" -> 1, "b" -> 2))
    assert(spark.table(view).filter(col("committed_at").isNull).count() == 0)
  }

  test("files view: the manifest inventory as SQL, stats auditable") {
    val t = newTable()
    t.append(rows(0, 1000), "c0", 0L)
    t.mergeDeltas(rows(1000, 1010).withColumn("operation", lit("c"))
      .withColumn("offset", col("id")), "c1", 1L)
    val view = s"files_v_${System.nanoTime()}"
    spark.sql(s"CREATE TEMPORARY VIEW $view USING `graft-lake` " +
      s"OPTIONS (path '${t.root}', files 'true')")
    val f = spark.table(view)
    assert(f.schema.fieldNames.toSeq == Seq("path", "bucket", "seq", "delta",
      "patch", "records", "stats", "null_counts"))
    val snap = t.currentSnapshot.get
    assert(f.count() == snap.files.size)
    assert(f.filter(col("delta")).count() ==
      snap.files.count(_.delta).toLong)
    // records in the inventory sum to the physical row count (base+delta)
    assert(f.agg(sum("records")).head.getLong(0) == 1010)
    // stats JSON present for the declared stats column
    val withStats = f.filter(col("stats").contains("\"v\"")).count()
    assert(withStats > 0, "footer-harvested min/max must surface in the view")
  }

  test("a retag retracted by a concurrent expiry restores the tag it replaced") {
    val t = newTable()
    t.append(rows(0, 10), "c0", 0L)   // v1
    val v1 = t.currentVersion.get
    t.tag("audit", Some(v1))
    t.append(rows(10, 20), "c1", 1L)  // v2
    val v2 = t.currentVersion.get
    t.append(rows(20, 30), "c2", 2L)  // v3
    // expiry runs inside the retag's publish window: v2 is not pinned
    // yet (the old tag still pins v1), so it goes, and the retag must be
    // retracted
    val t2 = new LakeTable(spark, t.root)
    t.preCommitHook = () => { t2.expireSnapshots(keepLast = 1); () }
    val ex = intercept[Exception] { t.tag("audit", Some(v2)) }
    assert(ex.getMessage.contains("expired by concurrent maintenance"))
    assert(t.tags() == Map("audit" -> v1), "the prior ref must survive the retraction")
    assert(t.read(Some(v1)).count() == 10)
  }
}

