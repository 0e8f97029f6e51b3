package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, StatsPruner}
import org.apache.spark.sql.graftshim.toCatalyst

/** Manifest-stats data skipping: per-file min/max harvested from parquet
  * footers at commit time; read `where` prunes files (final-row buckets) or
  * whole buckets (merge-on-read buckets, union-of-ranges) that cannot
  * match the predicate. The realistic CDC shape — each commit carries a
  * narrow event-time/offset window — is what makes this powerful: a
  * time-bounded query at 10^10 rows touches only the commits whose
  * window overlaps. */
class LakeDataSkipSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("ts", LongType, nullable = true)))

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"),
      concat(lit("n-"), lpad(col("id").cast("string"), 6, "0")).as("name"),
      col("id").as("ts"))

  private def newTable(statsCols: Seq[String]): LakeTable = {
    val tmp = java.nio.file.Files.createTempDirectory("lake-skip").toString
    val t = new LakeTable(spark, tmp)
    t.create(schema, Seq("id"), nBuckets = 4, statsColumns = statsCols)
    t
  }

  private def kept(t: LakeTable, pred: org.apache.spark.sql.Column): (Int, Int) = {
    val snap = t.currentSnapshot.get
    val (a, b) = t.pruneForPredicate(snap, snap.files, Some(toCatalyst(pred)))
    (a.size + b.size, snap.files.size)
  }

  test("footer stats record true per-file min/max (long + string)") {
    val t = newTable(Seq("ts", "name"))
    t.append(rows(0, 100), "a", 0L)
    val files = t.currentSnapshot.get.files
    assert(files.nonEmpty)
    files.foreach { f =>
      val df = spark.read.schema(schema).parquet(s"${t.root}/${f.path}")
      val r = df.agg(min("ts"), max("ts"), min("name"), max("name")).head()
      assert(f.stats("ts") == ((r.getLong(0), r.getLong(1))))
      assert(f.stats("name") == ((r.getString(2), r.getString(3))))
    }
  }

  test("time-windowed commits: a range predicate prunes old commits' files") {
    val t = newTable(Seq("ts", "name"))
    t.append(rows(0, 100), "a", 0L)
    t.append(rows(100, 200), "a", 1L)
    t.append(rows(200, 300), "a", 2L)
    val total = t.currentSnapshot.get.files.size
    val pred = col("ts") >= 250L
    val (k, tot) = kept(t, pred)
    assert(tot == total)
    assert(k <= total / 3) // only the last commit's files survive
    // parity with the unpruned read
    assert(t.read(where = Some(pred)).collect().toSet ==
      t.read().filter(pred).collect().toSet)
    // string predicate prunes too (names are zero-padded → ordered)
    val (ks, _) = kept(t, col("name") >= "n-000250")
    assert(ks <= total / 3)
    // equality inside the first window keeps only that window
    val (ke, _) = kept(t, col("ts") === 50L)
    assert(ke <= total / 3)
  }

  test("unsupported predicates and unknown stats never prune; results match") {
    val t = newTable(Seq("ts"))
    t.append(rows(0, 100), "a", 0L)
    val opaque = expr("ts % 7 = 0")
    val (k, tot) = kept(t, opaque)
    assert(k == tot)
    assert(t.read(where = Some(opaque)).collect().toSet ==
      t.read().filter(opaque).collect().toSet)
    // stats column never configured → unknown → kept
    val t2 = newTable(Nil)
    t2.append(rows(0, 100), "a", 0L)
    val (k2, tot2) = kept(t2, col("ts") > 1000L)
    assert(k2 == tot2 && t2.read(where = Some(col("ts") > 1000L)).count() == 0)
  }

  test("merge-on-read buckets prune at BUCKET granularity (union of ranges)") {
    val t = newTable(Seq("ts"))
    t.append(rows(0, 100), "a", 0L)
    // delta commit with a later window
    val deltas = rows(100, 150).withColumn("operation", lit("u"))
      .withColumn("offset", col("id"))
    t.mergeDeltas(deltas, "mor", 1L)
    val snap = t.currentSnapshot.get
    assert(snap.files.exists(_.delta))
    // predicate inside the delta window: bucket union [0,149] may match →
    // ALL files of delta buckets kept (base rows are needed to
    // reconstruct), nothing dropped incorrectly
    val inWindow = col("ts") >= 120L
    assert(t.read(where = Some(inWindow)).collect().toSet ==
      t.read().filter(inWindow).collect().toSet)
    // predicate beyond every window: whole buckets pruned
    val (k, tot) = kept(t, col("ts") >= 1000L)
    assert(k == 0 && tot == snap.files.size)
    assert(t.read(where = Some(col("ts") >= 1000L)).count() == 0)
  }

  test("setStatsColumns mid-life: old files unknown (kept), new files prune") {
    val t = newTable(Nil)
    t.append(rows(0, 100), "a", 0L)
    t.setStatsColumns(Seq("ts"))
    t.append(rows(100, 200), "a", 1L)
    val snap = t.currentSnapshot.get
    val old = snap.files.filter(_.seq == 1)
    val fresh = snap.files.filter(_.seq > 2)
    assert(old.forall(_.stats.isEmpty) && fresh.forall(_.stats.nonEmpty))
    val pred = col("ts") >= 150L
    val (k, tot) = kept(t, pred)
    // old files kept (unknown), some new files pruned is not guaranteed
    // per-file — but none of the OLD files may be dropped
    assert(k >= old.size && k < tot + 1)
    assert(t.read(where = Some(pred)).collect().toSet ==
      t.read().filter(pred).collect().toSet)
  }

  test("readWhere with column pruning matches read().filter().select() on both bucket kinds") {
    val t = newTable(Seq("ts"))
    t.append(rows(0, 100), "a", 0L)
    val deltas = rows(50, 150).withColumn("operation", lit("u"))
      .withColumn("offset", col("id"))
    t.mergeDeltas(deltas, "mor", 1L) // all buckets now MoR
    val pred = col("ts") >= 40L && col("ts") < 130L
    val expect = t.read().filter(pred).select("id", "name").collect().toSet
    val got = t.read(columns = Some(Seq("id", "name")), where = Some(pred)).collect().toSet
    assert(got == expect)
    // predicate column (ts) not in the projection: still filters correctly
    val t2 = newTable(Seq("ts"))
    t2.append(rows(0, 100), "a", 0L) // pure base buckets
    val got2 = t2.read(columns = Some(Seq("name")), where = Some(col("ts") >= 90L)).collect()
      .map(_.getString(0)).toSet
    assert(got2 == (90L until 100L).map(i => f"n-$i%06d").toSet)
    intercept[IllegalArgumentException] {
      t2.read(columns = Some(Seq("nope")), where = Some(col("ts") >= 0L))
    }
  }

  test("readKeys: bucket-pruned point lookup over base and MoR buckets") {
    val t = newTable(Nil)
    t.append(rows(0, 100), "a", 0L)
    val got = t.readKeys(Seq(Seq(5L), Seq(42L), Seq(999L)))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(5L, 42L)) // absent keys just don't match
    // overlay an update so the lookup crosses the MoR reconstruction
    val deltas = rows(42, 43).withColumn("name", lit("updated"))
      .withColumn("operation", lit("u")).withColumn("offset", col("id"))
    t.mergeDeltas(deltas, "mor", 1L)
    assert(t.readKeys(Seq(Seq(42L))).select("name").head.getString(0) == "updated")
    assert(t.readKeys(Seq(Seq(5L))).select("name").head.getString(0) == "n-000005")
    intercept[IllegalArgumentException] { t.readKeys(Nil) }
    intercept[IllegalArgumentException] { t.readKeys(Seq(Seq(1L, 2L))) }
  }

  /** A 8-bucket table at two versions: buckets 0-2 carry LWW deltas
    * (updates moving `ts` past 1000, deletes), bucket 3 a patch delta
    * (only `name` set) at the second version, buckets 4-7 stay delta-free. */
  private def mixedTable(): (LakeTable, Seq[Int]) = {
    val tmp = java.nio.file.Files.createTempDirectory("lake-one-path").toString
    val t = new LakeTable(spark, tmp)
    t.create(schema, Seq("id"), nBuckets = 8, statsColumns = Seq("ts"))
    t.append(rows(0, 400), "a", 0L)
    val bucketed = rows(0, 400).withColumn("b", pmod(hash(col("id")), lit(8)))
    t.mergeDeltas(bucketed.filter(col("b") < 3 && col("id") % 3 === 0)
      .select(col("id"), concat(lit("u-"), col("name")).as("name"), (col("ts") + 1000L).as("ts"),
        when(col("id") % 2 === 0, lit("d")).otherwise(lit("u")).as("operation"),
        col("id").as("offset")), "m", 1L)
    val vLww = t.currentVersion.get
    t.mergeDeltas(bucketed.filter(col("b") === 3 && col("id") % 2 === 0)
      .select(col("id"), concat(lit("p-"), col("name")).as("name"), lit(null).cast("long").as("ts"),
        lit("u").as("operation"), col("id").as("offset"), array(lit("name")).as("_patch_mask")),
      "m", 2L)
    val files = t.currentSnapshot.get.files
    assert(files.exists(_.patch) && files.filterNot(_.delta).map(_.bucket).toSet.size > 1)
    (t, Seq(vLww, t.currentVersion.get))
  }

  test("one read path: read(columns, where), readKeys and the SQL views equal read() filtered") {
    val (t, versions) = mixedTable()
    def same(got: DataFrame, want: DataFrame, what: String): Unit =
      assert(got.collect().toSet == want.collect().toSet, what)
    val preds = Seq("ts >= 150", "ts < 50 OR ts >= 1100", "name LIKE 'u-%'", "ts IS NULL")
    val projections = Seq(None, Some(Seq("name")), Some(Seq("ts", "id")))
    versions.foreach { v =>
      val all = t.read(Some(v))
      for (p <- preds; cols <- projections) {
        val want = all.filter(expr(p)).select(cols.getOrElse(all.columns.toSeq).map(col): _*)
        same(t.read(Some(v), cols, Some(expr(p))), want, s"v$v read($cols, $p)")
        for (view <- Seq("auto", "realtime")) {
          val rel = spark.read.format("graft-lake").option("versionAsOf", v.toLong)
            .option("view", view).load(t.root)
          same(rel.where(p).select(cols.getOrElse(rel.columns.toSeq).map(col): _*), want,
            s"v$v $view view ($cols, $p)")
        }
      }
      // no predicate, columns only, in the requested order
      assert(t.read(Some(v), Some(Seq("ts", "name"))).columns.toSeq == Seq("ts", "name"))
      same(t.read(Some(v), Some(Seq("ts", "name"))), all.select("ts", "name"), s"v$v columns")
      val keys = Seq(0L, 3L, 7L, 12L, 150L, 399L, 4000L)
      same(t.readKeys(keys.map(Seq(_)), Some(v)), all.filter(col("id").isin(keys: _*)),
        s"v$v readKeys")
      // zero-column scan through the fold
      val rt = spark.read.format("graft-lake").option("versionAsOf", v.toLong)
        .option("view", "realtime").load(t.root)
      assert(rt.count() == all.count())
    }
    val e = intercept[IllegalArgumentException](t.read(columns = Some(Seq("id", "nope"))))
    assert(e.getMessage.contains("unknown columns: nope"))
  }

  test("read() of a table whose every bucket carries deltas plans one file scan and no union") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, UnionExec}
    val t = newTable(Seq("ts"))
    t.append(rows(0, 100), "a", 0L)
    t.mergeDeltas(rows(0, 100).withColumn("operation", lit("u"))
      .withColumn("offset", col("id")), "m", 1L)
    assert(t.currentSnapshot.get.files.filter(_.delta).map(_.bucket).toSet.size == 4)
    for (df <- Seq(t.read(), t.read(where = Some(col("ts") >= 50L)))) {
      val plan = df.queryExecution.sparkPlan
      assert(plan.collect { case s: FileSourceScanExec => s }.size == 1, plan.treeString)
      assert(plan.collect { case s: RDDScanExec => s }.isEmpty, plan.treeString)
      assert(plan.collect { case u: UnionExec => u }.isEmpty, plan.treeString)
      assert(df.columns.toSeq == Seq("id", "name", "ts"))
    }
  }

  test("cross-file column combination cannot be pruned by per-file logic (union semantics)") {
    // the classic unsoundness: file1 a∈[20,30] b∈[0,5]; file2 a∈[0,5]
    // b∈[20,30]; a reconstructed row may take a from file1 and b from
    // file2 — per-file evaluation would prune both, the union must not
    val pred = toCatalyst(col("a") >= 10L && col("b") >= 10L)
    val f1 = Map[String, (Any, Any)]("a" -> ((20L, 30L)), "b" -> ((0L, 5L)))
    val f2 = Map[String, (Any, Any)]("a" -> ((0L, 5L)), "b" -> ((20L, 30L)))
    assert(!StatsPruner.mayMatch(pred, f1.get(_)))
    assert(!StatsPruner.mayMatch(pred, f2.get(_)))
    val union = Map[String, (Any, Any)]("a" -> ((0L, 30L)), "b" -> ((0L, 30L)))
    assert(StatsPruner.mayMatch(pred, union.get(_)))
  }

  test("null-count stats prune IS NULL / IS NOT NULL / NOT, conservative fallback intact") {
    val t = newTable(Seq("ts", "name"))
    // commit 0: name never null; commit 1: name ALWAYS null
    t.append(rows(0, 100), "a", 0L)
    t.append(rows(100, 200).withColumn("name", lit(null).cast("string")), "a", 1L)
    val snap = t.currentSnapshot.get
    val c0 = snap.files.filter(_.seq == 1)
    val c1 = snap.files.filter(_.seq == 2)
    assert(c0.nonEmpty && c1.nonEmpty)
    // footer-harvested null counts + row counts landed in the manifest
    assert(c0.forall(f => f.nulls.get("name").contains(0L) && f.rows >= 0))
    assert(c1.filter(_.rows > 0).forall(f => f.nulls.get("name").contains(f.rows)))
    // IS NULL keeps only the all-null commit's files; IS NOT NULL the inverse
    val (kNull, tot) = kept(t, col("name").isNull)
    assert(kNull == c1.size && tot == snap.files.size)
    val (kNotNull, _) = kept(t, col("name").isNotNull)
    assert(kNotNull == c0.size)
    // results match the unpruned read on all three shapes
    for (p <- Seq(col("name").isNull, col("name").isNotNull, !(col("ts") >= 100L)))
      assert(t.read(where = Some(p)).collect().toSet == t.read().filter(p).collect().toSet)
    // NOT over a comparison prunes via the complement (ts >= 100 → ts < 100)
    val (kNot, _) = kept(t, !(col("ts") >= 100L))
    assert(kNot == c0.size)
    // != prunes an all-null file (no non-null value can differ)
    val (kNe, _) = kept(t, col("name") =!= "nope")
    assert(kNe == c0.size)
  }

  test("narrowing cast never prunes; widening cast still does (ADVICE regression)") {
    val schemaD = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("d", DoubleType, nullable = true)))
    val tmp = java.nio.file.Files.createTempDirectory("lake-cast").toString
    val t = new LakeTable(spark, tmp)
    t.create(schemaD, Seq("id"), nBuckets = 2, statsColumns = Seq("d", "id"))
    // every row's d truncates to 6 but the double range [6.2, 6.9]
    // excludes literal 6 — a cast-stripping pruner would wrongly drop it
    t.append(spark.range(0, 50).select(col("id"),
      (lit(6.2) + col("id").cast("double") / 100.0).as("d")), "a", 0L)
    val pred = col("d").cast("int") === 6
    val (k, tot) = kept(t, pred)
    assert(k == tot, "narrowing cast must be opaque (kept), not pruned")
    assert(t.read(where = Some(pred)).count() == 50)
    // a lossless widening cast (long id → double) still prunes
    val (kw, _) = kept(t, col("id").cast("double") >= 1000.0)
    assert(kw == 0)
    assert(t.read(where = Some(col("id").cast("double") >= 1000.0)).count() == 0)
  }

  test("readKeys multi-part key: declared key order differing from schema order (ADVICE regression)") {
    // schema order is (a, b); keys declared as Seq(b, a) — lookups must
    // hash the parts under the DECLARED order
    val sch = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType, nullable = false),
      StructField("payload", LongType, nullable = true)))
    val tmp = java.nio.file.Files.createTempDirectory("lake-keyorder").toString
    val t = new LakeTable(spark, tmp)
    t.create(sch, Seq("b", "a"), nBuckets = 8)
    t.append(spark.range(0, 200).select(col("id").as("a"),
      concat(lit("k-"), col("id").cast("string")).as("b"),
      (col("id") * 10).as("payload")), "a", 0L)
    // keys in DECLARED order (b, a)
    val got = t.readKeys(Seq(Seq[Any]("k-7", 7L), Seq[Any]("k-42", 42L)))
      .select("a", "payload").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((7L, 70L), (42L, 420L)))
  }

  test("driver-side bucket evaluation matches the writers' bucket column expression") {
    // parity pin for readKeys' no-job lookup: route every key through
    // BOTH the catalyst column expression and a readKeys point lookup —
    // a mismatch would return an empty result for present keys
    val t = newTable(Nil)
    t.append(rows(0, 512), "a", 0L)
    val all = (0L until 512L by 37L).map(Seq[Any](_))
    val got = t.readKeys(all).select("id").collect().map(_.getLong(0)).toSet
    assert(got == (0L until 512L by 37L).toSet)
  }

  test("TIMESTAMP statsColumns prune range predicates (INT64-micros writes)") {
    // lake writes emit TIMESTAMP_MICROS (not Spark's INT96 default,
    // which carries no usable footer min/max), so a real timestamp
    // column is a first-class skip column — no epoch-long shadow
    // column needed
    val tsSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("at", TimestampType, nullable = true)))
    val tmp = java.nio.file.Files.createTempDirectory("lake-skip-ts").toString
    val t = new LakeTable(spark, tmp)
    t.create(tsSchema, Seq("id"), nBuckets = 2, statsColumns = Seq("at"))
    def batch(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("at"))
    // time-windowed commits, like a CDC stream
    t.append(batch(0, 1000), "a", 0L)
    t.append(batch(1000, 2000), "a", 1L)
    t.append(batch(2000, 3000), "a", 2L)
    val files = t.currentSnapshot.get.files
    assert(files.forall(_.stats.contains("at")),
      "timestamp footer stats must be harvested (INT96 would have none)")
    val cut = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + 2100))
    val pred = col("at") >= lit(cut)
    val (k, total) = kept(t, pred)
    assert(k < total, s"timestamp range predicate kept $k/$total files")
    // and the answer matches the unpruned filter
    assert(t.read(where = Some(pred)).count() ==
      t.read().filter(pred).count())
    assert(t.read(where = Some(pred)).count() == 900)
  }

  test("pruner leaf coverage: IN, STARTSWITH, flipped operands, OR") {
    val stMap = Map[String, (Any, Any)](
      "x" -> ((100L, 200L)), "s" -> (("apple", "banana")))
    val st: String => Option[(Any, Any)] = stMap.get(_)
    def m(c: org.apache.spark.sql.Column) = StatsPruner.mayMatch(toCatalyst(c), st)
    assert(m(col("x").isin(150L, 999L)) && !m(col("x").isin(1L, 99L)))
    assert(m(lit(150L) < col("x")) && !m(lit(300L) < col("x")))
    assert(m(col("s").startsWith("app")) && !m(col("s").startsWith("zz")))
    assert(m(col("x") < 50L || col("x") > 150L) && !m(col("x") < 50L || col("x") > 250L))
    assert(!m(col("x") === 99L) && m(col("x") <=> 100L))
    // double literal against long stats compares exactly
    assert(m(col("x") > 150.5) && !m(col("x") > 200.5))
  }
}
