package graft

import scala.collection.JavaConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** Physical-layout features: per-file parquet bloom filters on declared
  * `bloomColumns` (sub-bucket row-group skipping for point lookups) and
  * `cluster()` (range layout on stats columns → file-level range
  * pruning inside buckets). */
class LakeLayoutSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", LongType, nullable = true)))

  /** ids ≡ r (mod 3) in [0, n): three such commits give every bucket
    * three sibling files with fully-OVERLAPPING id ranges, so row-group
    * min/max stats can never prune a lookup — only dictionary/bloom. */
  private def residueRows(r: Int, n: Long): DataFrame =
    spark.range(0, n).select((col("id") * 3 + r).as("id"),
      (col("id") % 97).as("v"))

  private def footerBlooms(file: String, column: String): (Boolean, Long => Boolean) = {
    val in = HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try {
      val block = r.getFooter.getBlocks.get(0)
      val cc = block.getColumns.asScala
        .find(_.getPath.toDotString == column)
        .getOrElse(sys.error(s"no column $column in $file"))
      if (cc.getBloomFilterOffset < 0) (false, _ => false)
      else {
        val bloom = r.getBloomFilterDataReader(block).readBloomFilter(cc)
        (true, (k: Long) => bloom.findHash(bloom.hash(k)))
      }
    } finally r.close()
  }

  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    scans(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
  }

  test("bloomColumns: blooms written per commit file and keys found only where present") {
    val t = new LakeTable(spark, Scratch.dir("lake-bloom"))
    t.create(schema, Seq("id"), nBuckets = 4, bloomColumns = Seq("id"))
    (0 until 3).foreach(r => t.append(residueRows(r, 2500), s"c$r", r.toLong))
    val snap = t.currentSnapshot.get
    assert(snap.bloomColumns == Seq("id"))
    val files = snap.files
    assert(files.size >= 12) // 3 commits x 4 buckets
    val blooms = files.map(f => footerBlooms(s"${t.root}/${f.path}", "id"))
    assert(blooms.forall(_._1), "every data file must carry an id bloom")
    // a key is claimed by its own file's bloom; across all files the
    // number of claims stays near 1 (false-positive rate ~1%)
    val keys = Seq(30L, 91L, 155L) // residues 0, 1, 2 -> one per commit
    keys.foreach { k =>
      val claims = blooms.count(_._2(k))
      assert(claims >= 1, s"key $k missing from every bloom")
      assert(claims <= 3, s"key $k claimed by $claims files (expected ~1)")
    }
  }

  test("readKeys pushes IN filters: row groups without the keys are skipped") {
    val t = new LakeTable(spark, Scratch.dir("lake-bloom-skip"))
    t.create(schema, Seq("id"), nBuckets = 4, bloomColumns = Seq("id"))
    (0 until 3).foreach(r => t.append(residueRows(r, 2500), s"c$r", r.toLong))
    val keys = Seq(Seq[Any](30L), Seq[Any](91L), Seq[Any](155L))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val res = t.readKeys(keys)
      assert(res.collect().map(_.getLong(0)).sorted.toSeq == Seq(30L, 91L, 155L))
      // total rows 7500 over 12 files; 3 keys touch <=3 buckets x 3
      // sibling files (~625 rows each, overlapping id ranges so min/max
      // cannot prune) — but only the <=3 row groups actually holding a
      // key may be read
      val out = scanOutputRows(t.readKeys(keys))
      assert(out <= 3 * 700, s"scan emitted $out rows; row-group skipping inactive")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("setBloomColumns: later commits carry blooms, earlier files stay readable") {
    val t = new LakeTable(spark, Scratch.dir("lake-bloom-late"))
    t.create(schema, Seq("id"), nBuckets = 2)
    t.append(residueRows(0, 1000), "c0", 0L)
    val before = t.currentSnapshot.get.files
    assert(before.forall(f => !footerBlooms(s"${t.root}/${f.path}", "id")._1))
    t.setBloomColumns(Seq("id"))
    t.merge(residueRows(1, 1000)
      .withColumn("operation", lit("c")).withColumn("offset", col("id")), "c1", 1L)
    val after = t.currentSnapshot.get
    assert(after.bloomColumns == Seq("id"))
    // merge rewrote the affected buckets -> every current file has a bloom
    assert(after.files.forall(f => footerBlooms(s"${t.root}/${f.path}", "id")._1))
    assert(t.read().count() == 2000)
  }

  test("cluster(): range layout tightens per-file stats; state and feed unchanged") {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val t = new LakeTable(spark, Scratch.dir("lake-cluster"))
      t.create(schema, Seq("id"), nBuckets = 2, statsColumns = Seq("v"))
      // v decorrelated from id: every written file spans ~the full v
      // domain, so before clustering a narrow v-range prunes nothing
      val rows = spark.range(0, 20000).select(col("id"),
        ((col("id") * 2654435761L) % 10000).as("v"))
      t.append(rows, "c0", 0L)
      val v1 = t.currentVersion.get
      val pred = col("v") >= 9000 && col("v") < 9500
      val filesBefore = t.currentSnapshot.get.files.size
      val keptBefore = t.read(where = Some(pred)).inputFiles.length
      assert(keptBefore == filesBefore, "pre-cluster: nothing should prune")
      val sortedBefore = t.read().collect().map(r => (r.getLong(0), r.getLong(1))).sorted

      t.cluster(Seq("v"))
      val v2 = t.currentVersion.get
      val filesAfter = t.currentSnapshot.get.files.size
      val keptAfter = t.read(where = Some(pred)).inputFiles.length
      assert(keptAfter * 2 <= filesAfter,
        s"post-cluster: kept $keptAfter of $filesAfter files for a 5% range")
      // logical state identical; the change feed across a cluster commit is empty
      assert(t.read().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
        .sameElements(sortedBefore))
      assert(t.changes(v1, Some(v2)).count() == 0)
      // answers match a plain filter
      assert(t.read(where = Some(pred)).count() ==
        rows.filter(pred).count())
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  test("ZValue: Morton interleave orders quadrants; null dimension sorts first") {
    import graft.functions.ZValue
    val cuts = Array(Array(0.5), Array(0.5))
    val r = spark.range(0, 1).select(
      ZValue.z(Seq(lit(0.0), lit(0.0)), cuts, 1).as("z00"),
      ZValue.z(Seq(lit(0.0), lit(0.9)), cuts, 1).as("z01"),
      ZValue.z(Seq(lit(0.9), lit(0.0)), cuts, 1).as("z10"),
      ZValue.z(Seq(lit(0.9), lit(0.9)), cuts, 1).as("z11"),
      ZValue.z(Seq(lit(null).cast("double"), lit(0.9)), cuts, 1).as("znull"))
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((0L, 1L, 2L, 3L)), "dimension 0 owns the high bit (Morton order)")
    assert(r.getLong(4) == 1L, "null dimension maps to bucket 0")
  }

  test("zorder(): Morton layout prunes predicates on EVERY clustered column") {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val t = new LakeTable(spark, Scratch.dir("lake-zorder"))
      val sch = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("x", LongType, nullable = true),
        StructField("y", LongType, nullable = true)))
      // one bucket: the files partition the PURE z-curve, so per-file
      // pruning quality is what's measured (multi-bucket tables get the
      // same per-bucket curve; bucket count is orthogonal)
      t.create(sch, Seq("id"), nBuckets = 1, statsColumns = Seq("x", "y"))
      // x and y decorrelated from id and from each other: any
      // single-column sort leaves the OTHER column spanning the full
      // domain per file
      val rows = spark.range(0, 40000).select(col("id"),
        ((col("id") * 2654435761L) % 10000).as("x"),
        ((col("id") * 2246822519L) % 10000).as("y"))
      t.append(rows, "c0", 0L)
      val predX = col("x") >= 9000L && col("x") < 9500L
      val predY = col("y") >= 4000L && col("y") < 4500L

      // lexicographic cluster on (x, y): only the LEADING column prunes
      t.cluster(Seq("x", "y"))
      val files = t.currentSnapshot.get.files.size
      val lexX = t.read(where = Some(predX)).inputFiles.length
      val lexY = t.read(where = Some(predY)).inputFiles.length
      assert(lexX * 2 <= files, s"leading column should prune ($lexX/$files)")
      assert(lexY * 2 > files,
        s"trailing column barely prunes lexicographically ($lexY/$files)")

      val v1 = t.currentVersion.get
      t.zorder(Seq("x", "y"))
      val v2 = t.currentVersion.get
      val filesZ = t.currentSnapshot.get.files.size
      val zX = t.read(where = Some(predX)).inputFiles.length
      val zY = t.read(where = Some(predY)).inputFiles.length
      assert(zX * 2 <= filesZ, s"x under z-order: kept $zX of $filesZ")
      assert(zY * 2 <= filesZ, s"y under z-order: kept $zY of $filesZ")
      // logical state unchanged: empty feed, parity answers
      assert(t.changes(v1, Some(v2)).count() == 0)
      assert(t.read(where = Some(predY)).count() == rows.filter(predY).count())
      assert(t.read(where = Some(predX)).count() == rows.filter(predX).count())
      assert(t.read().count() == 40000)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  test("zorder(reuseCuts): incremental hot-bucket re-zorder skips the sketch pass") {
    val t = new LakeTable(spark, Scratch.dir("lake-zorder-inc"))
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("x", LongType, nullable = true),
      StructField("y", LongType, nullable = true)))
    t.create(sch, Seq("id"), nBuckets = 2, statsColumns = Seq("x", "y"))
    def mkRows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      ((col("id") * 2654435761L) % 10000).as("x"),
      ((col("id") * 2246822519L) % 10000).as("y"))
    t.append(mkRows(0, 8000), "c0", 0L)

    // reuse before any full zorder: explicit error, not a silent sketch
    val noSpec = intercept[RuntimeException] {
      t.zorder(Seq("x", "y"), reuseCuts = true)
    }
    assert(noSpec.getMessage.contains("no stored zorder.spec"))

    t.zorder(Seq("x", "y"))
    val spec = t.currentSnapshot.get.properties.get("zorder.spec")
    assert(spec.exists(_.contains("\"cuts\"")), "cut points persisted as a table property")

    // fresh ingest makes bucket 0 'hot'; re-zorder ONLY that bucket
    // under the stored cuts — no quantile pass, other bucket untouched
    t.append(mkRows(8000, 12000), "c1", 0L)
    val before = t.currentSnapshot.get
    val keptB1 = before.files.filter(_.bucket == 1).map(_.path).toSet
    val snap = t.zorder(Seq("x", "y"), buckets = Some(Set(0)), reuseCuts = true)
    assert(snap.lineage.exists(_.get("cutsReused").asText() == "true"))
    assert(snap.files.filter(_.bucket == 1).map(_.path).toSet == keptB1,
      "cold bucket's files must carry over untouched")
    assert(snap.files.filter(_.bucket == 0).map(_.path).toSet
      .intersect(before.files.filter(_.bucket == 0).map(_.path).toSet).isEmpty,
      "hot bucket fully re-laid-out")
    assert(snap.properties.get("zorder.spec") == spec, "stored cuts unchanged by reuse")
    assert(t.read().count() == 12000)
    val pred = col("y") >= 4000L && col("y") < 4500L
    assert(t.read(where = Some(pred)).count() == mkRows(0, 12000).filter(pred).count())

    // a mismatched request must not silently mix curve geometries
    val bad = intercept[IllegalArgumentException] {
      t.zorder(Seq("y", "x"), reuseCuts = true)
    }
    assert(bad.getMessage.contains("stored spec"))
  }

  test("cluster() folds outstanding deltas (it is also a compaction)") {
    val t = new LakeTable(spark, Scratch.dir("lake-cluster-mor"))
    t.create(schema, Seq("id"), nBuckets = 2, statsColumns = Seq("v"))
    t.append(spark.range(0, 1000).select(col("id"), col("id").as("v")), "c0", 0L)
    t.mergeDeltas(spark.range(0, 10).select(col("id"), (col("id") + 5000).as("v"))
      .withColumn("operation", lit("u")).withColumn("offset", col("id")), "c1", 1L)
    t.cluster(Seq("v"))
    val snap = t.currentSnapshot.get
    assert(snap.files.forall(!_.delta), "cluster must fold deltas into base files")
    val m = t.read().filter(col("id") < 10).collect().map(r => r.getLong(1)).sorted
    assert(m.toSeq == (5000L until 5010L))
    assert(t.read().count() == 1000)
  }
}
