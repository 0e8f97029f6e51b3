package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** The `graft-lake` Spark data source: HadoopFsRelation over the
  * manifest-backed LakeFileIndex — snapshot isolation + StatsPruner
  * file skipping inside Spark's own scan planning, vectorized reader
  * and codegen unchanged. */
class LakeSqlSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", LongType, nullable = true)))

  private def newTable(statsCols: Seq[String] = Seq("v")): LakeTable = {
    val t = new LakeTable(spark, Scratch.dir("lake-sql"))
    t.create(schema, Seq("id"), nBuckets = 4, statsColumns = statsCols)
    t
  }

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"), (col("id") * 7).as("v"))

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: FileSourceScanExec => Seq(s)
  }.flatten

  test("format round trip equals LakeTable.read; filters push to parquet") {
    val t = newTable()
    t.append(rows(0, 5000), "c0", 0L)
    val df = spark.read.format("graft-lake").load(t.root)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(df.count() == 5000)
    assert(df.agg(sum("v")).head.getLong(0) == t.read().agg(sum("v")).head.getLong(0))
    val q = df.filter(col("v") === 21L)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // the filter reached the parquet scan
    q.collect()
    val s = scans(q.queryExecution.executedPlan)
    assert(s.nonEmpty)
    assert(s.head.metadata("PushedFilters").contains("v"), s.head.metadata("PushedFilters"))
  }

  test("listFiles prunes via manifest stats for range predicates") {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val t = newTable()
      t.append(spark.range(0, 20000).select(col("id"),
        ((col("id") * 2654435761L) % 10000).as("v")), "c0", 0L)
      t.cluster(Seq("v"))
      val total = t.currentSnapshot.get.files.size
      val q = spark.read.format("graft-lake").load(t.root)
        .filter(col("v") >= 9000 && col("v") < 9500)
      q.collect()
      val s = scans(q.queryExecution.executedPlan)
      val numFiles = s.map(_.metrics("numFiles").value).sum
      assert(numFiles * 2 <= total,
        s"scan planned $numFiles of $total files; manifest pruning inactive")
      // and the answer is right
      assert(q.count() ==
        t.read().filter(col("v") >= 9000 && col("v") < 9500).count())
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  test("versionAsOf time travel") {
    val t = newTable()
    t.append(rows(0, 100), "c0", 0L)
    val v1 = t.currentVersion.get
    t.merge(rows(100, 150).withColumn("operation", lit("c"))
      .withColumn("offset", col("id")), "c1", 1L)
    assert(spark.read.format("graft-lake").load(t.root).count() == 150)
    assert(spark.read.format("graft-lake")
      .option("versionAsOf", v1.toString).load(t.root).count() == 100)
  }

  test("SQL: CREATE TEMPORARY VIEW USING graft-lake") {
    val t = newTable()
    t.append(rows(0, 300), "c0", 0L)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW lake_sql_t
      USING `graft-lake` OPTIONS (path '${t.root}')""")
    val r = spark.sql(
      "SELECT count(*) AS n, sum(v) AS s FROM lake_sql_t WHERE id < 10").head
    assert(r.getLong(0) == 10)
    assert(r.getLong(1) == (0 until 10).map(_ * 7).sum)
  }

  test("merge-on-read deltas: real-time view by default, readOptimized rejects") {
    val t = newTable()
    t.append(rows(0, 100), "c0", 0L)
    t.mergeDeltas(rows(0, 5).select(col("id"), (col("id") * 100).as("v"))
      .withColumn("operation", lit("u"))
      .withColumn("offset", col("id")), "c1", 1L)
    // default (auto): the relation folds the deltas — real-time view
    val df = spark.read.format("graft-lake").load(t.root)
    assert(df.count() == 100)
    assert(df.filter(col("id") === 3L).head.getLong(1) == 300L,
      "real-time view must serve the folded (post-delta) image")
    // filter + projection push below the fold (correctness check; the
    // pruning itself is LakeDataSkipSpec territory)
    assert(df.filter(col("id") < 5).select("v").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 100L, 200L, 300L, 400L))
    // zero-column scan (count) through the fold; only the folded images
    // (id 1-4 -> v=100,200,300,400) are positive multiples of 100
    assert(df.filter(col("v") % 100 === 0 && col("v") > 0).count() == 4)
    // SQL over the real-time view
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW lake_sql_mor
      USING `graft-lake` OPTIONS (path '${t.root}')""")
    assert(spark.sql("SELECT sum(v) AS s FROM lake_sql_mor WHERE id < 5").head.getLong(0)
      == 1000L)
    // view=readOptimized restores the strict rejection
    val e = intercept[Exception] {
      spark.read.format("graft-lake")
        .option("view", "readOptimized").load(t.root).count()
    }
    assert(e.getMessage.contains("compact") ||
      Option(e.getCause).exists(_.getMessage.contains("compact")))
    // after compaction the default is the vectorized file relation again
    t.compact()
    val folded = spark.read.format("graft-lake").load(t.root)
    assert(folded.count() == 100)
    folded.collect()
    assert(scans(folded.queryExecution.executedPlan).nonEmpty,
      "compacted table must plan as a parquet file scan")
    // ...and view=realtime still forces the fold path (same answer)
    val rt = spark.read.format("graft-lake").option("view", "realtime").load(t.root)
    assert(rt.agg(sum("v")).head.getLong(0) == folded.agg(sum("v")).head.getLong(0))
    assert(scans(rt.queryExecution.executedPlan).isEmpty)
  }

  test("schema evolution: old files read through the new schema") {
    val t = newTable(statsCols = Nil)
    t.append(rows(0, 50), "c0", 0L)
    t.evolveSchema(StructType(schema.fields :+
      StructField("extra", StringType, nullable = true)))
    t.merge(rows(50, 60).withColumn("extra", lit("x"))
      .withColumn("operation", lit("c")).withColumn("offset", col("id")),
      "c1", 1L)
    val df = spark.read.format("graft-lake").load(t.root)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    assert(df.filter(col("extra").isNull).count() == 50)
    assert(df.filter(col("extra") === "x").count() == 10)
  }

  test("readChangeFeed: the interval diff as a batch SQL relation") {
    val t = newTable(statsCols = Nil)
    t.append(rows(0, 100), "c0", 0L)
    val v1 = t.currentVersion.get
    // commit 2: update ids 10..14, delete id 20 (reduced delta batch)
    val deltas = spark.range(10, 15)
      .select(col("id"), (col("id") * 100).as("v"),
        lit("u").as("operation"), col("id").as("offset"))
      .unionByName(spark.range(20, 21)
        .select(col("id"), lit(null).cast("long").as("v"),
          lit("d").as("operation"), col("id").as("offset")))
    t.mergeDeltas(deltas, "cp", 0L)
    val v2 = t.currentVersion.get

    // relation parity with the Scala API
    val sqlFeed = spark.read.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("startingVersion", v1).option("endingVersion", v2)
      .load(t.root)
    assert(sqlFeed.schema.fieldNames.toSeq == Seq("id", "v", "_change_type"))
    assert(sqlFeed.collect().toSet == t.changes(v1, Some(v2)).collect().toSet)

    // pure-SQL consumption; omitted endingVersion pins the current head
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ch USING `graft-lake`
      OPTIONS (path '${t.root}', readChangeFeed 'true', startingVersion '$v1')""")
    val got = spark.sql(
      "SELECT _change_type, count(*) AS n FROM ch GROUP BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("update" -> 5L, "delete" -> 1L))

    // startingVersion is mandatory
    val ex = intercept[Exception] {
      spark.read.format("graft-lake")
        .option("readChangeFeed", "true").load(t.root)
    }
    assert(ex.getMessage.contains("startingVersion"))
  }

  test("batch writer: create-on-first-write, append, overwrite, save modes") {
    val root = Scratch.dir("lake-sql-write")
    // first write creates the table from the frame schema ('keys' required)
    val noKeys = intercept[Exception] {
      rows(0, 10).write.format("graft-lake").save(root)
    }
    assert(noKeys.getMessage.contains("keys"))
    rows(0, 100).write.format("graft-lake")
      .option("keys", "id").option("nBuckets", "4")
      .option("statsColumns", "v").save(root)
    val t = new LakeTable(spark, root)
    assert(t.read().count() == 100)
    assert(t.currentSnapshot.get.statsColumns == Seq("v"))

    // save() default mode is ErrorIfExists once the table exists
    val exists = intercept[Exception] {
      rows(100, 110).write.format("graft-lake").save(root)
    }
    assert(exists.getMessage.contains("already exists"))
    // Ignore: no-op on an existing table
    rows(100, 110).write.format("graft-lake").mode("ignore").save(root)
    assert(t.read().count() == 100)

    // append: plain Spark semantics — two appends append twice
    rows(100, 150).write.format("graft-lake").mode("append").save(root)
    rows(150, 160).write.format("graft-lake").mode("append").save(root)
    assert(t.read().count() == 160)
    val preOverwrite = t.currentVersion.get

    // overwrite: atomic full refresh, one commit, prior version travelable
    rows(500, 520).write.format("graft-lake").mode("overwrite").save(root)
    assert(t.currentVersion.get == preOverwrite + 1)
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq ==
      (500L until 520L).toSeq)
    assert(t.read(Some(preOverwrite)).count() == 160)

    // changes() across the overwrite: full-state diff — every pre-image
    // key reports delete, every new key insert (no delta-key fast path)
    val feed = t.changes(preOverwrite).groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("delete" -> 160L, "insert" -> 20L))

    // explicit (checkpointId, batchId) opts into idempotent replay
    rows(520, 530).write.format("graft-lake").mode("append")
      .option("checkpointId", "cp-w").option("batchId", "7").save(root)
    val v = t.currentVersion.get
    rows(520, 530).write.format("graft-lake").mode("append")
      .option("checkpointId", "cp-w").option("batchId", "7").save(root)
    assert(t.currentVersion.get == v, "replayed batch must be a no-op")
    assert(t.read().count() == 30)
  }

  test("batch writer aligns by name to the table schema; mismatches fail loudly") {
    val root = Scratch.dir("lake-sql-write-align")
    rows(0, 10).write.format("graft-lake")
      .option("keys", "id").option("nBuckets", "2").save(root)
    val t = new LakeTable(spark, root)
    // reordered columns align by NAME (positional write would swap them)
    spark.range(10, 20).select((col("id") * 7).as("v"), col("id"))
      .write.format("graft-lake").mode("append").save(root)
    assert(t.read().filter(col("id") === 15L).head.getLong(1) == 105L)
    // renamed column: loud failure, not parquet inconsistent with the snapshot
    val renamed = intercept[Exception] {
      spark.range(20, 30).select(col("id"), (col("id") * 7).as("val"))
        .write.format("graft-lake").mode("append").save(root)
    }
    assert(renamed.getMessage.contains("missing table columns"))
    // missing column: loud failure too
    val missing = intercept[Exception] {
      spark.range(20, 30).select(col("id"))
        .write.format("graft-lake").mode("overwrite").save(root)
    }
    assert(missing.getMessage.contains("missing table columns"))
    assert(t.read().count() == 20) // nothing from the failed writes landed
  }

  test("batch writer up-casts losslessly; a lossy cast fails instead of writing nulls") {
    val root = Scratch.dir("lake-sql-write-cast")
    rows(0, 10).write.format("graft-lake")
      .option("keys", "id").option("nBuckets", "2").save(root)
    val t = new LakeTable(spark, root)
    // int → long up-casts
    spark.range(10, 20).select(col("id"), (col("id") * 10).cast("int").as("v"))
      .write.format("graft-lake").mode("append").save(root)
    assert(t.read().filter(col("id") === 15L).head.getLong(1) == 150L)
    // string → long would read "x" as null with ANSI off: rejected
    val lossy = intercept[Exception] {
      spark.range(20, 30).select(col("id"), lit("x").as("v"))
        .write.format("graft-lake").mode("append").save(root)
    }
    assert(lossy.getMessage.contains("v (string -> bigint)"))
    assert(t.read().count() == 20)
  }

  test("history view: the commit audit log as a SQL relation") {
    val t = newTable(statsCols = Nil)
    t.append(rows(0, 50), "c0", 0L)
    t.mergeDeltas(spark.range(0, 5)
      .select(col("id"), (col("id") + 1000).as("v"),
        org.apache.spark.sql.functions.lit("u").as("operation"),
        col("id").as("offset")), "cp", 0L)
    t.compact()
    val h = spark.read.format("graft-lake")
      .option("history", "true").load(t.root)
    assert(h.schema.fieldNames.toSeq ==
      Seq("version", "committed_at", "operation", "details"))
    val ops = h.orderBy("version").collect()
      .map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(ops == Map(0 -> null, 1 -> "append", 2 -> "mergeDeltas", 3 -> "compact"))
    // every post-creation commit is wall-clock stamped
    assert(h.filter(col("version") > 0).collect().forall(_.getTimestamp(1) != null))
    // details JSON is SQL-extractable (per-commit lineage counts)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ch_hist USING `graft-lake`
      OPTIONS (path '${t.root}', history 'true')""")
    val events = spark.sql("""SELECT get_json_object(details, '$.events')
      FROM ch_hist WHERE operation = 'mergeDeltas'""").head.getString(0)
    assert(events == "5")
  }
}
