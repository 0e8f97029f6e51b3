package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** SQL DML (DELETE / UPDATE / MERGE INTO) over graft-lake views via
  * graft.sql.GraftLakeExtensions — the parser's own DML plans rewritten
  * onto LakeTable.deleteWhere / updateWhere / merge. */
class LakeDmlSqlSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", LongType, nullable = true),
    StructField("v", LongType, nullable = true)))

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(
      col("id"), (col("id") % 10).as("grp"), (col("id") * 7).as("v"))

  private def newTable(): (LakeTable, String) = {
    val t = new LakeTable(spark, Scratch.dir("lake-dml"))
    t.create(schema, Seq("id"), nBuckets = 4, statsColumns = Seq("id", "v"))
    t.append(rows(0, 1000), "c0", 0L)
    val view = s"dml_v_${System.nanoTime()}"
    spark.sql(s"CREATE TEMPORARY VIEW $view USING `graft-lake` " +
      s"OPTIONS (path '${t.root}')")
    (t, view)
  }

  test("DELETE FROM lake view: predicate CoW delete, affected count, no-op prune") {
    val (t, v) = newTable()
    val out = spark.sql(s"DELETE FROM $v WHERE grp = 3 OR id >= 990")
    assert(out.columns.toSeq == Seq("num_affected_rows"))
    assert(out.head.getLong(0) == 100 + 10 - 1) // grp 3: 100 rows; id 990..999 adds 9 more
    assert(t.read().count() == 1000 - 109)
    assert(t.read().filter(col("grp") === 3).count() == 0)
    // stats-proven-empty predicate: clean no-op, no commit
    val ver = t.currentVersion.get
    assert(spark.sql(s"DELETE FROM $v WHERE id > 5000000").head.getLong(0) == 0L)
    assert(t.currentVersion.get == ver)
  }

  test("UPDATE lake view SET: expressions over pre-update row, key assignment rejected") {
    val (t, v) = newTable()
    val n = spark.sql(s"UPDATE $v SET v = v * 2 + grp WHERE grp IN (1, 2)")
      .head.getLong(0)
    assert(n == 200)
    val got = t.read().filter(col("id") === 11L).head
    assert(got.getLong(2) == 11 * 7 * 2 + 1)
    assert(t.read().filter(col("id") === 10L).head.getLong(2) == 70)
    val ex = intercept[Exception] { spark.sql(s"UPDATE $v SET id = 0 WHERE grp = 5") }
    assert(ex.getMessage.contains("key columns"))
  }

  test("MERGE INTO lake view: upsert via UPDATE SET * + INSERT *") {
    val (t, v) = newTable()
    // 900..1100: 100 updates (doubled v), 100 inserts
    rows(900, 1100).withColumn("v", col("v") * 2)
      .createOrReplaceTempView("dml_src_upsert")
    spark.sql(s"""MERGE INTO $v t USING dml_src_upsert s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(t.read().count() == 1100)
    assert(t.read().filter(col("id") === 950L).head.getLong(2) == 950 * 7 * 2)
    assert(t.read().filter(col("id") === 1050L).head.getLong(2) == 1050 * 7 * 2)
    assert(t.read().filter(col("id") === 100L).head.getLong(2) == 700)
  }

  test("MERGE INTO lake view: WHEN MATCHED THEN DELETE; unsupported shapes rejected") {
    val (t, v) = newTable()
    spark.range(500, 2000).select(col("id"), lit(0L).as("grp"), lit(0L).as("v"))
      .createOrReplaceTempView("dml_src_del")
    spark.sql(s"""MERGE INTO $v t USING dml_src_del s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    assert(t.read().count() == 500) // 500..999 deleted; 1000..1999 absent = no-op
    assert(t.read().agg(max("id")).head.getLong(0) == 499L)

    // source with duplicate keys violates the SQL MERGE contract
    spark.range(0, 10).select((col("id") % 5).as("id"),
      lit(0L).as("grp"), lit(0L).as("v")).createOrReplaceTempView("dml_src_dup")
    val dup = intercept[Exception] {
      spark.sql(s"""MERGE INTO $v t USING dml_src_dup s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(dup.getMessage.contains("duplicate key"))

    // conditional WHEN clause: rejected, not mis-translated
    val cond = intercept[Exception] {
      spark.sql(s"""MERGE INTO $v t USING dml_src_del s ON t.id = s.id
        WHEN MATCHED AND s.v > 0 THEN UPDATE SET *""")
    }
    assert(cond.getMessage.contains("graft-lake MERGE"))

    // ON condition must equate exactly the key columns
    val badOn = intercept[Exception] {
      spark.sql(s"""MERGE INTO $v t USING dml_src_del s ON t.grp = s.grp
        WHEN MATCHED THEN DELETE""")
    }
    assert(badOn.getMessage.contains("key"))
  }

  test("MERGE near-miss shapes fail loudly instead of mis-translating") {
    val (t, v) = newTable()
    val pre = t.currentVersion.get
    rows(900, 1100).withColumn("v", col("v") * 2)
      .createOrReplaceTempView("dml_src_shapes")

    // partial SET that IS name-aligned (SET v = s.v) must NOT classify
    // as SET * — the reduced-delta merge would clobber every unassigned
    // column with the source's value
    val partialSet = intercept[Exception] {
      spark.sql(s"""MERGE INTO $v t USING dml_src_shapes s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(partialSet.getMessage.contains("partial SET"))

    // partial INSERT column list: same class of near-miss
    val partialIns = intercept[Exception] {
      spark.sql(s"""MERGE INTO $v t USING dml_src_shapes s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    }
    assert(partialIns.getMessage.contains("INSERT"))

    // update-only MERGE: the reduced-delta upsert would insert unmatched
    // source keys where standard MERGE leaves them untouched
    val updOnly = intercept[Exception] {
      spark.sql(s"""MERGE INTO $v t USING dml_src_shapes s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(updOnly.getMessage.contains("update-only"))

    // none of the rejected statements committed anything
    assert(t.currentVersion.get == pre)
    assert(t.read().count() == 1000)
  }

  test("MERGE INTO full-sync shape: NOT MATCHED BY SOURCE DELETE = atomic overwrite") {
    val (t, v) = newTable()
    val preVer = t.currentVersion.get
    rows(500, 1200).withColumn("v", col("v") + 1)
      .createOrReplaceTempView("dml_src_sync")
    spark.sql(s"""MERGE INTO $v t USING dml_src_sync s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    // final state IS the source, in ONE commit; history stays travelable
    assert(t.currentVersion.get == preVer + 1)
    assert(t.read().count() == 700)
    assert(t.read().agg(min("id"), max("id")).head.toSeq == Seq(500L, 1199L))
    assert(t.read().filter(col("id") === 600L).head.getLong(2) == 600 * 7 + 1)
    assert(t.read(Some(preVer)).count() == 1000)
    // a source holding a key twice: rejected, nothing commits
    spark.range(0, 10).select((col("id") % 5).as("id"), lit(0L).as("grp"), lit(0L).as("v"))
      .createOrReplaceTempView("dml_src_sync_dup")
    val dup = intercept[Exception] {
      spark.sql(s"""MERGE INTO $v t USING dml_src_sync_dup s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    }
    assert(dup.getMessage.contains("graft-lake MERGE: source has duplicate key"), dup.getMessage)
    assert(t.currentVersion.get == preVer + 1)
    // conditional NOT MATCHED BY SOURCE: rejected
    val ex = intercept[Exception] {
      spark.sql(s"""MERGE INTO $v t USING dml_src_sync s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND t.grp = 1 THEN DELETE""")
    }
    assert(ex.getMessage.contains("full-sync"))
  }

  test("INSERT INTO appends through the lake commit path, never raw parquet") {
    val (t, v) = newTable()
    val preFiles = t.currentSnapshot.get.files.size
    spark.sql(s"INSERT INTO $v VALUES (5000, 0, 35000), (5001, 1, 35007)")
    assert(t.read().count() == 1002)
    assert(t.read().filter(col("id") === 5000L).head.getLong(2) == 35000)
    // committed as a snapshot (manifest grew), not stray files in root
    assert(t.currentSnapshot.get.files.size > preFiles)
    spark.range(6000, 6010).select(col("id").as("a"), (col("id") % 10).as("b"),
      (col("id") * 7).as("c")).createOrReplaceTempView("dml_ins_src")
    spark.sql(s"INSERT INTO $v SELECT a, b, c FROM dml_ins_src") // positional
    assert(t.read().count() == 1012)
    // INSERT OVERWRITE = atomic full refresh
    spark.sql(s"INSERT OVERWRITE $v SELECT a, b, c FROM dml_ins_src")
    assert(t.read().count() == 10)
    // arity mismatch rejected (no silent defaulting)
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $v SELECT a, b FROM dml_ins_src")
    }
    assert(ex.getMessage.contains("columns"))
    // BY NAME: column order in the query is irrelevant (fresh key —
    // appending an existing key would violate the append contract)
    spark.sql(s"INSERT INTO $v BY NAME SELECT 49000L AS v, 7000L AS id, 3L AS grp")
    assert(t.read().count() == 11)
    val byName = t.read().filter(col("id") === 7000L).head
    assert(byName.getLong(1) == 3L && byName.getLong(2) == 49000L)
  }

  test("SQL writes reject a store assignment ANSI would refuse, even with ANSI off") {
    val (t, v) = newTable()
    val ver = t.currentVersion.get
    spark.range(5, 6).select(col("id"), lit(0L).as("grp"), lit("x").as("v"))
      .createOrReplaceTempView("dml_src_str")
    def rejected(sql: String, expect: String): Unit = {
      val msg = intercept[Exception](spark.sql(sql)).getMessage
      assert(msg.contains(expect), msg)
    }
    // with ANSI off, a plain cast would write these as null / wrapped
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val str = "of type string into 'v' of type bigint"
      rejected(s"INSERT INTO $v VALUES (9000, 0, 'x')", str)
      rejected(s"INSERT INTO $v BY NAME SELECT 'x' AS v, 9000L AS id, 0L AS grp", str)
      rejected(s"""MERGE INTO $v t USING dml_src_str s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""", str)
      // a numeric narrowing passes the type check; its overflow raises
      rejected(s"INSERT INTO $v VALUES (9000, 0, CAST(1e30 AS DECIMAL(38, 0)))", "OVERFLOW")
      assert(t.currentVersion.get == ver, "a rejected write commits nothing")
      // int → bigint is a lossless store and still lands
      spark.sql(s"INSERT INTO $v VALUES (9001, 1, 5)")
      assert(t.read().filter(col("id") === 9001L).head.getLong(2) == 5L)
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("DML works against the real-time (merge-on-read) view too") {
    val t = new LakeTable(spark, Scratch.dir("lake-dml-mor"))
    t.create(schema, Seq("id"), nBuckets = 4)
    t.append(rows(0, 200), "c0", 0L)
    // outstanding MoR deltas: the SQL relation falls back to LakeMorRelation
    t.mergeDeltas(rows(200, 300).withColumn("operation", lit("c"))
      .withColumn("offset", col("id")), "c1", 1L)
    val view = s"dml_mor_${System.nanoTime()}"
    spark.sql(s"CREATE TEMPORARY VIEW $view USING `graft-lake` " +
      s"OPTIONS (path '${t.root}')")
    assert(spark.sql(s"DELETE FROM $view WHERE id >= 250").head.getLong(0) == 50)
    assert(t.read().count() == 250)
  }
}
