package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** The merge-on-read fold behind reads and the change feed: one scan per
  * fold with each row's commit seq looked up by file path, so generated
  * code is reused from commit to commit; file paths that need escaping
  * still map; and `changes()` and `read()` agree with a plain-Scala model
  * of the table over a history mixing every kind of commit, strict
  * copy-on-write and merge-on-read batches of PATCH deltas among them. */
class LakeFeedFoldSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("v", LongType, nullable = true)))

  private def rows(lo: Long, hi: Long, tag: String): DataFrame =
    spark.range(lo, hi).select(col("id"),
      concat(lit(s"$tag-"), col("id").cast("string")).as("name"),
      (col("id") * 10).as("v"))

  private def deltas(df: DataFrame, op: String): DataFrame =
    df.withColumn("operation", lit(op)).withColumn("offset", col("id"))

  test("feed and read reuse generated code across commits (no new compiles)") {
    val t = new LakeTable(spark, Scratch.dir("lake-codegen"))
    t.create(schema, Seq("id"), nBuckets = 4)
    t.append(rows(0, 400, "a"), "c0", 0L)
    (1 to 4).foreach { i =>
      t.mergeDeltas(deltas(rows(i * 10L, i * 10L + 20, s"d$i"), "u"), "c", i.toLong)
    }
    val head = t.currentVersion.get
    def probe(v: Int): Unit = {
      t.changes(v - 1, Some(v)).collect()
      t.read(Some(v)).collect()
    }
    probe(head - 2) // warm-up: 1 → 2 delta commits per bucket
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    probe(head) // 3 → 4 delta commits, other seqs: same plans
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "a feed or read of a later commit compiled new classes")
  }

  test("a table root holding a space and a % reads, looks up, diffs and compacts") {
    val t = new LakeTable(spark, Scratch.dir("lake fold %20 "))
    t.create(schema, Seq("id"), nBuckets = 4)
    t.append(rows(0, 100, "a"), "c0", 0L)
    val v1 = t.currentVersion.get
    t.mergeDeltas(deltas(rows(0, 10, "b"), "u")
      .unionByName(deltas(rows(90, 100, "a"), "d")), "c1", 1L)
    val v2 = t.currentVersion.get
    def state(): Map[Long, String] =
      t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = (0L until 90L).map(i => i -> s"${if (i < 10) "b" else "a"}-$i").toMap
    assert(state() == expected)
    assert(t.readKeys(Seq(Seq(5L), Seq(95L))).collect().map(_.getString(1)).toSeq == Seq("b-5"))
    val feed = t.changes(v1, Some(v2)).collect()
      .map(r => r.getAs[String]("_change_type") -> r.getLong(0)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sorted.toSeq }
    assert(feed == Map("update" -> (0L until 10L), "delete" -> (90L until 100L)))
    t.compact()
    assert(t.currentSnapshot.get.files.forall(!_.delta))
    assert(state() == expected)
  }

  test("changes() and read() match a model over a mixed seeded history") {
    val rnd = new Random(20261018L)
    val t = new LakeTable(spark, Scratch.dir("lake-feed-model"))
    t.create(schema, Seq("id"), nBuckets = 4)
    def head = t.currentVersion.get
    // The model: each live key's image (name, v, extra); extra stays null
    // until evolveSchema adds the column. `states` holds it per version.
    type Image = Seq[Any]
    var model = Map.empty[Long, Image]
    val states = mutable.Map(head -> model)
    var extra = false
    def frame(rs: Seq[Row], ops: Boolean): DataFrame = {
      val fields = schema.fields ++
        (if (extra) Seq(StructField("extra", StringType)) else Nil) ++
        (if (ops) Seq(StructField("operation", StringType), StructField("offset", LongType))
        else Nil)
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), StructType(fields))
    }
    def image(id: Long, tag: String): Image =
      Seq(s"$tag-$id", id * 10 + rnd.nextInt(5), if (extra) s"x$tag" else null)
    def row(id: Long, img: Image, tail: Any*): Row =
      Row.fromSeq((id +: img.take(if (extra) 3 else 2)) ++ tail)
    /** A reduced LWW batch: deletes and updates of live keys (`first`
      * first), inserts of new ones. */
    def lwwBatch(tag: String, n: Int, first: Seq[Long] = Nil): DataFrame = {
      val touched = (first ++ rnd.shuffle(model.keys.toSeq.filterNot(first.contains))).take(n)
      val (del, upd) = touched.splitAt(n / 4)
      val ins = Iterator.continually(rnd.nextInt(400).toLong).filterNot(model.contains)
        .take(n / 2).toSeq.distinct
      val ops = del.map(_ -> "d") ++ upd.map(_ -> "u") ++ ins.map(_ -> "c")
      val imgs = ops.map { case (id, op) => (id, op, image(id, tag)) }
      model = model -- del ++ imgs.collect { case (id, op, img) if op != "d" => id -> img }
      frame(imgs.map { case (id, op, img) => row(id, img, op, id) }, ops = true)
    }
    var batch = 0L
    def mergeDeltas(df: DataFrame, autoCompact: Int = 0): Unit = {
      batch += 1; t.mergeDeltas(df, "cp", batch, autoCompact = autoCompact)
      states(head) = model
    }
    def sorted(rs: Seq[Row]) = rs.map(_.toString).sorted
    /** Records the model at the head, then checks the feed of the last
      * `back` commits against the two model states and the head's read. */
    def check(what: String, back: Int = 1): Unit = {
      val (a, b) = (head - back, head)
      states(b) = model
      val width = t.snapshot(b).schema.length - 1
      val (o, n) = (states(a).view.mapValues(_.take(width)).toMap,
        model.view.mapValues(_.take(width)).toMap)
      val want = (o.keySet ++ n.keySet).toSeq.flatMap { k =>
        val kind = if (!o.contains(k)) "insert" else if (!n.contains(k)) "delete"
          else if (o(k) != n(k)) "update" else ""
        if (kind.isEmpty) None else Some(Row.fromSeq(k +: n.getOrElse(k, o(k)) :+ kind))
      }
      assert(want.nonEmpty, what)
      assert(sorted(t.changes(a, Some(b)).collect()) == sorted(want), s"$what: v$a -> v$b")
      assert(sorted(t.read(Some(b)).collect()) ==
        sorted(n.toSeq.map { case (k, img) => Row.fromSeq(k +: img) }), s"$what: read v$b")
    }
    /** An un-reduced append, each key of `dups` appended twice. The feed
      * reports one insert per key, the image its reconstruction folds to
      * (one of the two; the model takes it from there). `read` skips the
      * fold in buckets without deltas and returns both copies. */
    def appendDups(tag: String, keys: Seq[Long], dups: Seq[Long]): Unit = {
      val a = head
      val rows = keys.map(id => id -> image(id, tag)) ++ dups.map(id => id -> image(id, s"$tag-dup"))
      t.append(frame(rows.map { case (id, img) => row(id, img) }, ops = false), tag, 0L)
      val fed = t.changes(a, Some(head)).collect()
      assert(fed.map(_.getLong(0)).sorted.toSeq == keys.sorted, s"$tag: one feed row per key")
      assert(fed.forall(_.getAs[String]("_change_type") == "insert"), s"$tag: inserts only")
      val fedImg = fed.map(r => r.getLong(0) -> r.toSeq.slice(1, r.length - 1)).toMap
      rows.groupBy(_._1).foreach { case (id, imgs) =>
        val pick = imgs.map(_._2).find(_.take(fedImg(id).length) == fedImg(id))
        assert(pick.nonEmpty, s"$tag: key $id reported an image it was never given")
        model = model.updated(id, pick.get)
      }
      assert(t.read(Some(head)).filter(col("id").isin(dups: _*)).count() == 2 * dups.size,
        s"$tag: read keeps both copies of each duplicate key")
      states(head) = model
    }

    appendDups("s", 0L until 120L, 40L until 50L) // an un-reduced seed append
    // deletes 40-45 and updates 46-47: every copy of those keys goes
    mergeDeltas(lwwBatch("l1", 24, first = 40L until 48L))
    check("LWW deltas over the duplicate append")
    // patch deltas: only `name` is set, `v` folds from the prior image
    val patched = rnd.shuffle(model.keys.toSeq).take(8)
    mergeDeltas(frame(patched.map(id => Row(id, s"p-$id", null, "u", id)), ops = true)
      .withColumn("_patch_mask", array(lit("name"))))
    patched.foreach(id => model = model.updated(id, model(id).updated(0, s"p-$id")))
    check("patch deltas")
    mergeDeltas(lwwBatch("l3", 24), autoCompact = 3)
    assert(t.snapshot(head).lineage.exists(_.get("operation").asText() == "compact"))
    check("patch and LWW deltas, then autoCompact", back = 3)
    t.merge(lwwBatch("cow", 16), "cow", 1L); check("copy-on-write merge")
    appendDups("ap", 400L until 406L, 400L until 406L) // new keys, each twice
    t.rebucket(8) // both intervals below cross it
    t.evolveSchema(StructType(schema.fields :+ StructField("extra", StringType)))
    extra = true
    mergeDeltas(lwwBatch("l6", 20)); check("rebucket, evolveSchema, then deltas with the new column", back = 3)

    // Strict batches: PATCH updates (only `name` set) carrying their key's
    // prior image as `_first_before`, presence-only (null before) deletes
    // and creates of new keys; a violating batch raises and commits nothing.
    val beforeType = StructType(schema.fields :+ StructField("extra", StringType))
    def strictFrame(rs: Seq[Row]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rs, 1), StructType(beforeType.fields ++ Seq(
        StructField("operation", StringType), StructField("offset", LongType),
        StructField("_patch_mask", ArrayType(StringType, containsNull = false)),
        StructField("_first_op", StringType), StructField("_first_before", beforeType))))
    def strictBatch(tag: String): DataFrame = {
      val live = rnd.shuffle(model.keys.toSeq).take(12)
      val (del, upd) = live.splitAt(4)
      val ins = (1000L until 1004L).map(_ + 10 * batch)
      val rs = upd.map(id => Row(id, s"$tag-$id", null, null, "u", id, Seq("name"), "u",
          Row.fromSeq(id +: model(id)))) ++
        del.map(id => Row(id, null, null, null, "d", id, null, "d", null)) ++
        ins.map { id => val img = image(id, tag); Row.fromSeq((id +: img) ++
          Seq("c", id, null, "c", null)) }
      upd.foreach(id => model = model.updated(id, model(id).updated(0, s"$tag-$id")))
      model = model -- del ++ ins.map(id => id -> rs.find(_.getLong(0) == id).get.toSeq.slice(1, 4))
      strictFrame(rs)
    }
    def violates(expected: String)(commit: => Unit): Unit = {
      val at = head
      val ex = intercept[Exception](commit)
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      assert(msgs(ex).exists(_.contains(expected)), msgs(ex).headOption)
      assert(head == at, s"$expected: nothing commits")
    }
    t.merge(strictBatch("sc"), "cow-strict", 0L, strictValidate = true)
    check("strict copy-on-write merge with PATCH deltas")
    batch += 1; t.mergeDeltas(strictBatch("sm"), "cp", batch, strictValidate = true)
    check("strict merge-on-read deltas with PATCH deltas")
    val live = model.keys.min
    violates(s"strict merge violation: key=$live first_op=c") {
      t.merge(strictFrame(Seq(Row.fromSeq((live +: image(live, "v")) ++
        Seq("c", live, null, "c", null)))), "cow-strict", 1L, strictValidate = true)
    }
    val absent = 5000L
    violates(s"strict merge violation: key=$absent first_op=u") {
      t.mergeDeltas(strictFrame(Seq(Row(absent, "v", null, null, "u", absent, Seq("name"), "u",
        null))), "cp", batch + 1, strictValidate = true)
    }
    check("the whole history", back = head)
  }
}
