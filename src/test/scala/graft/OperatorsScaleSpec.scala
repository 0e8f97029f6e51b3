package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ChangeLog, DedupOps, VectorOps}

/** Plan-shape and recall guarantees for the scale-critical operators:
  * the properties the correctness gate can't see (aggregate strategy,
  * candidate-blocking completeness, ANN recall, join strategy). */
class OperatorsScaleSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def embs = spark.read.parquet(s"$sf/embeddings.parquet")

  test("ChangeLog.latestByKey plans ObjectHashAggregate (not SortAggregate)") {
    val df = ChangeLog.latestByKey(
      spark.read.parquet(s"$sf/events.parquet"), Seq("user_id"), "event_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"plan was:\n$plan")
    assert(!plan.contains("SortAggregate"), s"plan was:\n$plan")
  }

  test("ChangeLog.mergeSnapshot equals a plain-Scala fold of the delta onto the snapshot") {
    // payload columns named like the fold's own columns must not clash
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type").as("operation"), col("value").as("_o"))
    val snap = ChangeLog.latestByKey(ev.filter(col("event_id") % 2 === 0), Seq("user_id"), "event_id")
    val delta = ChangeLog.latestByKey(ev.filter(col("event_id") % 2 === 1), Seq("user_id"), "event_id")
    def byKey(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // a delta row wins its key; an "error" (or null) event type drops it
    val want = byKey(delta).foldLeft(byKey(snap)) { case (m, (k, row)) =>
      if (row(1) != null && row(1) != "error") m.updated(k, row) else m - k
    }
    val merged = ChangeLog.mergeSnapshot(snap, delta, Seq("user_id"))(
      d => d.getField("operation") === "error")
    assert(merged.columns.toSeq == snap.columns.toSeq)
    val got = byKey(merged)
    assert(want.size > 0 && got == want)
  }

  test("latestByKey/earliestByKey values match the window-function reference") {
    import org.apache.spark.sql.expressions.Window
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id", "event_id", "event_type")
    def ref(desc: Boolean) = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(if (desc) col("event_id").desc else col("event_id").asc)
      ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    def got(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got(ChangeLog.latestByKey(ev, Seq("user_id"), "event_id")) == ref(desc = true))
    assert(got(ChangeLog.earliestByKey(ev, Seq("user_id"), "event_id")) == ref(desc = false))
  }

  test("simHashPairs pigeonhole blocking loses no pair at maxHamming=8") {
    val withH = DedupOps.simHashes(docs, "doc_id", "text", shingleN = 5).cache()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(DedupOps.hammingPairsBruteForce(withH, maxHamming = 8))
    val blocked = pairSet(DedupOps.simHashPairs(docs, "doc_id", "text",
      shingleN = 5, maxHamming = 8))
    assert(blocked == brute,
      s"missed=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
    withH.unpersist()
  }

  test("portable simhash blocking is also complete (32-bit, maxHamming=3)") {
    val withH = DedupOps.simHash32Portable(docs, "doc_id", "text", shingleN = 5).cache()
    val brute = DedupOps.hammingPairsBruteForce(withH, maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = DedupOps.simHashPortablePairs(docs, "doc_id", "text",
      shingleN = 5, maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute)
    withH.unpersist()
  }

  test("multi-probe ANN: recall@1 >= 0.95 for genuine near-duplicates (12 bits, 2 tables)") {
    // the regime LSH is for: every vector has a planted twin at cos ≈ 0.99;
    // multi-probe retrieves it from ~1% of the pairs (vs 64% for the
    // 16-table/4-bit config on this corpus — TuneAnn measurements in BENCH.md)
    val corpus = VectorOps.withPlantedTwins(embs, "vec_id", "embedding")
    val truth = VectorOps.cosineTopK(corpus, "vec_id", "embedding",
        corpus, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorOps.annLshTopK(corpus, "vec_id", "embedding",
        k = 1, bits = 12, tables = 2, probeHamming = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect approx).size.toDouble / truth.size
    info(f"multi-probe recall@1 = $recall%.3f (bits=12, tables=2, probeHamming=1)")
    assert(recall >= 0.95, f"recall $recall%.3f < 0.95")
  }

  test("IVF ANN: recall@1 >= 0.95 for planted twins (64 lists, nProbe 8)") {
    // a twin at cos ≈ 0.99 lands in (nearly) the same inverted list as
    // its query; nProbe covers the assignment-boundary cases
    val corpus = VectorOps.withPlantedTwins(embs, "vec_id", "embedding")
    val truth = VectorOps.cosineTopK(corpus, "vec_id", "embedding",
        corpus, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorOps.annIvfTopK(corpus, "vec_id", "embedding",
        k = 1, nCentroids = 64, nProbe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect approx).size.toDouble / truth.size
    info(f"IVF recall@1 = $recall%.3f (64 centroids, nProbe=8)")
    assert(recall >= 0.95, f"recall $recall%.3f < 0.95")
  }

  test("IVF ANN on a CLUSTERED corpus: trained centroids, recall@1 >= 0.95, no probe window") {
    // the distribution IVF training exists for: 20 dense clusters (a
    // first-N-by-id or untrained centroid pick collapses onto whatever
    // region those ids sample). Deterministic synthesis: cluster centers
    // and member jitter from a fixed-seed PRNG; truth = brute force.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dims = 16
    val centers = Array.fill(20)(Array.fill(dims)(rnd.nextGaussian().toFloat))
    val rows = (0 until 800).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.zipWithIndex.map { case (x, _) =>
        x + 0.05f * rnd.nextGaussian().toFloat }.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val truth = VectorOps.cosineTopK(corpus, "vec_id", "embedding",
        corpus, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.annIvfTopK(corpus, "vec_id", "embedding",
      k = 1, nCentroids = 24, nProbe = 4, refine = true, trainSampleMod = 4)
    // the probe/assignment path must be map-side: the ONLY window in the
    // plan is the final per-query top-k rank over candidate pairs
    val plan = ivf.queryExecution.executedPlan.toString
    val windows = "(?i)\\bwindow\\b".r.findAllIn(plan).size
    assert(windows <= 1, s"expected at most the final rank window, plan:\n$plan")
    val approx = ivf.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect approx).size.toDouble / truth.size
    info(f"clustered IVF recall@1 = $recall%.3f (24 trained centroids, nProbe=4)")
    assert(recall >= 0.95, f"recall $recall%.3f < 0.95")
  }

  test("withPlantedTwins fails loudly when an id would collide with a twin id") {
    import spark.implicits._
    val bad = Seq((VectorOps.PlantedIdOffset + 5, Seq(1f, 0f)),
      (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      VectorOps.withPlantedTwins(bad, "vec_id", "embedding").count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("collides with twin ids")))
  }

  test("annLshTopK recall >= 0.9 vs brute-force cosine top-k") {
    val k = 3
    val truth = VectorOps.cosineTopK(embs, "vec_id", "embedding",
        embs, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorOps.annLshTopK(embs, "vec_id", "embedding",
        k = k, bits = 4, tables = 16)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect approx).size.toDouble / truth.size
    info(f"ann_lsh recall@$k = $recall%.3f (bits=4, tables=16)")
    assert(recall >= 0.9, f"recall $recall%.3f < 0.9")
  }

  test("cosineDupPairsExact matches brute force with no BroadcastNestedLoopJoin") {
    val tiled = VectorOps.cosineDupPairsExact(embs, "vec_id", "embedding",
      threshold = 0.45, nBlocks = 8)
    val plan = tiled.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan was:\n$plan")
    val e = embs.select(col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("_va"), col("nrm").as("_na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("_vb"), col("nrm").as("_nb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .filter(VectorOps.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")) >= 0.45)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = tiled.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
  }

  test("rhpNearDupPairs blocking is complete and never a cross join") {
    val out = VectorOps.rhpNearDupPairs(embs, "vec_id", "embedding",
      bits = 32, maxHamming = 3, threshold = -1.0) // no cosine cut: test blocking alone
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"plan was:\n$plan")
    // brute force over the same portable signatures
    val withH = embs.select(col("vec_id").as("id"),
      graft.functions.PortableRhpSignature.portableRhpSignature(
        col("embedding"), 32, 42, 1024).as("h")).cache()
    val brute = DedupOps.hammingPairsBruteForce(withH, maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = out.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute,
      s"missed=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
    // planted near-dups (one zeroed component) land inside the predicate
    val found = VectorOps.rhpNearDupPairs(
        VectorOps.withPlantedTwins(embs, "vec_id", "embedding"),
        "vec_id", "embedding", bits = 32, maxHamming = 3, threshold = 0.95)
      .filter(col("id_b") === col("id_a") + VectorOps.PlantedIdOffset).count()
    assert(found > embs.count() / 2, s"only $found planted pairs detected")
    withH.unpersist()
  }

  test("jaccardBandedPairs equals brute force restricted to band-sharing pairs") {
    val rpb = 4; val nh = 16
    val got = DedupOps.jaccardBandedPairs(docs, "doc_id", "text",
        numHashes = nh, rowsPerBand = rpb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    // brute force: signatures + all pairs; candidate iff some full band agrees
    val sigs = docs.select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("w"))
      .select(col("doc_id"), DedupOps.portableHash32(col("w")).as("h32"))
      .groupBy("doc_id")
      .agg(array((0 until nh).map(s => min((col("h32") * DedupOps.affineA(s) +
        DedupOps.affineB(s)) % DedupOps.MinHashP)): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val words = docs.select(col("doc_id"),
        array_distinct(split(trim(col("text")), "\\s+")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = sigs.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      if (0 until nh / rpb).exists(band =>
        (0 until rpb).forall(r => sigs(a)(band * rpb + r) == sigs(b)(band * rpb + r)))
      inter = (words(a) intersect words(b)).size
      union = (words(a) union words(b)).size
      if inter * 2 >= union
    } yield (a, b, inter, union)).toSet
    assert(got == brute)
  }

  test("jaccardBandedDedup: O(n) output, no cartesian product, verified values") {
    val out = DedupOps.jaccardBandedDedup(docs, "doc_id", "text", numHashes = 8)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"plan was:\n$plan")
    val rows = out.collect()
    val nDocs = docs.count()
    assert(rows.length < nDocs, "one decision per dropped doc, never quadratic")
    // every (doc, keeper) row's intersection/union counts match a direct
    // computation over the word sets
    val words = docs.select(col("doc_id"),
        array_distinct(split(trim(col("text")), "\\s+")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    rows.foreach { r =>
      val (d, k) = (r.getLong(0), r.getLong(1))
      assert(d != k)
      assert(r.getInt(2) == (words(d) intersect words(k)).size, s"n_inter of ($d,$k)")
      assert(r.getInt(3) == (words(d) union words(k)).size, s"n_union of ($d,$k)")
    }
  }

  test("minHashPortablePairs candidates are exhaustive for its predicate") {
    // r=1 banding: any pair agreeing on >= 1 signature component is a
    // candidate, so the n_agree >= ceil(nh*t) output equals brute force
    val nh = 16
    val got = DedupOps.minHashPortablePairs(docs, "doc_id", "text",
        shingleN = 5, numHashes = nh, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: compute signatures, compare all pairs
    val ex = docs.select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), length(trim(regexp_replace(lower(col("text")), "\\s+", " "))) - 4),
        i => trim(regexp_replace(lower(col("text")), "\\s+", " ")).substr(i, lit(5))))).as("sh"))
    val sigs = ex.groupBy(col("doc_id")).agg(
      array((0 until nh).map(s =>
        min((DedupOps.portableHash32(col("sh")) * DedupOps.affineA(s) +
          DedupOps.affineB(s)) % DedupOps.MinHashP)): _*).as("sig"))
    val sa = sigs.select(col("doc_id").as("id_a"), col("sig").as("sa"))
    val sb = sigs.select(col("doc_id").as("id_b"), col("sig").as("sb"))
    val brute = sa.join(sb, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), v => v)).as("n"))
      .filter(col("n") >= 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
  }

  test("duplicateClusters: connected components with canonical min-id labels") {
    import spark.implicits._
    // triangle-free chain 1-2-3 (needs propagation), disjoint pair,
    // reversed-order pair (operator must not assume id_a < id_b)
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (7L, 5L))
      .toDF("id_a", "id_b")
    val got = DedupOps.duplicateClusters(pairs, "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 5L -> 5L, 7L -> 5L))
    // a diameter-7 chain exercises multi-round convergence
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = DedupOps.duplicateClusters(chain, "id_a", "id_b").collect()
    assert(labels.length == 8 && labels.forall(_.getLong(1) == 1L))
  }

  test("duplicateClustersStar: same labels, O(log^2 n) rounds on a pathological chain") {
    import spark.implicits._
    def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // parity on a mixed graph: chain + clique + disjoint pair, ids
    // deliberately NOT in id_a < id_b order everywhere
    val mixed = Seq((2L, 1L), (2L, 3L), (10L, 11L), (7L, 5L),
      (20L, 21L), (22L, 20L), (21L, 22L)).toDF("id_a", "id_b")
    assert(toMap(DedupOps.duplicateClustersStar(mixed, "id_a", "id_b"))
      == toMap(DedupOps.duplicateClusters(mixed, "id_a", "id_b")))

    // deterministic pseudo-random graph: 60 nodes, 45 hashed edges
    val rand = (0 until 45).map { i =>
      val a = (i * 2654435761L) % 60; val b = (i * 2246822519L) % 60
      (a, if (a == b) (b + 1) % 60 else b)
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
    assert(toMap(DedupOps.duplicateClustersStar(rand, "id_a", "id_b"))
      == toMap(DedupOps.propagateClusters(rand, "id_a", "id_b", 50)._1))

    // the scale claim: a length-20 drift chain costs propagation ~one
    // round per hop (label moves one edge per round) but star
    // contraction collapses it exponentially
    val drift = (1L until 21L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (starLabels, starRounds) = DedupOps.starClusters(drift, "id_a", "id_b", 50)
    val (propLabels, propRounds) = DedupOps.propagateClusters(drift, "id_a", "id_b", 50)
    assert(toMap(starLabels) == toMap(propLabels))
    assert(starLabels.collect().forall(_.getLong(1) == 1L))
    assert(starRounds <= 8, s"star contraction took $starRounds rounds")
    assert(propRounds > starRounds,
      s"chain should separate the algorithms (prop=$propRounds star=$starRounds)")
  }
}
