package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity operators over `array<float>` embedding columns.
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * computes dot products with the native FloatVectorDot codegen expression
  * (tight primitive loop; the zip_with/aggregate HOF formulation allocates
  * an intermediate array per pair — 13× slower measured). The LSH path
  * buckets vectors by random-hyperplane signatures so at 100 TB each probe
  * only joins its own bucket (equi-join on the signature) instead of the
  * full corpus.
  */
object VectorOps {

  /** Planted-twin id offset shared by every near-dup/ANN harness. */
  val PlantedIdOffset = 1000000L

  /** Append one deterministic near-duplicate per vector: twin id =
    * id + [[PlantedIdOffset]], with component (id mod dim) zeroed —
    * cos ≈ 0.99. The ONE shared builder for the planted-twin corpus:
    * `rhpNearDupPlantedOracleSql`'s CASE expression recomputes this exact
    * formula in DuckDB, so every gate/spec/tuner call site must route
    * through here or the oracle silently diverges. */
  def withPlantedTwins(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val base = emb.select(col(idCol), col(vecCol))
    // an id >= PlantedIdOffset would silently collide with a twin id,
    // corrupting recall measurements and the oracle — fail loudly instead.
    // The check rides the twin projection (every id flows through it), so
    // no extra driver-side pass.
    val guarded = when(col(idCol) >= PlantedIdOffset, raise_error(concat(
        lit(s"withPlantedTwins: id >= $PlantedIdOffset collides with twin ids: "),
        col(idCol).cast("string"))))
      .otherwise(col(idCol) + PlantedIdOffset)
    base.unionByName(base.select(
      guarded.as(idCol),
      transform(col(vecCol), (x, i) =>
        when(i.cast("long") === pmod(col(idCol), size(col(vecCol)).cast("long")),
          lit(0f)).otherwise(x)).as(vecCol)))
  }

  /** Dot product of two array<float> columns (float64 accumulate) —
    * native codegen expression (see FloatVectorDot: the zip_with/aggregate
    * HOF formulation allocates an intermediate array per pair). */
  def dot(a: Column, b: Column): Column = graft.functions.FloatVectorDot.dotF(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (null when either vector has zero norm). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for every query vector, the `k` nearest
    * corpus vectors by cosine (descending), rank 1..k. The query side is
    * broadcast; output carries ids + rank (ranks are stable across engines
    * even when the float similarity differs in the last ulp). */
  def cosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("_qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("sim"))
    topKRanked(scored, k)
  }

  /** (query_id, neighbor_id, rank 1..k) from a scored pair relation via
    * ONE bounded ObjectHashAggregate — identical output to the former
    * `row_number over (partition by query order by sim desc, id asc)`
    * window, but partial aggregation cuts every map partition to ≤ k
    * entries per query BEFORE the shuffle, where the window shape
    * shuffled and sorted every candidate pair (see TopKByScore). */
  private def topKRanked(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topKByScore(
        col("sim"), col("neighbor_id"), k).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), (col("_pos") + 1).as("rank"))

  /** Random-hyperplane LSH signature: `bits` sign bits of dot products
    * with deterministic pseudo-random hyperplanes — ONE pass over the
    * vector for all bits via the RhpSignature codegen expression (the
    * per-bit zip_with/aggregate HOF formulation re-walks the vector once
    * per bit with interpreted lambdas). Reproducible with no stored
    * model. */
  def rhpSignature(vec: Column, bits: Int, seed: Int = 42): Column =
    graft.functions.RhpSignature.rhpSignature(vec, bits, seed)

  /** Bucketed ANN with `tables` independent RHP hash tables and
    * MULTI-PROBE: the query side probes every bucket within Hamming
    * `probeHamming` of its own signature in each table (a near-miss
    * neighbor most likely sits one flipped sign bit away — probing those
    * buckets buys the recall extra tables would, at a fraction of the
    * candidate volume, because higher `bits` keeps each probed bucket
    * 2^bits× smaller). Candidates share a bucket with any probe (union
    * of per-table equi-joins, deduped on ids only), then exact cosine
    * re-rank. Never an O(n²) cross join.
    *
    * Measured at sf0.1 (2000×64f, k=3): bits=4/tables=16/probe=0 →
    * recall .92, 2.0M candidate pairs; bits=8/tables=4/probe=1 →
    * recall .95, 0.48M candidates (4.2× fewer, same join shape). */
  def annLshTopK(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      bits: Int = 8, tables: Int = 1, probeHamming: Int = 0): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 2, "probeHamming in [0, 2]")
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // bit-flip masks enumerated at plan time: popcount <= probeHamming
    val masks: Seq[Long] = Seq(0L) ++
      (if (probeHamming >= 1) (0 until bits).map(1L << _) else Nil) ++
      (if (probeHamming >= 2)
        for (i <- 0 until bits; j <- i + 1 until bits) yield (1L << i) | (1L << j)
      else Nil)
    def sigs(side: String) = base.select(col("id").as(side),
      array((0 until tables).map { t =>
        rhpSignature(col("v"), bits, seed = 42 + 101 * t).as(s"s$t")
      }: _*).as("_sigs"))
    val b = sigs("neighbor_id").select(col("neighbor_id"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"), col("_sigs").getItem(t).as("sig"))
      }: _*)).as("bucket"))
    val a = sigs("query_id").select(col("query_id"),
      explode(array((for { t <- 0 until tables; m <- masks } yield
        struct(lit(t).as("t"),
          col("_sigs").getItem(t).bitwiseXOR(lit(m)).as("sig"))): _*)).as("bucket"))
    val cands = a.join(b, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qv = base.select(col("id").as("query_id"), col("v").as("_qv"))
    val cv = base.select(col("id").as("neighbor_id"), col("v").as("_cv"))
    val scored = cands.join(qv, "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("sim"))
    topKRanked(scored, k)
  }

  /** Per-row centroid ranking: the `n` nearest centroid cids, nearest
    * first — ONE compact codegen expression carrying the centroid matrix
    * as a reference object (see [[graft.functions.CentroidTopCids]]: the
    * C-literal-arrays + sort_array formulation generated enormous
    * projection code that janino paid seconds compiling per plan).
    * Entirely map-side: C primitive dots + an O(C·n) selection per row —
    * no shuffle, no window. */
  private def centroidRanks(v: Column, cents: Array[Array[Float]], n: Int): Column =
    graft.functions.CentroidTopCids.topCids(v, cents, n)

  /** IVF coarse-quantizer training, deterministic and driver-resident
    * (C × dim floats — the same tiny artifact FAISS's training step
    * produces): seed centroids are a HASH-STRATIFIED sample — the first
    * `nCentroids` corpus vectors in md5(id) order, i.e. a uniform random
    * pick independent of id locality (first-N-by-id would collapse onto
    * one data region on clustered corpora) — optionally refined by ONE
    * Lloyd pass over a deterministic 1/`trainSampleMod` hash-sample:
    * assign sample vectors to their nearest seed (map-side), then take
    * the per-component mean per cluster (posexplode + partial-aggregated
    * avg — sample×dim rows, bounded by the sample fraction). Cluster
    * means are quantized to a 2^-14 grid so float-summation order can't
    * make the trained model run-dependent; empty clusters keep their
    * seed vector. */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, refine: Boolean = true, trainSampleMod: Int = 10,
      seed: Int = 42): Array[Array[Float]] = {
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // TakeOrderedAndProject: per-partition top-C by the hash key, no
    // global sort materialization
    val init: Array[Array[Float]] = base
      .orderBy(md5(concat(lit(s"ivf|$seed|"), col("id").cast("string"))), col("id"))
      .limit(nCentroids)
      .select(col("v")).collect().map(_.getSeq[Float](0).toArray)
    if (!refine || init.isEmpty) return init
    val sample = base.filter(pmod(hash(col("id")), lit(trainSampleMod)) === 0)
    val means = sample
      .select(centroidRanks(col("v"), init, 1).getItem(0).as("cid"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("cid"))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("ms"))
      .collect()
      .map { r =>
        r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (math.rint(s.getDouble(1) * 16384.0) / 16384.0).toFloat).toArray
      }.toMap
    init.indices.map(i => means.getOrElse(i, init(i))).toArray
  }

  /** IVF-flat ANN (the FAISS IVF shape re-expressed as joins): a small
    * TRAINED coarse quantizer ([[trainIvfCentroids]] — hash-stratified
    * sample + one Lloyd pass) partitions the corpus into inverted lists;
    * a query probes its `nProbe` nearest centroids' lists and
    * exact-cosine re-ranks only those candidates.
    *
    * Scale shape: the centroid model is DRIVER-RESIDENT (C × dim floats,
    * embedded as literals), so assignment and probe selection are pure
    * map-side codegen passes over the corpus — per row: C dot products +
    * one C-element array sort, NO shuffle and NO window (the previous
    * formulation shuffled an n×C scored relation through a window just
    * to rank probes — 64× the corpus moved for nothing). The only
    * shuffles left are the probe equi-join on centroid id (each list
    * ~1/C of the corpus) and the per-pair dedup — never O(n²). Compared
    * to [[annLshTopK]]: IVF adapts to the data distribution (lists
    * follow density), LSH is oblivious but needs no training pass; both
    * are provided as the two standard ANN scale paths. */
  def annIvfTopK(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 64, nProbe: Int = 4, refine: Boolean = true,
      trainSampleMod: Int = 10): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCentroids, "nProbe in [1, nCentroids]")
    val cents = trainIvfCentroids(corpus, idCol, vecCol, nCentroids,
      refine, trainSampleMod)
    require(cents.nonEmpty, "annIvfTopK: empty corpus")
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val lists = base.select(col("id").as("neighbor_id"),
      centroidRanks(col("v"), cents, 1).getItem(0).as("cid"), col("v").as("_cv2"))
    val probes = base.select(col("id").as("query_id"),
      explode(centroidRanks(col("v"), cents, nProbe)).as("cid"),
      col("v").as("_qv"))
    val scoredPairs = probes.join(lists, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv2")).as("sim"))
    // a (query, neighbor) pair can meet in up to nProbe shared lists —
    // with the SAME sim (same two vectors), so TopKByScore's duplicate
    // collapse IS the pair dedup the former groupBy(q, n).max(sim)
    // performed, without shuffling every pair
    topKRanked(scoredPairs, k)
  }

  /** LSH-blocked embedding near-dup pairs with CROSS-ENGINE-EXACT
    * semantics: pairs whose portable integer RHP signatures
    * ([[graft.functions.PortableRhpSignature]]) differ by ≤ `maxHamming`
    * of `bits` sign bits AND whose exact cosine ≥ `threshold`.
    *
    * The signature predicate is the scale lever: candidates come from a
    * pigeonhole-blocked equi self-join on `maxHamming + 1` signature
    * chunks (recall 1 for the predicate by construction — any qualifying
    * pair agrees on a whole chunk), so the default embedding-dedup story
    * has NO quadratic pass. maxHamming/bits fixes the estimated-angle
    * ceiling (3 of 32 ⇒ est. cos ≥ cos(3π/32) ≈ 0.956): this operator is
    * for HIGH-similarity near-dup detection; thresholds down in the bulk
    * of the similarity distribution need [[cosineDupPairsExact]]. All
    * signature arithmetic is integer (quantized vector × md5-derived
    * integer hyperplanes), so a SQL oracle reproduces every bit. */
  def rhpNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      bits: Int = 32, maxHamming: Int = 3, threshold: Double = 0.95,
      seed: Int = 42, scale: Int = 1024): DataFrame = {
    val withH = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      graft.functions.PortableRhpSignature.portableRhpSignature(
        col(vecCol), bits, seed, scale).as("h"))
    val pairs = DedupOps.hammingJoin(
      withH.select("id", "h"), "id", "h", bits, maxHamming)
    val va = withH.select(col("id").as("id_a"), col("v").as("_va"))
    val vb = withH.select(col("id").as("id_b"), col("v").as("_vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .filter(cosine(col("_va"), col("_vb")) >= threshold)
      .select("id_a", "id_b", "hamming")
  }

  /** DuckDB oracle for [[rhpNearDupPairs]] over `table` UNION a planted
    * near-duplicate per row (component `id % dims` zeroed, id + 10^6) —
    * identical signatures via the same md5-derived integer hyperplanes,
    * brute-force pair enumeration. */
  def rhpNearDupPlantedOracleSql(table: String, idCol: String, vecCol: String,
      bits: Int = 32, maxHamming: Int = 3, threshold: Double = 0.95,
      seed: Int = 42, scale: Int = 1024): String =
    s"""WITH base AS (SELECT $idCol AS id, $vecCol AS v FROM $table),
       |planted AS (SELECT b.id + 1000000 AS id,
       |  list_transform(range(1, len(b.v)+1),
       |    i -> CASE WHEN i = CAST(b.id % len(b.v) AS BIGINT) + 1
       |              THEN CAST(0 AS FLOAT) ELSE b.v[i] END) AS v
       |  FROM base b),
       |allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
       |q AS (SELECT id, j, CAST(floor(v[j] * $scale.0) AS BIGINT) AS qv
       |      FROM (SELECT id, v, unnest(range(1, len(v)+1)) AS j FROM allv)),
       |g AS (SELECT b, j,
       |        CAST(('0x' || substr(md5('rhp|$seed|' || b || '|' || j),1,8)) AS BIGINT)
       |          % 65536 - 32768 AS g
       |      FROM (SELECT unnest(range(0, $bits)) AS b),
       |           (SELECT unnest(range(0, (SELECT max(len(v)) FROM allv))) AS j)),
       |dot AS (SELECT q.id, g.b, SUM(g.g * q.qv) AS d
       |        FROM q JOIN g ON g.j = q.j - 1 GROUP BY q.id, g.b),
       |sig AS (SELECT id, SUM(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS h
       |        FROM dot GROUP BY id)
       |SELECT s1.id AS id_a, s2.id AS id_b,
       |       CAST(bit_count(xor(s1.h, s2.h)) AS INT) AS hamming
       |FROM sig s1 JOIN sig s2 ON s1.id < s2.id
       |JOIN allv v1 ON v1.id = s1.id JOIN allv v2 ON v2.id = s2.id
       |WHERE bit_count(xor(s1.h, s2.h)) <= $maxHamming
       |  AND list_cosine_similarity(v1.v, v2.v) >= $threshold""".stripMargin

  /** EXACT all-pairs cosine ≥ `threshold` via a tiled block self-join.
    *
    * Ids hash into `nBlocks` blocks; each block pair (i ≤ j) is one
    * equi-join tile, so the inherently quadratic work distributes evenly
    * across nBlocks(nBlocks+1)/2 independent shuffle groups — no
    * BroadcastNestedLoopJoin, no driver fan-out, per-task memory bounded
    * by n/nBlocks rows per side. Use when the threshold sits where LSH
    * recall can't be guaranteed (pairs at the decision boundary); raise
    * `nBlocks` with corpus size so tiles stay executor-sized. */
  def cosineDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBlocks: Int = 8): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"),
      pmod(hash(col(idCol)), lit(nBlocks)).as("blk"))
    val spark = df.sparkSession
    import spark.implicits._
    val tiles = broadcast(
      (for { i <- 0 until nBlocks; j <- i until nBlocks } yield (i, j))
        .toDF("bi", "bj"))
    val a = v.join(tiles, col("blk") === col("bi"))
      .select(col("bi"), col("bj"), col("id").as("id_l"),
        col("v").as("_vl"), col("nrm").as("_nl"))
    val b = v.join(tiles, col("blk") === col("bj"))
      .select(col("bi").as("bi2"), col("bj").as("bj2"), col("id").as("id_r"),
        col("v").as("_vr"), col("nrm").as("_nr"))
    a.join(b, col("bi") === col("bi2") && col("bj") === col("bj2"))
      .filter(col("bi") < col("bj") || col("id_l") < col("id_r"))
      .select(
        least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        (dot(col("_vl"), col("_vr")) / (col("_nl") * col("_nr"))).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
