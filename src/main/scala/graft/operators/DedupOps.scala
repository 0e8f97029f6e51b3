package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes:
  *  - exact dedup = one hash aggregate on the fingerprint (partial agg →
  *    skew-proof, single shuffle);
  *  - MinHash/SimHash pipelines explode shingles to rows ONCE and build
  *    signatures with hash aggregates, so the shingle-generation
  *    expression is evaluated exactly once per document (a naive
  *    `transform`-per-seed formulation gets inlined by Catalyst's
  *    CollapseProject and recomputes the shingle array per seed — 30×
  *    slower measured at sf0.001);
  *  - candidate pairs come from equi self-joins on short band/chunk keys —
  *    never an O(n²) cross join; only candidate pairs are materialized.
  */
object DedupOps {

  /** Exact dedup on normalized-text fingerprint: keeps the smallest id per
    * duplicate group and reports group size. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextOps.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Character shingles (n-grams) of the normalized text, distinct. */
  def shingles(text: Column, n: Int): Column = {
    val norm = TextOps.normalize(text)
    when(length(norm) >= n,
      array_distinct(
        transform(sequence(lit(1), length(norm) - (n - 1)),
          i => norm.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** (id, hh) exploded 64-bit shingle hashes — ONE pass over the text via
    * the ShingleHashes codegen expression (the substr-per-window
    * formulation is O(len²) per document and shuffles string shingles). */
  private def explodedShingleHashes(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.ShingleHashes.shingleHashes(
        TextOps.normalize(col(textCol)), shingleN)).as("hh"))

  /** 64-bit SimHash per document: per-bit majority vote over shingle
    * hashes, ONE aggregation pass with 32 packed counters (2×31-bit
    * counts per long — no overflow below 2^31 shingles per doc; the old
    * 4×16-bit packing silently corrupted counts past 65,535 distinct
    * shingles, i.e. ~64KB+ documents) instead of 64 separate sums:
    * 2× less aggregate state and far smaller generated code. */
  def simHashes(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5): DataFrame = {
    val ex = explodedShingleHashes(df, idCol, textCol, shingleN)
    // packed(c) accumulates bits c (lane 0) and c+32 (lane 1)
    val agg = ex.groupBy(col("id")).agg(
      count(lit(1)).as("n"),
      array((0 until 32).map { c =>
        sum((0 until 2).map { lane =>
          shiftleft(shiftright(col("hh"), c + 32 * lane).bitwiseAND(1), 31 * lane)
        }.reduce((x, y) => x.bitwiseOR(y))).as(s"p$c")
      }: _*).as("packed"))
    agg.select(col("id"),
      (0 until 64).map { bit =>
        val c = bit % 32; val lane = bit / 32
        val ones = shiftright(col("packed").getItem(c), 31 * lane).bitwiseAND(0x7FFFFFFFL)
        when(ones * 2 > col("n"), lit(1L << bit)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y)).as("h"))
  }

  /** Chunk layout guaranteeing the pigeonhole property for a given radius:
    * `maxHamming + 1` chunks over `width` bits — any two values differing
    * by ≤ maxHamming bits agree on at least one whole chunk. Returns
    * (startBit, chunkWidth) pairs. */
  private[operators] def pigeonholeChunks(width: Int, maxHamming: Int): Seq[(Int, Int)] = {
    val n = maxHamming + 1
    require(n <= width, s"radius $maxHamming needs $n chunks but only $width bits")
    val base = width / n; val rem = width % n
    val widths = Seq.fill(rem)(base + 1) ++ Seq.fill(n - rem)(base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** SimHash near-dup candidates: docs whose 64-bit simhash differ by at
    * most `maxHamming` bits, candidate-blocked on `maxHamming + 1` simhash
    * chunks (pigeonhole: ≤ maxHamming differing bits ⇒ at least one
    * identical chunk — the chunk count MUST track the radius, or pairs
    * whose differing bits spread across every chunk are silently missed). */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, maxHamming: Int = 3): DataFrame = {
    val withH = simHashes(df, idCol, textCol, shingleN)
    hammingJoin(withH, "id", "h", 64, maxHamming)
  }

  /** Blocked hamming self-join on a simhash-like column: pairs (id_a <
    * id_b) with bit_count(xor) ≤ maxHamming. Blocking is pigeonhole-exact:
    * recall 1 by construction, never an O(n²) cross join. */
  private[operators] def hammingJoin(withH: DataFrame, idCol: String, hCol: String,
      width: Int, maxHamming: Int): DataFrame = {
    val chunks = pigeonholeChunks(width, maxHamming)
    val chunked = withH.select(col(idCol).as("id"), col(hCol).as("h"),
      explode(array(chunks.zipWithIndex.map { case ((start, w), i) =>
        // 1L << 64 wraps to 1 (mask 0 ⇒ every row in ONE block ⇒ O(n²));
        // a full-width chunk (maxHamming = 0) keys on the whole hash
        val mask = if (w >= 64) -1L else (1L << w) - 1
        struct(lit(i).as("c"),
          shiftright(col(hCol), start).bitwiseAND(mask).as("v"))
      }: _*)).as("chunk"))
    val a = chunked.select(col("id").as("id_a"), col("h").as("h_a"), col("chunk"))
    val b = chunked.select(col("id").as("id_b"), col("h").as("h_b"), col("chunk"))
    a.join(b, Seq("chunk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** All-pairs hamming ≤ maxHamming on precomputed hashes — brute force,
    * spec-only oracle for [[simHashPairs]] blocking completeness. */
  def hammingPairsBruteForce(withH: DataFrame, maxHamming: Int): DataFrame = {
    val a = withH.select(col("id").as("id_a"), col("h").as("h_a"))
    val b = withH.select(col("id").as("id_b"), col("h").as("h_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------------
  // Portable (cross-engine verifiable) variants: hashes derived from md5
  // so a SQL oracle (DuckDB) can reproduce them bit-for-bit. The xxhash-
  // based ops above remain the high-throughput path (one-pass rolling
  // shingle hash, no per-seed md5); these exist so the dedup family is
  // value-verifiable end-to-end, not just rows-counted.
  // ------------------------------------------------------------------

  /** 60-bit hash from the md5 hex prefix — portable across engines
    * (DuckDB: CAST('0x' || substr(md5(x),1,15) AS BIGINT)). */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 32-bit hash from the md5 hex prefix (fits exactly in a double too). */
  def portableHash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** (id, sh) exploded distinct character n-gram shingles of the
    * normalized text; docs shorter than n drop out (both engines). */
  private def explodedCharShingles(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val norm = TextOps.normalize(col(textCol))
    df.select(col(idCol).as("id"), norm.as("nt"))
      .filter(length(col("nt")) >= n)
      .select(col("id"), explode(array_distinct(
        transform(sequence(lit(1), length(col("nt")) - (n - 1)),
          i => col("nt").substr(i, lit(n))))).as("sh"))
  }

  /** (id, h32) exploded 32-bit md5-prefix hashes of the distinct n-gram
    * shingles — the ONE-PASS codegen path for the value-identical
    * `portableHash32(explodedCharShingles(...))` (the substr-per-window
    * HOF formulation is O(len²) per document and interpreted; measured
    * 10× on the sf0.1 dedup queries). */
  private def explodedCharShingleHashes(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.Md5ShingleHashes.md5ShingleHashes(
        TextOps.normalize(col(textCol)), n)).as("h32"))

  private def normSqlDuck = raw"trim(regexp_replace(lower(text),'\s+',' ','g'))"
  private def shinglesCteDuck(table: String, idCol: String, n: Int): String =
    s"""WITH nrm AS (SELECT $idCol AS id, $normSqlDuck AS nt FROM $table),
       |sh AS (SELECT id, unnest(list_distinct(list_transform(
       |  range(1, length(nt)-${n - 2}), i -> substr(nt,i,$n)))) AS sh
       |  FROM nrm WHERE length(nt) >= $n)""".stripMargin

  /** Universal-hash family shared bit-for-bit by Spark and the SQL oracle:
    * component s of a shingle's signature contribution is
    * `(a_s·h32 + b_s) mod P` over ONE md5-derived 32-bit base hash —
    * 16 cheap affine mixes instead of 16 md5 digests per shingle (the
    * md5-per-component formulation measured 53 s on the sf0.1 bench; this
    * one ~16× fewer digests). Constants are deterministic and bounded so
    * `a·h + b` stays under 2^63 in BOTH engines' signed 64-bit BIGINT. */
  private[graft] val MinHashP = 4294967311L // prime > 2^32
  private[graft] def affineA(s: Int): Long =
    (2654435761L * (s + 1)) % 2147483629L + 1 // in [1, 2^31), nonzero
  private[graft] def affineB(s: Int): Long =
    (2246822519L * (s + 1)) % MinHashP

  /** MinHash near-dup pairs with EXACT cross-engine semantics: signature
    * component s = min over shingles of (a_s·md5_32(shingle)+b_s) mod P;
    * output = pairs agreeing on ≥ ⌈numHashes·threshold⌉ components.
    *
    * Candidate generation is pigeonhole-exact banding DERIVED FROM THE
    * THRESHOLD: a qualifying pair disagrees on ≤ d = numHashes − minAgree
    * components, so partitioning the signature into d+1 bands guarantees
    * at least one band agrees in full — recall 1 by construction, never
    * an O(n²) join. Higher thresholds get WIDER bands (0.8 of 16 → 4
    * bands of 4: joint-minima keys, so moderately-similar template docs
    * stop colliding; 0.5 of 16 degenerates to 9 near-singleton bands,
    * where a corpus-wide common shingle can still pool a large candidate
    * group — threshold, not band shape, is the scale lever there). */
  def minHashPortablePairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, numHashes: Int = 16, threshold: Double = 0.5): DataFrame = {
    val ex = explodedCharShingleHashes(df, idCol, textCol, shingleN)
    val sigs = ex.groupBy(col("id")).agg(
      array((0 until numHashes).map(s =>
        min((col("h32") * affineA(s) + affineB(s)) % MinHashP)): _*).as("sig"))
    val minAgree0 = math.ceil(numHashes * threshold).toInt
    val bands = pigeonholeChunks(numHashes, numHashes - minAgree0)
    val banded = sigs.select(col("id"),
      explode(array(bands.zipWithIndex.map { case ((start, w), i) =>
        struct(lit(i).as("s"),
          xxhash64(slice(col("sig"), start + 1, w)).as("v"))
      }: _*)).as("bk"))
    val a = banded.select(col("id").as("id_a"), col("bk"))
    val b = banded.select(col("id").as("id_b"), col("bk"))
    val pairs = a.join(b, Seq("bk")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sa = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    val minAgree = math.ceil(numHashes * threshold).toInt
    pairs.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          v => v)).as("n_agree"))
      .filter(col("n_agree") >= minAgree)
  }

  /** DuckDB oracle for [[minHashPortablePairs]] — brute force over all
    * pairs with the identical md5-derived signatures. */
  def minHashPortableOracleSql(table: String, idCol: String,
      shingleN: Int = 5, numHashes: Int = 16, threshold: Double = 0.5): String = {
    val sigCols = (0 until numHashes).map(s =>
      s"MIN((h32*${affineA(s)} + ${affineB(s)}) % $MinHashP) AS m$s").mkString(",\n    ")
    val agree = (0 until numHashes).map(s =>
      s"(CASE WHEN a.m$s = b.m$s THEN 1 ELSE 0 END)").mkString(" + ")
    val minAgree = math.ceil(numHashes * threshold).toInt
    s"""${shinglesCteDuck(table, idCol, shingleN)},
       |hv AS (SELECT id, CAST(('0x' || substr(md5(sh),1,8)) AS BIGINT) AS h32 FROM sh),
       |sig AS (SELECT id, $sigCols FROM hv GROUP BY id)
       |SELECT a.id AS id_a, b.id AS id_b, CAST($agree AS INT) AS n_agree
       |FROM sig a JOIN sig b ON a.id < b.id
       |WHERE $agree >= $minAgree""".stripMargin
  }

  /** Duplicate-CLUSTER assignment over a near-dup pair relation — the
    * step a dedup pipeline runs AFTER pair detection: connected
    * components with one canonical id per cluster (the minimum member
    * id), so "keep the canonical, drop the rest" becomes a filter.
    *
    * Iterative min-label propagation on the symmetric edge set. Scale
    * shape: every round is two hash joins on the PAIR relation only
    * (the docs that have a near-twin — a few percent of a 10^10-doc
    * corpus, never the corpus itself), and the round count is the
    * cluster diameter — banded detection emits per-bucket cliques, so
    * 2–4 in practice. A hard `maxIters` cap fails LOUDLY rather than
    * returning a silently half-merged clustering.
    *
    * Returns (id, cluster_id) for every id appearing in `pairs`. */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame =
    propagateClusters(pairs, aCol, bCol, maxIters)._1

  private[graft] def propagateClusters(pairs: DataFrame, aCol: String,
      bCol: String, maxIters: Int): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // symmetrize by EXPLODING each pair into both orientations instead of
    // unioning two selects over `pairs` — the union form evaluates the
    // whole upstream pair-detection pipeline (shingle explode + md5 +
    // band join) twice when the persist first materializes
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("u"), col(bCol).as("v")),
        struct(col(bCol).as("u"), col(aCol).as("v")))).as("_e"))
      .select(col("_e.u").as("u"), col("_e.v").as("v"))
      .distinct().persist(lvl)
    // eager localCheckpoint per round TRUNCATES THE LOGICAL PLAN — each
    // round references the previous relation 2×, so under plain persist
    // the plan (analyzed every action; caching only short-circuits the
    // physical side) doubles per round and the DRIVER's catalyst pass
    // goes exponential on long chains. The standard iterative-graph
    // pattern; swap for a reliable checkpoint dir when executor loss
    // mid-algorithm must be survivable.
    var labels = edges.groupBy(col("u").as("id"))
      .agg(min(col("v")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("cluster_id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val viaNbr = edges
        .join(labels.select(col("id").as("v"), col("cluster_id").as("nbl")), "v")
        .groupBy(col("u").as("id")).agg(min(col("nbl")).as("nbl"))
      // labels only ever DECREASE (least), so "changed" is simply
      // new < old — carried as a flag through the checkpoint, making the
      // convergence probe a filter on checkpointed data instead of a
      // join of this round's labels against the previous round's
      val next = labels.join(viaNbr, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbl"), col("cluster_id")))
            .as("_new_cluster"),
          col("cluster_id").as("_old_cluster"))
        .select(col("id"), col("_new_cluster").as("cluster_id"),
          (col("_new_cluster") < col("_old_cluster")).as("_changed"))
        .localCheckpoint(true)
      converged = next.filter(col("_changed")).isEmpty
      labels = next.select(col("id"), col("cluster_id"))
      i += 1
    }
    edges.unpersist()
    require(converged, s"duplicateClusters: not converged after $maxIters rounds")
    (labels, i)
  }

  /** [[duplicateClusters]] via alternating LARGE-STAR / SMALL-STAR edge
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — same (id, cluster_id) output, but the
    * round count is O(log² n) in the worst case instead of the cluster
    * DIAMETER: min-label propagation moves the label one hop per round,
    * so a pathological chain-shaped cluster (near-dup "drift" chains,
    * where doc i matches only doc i±1) of length d costs d rounds;
    * star contraction re-wires every node toward its neighborhood
    * minimum each round, collapsing chains exponentially. Each round
    * is two self-joins on the (shrinking) edge relation — the banded
    * pair set, never the corpus. Edges are kept oriented high→low:
    *  - large-star: each node attaches its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: each node attaches its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    * The fixpoint is a forest of min-rooted stars, read off directly
    * as the cluster assignment. Prefer this over [[duplicateClusters]]
    * when cluster diameters are unbounded; for banded near-dup output
    * (per-bucket cliques, diameter 2–4) the simpler propagation wins
    * on fixed per-round cost. */
  def duplicateClustersStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame =
    starClusters(pairs, aCol, bCol, maxIters)._1

  private[graft] def starClusters(pairs: DataFrame, aCol: String,
      bCol: String, maxIters: Int): (DataFrame, Int) = {
    // canonical high→low orientation, self-loops dropped; eager
    // localCheckpoint per round truncates the plan (each round
    // references the previous edge relation FOUR times — two stars ×
    // symmetrized adjacency — so un-truncated lineage is 4^rounds)
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    // large-star over the SYMMETRIC adjacency: node u's larger
    // neighbors re-attach to m = min(Γ(u) ∪ {u}); output stays high→low
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val nbrMin = adj.groupBy("u").agg(min("v").as("mn"))
      adj.join(nbrMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    // small-star: with edges high→low, u's ≤-neighbors are exactly its
    // outgoing v's; they and u itself re-attach to min(Γ≤(u) ∪ {u})
    def smallStar(e: DataFrame): DataFrame = {
      val nbrMin = e.groupBy("u").agg(min("v").as("mn"))
      val moved = e.join(nbrMin, "u")
        .select(col("v").as("u"), col("mn").as("v"))
        .filter(col("u") =!= col("v"))
      moved.unionByName(nbrMin.select(col("u"), col("mn").as("v"))).distinct()
    }
    var converged = false
    var i = 0
    var prevCount = edges.count()
    while (!converged && i < maxIters) {
      val t0 = System.nanoTime()
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // cheap-first convergence: both relations are distinct edge sets,
      // so equal counts + empty one-sided difference ⇒ set equality
      val nextCount = next.count()
      converged = nextCount == prevCount && next.exceptAll(edges).isEmpty
      System.err.println(s"[dedup-star] round=${i + 1} edges=$nextCount " +
        s"ms=${(System.nanoTime() - t0) / 1000000}")
      edges = next
      prevCount = nextCount
      i += 1
    }
    require(converged, s"duplicateClustersStar: not converged after $maxIters rounds")
    // fixpoint = min-rooted stars: every member points at its root;
    // roots appear only on the low side and label themselves
    val labels = edges.select(col("u").as("id"), col("v").as("cluster_id"))
      .unionByName(
        edges.select(col("v").as("id"), col("v").as("cluster_id")).distinct())
    (labels, i)
  }

  /** DuckDB oracle for [[duplicateClusters]] over
    * [[minHashPortablePairs]] edges: the identical pair relation (same
    * md5-derived signatures, brute-force agreement) closed transitively
    * with a recursive CTE, cluster id = min reachable id. */
  def duplicateClustersOracleSql(table: String, idCol: String,
      shingleN: Int = 5, numHashes: Int = 16, threshold: Double = 0.5): String = {
    val sigCols = (0 until numHashes).map(s =>
      s"MIN((h32*${affineA(s)} + ${affineB(s)}) % $MinHashP) AS m$s").mkString(",\n    ")
    val agree = (0 until numHashes).map(s =>
      s"(CASE WHEN a.m$s = b.m$s THEN 1 ELSE 0 END)").mkString(" + ")
    val minAgree = math.ceil(numHashes * threshold).toInt
    s"""${shinglesCteDuck(table, idCol, shingleN).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |hv AS (SELECT id, CAST(('0x' || substr(md5(sh),1,8)) AS BIGINT) AS h32 FROM sh),
       |sig AS (SELECT id, $sigCols FROM hv GROUP BY id),
       |pr AS (SELECT a.id AS id_a, b.id AS id_b
       |  FROM sig a JOIN sig b ON a.id < b.id WHERE $agree >= $minAgree),
       |edges AS (SELECT id_a AS u, id_b AS v FROM pr
       |  UNION SELECT id_b, id_a FROM pr),
       |reach AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
       |)
       |SELECT u AS id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u""".stripMargin
  }

  /** Word-set Jaccard near-dup pairs with MINHASH-BAND candidate blocking
    * (id_a < id_b, exact integer intersection/union counts, kept iff
    * 2·|∩| ≥ |∪|). The blocking key is `numHashes/rowsPerBand` bands of
    * `rowsPerBand` joint signature minima — band-group sizes are driven
    * by actual document similarity, NOT by corpus-level attributes (the
    * (lang, source) blocking this replaces has O(1) distinct blocks, so
    * block size — and the per-block quadratic verify — grows linearly
    * with corpus size). Candidate recall follows the standard MinHashLSH
    * S-curve (1−(1−j^r)^b); the SQL oracle reproduces the banding with
    * the identical md5+affine signatures, so results stay exact. */
  def jaccardBandedPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val d = df.select(col(idCol).as("id"),
      array_distinct(split(trim(col(textCol)), "\\s+")).as("words"))
    val ex = d.select(col("id"), explode(col("words")).as("w"))
      .select(col("id"), portableHash32(col("w")).as("h32"))
    val sigs = ex.groupBy(col("id")).agg(
      array((0 until numHashes).map(s =>
        min((col("h32") * affineA(s) + affineB(s)) % MinHashP)): _*).as("sig"))
    val bands = numHashes / rowsPerBand
    // band key carries the RAW component values (not a hash of them) so
    // the SQL oracle's conjunction joins are exactly equivalent
    val banded = sigs.select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("b"),
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).as("v"))
      }: _*)).as("bk"))
    val a = banded.select(col("id").as("id_a"), col("bk"))
    val b = banded.select(col("id").as("id_b"), col("bk"))
    val pairs = a.join(b, Seq("bk")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val wa = d.select(col("id").as("id_a"), col("words").as("wa"))
    val wb = d.select(col("id").as("id_b"), col("words").as("wb"))
    pairs.join(wa, "id_a").join(wb, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("wa"), col("wb"))).as("n_inter"),
        size(array_union(col("wa"), col("wb"))).as("n_union"))
      .filter(col("n_inter") * 2 >= col("n_union"))
  }

  /** Near-duplicate DEDUP DECISIONS via minhash bucketing + exact Jaccard
    * verification against the bucket keeper — the scale-true output shape
    * for a training-data pipeline: one row per document that shares a
    * signature bucket with a lower-id keeper, carrying the exact
    * word-set intersection/union vs that keeper. O(n) output even when
    * the corpus holds giant near-dup cliques (pair enumeration of a
    * k-clique is k²/2 rows — measured 6.3M pairs on the sf0.1 corpus —
    * while keep/drop decisions stay one row per doc).
    *
    * Bucket key = `numHashes` joint signature minima (md5+affine family,
    * SQL-reproducible): collision probability ≈ j^numHashes, so buckets
    * hold only near-identical docs and bucket size tracks duplication,
    * not corpus size. */
  def jaccardBandedDedup(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8): DataFrame = {
    val d = df.select(col(idCol).as("id"),
      array_distinct(split(trim(col(textCol)), "\\s+")).as("words"))
    val ex = d.select(col("id"), explode(col("words")).as("w"))
      .select(col("id"), portableHash32(col("w")).as("h32"))
    val sigs = ex.groupBy(col("id")).agg(
      array((0 until numHashes).map(s =>
        min((col("h32") * affineA(s) + affineB(s)) % MinHashP)): _*).as("sig"))
    val grp = sigs.groupBy(col("sig"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("bucket_size"))
    val dups = sigs.join(grp, "sig").filter(col("id") =!= col("keep_id"))
      .select(col("id").as("doc_id"), col("keep_id"))
    val wd = d.select(col("id").as("doc_id"), col("words").as("wd"))
    val wk = d.select(col("id").as("keep_id"), col("words").as("wk"))
    dups.join(wd, "doc_id").join(wk, "keep_id")
      .select(col("doc_id"), col("keep_id"),
        size(array_intersect(col("wd"), col("wk"))).as("n_inter"),
        size(array_union(col("wd"), col("wk"))).as("n_union"))
  }

  /** DuckDB oracle for [[jaccardBandedDedup]]. */
  def jaccardBandedDedupOracleSql(table: String, idCol: String,
      numHashes: Int = 8): String = {
    val sigCols = (0 until numHashes).map(s =>
      s"MIN((h32*${affineA(s)} + ${affineB(s)}) % $MinHashP) AS m$s").mkString(",\n    ")
    val ms = (0 until numHashes).map(s => s"m$s").mkString(", ")
    s"""WITH d AS (
       |  SELECT $idCol AS id,
       |         list_distinct(string_split_regex(trim(text), '\\s+')) AS words
       |  FROM $table),
       |hv AS (SELECT id, CAST(('0x' || substr(md5(w),1,8)) AS BIGINT) AS h32
       |       FROM (SELECT id, unnest(words) AS w FROM d)),
       |sig AS (SELECT id, $sigCols FROM hv GROUP BY id),
       |grp AS (SELECT $ms, MIN(id) AS keep_id FROM sig GROUP BY $ms)
       |SELECT s.id AS doc_id, g.keep_id,
       |  CAST(len(list_intersect(dd.words, dk.words)) AS INT) AS n_inter,
       |  CAST(len(list_distinct(list_concat(dd.words, dk.words))) AS INT) AS n_union
       |FROM sig s
       |JOIN grp g ON ${(0 until numHashes).map(s => s"s.m$s = g.m$s").mkString(" AND ")}
       |JOIN d dd ON dd.id = s.id
       |JOIN d dk ON dk.id = g.keep_id
       |WHERE s.id <> g.keep_id""".stripMargin
  }

  /** 32-bit portable SimHash per document (md5-derived shingle hashes,
    * per-bit majority) + pigeonhole-blocked hamming pairs. 32 bits keeps
    * the hash reproducible in SQL engines without unsigned-64 arithmetic;
    * the 64-bit xxhash variant ([[simHashPairs]]) is the scale path. */
  def simHash32Portable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5): DataFrame = {
    val ex = explodedCharShingleHashes(df, idCol, textCol, shingleN)
      .select(col("id"), col("h32").as("hh"))
    // packed counters: 16 longs × 2 31-bit lanes (counter c lane l = bit
    // c+16l) — 16-bit lanes would overflow past 65,535 shingles per doc
    val agg = ex.groupBy(col("id")).agg(
      count(lit(1)).as("n"),
      array((0 until 16).map { c =>
        sum((0 until 2).map { lane =>
          shiftleft(shiftright(col("hh"), c + 16 * lane).bitwiseAND(1), 31 * lane)
        }.reduce((x, y) => x.bitwiseOR(y))).as(s"p$c")
      }: _*).as("packed"))
    agg.select(col("id"),
      (0 until 32).map { bit =>
        val c = bit % 16; val lane = bit / 16
        val ones = shiftright(col("packed").getItem(c), 31 * lane).bitwiseAND(0x7FFFFFFFL)
        when(ones * 2 > col("n"), lit(1L << bit)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y)).as("h"))
  }

  def simHashPortablePairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, maxHamming: Int = 3): DataFrame =
    hammingJoin(simHash32Portable(df, idCol, textCol, shingleN), "id", "h",
      32, maxHamming)

  /** DuckDB oracle for [[simHashPortablePairs]]. */
  def simHashPortableOracleSql(table: String, idCol: String,
      shingleN: Int = 5, maxHamming: Int = 3): String = {
    val bitSums = (0 until 32).map(b =>
      s"CAST(SUM((h >> $b) & 1) AS BIGINT) AS b$b").mkString(",\n    ")
    val shSum = (0 until 32).map(b =>
      s"(CASE WHEN b$b*2 > n THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)").mkString(" + ")
    s"""${shinglesCteDuck(table, idCol, shingleN)},
       |h AS (SELECT id, CAST(('0x' || substr(md5(sh),1,8)) AS BIGINT) AS h FROM sh),
       |c AS (SELECT id, COUNT(*) AS n, $bitSums FROM h GROUP BY id),
       |s AS (SELECT id, $shSum AS h32 FROM c)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.h32, b.h32)) AS INT) AS hamming
       |FROM s a JOIN s b ON a.id < b.id
       |WHERE bit_count(xor(a.h32, b.h32)) <= $maxHamming""".stripMargin
  }

  /** Portable winnowing-style fingerprint: min portableHash60 over all
    * `window`-char windows of the normalized text (whole text when
    * shorter; null when empty). The one-pass RollingHashMin expression is
    * the scale path; this md5 variant is the SQL-verifiable one.
    *
    * Structured as project → explode → min-aggregate so the normalize
    * regex runs once per document, not once per window (HOF lambdas are
    * interpreted — no codegen subexpression elimination inside them). */
  def rollingFpPortable(df: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    val nrm = df.select(col(idCol), TextOps.normalize(col(textCol)).as("nt"))
    val windows = nrm
      .filter(length(col("nt")) > 0)
      .select(col(idCol),
        explode(when(length(col("nt")) <= window, array(col("nt")))
          .otherwise(transform(
            sequence(lit(1), length(col("nt")) - (window - 1)),
            i => col("nt").substr(i, lit(window))))).as("w"))
    val fps = windows.groupBy(col(idCol))
      .agg(min(portableHash60(col("w"))).as("fp64"))
    // empty documents keep a row with a null fingerprint (oracle parity)
    df.select(col(idCol)).join(fps, Seq(idCol), "left")
  }

  /** DuckDB oracle for [[rollingFpPortable]]. */
  def rollingFpOracleSql(table: String, idCol: String, window: Int): String =
    s"""WITH nrm AS (SELECT $idCol AS id, $normSqlDuck AS nt FROM $table)
       |SELECT id AS $idCol,
       |  CASE WHEN length(nt) = 0 THEN NULL
       |       WHEN length(nt) <= $window THEN CAST(('0x' || substr(md5(nt),1,15)) AS BIGINT)
       |       ELSE list_min(list_transform(range(1, length(nt)-${window - 2}),
       |              i -> CAST(('0x' || substr(md5(substr(nt,i,$window)),1,15)) AS BIGINT))) END AS fp64
       |FROM nrm""".stripMargin
}
