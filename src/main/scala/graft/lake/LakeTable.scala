package graft.lake

import scala.collection.JavaConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.toCatalyst
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DateType,
  DoubleType, FloatType, IntegerType, LongType, ShortType, StringType,
  StructField, StructType, TimestampNTZType, TimestampType}

import graft.apply.CdcApply

/** Minimal Iceberg-style snapshot-committed Parquet table.
  *
  * Layout:
  * {{{
  *   <root>/metadata/v%05d.json          -- immutable snapshot metadata
  *   <root>/metadata/manifest-<id>.json  -- immutable data-file lists
  *   <root>/data/commit-<v>-<id>/_bucket=<k>/part-<task>-<attempt>-<job>*.parquet
  * }}}
  *
  * A commit's write tasks put their files straight into its commit dir
  * (unique per commit, invisible until the snapshot listing its files is
  * published) and report them, with footer stats, to the driver
  * ([[CommitWriter]]): there is no `_temporary` tree, no rename, no
  * `_SUCCESS` marker and no directory listing, and a failed task's files
  * are orphans that [[vacuum]] removes. `currentVersion` lists
  * `metadata/`, so no version-hint file is kept. On a `file:` root the
  * driver and the write tasks use [[InProcessChmodLocalFs]], which sets
  * file modes in process instead of forking a `chmod` per file.
  *
  * Snapshot metadata is MANIFEST-STYLE (Iceberg's shape): a snapshot
  * holds a list of immutable manifest files, each listing data files.
  * A commit writes one new manifest for its new files and REUSES every
  * prior manifest untouched by the commit; only manifests that lose a
  * file (copy-on-write / compaction) are rewritten. Metadata written per
  * commit is therefore O(changed files), not O(total files) — at
  * thousands of buckets × delta commits the full-file-list-per-snapshot
  * alternative rewrites megabytes of JSON per commit.
  *
  * Semantics (the subset of the Iceberg spec the north rule needs):
  *  - a snapshot is an immutable list of data files; readers only see
  *    files referenced by a committed snapshot (orphan files from failed
  *    commits are invisible);
  *  - commits are atomic via exclusive-create of the next version file;
  *  - idempotent re-commit: each snapshot records `(checkpointId →
  *    lastBatchId)`; replaying an already-applied micro-batch is a no-op —
  *    this is the exactly-once anchor for `foreachBatch` replay;
  *  - schema evolution: additive nullable columns recorded in metadata;
  *    old files read through the new schema (missing columns → null);
  *  - time travel: read any retained version — used by the replay-parity
  *    tests; `expireSnapshots` bounds metadata growth, `vacuum` removes
  *    data files no retained snapshot references;
  *  - data is hash-bucketed by key so MERGE only reads + rewrites the
  *    buckets the delta batch touches (copy-on-write partition pruning:
  *    at 10^10 rows a batch touching 5% of buckets reads 5% of the table).
  *  - per-commit lineage: op counts, source offset range, rows written —
  *    the north rule's per-partition lineage + metrics.
  *
  * Two MERGE strategies:
  *  - `merge` — copy-on-write: affected buckets are read, joined with the
  *    delta batch and rewritten. Reads stay cheapest (plain scans), but a
  *    hot batch touching every bucket rewrites the whole table — commit
  *    cost is O(affected table data).
  *  - `mergeDeltas` — merge-on-read: the reduced batch is written as
  *    bucket-partitioned DELTA files (payload + `operation`) and the
  *    snapshot just appends them; nothing is read or rewritten, so commit
  *    cost is O(batch) regardless of table size — the 10^10-row streaming
  *    hot path. Readers reconstruct a bucket by last-writer-wins over the
  *    commit sequence (one ObjectHashAggregate over base+delta files of
  *    buckets that have deltas; delta-free buckets scan directly).
  *    `compact` folds a bucket's deltas back into a base file; merges
  *    auto-compact once a bucket accumulates `autoCompact` delta commits,
  *    bounding the read tax.
  */
class LakeTable(val spark: SparkSession, val root: String) {
  import LakeTable.{AppendOnly, Exclusive, Fold, Rebase, Rewrites}

  private val mapper = new ObjectMapper()
  private lazy val fs: FileSystem =
    InProcessChmodLocalFs.forRoot(new Path(root), spark.sparkContext.hadoopConfiguration)
  private def metaDir = new Path(root, "metadata")
  private def versionFile(v: Int) = new Path(metaDir, f"v$v%05d.json")

  /** `seq` = version of the commit that wrote the file (orders writers for
    * merge-on-read reconstruction); `delta` = file carries `operation`
    * rows to overlay, not final base rows; `patch` = delta rows may be
    * PARTIAL updates (`_patch_mask` column), so reconstruction must fold
    * in seq order instead of last-writer-wins; `stats` = per-column
    * (min, max) in canonical form (Long / Double / String), harvested
    * from the parquet FOOTER at commit time for the table's
    * `statsColumns` — the basis for manifest-level data skipping
    * ([[read]] with `where`). Absent = unknown, never prunes. */
  case class DataFile(path: String, bucket: Int, seq: Int = 0,
      delta: Boolean = false, patch: Boolean = false,
      stats: Map[String, (Any, Any)] = Map.empty,
      nulls: Map[String, Long] = Map.empty,
      rows: Long = -1L)
  /** Immutable list of data files, stored once under `metadata/` and
    * reused by every later snapshot that doesn't remove one of its
    * files. An empty `path` marks a legacy inline file list (pre-manifest
    * snapshots), always rewritten on the next commit. */
  case class Manifest(path: String, files: Seq[DataFile])
  case class Snapshot(
      version: Int,
      schema: StructType,
      keyColumns: Seq[String],
      nBuckets: Int,
      manifests: Seq[Manifest],
      commits: Map[String, Long],
      lineage: Option[JsonNode],
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      /** Commit wall-clock (epoch ms), stamped at publish; -1 for
        * snapshots written before the field existed. */
      committedAtMs: Long = -1L,
      /** Free-form table properties carried commit to commit (e.g. the
        * stored z-order cut points enabling incremental re-zorder). */
      properties: Map[String, String] = Map.empty) {
    def files: Seq[DataFile] = manifests.flatMap(_.files)
    def payloadColumns: Seq[String] = schema.fieldNames.filterNot(keyColumns.contains).toSeq
    /** Change-feed rows: key columns ++ payload columns ++ `_change_type`. */
    def feedSchema: StructType = StructType((keyColumns ++ payloadColumns).map(schema(_)) :+
      StructField("_change_type", StringType, nullable = true))
  }

  /** Manifests are immutable once written — cache their parsed contents
    * JVM-WIDE (keyed by absolute path) so the SQL/DML paths, which build
    * a fresh LakeTable per statement/relation, don't re-read and
    * re-parse every manifest per statement. Safe: a manifest file never
    * changes after publish, and vacuum only deletes manifests no
    * retained snapshot references (so a stale entry is never looked up;
    * it is evicted on delete anyway). */
  private def manifestCache = LakeTable.manifestCache
  private def manifestKey(rel: String) = s"$root/$rel"

  // ------------------------------------------------------------ metadata

  private def listVersions: Seq[Int] = {
    if (!fs.exists(metaDir)) return Nil
    fs.listStatus(metaDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt).toSeq.sorted
  }

  def currentVersion: Option[Int] = listVersions.lastOption

  private def parseFiles(arr: JsonNode): Seq[DataFile] =
    arr.elements().asScala.map { f =>
      val stats: Map[String, (Any, Any)] =
        if (!f.has("stats")) Map.empty
        else f.get("stats").fields().asScala.map { e =>
          e.getKey -> ((statVal(e.getValue.get("min")), statVal(e.getValue.get("max"))))
        }.toMap
      val nulls: Map[String, Long] =
        if (!f.has("nulls")) Map.empty
        else f.get("nulls").fields().asScala.map { e =>
          e.getKey -> e.getValue.asLong()
        }.toMap
      DataFile(f.get("path").asText(), f.get("bucket").asInt(),
        if (f.has("seq")) f.get("seq").asInt() else 0,
        f.has("delta") && f.get("delta").asBoolean(),
        f.has("patch") && f.get("patch").asBoolean(),
        stats, nulls,
        if (f.has("rows")) f.get("rows").asLong() else -1L)
    }.toSeq

  private def statVal(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else n.asText()

  private def loadManifest(path: String): Manifest =
    Manifest(path, manifestCache.getOrElseUpdate(manifestKey(path),
      parseFiles(mapper.readTree(readFully(new Path(root, path)))))
      .asInstanceOf[Seq[DataFile]]) // same case class; cache is per-root

  def snapshot(version: Int): Snapshot = {
    val node = mapper.readTree(readFully(versionFile(version)))
    val manifests =
      if (node.has("manifests"))
        node.get("manifests").elements().asScala.map(p => loadManifest(p.asText())).toSeq
      else // legacy inline file list: treated as a manifest that is always rewritten
        Seq(Manifest("", parseFiles(node.get("files")))).filter(_.files.nonEmpty)
    Snapshot(
      version = node.get("version").asInt(),
      schema = DataType.fromJson(node.get("schemaJson").asText()).asInstanceOf[StructType],
      keyColumns = node.get("keyColumns").elements().asScala.map(_.asText()).toSeq,
      nBuckets = node.get("nBuckets").asInt(),
      manifests = manifests,
      commits = node.get("commits").fields().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap,
      lineage = Option(node.get("lineage")),
      statsColumns =
        if (node.has("statsColumns"))
          node.get("statsColumns").elements().asScala.map(_.asText()).toSeq
        else Nil,
      bloomColumns =
        if (node.has("bloomColumns"))
          node.get("bloomColumns").elements().asScala.map(_.asText()).toSeq
        else Nil,
      committedAtMs =
        if (node.has("committedAtMs")) node.get("committedAtMs").asLong() else -1L,
      properties =
        if (node.has("properties"))
          node.get("properties").fields().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap
        else Map.empty)
  }

  def currentSnapshot: Option[Snapshot] = currentVersion.map(snapshot)

  /** `version`'s snapshot, or the current one; raises when there is no table. */
  def snapshotAt(version: Option[Int]): Snapshot =
    version.map(snapshot).orElse(currentSnapshot).getOrElse(sys.error(s"no table at $root"))

  private def readFully(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Persist a data-file list as an immutable manifest (None when empty). */
  private def writeManifest(files: Seq[DataFile]): Option[Manifest] = {
    if (files.isEmpty) return None
    val rel = s"metadata/manifest-${java.util.UUID.randomUUID()}.json"
    val arr = mapper.createArrayNode()
    files.foreach { f =>
      val o = arr.addObject(); o.put("path", f.path); o.put("bucket", f.bucket)
      o.put("seq", f.seq); o.put("delta", f.delta); o.put("patch", f.patch)
      if (f.rows >= 0) o.put("rows", f.rows)
      if (f.nulls.nonEmpty) {
        val nn = o.putObject("nulls")
        f.nulls.foreach { case (c, n) => nn.put(c, n) }
      }
      if (f.stats.nonEmpty) {
        val st = o.putObject("stats")
        f.stats.foreach { case (c, (mn, mx)) =>
          val cn = st.putObject(c)
          def put(k: String, v: Any): Unit = v match {
            case l: Long => cn.put(k, l)
            case d: Double => cn.put(k, d)
            case s: String => cn.put(k, s)
            case other => sys.error(s"BUG: unserializable stat $other")
          }
          put("min", mn); put("max", mx)
        }
      }
    }
    val out = fs.create(new Path(root, rel), false)
    try out.write(mapper.writeValueAsBytes(arr)) finally out.close()
    manifestCache.put(manifestKey(rel), files)
    Some(Manifest(rel, files))
  }

  /** Next snapshot's manifest list: manifests containing no removed file
    * are REUSED verbatim; survivors of touched manifests are folded into
    * one rewritten manifest; `added` files get their own new manifest.
    * Metadata written = O(removed + added files). */
  private def nextManifests(cur: Snapshot, removed: DataFile => Boolean,
      added: Seq[DataFile]): Seq[Manifest] = {
    val (touched, untouched) = cur.manifests.partition(
      m => m.path.isEmpty || m.files.exists(removed))
    val survivors = touched.flatMap(_.files).filterNot(removed)
    untouched ++ writeManifest(survivors) ++ writeManifest(added)
  }

  private def writeSnapshot(s: Snapshot): Unit = {
    firePreCommitHook()
    require(s.manifests.forall(_.path.nonEmpty),
      "BUG: committing a snapshot with an unmaterialized legacy manifest")
    val lineage: JsonNode = s.lineage.orNull
    val node = mapper.createObjectNode()
    node.put("version", s.version)
    node.put("schemaJson", s.schema.json)
    val kc = node.putArray("keyColumns"); s.keyColumns.foreach(kc.add)
    node.put("nBuckets", s.nBuckets)
    val ma = node.putArray("manifests")
    s.manifests.foreach(m => ma.add(m.path))
    val cm = node.putObject("commits")
    s.commits.foreach { case (k, v) => cm.put(k, v) }
    node.put("committedAtMs", System.currentTimeMillis())
    if (s.statsColumns.nonEmpty) {
      val sc = node.putArray("statsColumns"); s.statsColumns.foreach(sc.add)
    }
    if (s.bloomColumns.nonEmpty) {
      val bc = node.putArray("bloomColumns"); s.bloomColumns.foreach(bc.add)
    }
    if (s.properties.nonEmpty) {
      val pr = node.putObject("properties")
      s.properties.toSeq.sortBy(_._1).foreach { case (k, v) => pr.put(k, v) }
    }
    if (lineage != null) node.set[ObjectNode]("lineage", lineage.deepCopy())

    val target = versionFile(s.version)
    if (fs.exists(target)) // fast path; the real race is decided below
      throw new ConcurrentCommitException(s"concurrent commit: $target already exists")
    val tmp = new Path(metaDir, s"v${s.version}.json.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    finally out.close()
    publishExclusive(tmp, target)
  }

  /** Publish a fully-written temp file at `target`, failing if `target`
    * exists — ATOMICALLY on the optimistic-concurrency race.
    *
    * POSIX rename(2) silently REPLACES an existing destination, so on a
    * local filesystem two racing committers would both "succeed" and one
    * commit's files silently vanish from the snapshot. link(2) is the
    * exclusive-create primitive: it fails with EEXIST if the target
    * appeared, and the content is complete before it becomes visible.
    * On HDFS, rename already refuses an existing destination atomically
    * at the namenode. */
  private def publishExclusive(tmp: Path, target: Path): Unit = {
    if ("file".equals(fs.getUri.getScheme)) {
      val src = java.nio.file.Paths.get(tmp.toUri.getPath)
      val dst = java.nio.file.Paths.get(target.toUri.getPath)
      try java.nio.file.Files.createLink(dst, src)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          throw new ConcurrentCommitException(s"concurrent commit: $target already exists")
      }
      fs.delete(tmp, false)
    } else {
      if (!fs.rename(tmp, target)) {
        fs.delete(tmp, false)
        throw new ConcurrentCommitException(s"concurrent commit: rename to $target failed")
      }
    }
  }

  /** Test seam for commit-race injection: fires ONCE immediately before
    * the next snapshot or tag publish on this instance, then resets (so
    * a rebase retry doesn't re-fire it). Specs use it to interleave a
    * competing writer's commit inside this writer's race window. */
  private[graft] var preCommitHook: () => Unit = () => ()

  private def firePreCommitHook(): Unit = {
    val hook = preCommitHook; preCommitHook = () => (); hook()
  }

  /** Validate that a commit built against `base` may be REBASED onto the
    * new head `cur` under `policy` without changing its meaning; throws
    * [[ConcurrentCommitException]] otherwise. Schema, key and layout
    * changes, rollbacks and commits of unknown provenance always
    * conflict. A [[LakeTable.Rewrites]] commit also conflicts with any
    * interim commit touching its buckets (the interim writer's files
    * would be silently dropped from the snapshot: the lost-update
    * anomaly); a [[LakeTable.Fold]] composes only with
    * [[maintenanceComposableOps]]. */
  private def rebaseCheck(base: Snapshot, cur: Snapshot, policy: Rebase): Unit = {
    def conflict(msg: String): Nothing = throw new ConcurrentCommitException(
      s"concurrent commit conflict (base v${base.version} -> head v${cur.version}): $msg")
    if (cur.schema != base.schema) conflict("schema changed concurrently")
    if (cur.keyColumns != base.keyColumns) conflict("key columns changed concurrently")
    if (cur.nBuckets != base.nBuckets) conflict("bucket count changed concurrently")
    var prev = base
    var v = base.version + 1
    while (v <= cur.version) {
      val s =
        try snapshot(v)
        catch { case scala.util.control.NonFatal(_) => conflict(s"cannot read interim v$v") }
      val op = s.lineage.flatMap(n => Option(n.get("operation")).map(_.asText()))
        .getOrElse("")
      if (op == "rebucket" || op == "rollback" || op.isEmpty)
        conflict(s"interim commit v$v is ${if (op.isEmpty) "of unknown provenance" else op}")
      policy match {
        case Fold if !maintenanceComposableOps(op) =>
          conflict(s"interim commit v$v ($op) is not composable with this maintenance rewrite")
        case Rewrites(mine) =>
          val prevPaths = prev.files.map(_.path).toSet
          val curPaths = s.files.map(_.path).toSet
          val touched = (s.files.filterNot(f => prevPaths(f.path)) ++
            prev.files.filterNot(f => curPaths(f.path))).map(_.bucket).toSet
          val overlap = touched.intersect(mine)
          if (overlap.nonEmpty) conflict(s"interim commit v$v ($op) touched bucket(s) " +
            s"${overlap.toSeq.sorted.take(8).mkString(",")} this commit also rewrites")
        case _ =>
      }
      prev = s
      v += 1
    }
  }

  /** Interim ops a FOLDED maintenance rewrite (compact/cluster/zorder)
    * composes with when it loses the version race: append-only commits —
    * their files survive the rebase (removal is by PATH, not bucket) and
    * OVERLAY the folded output, which is stamped with the ORIGINAL base
    * version as its seq, strictly below any interim commit — plus
    * metadata-only stats/bloom changes. Everything else (COW merge,
    * delete/update, another fold, rebucket, rollback, schema change)
    * rewrites or re-keys state the fold didn't read, and must win. */
  private val maintenanceComposableOps = Set(
    "mergeDeltas", "append", "setStatsColumns", "setBloomColumns")

  // ------------------------------------------------------------ lifecycle

  /** `statsColumns`: columns whose per-file min/max are harvested from
    * parquet footers at commit time and recorded in manifests, enabling
    * data skipping in [[read]] with `where`. Supported types: integral, float
    * family, string, date, timestamp (others are rejected — no sound
    * ordering is recorded for them). Empty (the default) = zero
    * overhead.
    *
    * `bloomColumns`: columns that get a parquet BLOOM FILTER per data
    * file (adaptive sizing, written by every commit from then on).
    * Min/max stats can't prune point lookups over hash-distributed
    * values (every file spans nearly the full domain); a bloom answers
    * "definitely not in this row group" for `=` / `IN` predicates, so
    * [[readKeys]] skips the row groups of files that don't hold the key
    * — the sub-bucket half of point-lookup pruning (bucket pruning
    * bounds the lookup to keys/nBuckets of the table; blooms bound it
    * to the files actually containing the keys). */
  def create(schema: StructType, keyColumns: Seq[String], nBuckets: Int = 32,
      statsColumns: Seq[String] = Nil, bloomColumns: Seq[String] = Nil): Unit = {
    require(currentVersion.isEmpty, s"table already exists at $root")
    validateStatsColumns(schema, statsColumns)
    validateStatsColumns(schema, bloomColumns)
    fs.mkdirs(metaDir)
    writeSnapshot(Snapshot(0, schema, keyColumns, nBuckets, Nil: Seq[Manifest],
      Map.empty, None, statsColumns, bloomColumns))
  }

  private def validateStatsColumns(schema: StructType, cols: Seq[String]): Unit =
    cols.foreach { c =>
      val idx = schema.fieldNames.indexOf(c)
      require(idx >= 0, s"stats column '$c' not in schema")
      val ok = schema(idx).dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType | DateType | TimestampType |
             TimestampNTZType => true
        case _ => false
      }
      require(ok, s"stats column '$c': unsupported type ${schema(idx).dataType.simpleString}")
    }

  /** Change the harvested stats columns (metadata-only commit): files
    * written AFTER this carry the new stats; existing files keep theirs
    * (absent stats never prune, so reads stay correct). */
  def setStatsColumns(cols: Seq[String]): Snapshot = commit("setStatsColumns") { cur =>
    validateStatsColumns(cur.schema, cols)
    Right(Change(Exclusive, lineage = Seq("columns" -> cols.mkString(",")),
      edit = _.copy(statsColumns = cols)))
  }

  /** Change the bloom-filtered columns (metadata-only commit): files
    * written AFTER this carry blooms; files without one are simply not
    * row-group-skippable (reads stay correct). */
  def setBloomColumns(cols: Seq[String]): Snapshot = commit("setBloomColumns") { cur =>
    validateStatsColumns(cur.schema, cols)
    Right(Change(Exclusive, lineage = Seq("columns" -> cols.mkString(",")),
      edit = _.copy(bloomColumns = cols)))
  }

  /** Schema evolution: new nullable columns appended, and existing
    * columns may WIDEN to a type the old one up-casts to losslessly
    * (`Cast.canUpCast`: int→long, float→double, decimal precision
    * growth, …) — the parquet vectorized reader up-casts old files
    * per-column at scan time, so no data is rewritten (verified for
    * the integral/float/decimal families; metadata-only commit either
    * way). Narrowing or incompatible type changes are rejected —
    * as is tightening nullability (old files may hold nulls). */
  def evolveSchema(newSchema: StructType): Snapshot = commit("evolveSchema") { cur =>
    import org.apache.spark.sql.catalyst.expressions.Cast
    val existing = cur.schema.fieldNames.toSet
    val added = newSchema.fields.filterNot(f => existing.contains(f.name))
    require(added.forall(_.nullable), "evolved columns must be nullable")
    require(cur.schema.fieldNames.forall(newSchema.fieldNames.contains),
      "column drops are not supported")
    val widened = cur.schema.fields.flatMap { old =>
      val neu = newSchema(newSchema.fieldIndex(old.name))
      require(neu.dataType == old.dataType ||
        Cast.canUpCast(old.dataType, neu.dataType),
        s"column '${old.name}': ${old.dataType.simpleString} -> " +
          s"${neu.dataType.simpleString} is not a lossless widening")
      // a key column's TYPE is part of the physical layout: murmur3
      // hashes int 5 and long 5 differently, so widening a key would
      // silently re-route every existing key's bucket
      require(neu.dataType == old.dataType || !cur.keyColumns.contains(old.name),
        s"key column '${old.name}' cannot change type (bucket routing " +
          "hashes the declared type); rebucket into a new table instead")
      require(neu.nullable || !old.nullable,
        s"column '${old.name}': cannot tighten nullability (old files may hold nulls)")
      if (neu.dataType != old.dataType)
        Some(s"${old.name}:${old.dataType.simpleString}->${neu.dataType.simpleString}")
      else None
    }
    Right(Change(Exclusive, lineage = Seq(
      "addedColumns" -> added.map(_.name).mkString(","),
      "widenedColumns" -> widened.mkString(",")), edit = _.copy(schema = newSchema)))
  }

  /** Commit lineage: `operation` plus `kv`, numbers as JSON numbers. */
  private def lineageNode(op: String, kv: Seq[(String, Any)]): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("operation", op)
    kv.foreach { case (k, v) => o.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    o
  }

  // ------------------------------------------------------------ read

  private def bucketCol(keyColumns: Seq[String], nBuckets: Int) =
    pmod(hash(keyColumns.map(col): _*), lit(nBuckets))

  /** Driver-side evaluation of [[bucketCol]] for a set of key tuples:
    * binds the SAME catalyst nodes (`Pmod(Murmur3Hash(seed=42), n)`) to
    * the key schema and evals per key — identical bucket routing to the
    * column expression by construction (pinned by LakeDataSkipSpec's
    * parity test), with no job launch per lookup. */
  private def driverBuckets(keys: Seq[Seq[Any]], keySchema: StructType,
      nBuckets: Int): Set[Int] = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash, Pmod, Literal => CatLit}
    val refs = keySchema.fields.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    }
    val expr = Pmod(new Murmur3Hash(refs.toSeq), CatLit(nBuckets))
    val conv = CatalystTypeConverters.createToCatalystConverter(keySchema)
    keys.map { k =>
      expr.eval(conv(Row.fromSeq(k)).asInstanceOf[InternalRow])
        .asInstanceOf[Int]
    }.toSet
  }

  /** Write parallelism is DECOUPLED from the table's bucket count: when
    * the session has more shuffle partitions than the table has buckets,
    * rows are additionally salted inside each bucket so a commit writes
    * with full cluster parallelism (several files per bucket) instead of
    * being capped at nBuckets tasks — the create-time bucket constant must
    * not cap a 1000-executor writer. 1 when nBuckets already saturates. */
  private def filesPerBucket(nBuckets: Int): Int = {
    val target = spark.sessionState.conf.numShufflePartitions
    math.max(1, target / math.max(1, nBuckets))
  }

  /** In-bucket salt: deterministic on the key (a key's rows stay in one
    * file per commit), independent of the bucket hash. */
  private def saltCol(keyColumns: Seq[String], fpb: Int) =
    if (fpb <= 1) lit(0)
    else pmod(hash(keyColumns.map(col) :+ lit("graft-salt"): _*), lit(fpb))

  /** Repartition a bucketed write so every (bucket, salt) slot occupies
    * exactly ONE shuffle partition. The former
    * `repartition(n, _bucket, salt)` hashed ~n distinct slot values into
    * n partitions, which leaves ~1/e of the write tasks empty and gives
    * others 2-3 buckets (guide §2.5: synthetic partitioning keys with
    * too few distinct values) — a built-in straggler tail on every
    * commit's write stage at any scale. Rows are instead routed by a
    * driver-computed murmur3 PREIMAGE of their slot id
    * ([[LakeTable.partitionPreimages]]), giving perfect 1:1 packing.
    * `buckets` = the bucket ids this write can produce (driver-known on
    * every commit path; non-dense sets map through a literal map). */
  private def packedByBucket(df: DataFrame, buckets: Seq[Int], fpb: Int,
      keyColumns: Seq[String]): DataFrame = {
    val sorted = buckets.sorted
    val nParts = math.max(1, sorted.size * fpb)
    val inv = LakeTable.partitionPreimages(nParts)
    val dense: Column =
      if (sorted == (0 until sorted.size)) col("_bucket")
      else element_at(
        map(sorted.zipWithIndex.flatMap { case (b, i) => Seq(lit(b), lit(i)) }: _*),
        col("_bucket"))
    val slot = (dense * fpb + saltCol(keyColumns, fpb)).cast("int")
    df.repartition(nParts, element_at(typedlit(inv.toSeq), slot + 1))
  }

  /** Read a snapshot (current by default): its rows, or just `columns`
    * of the rows matching `where` — the same rows as
    * `read().filter(where).select(columns)`, but both reach below the
    * merge-on-read fold ([[scanOrFold]]): manifest stats skip the files
    * that cannot match, and only the requested, predicate and key
    * columns are read. Missing columns in old files surface as null
    * through the declared schema. */
  def read(version: Option[Int] = None, columns: Option[Seq[String]] = None,
      where: Option[Column] = None): DataFrame = {
    val snap = snapshotAt(version)
    scanOrFold(snap, snap.files, columns, where)
  }

  /** Change-data-feed between two committed snapshots: one row per key
    * whose final state differs, stamped `_change_type` ∈
    * {insert, update, delete}. insert/update rows carry the `to`-side
    * image, delete rows the `from`-side image (so a consumer can key
    * its own downstream merge off either direction).
    *
    * One two-sided fold: the distinct files of both snapshots in scope
    * are read in ONE scan, and a single group-by-key computes each
    * key's `from` image (over the rows of `from`'s files) and `to` image
    * (over `to`'s files) with the merge-on-read fold; a key whose images
    * differ is a change. The scope, cheapest applicable wins:
    *  1. DELTA-KEY tier — when every commit in the interval is a
    *     mergeDeltas/append (its changed keys live in its own new files)
    *     or a key-preserving maintenance op (compact/cluster/evolve/
    *     stats), the changed keys are among the keys IN the interval's
    *     new files. The scan covers those files' buckets and is
    *     semi-joined to those keys below the fold, so the fold is
    *     O(interval batch), not O(touched buckets) — the hot streaming
    *     case of a commit writing a few thousand keys into buckets
    *     holding millions. A layout/meta-only interval short-circuits to
    *     an empty feed with no scan at all.
    *  2. TOUCHED-BUCKET tier — the manifest file-diff bounds the scan to
    *     buckets whose file set changed (COW merge rewrites whole
    *     buckets, so its keys are not attributable to new files); an
    *     untouched bucket is byte-identical in both snapshots and is
    *     never read.
    *  3. FULL tier — bucket routing changed in between (`rebucket`),
    *     where the file-diff is vacuously "everything".
    *
    * Both sides read through the `to` schema: columns added since
    * `from` read as null on the `from` side, widened columns up-cast, so
    * a row differing only in a new column's non-null value reports as an
    * update. An un-reduced `append` holding one key twice reports one
    * row for it, the image its reconstruction folds to. */
  def changes(fromVersion: Int, toVersion: Option[Int] = None): DataFrame = {
    val from =
      try snapshot(fromVersion)
      catch {
        case _: java.io.FileNotFoundException => sys.error(
          s"changes: version $fromVersion is expired or unknown at $root " +
            s"(retained: ${listVersions.mkString("[", ",", "]")}); a stale " +
            "consumer/stream must re-bootstrap, or raise expireSnapshots retention")
      }
    val to = snapshotAt(toVersion)
    require(from.version <= to.version,
      s"changes: from v${from.version} is newer than to v${to.version}")
    require(from.keyColumns == to.keyColumns,
      s"changes: key columns differ (${from.keyColumns} vs ${to.keyColumns})")
    val keyCols = to.keyColumns
    val payloadCols = to.payloadColumns
    val sameLayout = from.nBuckets == to.nBuckets
    val fastFiles = if (sameLayout) intervalChangeFiles(from, to) else None
    if (fastFiles.exists(_.isEmpty)) {
      // layout/meta-only interval (compaction, clustering, evolution,
      // stats changes): no key can differ — empty feed, zero data read
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], to.feedSchema)
    }
    val buckets: Option[Set[Int]] =
      if (!sameLayout) None
      else Some(fastFiles.getOrElse {
        val fromPaths = from.files.map(_.path).toSet
        val toPaths = to.files.map(_.path).toSet
        to.files.filterNot(f => fromPaths(f.path)) ++ from.files.filterNot(f => toPaths(f.path))
      }.map(_.bucket).toSet)
    def inScope(s: Snapshot) = s.files.filter(f => buckets.forall(_.contains(f.bucket)))
    val (fromFiles, toFiles) = (inScope(from), inScope(to))
    val in = foldInput(to.schema, Seq("_o" -> fromFiles, "_n" -> toFiles))
    // delta-key tier: only keys in the interval's own new files can have
    // changed — their key columns are O(interval batch) bytes
    val keyed = fastFiles.fold(in) { cand =>
      val keySchema = StructType(keyCols.map(n => to.schema(to.schema.fieldIndex(n))))
      in.join(manifestParquetDf(keySchema, cand.map(_.path)), keyCols, "left_semi")
    }
    val (o, n) = (col("_o"), col("_n"))
    CdcApply.foldImages(keyed, keyCols, payloadCols, (fromFiles ++ toFiles).exists(_.patch),
        Seq("_o", "_n"))
      .withColumn("_change_type", when(o <=> n, lit(null))
        .when(o.isNull, lit("insert")).when(n.isNull, lit("delete")).otherwise(lit("update")))
      .filter(col("_change_type").isNotNull)
      .select(keyCols.map(col) ++ payloadCols.map(c => coalesce(n, o).getField(c).as(c)) :+
        col("_change_type"): _*)
  }

  /** Durable change-feed consumer position: the newest table version
    * this consumer has acknowledged, None before the first ack. Stored
    * as one tiny JSON file per consumer under `metadata/consumers/` —
    * O(1) regardless of table size, invisible to snapshots. */
  def consumerPosition(consumerId: String): Option[Int] = {
    val p = consumerFile(consumerId)
    if (!fs.exists(p)) None
    else Some(mapper.readTree(readFully(p)).get("version").asInt())
  }

  /** Incremental change-feed consumption: everything that changed since
    * `consumerId`'s last acknowledged version, plus the version the feed
    * runs to. First call (no position) BOOTSTRAPS: the full current
    * state as `insert` rows ([[insertFeed]]).
    *
    * At-least-once by construction: process the feed durably, then
    * [[ackChanges]](consumerId, toVersion). A crash before the ack
    * replays the identical interval (the feed is deterministic for a
    * fixed version pair); a downstream [[merge]] keyed on
    * (consumerId, toVersion) makes the replay exactly-once — see
    * LakeCdfSpec's lake-to-lake test. */
  def changesSince(consumerId: String): (DataFrame, Int) = {
    val to = currentVersion.getOrElse(sys.error(s"no table at $root"))
    consumerPosition(consumerId) match {
      case Some(from) =>
        require(listVersions.contains(from),
          s"consumer '$consumerId' position v$from is expired; " +
            "re-bootstrap (delete the consumer) or raise expireSnapshots retention")
        (changes(from, Some(to)), to)
      case None => (insertFeed(to), to)
    }
  }

  /** Version `v`'s full state as `insert` rows, the change feed's
    * bootstrap ([[changesSince]], the streaming source): read directly
    * instead of diffed against the empty v0 (same result, no fold of two
    * sides, and v0 may already be expired). */
  private[lake] def insertFeed(v: Int): DataFrame = {
    val snap = snapshot(v)
    scanOrFold(snap, snap.files, Some(snap.keyColumns ++ snap.payloadColumns), None)
      .withColumn("_change_type", lit("insert"))
  }

  /** Advance a consumer's acknowledged position (monotone; regressions
    * rejected). Write is small-file replace — a crash mid-ack leaves
    * either the old or no position, both of which only cause replay. */
  def ackChanges(consumerId: String, version: Int): Unit = {
    val cur = currentVersion.getOrElse(sys.error(s"no table at $root"))
    require(version <= cur, s"ack v$version is ahead of the table (v$cur)")
    require(consumerPosition(consumerId).forall(_ <= version),
      s"ack regression for '$consumerId': ${consumerPosition(consumerId)} -> v$version")
    val dir = new Path(metaDir, "consumers")
    fs.mkdirs(dir)
    val p = consumerFile(consumerId)
    val tmp = new Path(dir, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val node = mapper.createObjectNode()
    node.put("version", version)
    val out = fs.create(tmp, false)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) { fs.delete(tmp, false); sys.error(s"ack publish failed: $p") }
  }

  private def consumerFile(consumerId: String): Path = {
    require(consumerId.matches("[A-Za-z0-9._-]+"), s"invalid consumer id '$consumerId'")
    new Path(new Path(metaDir, "consumers"), s"$consumerId.json")
  }

  // ------------------------------------------------------------ tags

  /** Pin `version` (default: current) under a NAME — Iceberg-style tag
    * refs: "the audit snapshot", "the corpus we trained run 7 on".
    * Tagged versions are exempt from [[expireSnapshots]] (and therefore
    * their files from [[vacuum]], which only collects what no retained
    * snapshot references) until [[dropTag]] releases them, so a tag is
    * a durable time-travel anchor rather than a race against the
    * retention policy. One tiny metadata file per tag, O(1) vs table
    * size; re-tagging an existing name moves it (small-file replace —
    * crash-safe the same way consumer acks are). */
  def tag(name: String, version: Option[Int] = None): Int = {
    val v = version.getOrElse(
      currentVersion.getOrElse(sys.error(s"no table at $root")))
    require(listVersions.contains(v),
      s"tag '$name': version $v is expired or unknown; retained: " +
        listVersions.mkString("[", ",", "]"))
    val p = tagFile(name)
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val node = mapper.createObjectNode()
    node.put("version", v)
    node.put("createdAtMs", System.currentTimeMillis())
    val out = fs.create(tmp, false)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    // a retag that must be retracted restores the ref it replaced
    val prior = if (fs.exists(p)) Some(readFully(p)) else None
    firePreCommitHook()
    if (prior.isDefined) fs.delete(p, false)
    if (!fs.rename(tmp, p)) { fs.delete(tmp, false); sys.error(s"tag publish failed: $p") }
    // narrow the check-then-publish window against a concurrent
    // expireSnapshots/vacuum: once the tag is visible it protects the
    // version, so if the version survived to THIS point the tag is
    // durable; if maintenance expired it in the window, retract the tag
    // rather than leave a ref pinning an already-collected snapshot.
    // (An expiry that listed the tags before this publish can still
    // delete the version after this check.)
    if (!listVersions.contains(v)) {
      prior match {
        case Some(old) =>
          val o = fs.create(p, true)
          try o.write(old.getBytes("UTF-8")) finally o.close()
        case None => fs.delete(p, false)
      }
      sys.error(s"tag '$name': version $v was expired by concurrent " +
        "maintenance during tagging; re-run against a retained version")
    }
    v
  }

  /** All tags and the versions they pin. */
  def tags(): Map[String, Int] = {
    val dir = new Path(metaDir, "tags")
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.endsWith(".json"))
      .map { s =>
        val n = s.getPath.getName.stripSuffix(".json")
        n -> mapper.readTree(readFully(s.getPath)).get("version").asInt()
      }.toMap
  }

  /** The version a tag pins; raises with the tag list when unknown. */
  def resolveTag(name: String): Int =
    tags().getOrElse(name, sys.error(
      s"unknown tag '$name' at $root; tags: ${tags().keys.toSeq.sorted.mkString(", ")}"))

  /** Release a tag (its version becomes expirable again). */
  def dropTag(name: String): Unit = {
    val p = tagFile(name)
    require(fs.exists(p), s"unknown tag '$name' at $root")
    fs.delete(p, false)
  }

  private def tagFile(name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid tag name '$name'")
    new Path(new Path(metaDir, "tags"), s"$name.json")
  }

  /** Files that can contain keys changed in `(from, to]`, or None when
    * some commit in the interval changes state NOT attributable to its
    * own new files (COW `merge` rewrites whole buckets, `rebucket` /
    * `rollback` rewrite arbitrarily, legacy/unknown lineage), or an
    * intermediate version is already expired. `Some(Nil)` = the
    * interval is provably key-preserving (maintenance/meta commits
    * only). mergeDeltas commits contribute their delta files; appends
    * their base files — in both, every changed key is a row of the
    * commit's own files, so the union over the interval is a sound
    * (and tight) changed-key superset. */
  private[graft] def intervalChangeFiles(from: Snapshot, to: Snapshot): Option[Seq[DataFile]] = {
    val keyPreserving = Set(
      "compact", "cluster", "zorder", "setStatsColumns", "setBloomColumns",
      "evolveSchema")
    val buf = Seq.newBuilder[DataFile]
    var v = from.version + 1
    while (v <= to.version) {
      val s =
        try snapshot(v)
        catch { case scala.util.control.NonFatal(_) => return None }
      val op = s.lineage.flatMap(n => Option(n.get("operation")).map(_.asText()))
        .getOrElse("")
      if (op == "mergeDeltas" || op == "append") buf ++= s.files.filter(_.seq == v)
      else if (!keyPreserving(op)) return None
      v += 1
    }
    Some(buf.result())
  }

  /** Bucket-pruned point lookup: read only the buckets that can hold
    * the given key tuples (the key hash is computed driver-side with
    * the SAME murmur3 expression the writers bucket by), then filter to
    * the exact keys. At 10^10 rows with 4096 buckets, a 100-key lookup
    * scans ≤100 buckets ≈ 2.4% of the table — composes with the
    * merge-on-read reconstruction, which then aggregates only those
    * buckets' files. `keys` are in declared key-column order. */
  def readKeys(keys: Seq[Seq[Any]], version: Option[Int] = None): DataFrame = {
    val snap = snapshotAt(version)
    require(keys.nonEmpty, "readKeys: empty key set")
    require(keys.forall(_.length == snap.keyColumns.length),
      s"readKeys: each key must have ${snap.keyColumns.length} parts")
    // key schema in DECLARED key-column order (schema field order would
    // silently hash swapped parts for a multi-part key declared out of
    // schema order — wrong buckets, empty or wrong lookups)
    val keySchema = StructType(
      snap.keyColumns.map(n => snap.schema(snap.schema.fieldIndex(n))))
    // bucket ids evaluated DRIVER-side with the same catalyst expression
    // the writers bucket by (pmod(murmur3, n) over the key columns in
    // declared order) — no Spark job per point lookup
    val buckets = driverBuckets(keys, keySchema, snap.nBuckets)
    // LocalRelation (no RDD job) — only used as the broadcast semi-join side
    val keyDf = spark.createDataFrame(
      keys.map(Row.fromSeq).asJava, keySchema)
    val rows = scanOrFold(snap, snap.files.filter(f => buckets.contains(f.bucket)), None, None)
    // Per-column IN filters push into the parquet scan: within the
    // chosen buckets the reader's row-group filter checks each file's
    // min/max, dictionary and bloom filter (bloomColumns) against the
    // requested values and SKIPS row groups that can't hold any key —
    // min/max alone never prunes hash-distributed keys, a bloom does.
    // For multi-part keys the per-column INs over-approximate (cross
    // product of parts); the broadcast semi join restores exactness.
    val pushed =
      if (keys.size > 1000) rows // bound the pushed filter tree; semi join alone
      else snap.keyColumns.zipWithIndex.foldLeft(rows) { case (d, (c, i)) =>
        d.filter(col(c).isin(keys.map(_(i)).distinct: _*))
      }
    pushed.join(broadcast(keyDf), snap.keyColumns, "left_semi")
  }

  /** Top-level column names a predicate reads. */
  private def predAttrs(e: Expression): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val buf = Seq.newBuilder[String]
    e.foreach {
      case a: AttributeReference => buf += a.name
      case u: UnresolvedAttribute => buf += u.name
      case _ =>
    }
    buf.result().distinct
  }

  /** Declared-type lookup for cast-safety in the pruner. */
  private def colTypeOf(snap: Snapshot)(c: String): Option[DataType] =
    snap.schema.fields.find(_.name == c).map(_.dataType)

  /** `files` split into (files of delta-free buckets, files of
    * delta-carrying buckets), less those manifest stats prove cannot
    * hold a row matching `pred`. Delta-free buckets hold final rows and
    * prune per FILE. A delta-carrying bucket's rows are folded, and a
    * folded row can combine column values from several files, so the
    * bucket is dropped only when `pred` cannot match the UNION of its
    * files' ranges (all or none of its files). Unknown stats and
    * unsupported predicate shapes never prune. */
  private[graft] def pruneForPredicate(snap: Snapshot, files: Seq[DataFile],
      pred: Option[Expression]): (Seq[DataFile], Seq[DataFile]) = {
    val (base, mor) = splitMor(files)
    pred.fold((base, mor)) { e =>
      (base.filter { f =>
        StatsPruner.mayMatch(e, StatsPruner.FileStats(
          f.stats.get, f.nulls.get,
          if (f.rows >= 0) Some(f.rows) else None, colTypeOf(snap)))
      }, mor.groupBy(_.bucket).values.filter { fs =>
        StatsPruner.mayMatch(e, mergedStats(fs, colTypeOf(snap)))
      }.flatten.toSeq)
    }
  }

  /** Union of the files' statistics for bucket-granularity MoR pruning; a
    * column's range is known only if EVERY file knows it (a file with
    * unknown bounds can hold anything). Null counts / row counts are only
    * sound for LWW reconstruction, where every final row is one input
    * file's row: no null in any file ⇒ no null in the output, all-null in
    * every file ⇒ all-null output. PATCH folds can COMBINE columns across
    * files (and a presence-violating first patch synthesizes nulls), so a
    * bucket containing any patch file keeps range stats only. */
  private def mergedStats(fs: Iterable[DataFile],
      colType: String => Option[DataType]): StatsPruner.FileStats = {
    def lt(a: Any, b: Any): Boolean = StatsPruner.cmp(a, b).exists(_ < 0)
    val cols = fs.map(_.stats.keySet).reduceOption(_ intersect _).getOrElse(Set.empty)
    val ranges = cols.map { c =>
      val vs = fs.map(_.stats(c))
      c -> vs.reduce[(Any, Any)] { case ((a1, b1), (a2, b2)) =>
        (if (lt(a2, a1)) a2 else a1, if (lt(b1, b2)) b2 else b1)
      }
    }.toMap
    val anyPatch = fs.exists(_.patch)
    val nullCols =
      if (anyPatch) Set.empty[String]
      else fs.map(_.nulls.keySet).reduceOption(_ intersect _).getOrElse(Set.empty)
    val nulls = nullCols.map(c => c -> fs.map(_.nulls(c)).sum).toMap
    val rowCount =
      if (anyPatch || fs.exists(_.rows < 0)) None else Some(fs.map(_.rows).sum)
    StatsPruner.FileStats(ranges.get, nulls.get, rowCount, colType)
  }

  /** DataFrame over an explicit parquet file list through a PRECOMPUTED
    * FileIndex: `spark.read.parquet(paths…)` re-lists every path and,
    * past spark.sql.sources.parallelPartitionDiscovery.threshold (32
    * paths), launches a whole Spark JOB just to list files the manifest
    * already names — measured 100-350 ms of scheduler overhead per read
    * on the commit/reconstruction paths (guide §6: manifest metadata
    * exists precisely to avoid listing). Same scan machinery after
    * resolution (vectorized parquet reader, pushdown, codegen). */
  private[lake] def manifestParquetDf(schema: StructType, relPaths: Seq[String]): DataFrame =
    statusScan(schema, fileStatuses(relPaths))

  private def fileStatuses(relPaths: Seq[String]): Array[org.apache.hadoop.fs.FileStatus] = {
    val fsys = fs
    relPaths.map(p => fsys.getFileStatus(new Path(root, p))).toArray
  }

  private def statusScan(schema: StructType,
      statuses: Array[org.apache.hadoop.fs.FileStatus]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val index = new FileIndex {
      override def rootPaths: Seq[Path] = Seq(new Path(root))
      override def listFiles(
          partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression])
          : Seq[PartitionDirectory] =
        Seq(PartitionDirectory(InternalRow.empty, statuses))
      override def inputFiles: Array[String] = statuses.map(_.getPath.toString)
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = statuses.map(_.getLen).sum
      override def partitionSchema: StructType = StructType(Nil)
    }
    // asNullable mirrors DataSource.resolveRelation: a file may lack a
    // column (schema evolution) or hold nulls the declared schema
    // forbids — the scan must not codegen non-null assumptions
    val rel = HadoopFsRelation(index, StructType(Nil),
      StructType(schema.fields.map(_.copy(nullable = true))), None,
      new ParquetFileFormat, Map.empty)(spark)
    org.apache.spark.sql.graftshim.ofRows(spark, LogicalRelation(rel))
  }

  /** Buckets with deltas must be folded; the rest hold final rows:
    * (files of delta-free buckets, files of delta-carrying buckets). */
  private def splitMor(files: Seq[DataFile]): (Seq[DataFile], Seq[DataFile]) = {
    val deltaBuckets = files.filter(_.delta).map(_.bucket).toSet
    files.partition(f => !deltaBuckets.contains(f.bucket))
  }

  /** The one read path: the current rows of `files` (whole buckets of
    * `snap`), or `columns` of those matching `where`. Files are pruned
    * by manifest stats and split into delta-free and delta-carrying
    * buckets ([[pruneForPredicate]]); the first are scanned, the second
    * folded ([[reconstructRows]]), and a side without files is left
    * out. Both sides read only the requested, predicate and key columns
    * (keys align the sides and cost the fold nothing, as it groups by
    * them): a `.select` above the fold cannot prune past its aggregate,
    * whose buffer carries every payload column it is given — for 2
    * columns of a 100-column table, 2% of the bytes instead of all of
    * them. Columns come in the requested order, or the schema's. */
  private def scanOrFold(snap: Snapshot, files: Seq[DataFile], columns: Option[Seq[String]],
      where: Option[Column]): DataFrame = {
    val out = columns.getOrElse(snap.schema.fieldNames.toSeq)
    val bad = out.filterNot(snap.schema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns: ${bad.mkString(", ")}")
    val pred = where.map(toCatalyst)
    val (base, mor) = pruneForPredicate(snap, files, pred)
    val want = (out ++ pred.toSeq.flatMap(predAttrs) ++ snap.keyColumns).toSet
    val scanCols = snap.schema.fieldNames.toSeq.filter(want.contains)
    val sides =
      (if (base.isEmpty) Nil
      else Seq(manifestParquetDf(snap.schema, base.map(_.path)).select(scanCols.map(col): _*))) ++
        (if (mor.isEmpty) Nil
        else Seq(reconstructRows(snap, mor, scanCols.filterNot(snap.keyColumns.contains))))
    sides.map(d => where.fold(d)(d.filter)).reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snap.schema))
      .select(out.map(col): _*)
  }

  /** Input of the merge-on-read fold: every file of `sides` — base,
    * delta and patch alike — in ONE scan through the patch-delta schema.
    * Base rows read `operation` as 'r'; files without a mask read
    * `_patch_mask` as null. Each side adds a column holding the commit
    * seq of the row's file on that side, null where the file is not on
    * it, looked up by `_metadata.file_path` through
    * [[graft.functions.FileSeq]]: O(1) per row, and neither the plan nor
    * its generated classes depend on how many commits the files span or
    * on their seqs, so the codegen cache hits from commit to commit. The
    * seq cannot live in the data, as an OCC rebase re-stamps it after the
    * write. Each side's map holds every scanned path, keyed as the scan
    * prints it; a row of a file no map holds fails the query rather than
    * fold as absent. */
  private def foldInput(schema: StructType, sides: Seq[(String, Seq[DataFile])]): DataFrame = {
    val maskType = ArrayType(StringType, containsNull = false)
    val scanSchema = StructType(schema.fields ++ Seq(
      StructField("operation", StringType, nullable = true),
      StructField("_patch_mask", maskType, nullable = true)))
    val paths = sides.flatMap(_._2.map(_.path)).distinct
    val statuses = fileStatuses(paths)
    // `_metadata.file_path` re-parses the status path's string form
    val scanPath = paths.zip(statuses.map(s => new Path(s.getPath.toString).toUri.toString))
    // bound once above the scan: `_metadata` referenced from stacked
    // projections is not pruned, and the scan then reads every metadata
    // field, row_index included
    sides.foldLeft(statusScan(scanSchema, statuses)
        .withColumn("_file", col("_metadata.file_path"))
        .withColumn("operation", coalesce(col("operation"), lit("r")))) {
      case (d, (name, fs0)) =>
        val onSide = fs0.map(f => f.path -> f.seq.toLong).toMap
        d.withColumn(name, graft.functions.FileSeq.seqOf(col("_file"),
          scanPath.map { case (p, key) => key -> onSide.getOrElse(p, -1L) }.toMap, root))
    }.drop("_file")
  }

  /** Key and `payloadCols` columns of the current rows of the given
    * (delta-carrying) buckets' files: the `CdcApply.foldImages`
    * reconstruction over one scan. */
  private def reconstructRows(snap: Snapshot, files: Seq[DataFile],
      payloadCols: Seq[String]): DataFrame = {
    val keyCols = snap.keyColumns
    CdcApply.foldImages(foldInput(snap.schema, Seq("_seq" -> files)), keyCols, payloadCols,
        files.exists(_.patch), Seq("_seq"))
      .filter(col("_seq").isNotNull)
      .select(keyCols.map(col) ++ payloadCols.map(c => col(s"_seq.$c").as(c)): _*)
  }

  // ------------------------------------------------------------ write

  /** Files one commit's write tasks reported (seq unset: [[commit]]
    * stamps it), and how long the write took. */
  private case class Staged(files: Seq[DataFile], writeMs: Long = 0L)

  /** What a commit does to the head it was planned on: the files it
    * `staged` and `removed`, how it may rebase if it loses the version
    * race, its own lineage fields and any metadata `edit` of the next
    * snapshot (schema, bucket count, stats columns, properties). */
  private case class Change(policy: Rebase, staged: Staged = Staged(Nil),
      removed: DataFile => Boolean = _ => false,
      lineage: Seq[(String, Any)] = Nil,
      edit: Snapshot => Snapshot = identity)

  /** The one commit path of every table write. Reads the head; returns
    * it as a no-op when it already records `replayKey` (lineage
    * stripped, since it belongs to the PRIOR commit, so callers can tell
    * a replay from a fresh commit); lets `plan` stage its files against
    * it (Left = nothing to commit, returned as is); then publishes the
    * next snapshot — the head's manifests less the `removed` files plus
    * the staged ones, stamped with the commit seq — with optimistic
    * concurrency. A lost version race re-applies the replay check to the
    * new head (a racing driver may have committed the SAME batch, which
    * degenerates to the no-op and leaves this writer's staged files as
    * vacuum-able orphans), then, where the change's [[Rebase]] policy
    * and [[rebaseCheck]] allow, rebuilds the snapshot on the new head in
    * O(metadata): no data is rewritten. Lineage gets the commit's own
    * fields plus `checkpointId`/`batchId` (with a replay key) and
    * `durationMs`, `writeMs`, `newFiles`, `removedFiles`,
    * `reusedManifests`, `newManifests` and `rebaseAttempts`. */
  private def commit(op: String, replayKey: Option[(String, Long)] = None)(
      plan: Snapshot => Either[Snapshot, Change]): Snapshot = {
    val t0 = System.nanoTime()
    val cur = snapshotAt(None)
    def replayed(s: Snapshot) = replayKey.exists { case (id, b) => s.commits.get(id).exists(_ >= b) }
    if (replayed(cur)) return cur.copy(lineage = None)
    val c = plan(cur) match {
      case Left(done) => return done
      case Right(change) => change
    }
    val lineage = lineageNode(op, c.lineage ++
      replayKey.toSeq.flatMap { case (id, b) => Seq("checkpointId" -> id, "batchId" -> b) } ++
      Seq("writeMs" -> c.staged.writeMs, "newFiles" -> c.staged.files.size,
        "durationMs" -> (System.nanoTime() - t0) / 1000000))
    var tries = 0
    def build(base: Snapshot): Snapshot = {
      // a fold's rows are the state as of `cur`: anchored at its version,
      // any interim commit surviving the rebase overlays them on read;
      // every other commit serializes after the commits it rebased over
      val seq = if (c.policy == Fold) cur.version else base.version + 1
      val manifests = nextManifests(base, c.removed, c.staged.files.map(_.copy(seq = seq)))
      val basePaths = base.manifests.map(_.path).toSet
      val reused = manifests.count(m => basePaths(m.path))
      lineage.put("removedFiles", base.files.count(c.removed))
      lineage.put("reusedManifests", reused).put("newManifests", manifests.size - reused)
      lineage.put("rebaseAttempts", tries)
      c.edit(base.copy(version = base.version + 1, manifests = manifests,
        commits = base.commits ++ replayKey, lineage = Some(lineage)))
    }
    var base = cur
    while (true) {
      val attempt = build(base)
      try { writeSnapshot(attempt); return attempt }
      catch {
        case e: ConcurrentCommitException =>
          tries += 1
          if (c.policy == Exclusive || tries > 10) throw e
          val head =
            try currentSnapshot.getOrElse(throw e)
            catch { case scala.util.control.NonFatal(_) => throw e }
          if (replayed(head)) return head.copy(lineage = None)
          rebaseCheck(base, head, c.policy)
          base = head
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stage `rows` for a commit on `cur`: hash-bucket them, route each
    * (bucket, salt) slot of `buckets` to its own write task
    * ([[packedByBucket]]; otherwise every task splits into every bucket →
    * tasks × buckets small files) and write them. */
  private def stage(cur: Snapshot, prefix: String, rows: DataFrame, buckets: Seq[Int],
      delta: Boolean = false): Staged =
    stageLaidOut(cur, prefix, packedByBucket(
      rows.withColumn("_bucket", bucketCol(cur.keyColumns, cur.nBuckets)),
      buckets, filesPerBucket(buckets.size), cur.keyColumns), delta)

  /** Write a frame already carrying `_bucket` into a fresh commit dir;
    * the staged files are the ones its committed write tasks reported
    * ([[CommitWriter]]), so nothing is listed and no footer is read on
    * the driver. The dir is version-tagged for humans and uniquified, so
    * two RACING writers staging the same next version never interleave
    * files in one directory (the loser's staged files are invisible to
    * snapshots and vacuum-able if its rebase aborts). When the snapshot
    * declares `bloomColumns`, each data file gets an adaptively-sized
    * parquet bloom filter per column (parquet-mr sizes it to the file's
    * actual NDV up to the 1 MB cap); the parquet reader's row-group
    * filter consults blooms for `=`/`IN` predicates — [[readKeys]]
    * pushes exactly those. */
  private def stageLaidOut(cur: Snapshot, prefix: String, laidOut: DataFrame,
      delta: Boolean = false): Staged = {
    val rel = s"data/$prefix-${cur.version + 1}-${java.util.UUID.randomUUID().toString.take(8)}"
    val t0 = System.nanoTime()
    val written = CommitWriter.write(laidOut, fs, new Path(root), rel, cur.bloomColumns,
      cur.statsColumns)
    Staged(written.map(w => DataFile(w.path, w.bucket, delta = delta, stats = w.stats,
      nulls = w.nulls, rows = w.rows)), (System.nanoTime() - t0) / 1000000)
  }

  /** Removal by PATH of the files a fold read: files an interim commit
    * adds to the same buckets survive its rebase. */
  private def pathsOf(files: Seq[DataFile]): DataFile => Boolean = {
    val paths = files.map(_.path).toSet
    f => paths(f.path)
  }

  /** Bulk append (initial seed): bucket + write + commit. */
  def append(df: DataFrame, commitId: String = "append", batchId: Long = 0L): Snapshot =
    commit("append", Some((commitId, batchId))) { cur =>
      Right(Change(AppendOnly, stage(cur, "commit", df, 0 until cur.nBuckets)))
    }

  /** OVERWRITE: replace the table's ENTIRE contents with `df` in one
    * atomic commit — the full-refresh / backfill shape (Delta's
    * `mode("overwrite")`). Every current file is removed from the
    * manifests (by path; the bytes stay until [[vacuum]]) and the new
    * bucketed layout published in the same snapshot, so concurrent
    * readers keep snapshot isolation and time travel still reaches the
    * pre-refresh versions. `changes()` across an overwrite interval
    * falls back to the full-state diff (an overwrite can delete any
    * key, so the delta-key tier correctly refuses it).
    *
    * Publish is SINGLE-WRITER (no OCC rebase): an overwrite that lost a
    * version race cannot silently rebase — it would discard the racing
    * writer's commit — so it fails with ConcurrentCommitException for
    * the caller to retry deliberately. Racing INGEST the other way
    * (append/mergeDeltas losing to this overwrite) rebases fine: its
    * rows land on the refreshed base, the same outcome as committing
    * after the refresh. Idempotent on (commitId, batchId). */
  def overwrite(df: DataFrame, commitId: String = "overwrite",
      batchId: Long = 0L): Snapshot =
    commit("overwrite", Some((commitId, batchId))) { cur =>
      Right(Change(Exclusive, stage(cur, "overwrite", df, 0 until cur.nBuckets),
        removed = _ => true))
    }

  /** MERGE a reduced delta batch (output of EnvelopeDecoder.toDeltas:
    * key cols + payload cols + `operation` + `offset`, ≤1 row per key)
    * into the table. Copy-on-write limited to affected buckets: their
    * files and the batch fold through `CdcApply.applyBatch`, whose
    * images replace the buckets; `strictValidate` checks the deltas'
    * first-op preconditions in that fold. A batch holding a key twice
    * raises (`mergeDeltas` folds it to its last row per key, as a read
    * does); prior rows an un-reduced `append` holds twice fold to one.
    *
    * Idempotent on (checkpointId, batchId): replaying a batch that a
    * committed snapshot already records is a no-op — the exactly-once
    * contract used by the streaming `foreachBatch` sink. A lost version
    * race rebases (O(metadata)) when every interim commit touched
    * buckets disjoint from the batch's; an overlap is a genuine
    * lost-update conflict and aborts to the caller.
    */
  def merge(deltas: DataFrame, checkpointId: String, batchId: Long,
      strictValidate: Boolean = false): Snapshot =
    commit("merge", Some((checkpointId, batchId))) { cur =>
      val keyCols = cur.keyColumns
      val payloadCols = cur.payloadColumns
      // deltas are consumed twice (stats pass + merge fold): persist the
      // reduced batch rather than re-running decode+reduce upstream
      val withBucket = deltas.withColumn("_bucket", bucketCol(keyCols, cur.nBuckets))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        // lineage aggregates + affected buckets in ONE pass over the deltas
        val eventsCol: Column =
          if (deltas.columns.contains("n_events")) sum(col("n_events")).cast("long")
          else count(lit(1))
        val tStats0 = System.nanoTime()
        val stats = withBucket.groupBy(col("_bucket"))
          .agg(eventsCol.as("n"),
            sum(when(col("operation") === "d", 1).otherwise(0)).as("n_del"),
            sum(when(col("operation").isin("c", "r"), 1).otherwise(0)).as("n_ins"),
            sum(when(col("operation") === "u", 1).otherwise(0)).as("n_upd"),
            min(col("offset")).as("min_off"), max(col("offset")).as("max_off"),
            count(lit(1)).as("n_keys"))
          .collect()
        val statsMs = (System.nanoTime() - tStats0) / 1000000
        // an empty batch just records the commit
        if (stats.isEmpty) Right(Change(Rewrites(Set.empty), lineage = Seq("events" -> 0L)))
        else {
          val affected = stats.map(_.getInt(0)).toSet
          val (affectedFiles, keptFiles) = cur.files.partition(f => affected.contains(f.bucket))
          // the batch folds above every file's seq (a Fold commit stamps
          // cur.version)
          val merged = CdcApply.applyBatch(foldInput(cur.schema, Seq("_o" -> affectedFiles)),
            withBucket, cur.version + 1L, keyCols, payloadCols,
            affectedFiles.exists(_.patch) || deltas.columns.contains("_patch_mask"),
            strictValidate, unique = Some(("_d", (k: Column) =>
              concat(lit("merge batch holds duplicate key '"), k, lit("'")))))
          // in-bucket salt lifts write parallelism above the affected-bucket
          // count when the cluster has idle slots
          val staged = stage(cur, "commit", merged, affected.toSeq)
          val perBucket = mapper.createArrayNode()
          stats.sortBy(_.getInt(0)).foreach { r =>
            val o = perBucket.addObject()
            o.put("bucket", r.getInt(0)); o.put("events", r.getLong(1))
            o.put("offsetMin", r.getLong(5)); o.put("offsetMax", r.getLong(6))
          }
          Right(Change(Rewrites(affected), staged, f => affected.contains(f.bucket), Seq(
            "events" -> stats.map(_.getLong(1)).sum,
            "keys" -> stats.map(_.getLong(7)).sum,
            "inserts" -> stats.map(_.getLong(3)).sum,
            "updates" -> stats.map(_.getLong(4)).sum,
            "deletes" -> stats.map(_.getLong(2)).sum,
            "offsetMin" -> stats.map(_.getLong(5)).min,
            "offsetMax" -> stats.map(_.getLong(6)).max,
            "affectedBuckets" -> affected.size,
            "rewrittenFiles" -> affectedFiles.size,
            "keptFiles" -> keptFiles.size,
            "statsMs" -> statsMs,
            "bucketLineage" -> perBucket)))
        }
      } finally withBucket.unpersist()
    }

  /** MERGE-ON-READ commit: write the reduced delta batch as bucket-
    * partitioned delta files and append them to the snapshot — nothing is
    * read or rewritten, so commit cost is O(batch) in table size (the
    * copy-on-write `merge` is O(affected buckets' data)). Lineage
    * aggregates are collected by `Dataset.observe` DURING the write job:
    * the batch is consumed exactly once, no persist, no stats pre-pass.
    *
    * Same idempotence contract as `merge`, but a batch holding a key
    * twice is not checked: reads fold it to its last row per key. With
    * `strictValidate`, the batch folds onto the affected buckets' files
    * (`CdcApply.strictBatch`; read amplification but still no rewrite),
    * which check its first-op preconditions. A lost version race ALWAYS
    * rebases (except over layout changes): the staged delta files are
    * re-stamped with the final commit seq, which serializes this batch
    * after the interim commits in the reconstruction order.
    *
    * `autoCompact` > 0 folds a bucket's deltas into a base file once it
    * accumulates that many delta commits, bounding the read tax. */
  def mergeDeltas(deltas: DataFrame, checkpointId: String, batchId: Long,
      strictValidate: Boolean = false, autoCompact: Int = 0): Snapshot = {
    val next = commit("mergeDeltas", Some((checkpointId, batchId))) { cur =>
      val hasPatch = deltas.columns.contains("_patch_mask")
      val keyCols = cur.keyColumns
      val payloadCols = cur.payloadColumns
      val eventsCol: Column =
        if (deltas.columns.contains("n_events")) sum(col("n_events")).cast("long")
        else count(lit(1)).cast("long")
      val withBucket = deltas.withColumn("_bucket", bucketCol(keyCols, cur.nBuckets))
      try {
        val validated = if (strictValidate) {
          // affected buckets are needed up front to read only their state
          val persisted = withBucket.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          val affected = persisted.select(col("_bucket")).distinct()
            .collect().map(_.getInt(0)).toSet
          val files = cur.files.filter(f => affected.contains(f.bucket))
          CdcApply.strictBatch(foldInput(cur.schema, Seq("_o" -> files)), persisted,
            cur.version + 1L, keyCols, payloadCols, files.exists(_.patch))
        } else deltas

        val obs = Observation()
        val aggs = Seq(
          eventsCol.as("events"), count(lit(1)).cast("long").as("keys"),
          sum(when(col("operation").isin("c", "r"), 1L).otherwise(0L)).as("inserts"),
          sum(when(col("operation") === "u", 1L).otherwise(0L)).as("updates"),
          sum(when(col("operation") === "d", 1L).otherwise(0L)).as("deletes"),
          min(col("offset")).as("offsetMin"), max(col("offset")).as("offsetMax")) ++
          // a _patch_mask COLUMN with no actual patch rows (mixed-topic
          // batches are mostly full rows) must not condemn every read of
          // this commit to the patch fold — count real masks in-flight
          (if (hasPatch)
            Seq(sum(when(col("_patch_mask").isNotNull, 1L).otherwise(0L)).as("patchRows"))
          else Nil)
        val outCols = keyCols ++ payloadCols ++ Seq("operation") ++
          (if (hasPatch) Seq("_patch_mask") else Nil)
        val staged = stage(cur, "commit",
          validated.observe(obs, aggs.head, aggs.tail: _*).select(outCols.map(col): _*),
          0 until cur.nBuckets, delta = true)
        val m = obs.get
        // sums/min/max observe as null on an empty batch
        def longOf(k: String, default: Long = 0L): Long =
          Option(m.getOrElse(k, null)).map(_.asInstanceOf[Number].longValue).getOrElse(default)
        Right(Change(AppendOnly,
          staged.copy(files = staged.files.map(_.copy(patch = hasPatch && longOf("patchRows") > 0))),
          lineage = Seq("events", "keys", "inserts", "updates", "deletes").map(k => k -> longOf(k)) ++
            Seq("offsetMin" -> longOf("offsetMin", -1L), "offsetMax" -> longOf("offsetMax", -1L),
              "affectedBuckets" -> staged.files.map(_.bucket).distinct.size)))
      } finally if (strictValidate) withBucket.unpersist()
    }
    val hot =
      if (autoCompact <= 0 || next.lineage.isEmpty) Set.empty[Int]
      else next.files.filter(_.delta).groupBy(_.bucket)
        .collect { case (b, fs0) if fs0.map(_.seq).distinct.size >= autoCompact => b }.toSet
    if (hot.isEmpty) next
    // the RETURNED snapshot carries the MERGE lineage (the caller's
    // per-batch metrics need events/op counts — the compact commit's
    // on-disk lineage stays "compact"), annotated with the compaction
    else compact(Some(hot)).copy(lineage = next.lineage.map(
      _.asInstanceOf[ObjectNode].put("autoCompactedBuckets", hot.size)))
  }

  /** Fold delta files back into base files for the given buckets (all
    * delta-carrying buckets by default). A maintenance commit: logical
    * state is unchanged; the compacted buckets' base+delta files are
    * replaced by one reconstructed base file per bucket. Racing ingest
    * (merge-on-read deltas / appends) does NOT abort it: it rebases, and
    * the interim files overlay the folded ones — compaction can run
    * beside live writers. */
  def compact(buckets: Option[Set[Int]] = None): Snapshot = commit("compact") { cur =>
    val deltaBuckets = cur.files.filter(_.delta).map(_.bucket).toSet
    val target = buckets.map(_.intersect(deltaBuckets)).getOrElse(deltaBuckets)
    if (target.isEmpty) Left(cur)
    else {
      val targetFiles = cur.files.filter(f => target.contains(f.bucket))
      Right(Change(Fold,
        stage(cur, "compact", scanOrFold(cur, targetFiles, None, None), target.toSeq),
        pathsOf(targetFiles), Seq("buckets" -> target.size)))
    }
  }

  /** CLUSTER maintenance commit: rewrite the targeted buckets (default
    * all) with rows RANGE-LAID-OUT on `columns` — outstanding deltas
    * fold in (it is also a compaction), then each bucket's rows are
    * range-partitioned and sorted by `columns`, so sibling files inside
    * a bucket carry narrow, near-disjoint min/max ranges on those
    * columns instead of each spanning the whole domain. Manifest stats
    * ([[read]] with `where`, StatsPruner) then prune range predicates down to
    * the few files whose range overlaps — the difference between
    * "bucket pruning only" and "bucket × range pruning" at 10^10 rows
    * is the fraction of each bucket read by a time-windowed query.
    * Row-group stats inside each file tighten the same way (rows are
    * sorted), so even intra-file parquet skipping engages.
    *
    * Logical state is unchanged (a [[changes]] feed across a cluster
    * commit is empty); bucket routing is unchanged (key hash), so
    * point lookups and MERGE pruning are unaffected. */
  def cluster(columns: Seq[String], buckets: Option[Set[Int]] = None): Snapshot =
    commit("cluster") { cur =>
      require(columns.nonEmpty, "cluster: no columns")
      validateStatsColumns(cur.schema, columns)
      val target = buckets.getOrElse((0 until cur.nBuckets).toSet)
      val targetFiles = cur.files.filter(f => target.contains(f.bucket))
      if (targetFiles.isEmpty) Left(cur.copy(lineage = None))
      else {
        val layout = col("_bucket") +: columns.map(col)
        val rows = scanOrFold(cur, targetFiles, None, None)
          .withColumn("_bucket", bucketCol(cur.keyColumns, cur.nBuckets))
          .repartitionByRange(target.size * filesPerBucket(target.size), layout: _*)
          .sortWithinPartitions(layout: _*)
        Right(Change(Fold, stageLaidOut(cur, "cluster", rows), pathsOf(targetFiles),
          Seq("columns" -> columns.mkString(","), "buckets" -> target.size)))
      }
    }

  /** Z-ORDER maintenance commit: like [[cluster]], but rows are laid
    * out along a MORTON CURVE over `columns` instead of
    * lexicographically — each dimension is quantile-bucketed (equal
    * frequency, one `approxQuantile` stat pass over the targeted rows)
    * and the bucket ids' bits are interleaved, so every file covers a
    * narrow range in EVERY clustered column. Lexicographic layout only
    * tightens the leading column's per-file min/max (a trailing-column
    * predicate still scans everything); z-order makes stats pruning
    * effective for predicates on ANY of the clustered columns — the
    * multi-dimensional version of the cluster() win at 10^10 rows.
    * Columns must be numeric / date / timestamp (quantiles need an
    * order-preserving double mapping). Logical state, bucket routing
    * and the change feed are unaffected (key-preserving commit).
    *
    * The quantile cuts are persisted as the `zorder.spec` table
    * property; `reuseCuts = true` skips the sketch pass and reuses the
    * stored cuts — the INCREMENTAL path for re-zordering hot buckets
    * after ingest (`zorder(cols, buckets = Some(hot), reuseCuts =
    * true)`): layout quality only needs cuts that roughly track the
    * distribution, and files z-ordered under the same cuts stay
    * mutually comparable across commits. Requires a stored spec with
    * the same columns and bits (anything else throws — silently
    * re-sketching would mix two curve geometries). */
  def zorder(columns: Seq[String], buckets: Option[Set[Int]] = None,
      bits: Int = 8, reuseCuts: Boolean = false): Snapshot = commit("zorder") { cur =>
    require(columns.size >= 2 && columns.size <= 6,
      "zorder: 2-6 columns (one column: use cluster())")
    validateStatsColumns(cur.schema, columns)
    def asDouble(c: String): Column = {
      val dt = cur.schema(cur.schema.fieldIndex(c)).dataType
      require(dt != StringType,
        s"zorder column '$c': strings have no order-preserving double mapping; use cluster()")
      dt match {
        case DateType => col(c).cast(TimestampType).cast(DoubleType)
        case _ => col(c).cast(DoubleType)
      }
    }
    val target = buckets.getOrElse((0 until cur.nBuckets).toSet)
    val targetFiles = cur.files.filter(f => target.contains(f.bucket))
    if (targetFiles.isEmpty) Left(cur.copy(lineage = None))
    else {
      // the persist pays for the quantile-sketch + write double pass; under
      // reuseCuts there is only the write pass — persisting would only add
      // a materialization
      val rows0 = scanOrFold(cur, targetFiles, None, None)
      val rows =
        if (reuseCuts) rows0
        else rows0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        val cuts: Array[Array[Double]] =
          if (reuseCuts) {
            val stored = cur.properties.get("zorder.spec").map(parseZorderSpec)
              .getOrElse(sys.error("zorder(reuseCuts=true): no stored zorder.spec " +
                "on this table — run a full zorder(columns) first"))
            require(stored._1 == columns && stored._2 == bits,
              s"zorder(reuseCuts=true): stored spec is over (${stored._1.mkString(",")}, " +
                s"bits=${stored._2}) but (${columns.mkString(",")}, bits=$bits) was requested")
            stored._3
          } else {
            // equal-frequency cuts, ALL dimensions in one GK-sketch pass
            val statDf = rows.select(columns.indices.map(i =>
              asDouble(columns(i)).as(s"_z$i")): _*)
            val nCuts = (1 << bits) - 1
            val probs = (1 to nCuts).map(_.toDouble / (nCuts + 1)).toArray
            statDf.stat
              .approxQuantile(columns.indices.map(i => s"_z$i").toArray, probs, 0.005)
              .map(_.distinct.sorted)
          }
        val zc = graft.functions.ZValue.z(columns.map(asDouble), cuts, bits).as("_z")
        val withZ = rows
          .withColumn("_bucket", bucketCol(cur.keyColumns, cur.nBuckets))
          .withColumn("_z", zc)
        val staged = stageLaidOut(cur, "zorder",
          withZ.repartitionByRange(target.size * filesPerBucket(target.size), col("_bucket"), col("_z"))
            .sortWithinPartitions(col("_bucket"), col("_z"))
            .drop("_z"))
        val spec = if (reuseCuts) Map.empty[String, String] else Map("zorder.spec" -> zorderSpecJson(columns, bits, cuts))
        Right(Change(Fold, staged, pathsOf(targetFiles), Seq(
            "columns" -> columns.mkString(","), "bits" -> bits, "cutsReused" -> reuseCuts,
            "buckets" -> target.size),
          s => s.copy(properties = s.properties ++ spec)))
      } finally rows.unpersist()
    }
  }

  /** `zorder.spec` table property: `{"columns":[…],"bits":n,"cuts":[[…],…]}`. */
  private def zorderSpecJson(columns: Seq[String], bits: Int,
      cuts: Array[Array[Double]]): String = {
    val node = mapper.createObjectNode()
    val cs = node.putArray("columns"); columns.foreach(cs.add)
    node.put("bits", bits)
    val ca = node.putArray("cuts")
    cuts.foreach { dim => val a = ca.addArray(); dim.foreach(a.add) }
    mapper.writeValueAsString(node)
  }

  private def parseZorderSpec(js: String): (Seq[String], Int, Array[Array[Double]]) = {
    val node = mapper.readTree(js)
    (node.get("columns").elements().asScala.map(_.asText()).toSeq,
      node.get("bits").asInt(),
      node.get("cuts").elements().asScala
        .map(_.elements().asScala.map(_.asDouble()).toArray).toArray)
  }

  /** `DELETE FROM ... WHERE pred` as a predicate-scoped copy-on-write
    * commit — the conversation-purge / retention shape. Manifest stats
    * bound the rewrite at FILE granularity where the layout allows:
    *  - delta-free buckets hold key-disjoint final-row files, so only
    *    the files whose min/max MAY match the predicate are rewritten;
    *    sibling files in the same bucket carry over untouched — on a
    *    [[cluster]]ed table a narrow predicate (one conversation, one
    *    time window) rewrites a handful of files out of 10^10 rows;
    *  - buckets with outstanding deltas reconstruct whole (a final row
    *    can combine several files), so the rewrite folds and replaces
    *    the full bucket — also compacting it.
    * SQL `DELETE` semantics: rows where the predicate evaluates NULL
    * are KEPT. [[changes]] across the commit reports the removed keys
    * as `delete` rows (touched-bucket diff tier — rewritten buckets
    * only). Concurrency: a lost version race rebases when interim
    * commits touched disjoint buckets (write-serializable isolation —
    * the predicate applies to the BASE version's state, concurrent
    * inserts elsewhere survive); an overlap aborts. */
  def deleteWhere(pred: Column): Snapshot =
    rewriteWhere(pred, None)

  /** `UPDATE ... SET col = expr WHERE pred`: same stats-bounded
    * copy-on-write shape as [[deleteWhere]]. Assignments may not touch
    * key columns (a key change is a delete + insert — route it through
    * the CDC merge path, where bucket routing follows the key).
    * Assignment expressions are cast to the column's declared type;
    * they may reference any table column (the pre-update row's values). */
  def updateWhere(pred: Column,
      set: Map[String, Column]): Snapshot = {
    require(set.nonEmpty, "updateWhere: no assignments")
    rewriteWhere(pred, Some(set))
  }

  private def rewriteWhere(pred: Column,
      set: Option[Map[String, Column]]): Snapshot = {
    val opName = if (set.isEmpty) "deleteWhere" else "updateWhere"
    commit(opName) { cur =>
      set.foreach { assign =>
        val unknown = assign.keys.filterNot(cur.schema.fieldNames.contains)
        require(unknown.isEmpty, s"updateWhere: unknown columns ${unknown.mkString(", ")}")
        val keyed = assign.keys.filter(cur.keyColumns.contains)
        require(keyed.isEmpty, s"updateWhere: cannot assign key columns ${keyed.mkString(", ")}")
      }
      val e = toCatalyst(pred)
      val unknownAttrs = predAttrs(e).filterNot(cur.schema.fieldNames.contains)
      require(unknownAttrs.isEmpty,
        s"predicate references unknown columns: ${unknownAttrs.mkString(", ")}")
      val (keptBase, keptMor) = pruneForPredicate(cur, cur.files, Some(e))
      val kept = keptBase ++ keptMor
      // stats prove no row matches: a clean no-op, nothing committed
      if (kept.isEmpty) Left(cur.copy(lineage = None))
      else {
        // MoR candidate buckets rewrite whole (reconstruction needs the
        // bucket: the pruner keeps all of its files or none); delta-free
        // candidates rewrite at file granularity — base files within a
        // bucket are key-disjoint, so siblings keep
        val rewriteBuckets = kept.map(_.bucket).toSet
        val obs = Observation()
        val observed = scanOrFold(cur, kept, None, None).observe(obs,
          sum(when(pred, 1L).otherwise(0L)).as("matched"),
          count(lit(1)).cast("long").as("scanned"))
        val out = set match {
          case None =>
            // keep rows where pred is false OR null (SQL DELETE semantics)
            observed.filter(!coalesce(pred, lit(false)))
          case Some(assign) =>
            observed.select(cur.schema.fieldNames.toSeq.map { c =>
              assign.get(c) match {
                case Some(v) =>
                  when(pred, v.cast(cur.schema(c).dataType)).otherwise(col(c)).as(c)
                case None => col(c)
              }
            }: _*)
        }
        val staged = stage(cur, opName, out, rewriteBuckets.toSeq)
        val m = obs.get
        def longOf(k: String): Long =
          Option(m.getOrElse(k, null)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
        // Isolation is write-serializable, the Delta-lake default for
        // this race: the predicate applies to the table state as of this
        // commit's BASE version, so rows a racing writer inserted into
        // untouched buckets survive even if they match the predicate —
        // the delete/update serializes logically BEFORE the concurrent
        // insert. The removal predicate stays sound on the new head
        // because the rebase check guarantees no interim commit touched
        // `rewriteBuckets`.
        Right(Change(Rewrites(rewriteBuckets), staged, pathsOf(kept), Seq(
            "predicate" -> pred.toString,
            "matchedRows" -> longOf("matched"),
            "scannedRows" -> longOf("scanned"),
            "candidateBuckets" -> rewriteBuckets.size,
            "prunedFiles" -> (cur.files.size - kept.size),
            "rewrittenFiles" -> kept.size)))
      }
    }
  }

  /** Re-bucket the table under a new bucket count as ONE maintenance
    * commit: the current state is reconstructed (outstanding deltas fold
    * in) and rewritten hash-bucketed by `newBuckets`. The bucket count
    * chosen at create time must not be a forever constant — at 10^10 rows
    * a table created with 32 buckets makes every bucket huge and caps
    * compaction granularity; growing the table means growing its buckets.
    * Logical state, schema and checkpoint entries are unchanged; readers
    * atomically flip to the new layout; old files become vacuum-able once
    * prior snapshots expire. */
  def rebucket(newBuckets: Int): Snapshot = commit("rebucket") { cur =>
    require(newBuckets >= 1, s"invalid bucket count $newBuckets")
    if (newBuckets == cur.nBuckets) Left(cur.copy(lineage = None))
    else Right(Change(Exclusive,
      stage(cur.copy(nBuckets = newBuckets), "rebucket", scanOrFold(cur, cur.files, None, None),
        0 until newBuckets),
      removed = _ => true,
      lineage = Seq("fromBuckets" -> cur.nBuckets, "toBuckets" -> newBuckets),
      edit = _.copy(nBuckets = newBuckets)))
  }

  // ------------------------------------------------------------ maintenance

  /** Commit history of the retained snapshots: (version, lineage). */
  def history(): Seq[(Int, Option[JsonNode])] =
    listVersions.map(v => (v, snapshot(v).lineage))

  /** History with commit wall-clock and flattened lineage, for the SQL
    * `history` view: (version, committedAtMs (-1 unknown), operation,
    * lineage JSON). */
  def historyDetail(): Seq[(Int, Long, Option[String], Option[String])] =
    listVersions.map { v =>
      val s = snapshot(v)
      (v, s.committedAtMs,
        s.lineage.flatMap(n => Option(n.get("operation")).map(_.asText())),
        s.lineage.map(_.toString))
    }

  /** Roll the table back to a retained earlier version by publishing a
    * NEW snapshot carrying that version's file list and schema — history
    * stays immutable (the bad commits remain readable until expired),
    * readers atomically flip to the restored state, and the rolled-back
    * commits' checkpoint entries are removed so the source batches can
    * be replayed. The recovery path for a bad batch. */
  def rollback(toVersion: Int): Snapshot = {
    val cur = snapshotAt(None)
    require(toVersion < cur.version, s"cannot roll back to $toVersion from ${cur.version}")
    require(listVersions.contains(toVersion),
      s"version $toVersion is expired or unknown; retained versions: " +
        listVersions.mkString("[", ",", "]"))
    val target = snapshot(toVersion)
    val next = target.copy(version = cur.version + 1,
      manifests = nextManifests(target, _ => false, Nil),
      lineage = Some(lineageNode("rollback",
        Seq("toVersion" -> toVersion.toString, "fromVersion" -> cur.version.toString))))
    writeSnapshot(next)
    next
  }

  /** Drop snapshot metadata older than the newest `keepLast` versions.
    * Expired versions are no longer time-travel readable; their
    * exclusively-referenced data files become vacuum-able. Returns the
    * expired version numbers.
    *
    * Registered change-feed consumers ([[changesSince]]) pin retention:
    * a version at or after the SLOWEST consumer's acknowledged position
    * is never expired (the consumer's next increment diffs from that
    * version), so a lagging consumer can always resume instead of
    * re-bootstrapping the whole table — the operational difference
    * between a stalled downstream and a 10^10-row re-sync. Pass
    * `respectConsumers = false` to expire anyway (the lagging
    * consumer's next [[changesSince]] then fails with the re-bootstrap
    * remediation rather than silently losing changes). */
  def expireSnapshots(keepLast: Int, respectConsumers: Boolean = true,
      olderThanMs: Long = 0L): Seq[Int] = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val versions = listVersions
    val floor: Int =
      if (!respectConsumers) Int.MaxValue
      else consumerPositions().values.reduceOption(_ min _).getOrElse(Int.MaxValue)
    val now = System.currentTimeMillis()
    val tagged = tags().values.toSet // tag refs pin their version
    val expired = versions.dropRight(keepLast).filter(_ < floor)
      .filterNot(tagged.contains).filter { v =>
      olderThanMs <= 0L || {
        // age-based retention (time-travel SLA): keep snapshots younger
        // than the horizon; a pre-timestamp legacy snapshot (-1) is by
        // definition older than any horizon
        val ts = snapshot(v).committedAtMs
        ts < 0L || now - ts >= olderThanMs
      }
    }
    expired.foreach(v => fs.delete(versionFile(v), false))
    expired
  }

  /** All registered change-feed consumers and their acknowledged
    * versions. */
  def consumerPositions(): Map[String, Int] = {
    val dir = new Path(metaDir, "consumers")
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.endsWith(".json"))
      .map { s =>
        val id = s.getPath.getName.stripSuffix(".json")
        id -> mapper.readTree(readFully(s.getPath)).get("version").asInt()
      }.toMap
  }

  /** `f` over `items` on a bounded pool (≤ 8 threads), for independent
    * driver-side FS calls that would otherwise run serially; zero or one
    * item runs inline. */
  private def onPool[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(8, items.size))
      try pool.invokeAll(items.map(a => new java.util.concurrent.Callable[B] {
          override def call(): B = f(a)
        }).asJava).asScala.map(_.get()).toSeq
      finally pool.shutdown()
    }

  /** Delete data files not referenced by any RETAINED snapshot — orphans
    * from failed commits and files only expired snapshots referenced —
    * plus manifest files no retained snapshot lists. Returns the number
    * of files deleted (data + manifests).
    *
    * `minAgeMs` is the concurrency guard: an in-flight commit's staged
    * files are not yet referenced by any snapshot and would look like
    * orphans, so vacuum only deletes files older than this. With the
    * default 0 vacuum is SINGLE-WRITER maintenance (must not run beside
    * an in-flight commit); set it above the longest plausible
    * commit-staging duration (e.g. hours) to run it safely alongside
    * live writers — the Delta retention-threshold contract. */
  def vacuum(minAgeMs: Long = 0L): Int = {
    val retained = listVersions.map(snapshot)
    val referenced = retained.flatMap(_.files.map(_.path)).toSet
    val dataDir = new Path(root, "data")
    val now = System.currentTimeMillis()
    var deleted = 0
    // walk with listStatus: `listFiles` builds LocatedFileStatuses, which
    // load each file's permission — on a `file:` root without the native
    // Hadoop library that forks one `ls -ld` per file and directory
    def filesUnder(p: Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).iterator.flatMap(s => if (s.isDirectory) filesUnder(s.getPath) else Iterator(s))
    if (fs.exists(dataDir)) {
      val toDelete = filesUnder(dataDir).filter { f =>
        val p = f.getPath.toString
        val rel = p.substring(p.indexOf(root) + root.length + 1)
        !referenced.contains(rel) && !f.getPath.getName.startsWith("_") &&
          (minAgeMs <= 0L || now - f.getModificationTime >= minAgeMs)
      }.map(_.getPath).toSeq
      // deletes are independent driver-side FS calls — run them on a
      // bounded pool (serial deletion of a large vacuum batch is pure
      // driver wall time, guide §5)
      deleted += onPool(toDelete)(p => fs.delete(p, false)).count(identity)
      // prune now-empty commit directories
      fs.listStatus(dataDir).foreach { d =>
        if (d.isDirectory && filesUnder(d.getPath).isEmpty)
          fs.delete(d.getPath, true)
      }
    }
    // manifest GC: drop manifests only expired snapshots (or failed
    // commits) reference
    val referencedManifests =
      retained.flatMap(_.manifests.map(_.path)).filter(_.nonEmpty).toSet
    fs.listStatus(metaDir).foreach { f =>
      val name = f.getPath.getName
      val rel = s"metadata/$name"
      if (name.startsWith("manifest-") && !referencedManifests.contains(rel) &&
          (minAgeMs <= 0L || now - f.getModificationTime >= minAgeMs)) {
        if (fs.delete(f.getPath, false)) { deleted += 1; manifestCache.remove(manifestKey(rel)) }
      }
    }
    deleted
  }
}

object LakeTable {
  /** How a data commit that lost the version race may rebase onto the
    * new head, and which seq its staged files carry. */
  private sealed trait Rebase
  /** Append-only commits (append, mergeDeltas) serialize after any
    * interim commit: merge-on-read orders by seq, and the rebase
    * re-stamps the staged files with the final version. */
  private case object AppendOnly extends Rebase
  /** Copy-on-write rewrites of `buckets` (merge, deleteWhere,
    * updateWhere) rebase only over interim commits that touched other
    * buckets; re-stamped like AppendOnly. */
  private case class Rewrites(buckets: Set[Int]) extends Rebase
  /** Key-preserving folds (compact, cluster, zorder) rebase only over
    * `maintenanceComposableOps`; their files keep the base version as
    * seq, below any interim commit. */
  private case object Fold extends Rebase
  /** Overwrite, rebucket and metadata changes never rebase: a lost race
    * throws [[ConcurrentCommitException]] for the caller to retry. */
  private case object Exclusive extends Rebase

  private[lake] val manifestCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[LakeTable#DataFile]]

  /** `partitionPreimages(n)(t)` = an Int whose murmur3 hash (seed 42 —
    * what `repartition` applies to a single int column) lands in shuffle
    * partition t of n. Routing a bucketed write by the preimage of its
    * (bucket, salt) slot packs each slot into its own task — see
    * `packedByBucket`. Deterministic; cached per partition count. */
  private val preimageCache =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Int]]
  private[graft] def partitionPreimages(n: Int): Array[Int] =
    preimageCache.getOrElseUpdate(n, {
      val inv = Array.fill(n)(-1)
      var found = 0
      var v = 0
      while (found < n) {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
        val p = ((h % n) + n) % n
        if (inv(p) < 0) { inv(p) = v; found += 1 }
        v += 1
      }
      inv
    })
}
