package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.sources
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, StreamSinkProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}

import graft.decode.DecodeOptions
import graft.model.ArcSchemaParser
import graft.streaming.CdcPipeline

/** Spark-native SQL surface for [[LakeTable]] snapshots:
  *
  * {{{
  *   spark.read.format("graft-lake").load(root)
  *   spark.read.format("graft-lake").option("versionAsOf", 3).load(root)
  *   CREATE TEMPORARY VIEW t USING `graft-lake` OPTIONS (path '<root>')
  * }}}
  *
  * Implemented the way Delta/Iceberg expose their V1 read path: a
  * [[HadoopFsRelation]] over a custom [[FileIndex]], NOT a row-producing
  * custom reader. Spark's own FileSourceStrategy plans the scan, so the
  * vectorized parquet reader, whole-stage codegen, column pruning and
  * parquet predicate pushdown (row-group stats/dictionary/bloom) all
  * apply unchanged; the lake's contribution is [[LakeFileIndex]], which
  * answers `listFiles(dataFilters)` from manifest metadata — snapshot
  * isolation (only committed files are listed) plus StatsPruner
  * file skipping driven by the SAME catalyst predicates the scan
  * pushes down. At 10^10 rows the planner never touches the
  * filesystem: one manifest read + in-memory stats evaluation replaces
  * directory listing, and a time-windowed query plans only the files
  * whose range overlaps.
  *
  * Two views, mirroring Hive/Hudi's read-optimized vs real-time
  * split, selected per snapshot (option `view`, default `auto`):
  *  - READ-OPTIMIZED (every bucket compacted): the HadoopFsRelation
  *    path above — vectorized reader, codegen, parquet pushdown.
  *  - REAL-TIME (outstanding merge-on-read deltas): reconstruction is
  *    a shuffle+aggregate plan a file scan cannot express, so the
  *    relation falls back to [[LakeMorRelation]] — a
  *    PrunedFilteredScan that plans `LakeTable.read` with the pushed
  *    columns and filters, keeping manifest stats pruning and column
  *    pruning PAST the fold (the scan reads only the requested +
  *    predicate columns), at the cost of a non-codegen Row boundary
  *    at the relation edge.
  * `view=readOptimized` restores the strict behavior (delta-carrying
  * snapshots rejected with the compact() remediation);
  * `view=realtime` forces the fold path even when compacted.
  */
class LakeDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake"

  private def opt(parameters: Map[String, String], name: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  private def tableFor(ctx: SQLContext, parameters: Map[String, String]): LakeTable = {
    val root = opt(parameters, "path").getOrElse(
      sys.error("graft-lake: 'path' option is required (the table root)"))
    new LakeTable(ctx.sparkSession, root)
  }

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val table = tableFor(ctx, parameters)
    def flag(name: String) = opt(parameters, name).exists(_.toBoolean)
    val meta = LakeMetaRelation.selected(ctx, table, flag,
      opt(parameters, "versionAsOf").map(_.toInt))
    if (meta.isDefined) return meta.get
    if (flag("readChangeFeed")) {
      // batch SQL view of the change feed (Delta's readChangeFeed
      // shape): the interval diff as a relation, for pure-SQL consumers
      val from = opt(parameters, "startingVersion").map(_.toInt).getOrElse(
        sys.error("graft-lake: readChangeFeed requires 'startingVersion' " +
          "(the committed version the feed starts AFTER)"))
      return new LakeChangesRelation(ctx, table, from,
        opt(parameters, "endingVersion").map(_.toInt))
    }
    // time travel by version number or by named tag ref
    val version = opt(parameters, "versionAsOf").map(_.toInt)
      .orElse(opt(parameters, "tagAsOf").map(table.resolveTag))
    val snap = table.snapshotAt(version)
    val hasDeltas = snap.files.exists(_.delta)
    def fileRelation = {
      val index = new LakeFileIndex(spark, table, version)
      HadoopFsRelation(
        location = index,
        partitionSchema = StructType(Nil),
        dataSchema = index.schema,
        bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = Map.empty)(spark)
    }
    opt(parameters, "view").getOrElse("auto") match {
      case "auto" =>
        if (hasDeltas) new LakeMorRelation(ctx, table, snap.version) else fileRelation
      case "readOptimized" =>
        require(!hasDeltas,
          s"graft-lake: v${snap.version} at ${table.root} has outstanding " +
            "merge-on-read deltas; view=readOptimized serves only the " +
            "compacted layout — run LakeTable.compact() first, or drop the " +
            "option for the real-time view")
        fileRelation
      case "realtime" => new LakeMorRelation(ctx, table, snap.version)
      case other => sys.error(
        s"graft-lake: unknown view '$other' (auto | readOptimized | realtime)")
    }
  }

  // ------------------------------------------------------ batch write

  /** `df.write.format("graft-lake").mode(...).save(root)` — batch
    * DataFrame writes of FINAL rows (not CDC envelopes; envelopes go
    * through the streaming sink or CdcPipeline).
    *
    *  - first write to an empty root CREATES the table from the frame's
    *    schema (`keys` option required; `nBuckets`/`statsColumns`/
    *    `bloomColumns` optional) and seeds it;
    *  - `mode("append")` → [[LakeTable.append]];
    *  - `mode("overwrite")` → [[LakeTable.overwrite]] (atomic full
    *    refresh, prior versions still time-travelable);
    *  - `ErrorIfExists` (the `save` default) / `Ignore` follow Spark
    *    semantics.
    *
    * Each write commits under a FRESH commit id by default so repeated
    * appends append (plain Spark semantics); pass `checkpointId` +
    * `batchId` options to opt into the lake's idempotent-replay
    * contract (a replayed (checkpointId, batchId) is a no-op). */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val table = tableFor(ctx, parameters)
    val exists = table.currentVersion.isDefined
    val commitId = opt(parameters, "checkpointId")
      .getOrElse(s"sql-write-${java.util.UUID.randomUUID().toString.take(8)}")
    val batchId = opt(parameters, "batchId").map(_.toLong).getOrElse(0L)
    def csv(name: String): Seq[String] =
      opt(parameters, name).map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    if (!exists) {
      val keys = csv("keys")
      require(keys.nonEmpty,
        s"graft-lake write: no table at ${table.root} — 'keys' option is " +
          "required to create one")
      table.create(data.schema, keys,
        nBuckets = opt(parameters, "nBuckets").map(_.toInt).getOrElse(32),
        statsColumns = csv("statsColumns"), bloomColumns = csv("bloomColumns"))
      table.append(data, commitId, batchId)
    } else mode match {
      case SaveMode.Append =>
        table.append(alignToSnapshot(table, data), commitId, batchId)
      case SaveMode.Overwrite =>
        table.overwrite(alignToSnapshot(table, data), commitId, batchId)
      case SaveMode.ErrorIfExists => sys.error(
        s"graft-lake: table already exists at ${table.root} " +
          "(mode is ErrorIfExists — use append or overwrite)")
      case SaveMode.Ignore => // table exists: write nothing, per contract
    }
    createRelation(ctx, parameters)
  }

  /** Align an incoming batch-writer frame to the table's declared
    * schema by NAME (reordering tolerated, lossless up-casts applied) — a
    * renamed or missing column, or one whose type does not up-cast to
    * the column's (`Cast.canUpCast`: a string into a long would write
    * nulls with ANSI off), fails loudly here instead of writing parquet
    * inconsistent with the snapshot schema that only surfaces later as
    * nulls or read-time cast errors. Mirrors GraftInsertCommand's
    * BY NAME logic. */
  private def alignToSnapshot(table: LakeTable, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val fields = table.currentSnapshot.get.schema.fields
    val missing = fields.map(_.name)
      .filterNot(n => df.columns.exists(_.equalsIgnoreCase(n)))
    require(missing.isEmpty, s"graft-lake write: dataframe is missing table " +
      s"columns ${missing.mkString(", ")} (table schema is fixed at create; " +
      "evolve the table first to add columns)")
    val extra = df.columns
      .filterNot(c => fields.exists(_.name.equalsIgnoreCase(c)))
    require(extra.isEmpty, s"graft-lake write: dataframe has columns not in " +
      s"the table: ${extra.mkString(", ")} (evolve the table first)")
    val lossy = fields.flatMap { f =>
      val from = df.schema.find(_.name.equalsIgnoreCase(f.name)).get.dataType
      if (Cast.canUpCast(from, f.dataType)) None
      else Some(s"${f.name} (${from.simpleString} -> ${f.dataType.simpleString})")
    }
    require(lossy.isEmpty, s"graft-lake write: columns do not up-cast to the " +
      s"table's types: ${lossy.mkString(", ")} (cast them explicitly first)")
    df.select(fields.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  // ------------------------------------------------------ streaming CDF

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), tableFor(ctx, parameters).snapshotAt(None).feedSchema)

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new LakeChangeSource(ctx, tableFor(ctx, parameters),
      opt(parameters, "startingVersion").map(_.toInt),
      opt(parameters, "maxVersionsPerBatch").map(_.toInt))

  // ------------------------------------------------------ streaming sink

  /** `envelopes.writeStream.format("graft-lake")` — the FULL CDC ingest
    * pipeline (decode → validate → LWW reduce → MERGE) as a declarative
    * streaming sink. Options: `path` (table root; auto-created from the
    * declared schema when absent), `schemaJson` (Arc schema) + `keys`
    * (comma-separated key columns), `connector` (required — a stream's
    * first event cannot be sniffed, reference :554-565), and the
    * CdcPipeline knobs `strict`/`validate`/`mergeOnRead`/`autoEvolve`/
    * `autoCompact`/`nBuckets`/`checkpointId`. Exactly-once: the lake's
    * idempotent (checkpointId, batchId) commit makes engine-replayed
    * micro-batches no-ops — same anchor the foreachBatch path uses. */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    val spark = ctx.sparkSession
    val table = tableFor(ctx, parameters)
    val schemaJson = opt(parameters, "schemaJson").getOrElse(
      sys.error("graft-lake sink: 'schemaJson' (Arc schema) is required"))
    val keys = opt(parameters, "keys")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(sys.error("graft-lake sink: 'keys' is required"))
    val cdcSchema = ArcSchemaParser.parse(schemaJson, keys)
    val connector = opt(parameters, "connector").getOrElse(
      sys.error("graft-lake sink: 'connector' is required for streams"))
    if (table.currentVersion.isEmpty)
      table.create(cdcSchema.structType, cdcSchema.keyNames,
        nBuckets = opt(parameters, "nBuckets").map(_.toInt).getOrElse(32))
    def flag(name: String, default: Boolean): Boolean =
      opt(parameters, name).map(_.toBoolean).getOrElse(default)
    val pipe = new CdcPipeline(spark, cdcSchema, table,
      DecodeOptions(
        strict = flag("strict", true),
        validate = flag("validate", true),
        connector = Some(connector)),
      checkpointId = opt(parameters, "checkpointId").getOrElse("graft-lake-sink"),
      mergeOnRead = flag("mergeOnRead", false),
      autoCompact = opt(parameters, "autoCompact").map(_.toInt).getOrElse(8),
      autoEvolve = flag("autoEvolve", false))
    new LakeCdcSink(pipe)
  }
}

/** V1 streaming sink delegating each micro-batch to
  * [[CdcPipeline.processBatch]] (decode → apply → idempotent commit). */
class LakeCdcSink(val pipeline: CdcPipeline) extends Sink {
  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit =
    pipeline.processBatch(graftshim.asBatchDataFrame(data), batchId)
  override def toString: String = s"LakeCdcSink[${pipeline.table.root}]"
}

/** Structured Streaming CDF source: `spark.readStream
  * .format("graft-lake").load(root)` tails the table's change feed —
  * V1 `Source` with the TABLE VERSION as the stream offset, so the
  * streaming engine's checkpoint (offset log + commit log) anchors
  * exactly-once delivery of the feed with zero source-side state: on
  * restart the engine hands back the checkpointed version and the
  * batch re-plans deterministically (snapshot diff of immutable
  * versions).
  *
  * The first batch BOOTSTRAPS (full snapshot as `insert` rows) unless
  * `startingVersion` is given, in which case the feed starts from that
  * committed version (0 = everything since table creation). Each
  * subsequent micro-batch is `changes(lastVersion, headVersion)` —
  * bucket-bounded by the manifest file-diff and read in one scan,
  * O(touched data) not O(table). Schema is pinned at stream start
  * (evolved columns appear to new streams; running streams keep their
  * declared projection). */
class LakeChangeSource(ctx: SQLContext, table: LakeTable,
    startingVersion: Option[Int],
    maxVersionsPerBatch: Option[Int] = None) extends Source {

  private val declared = table.snapshotAt(None).feedSchema

  /** Highest version this source has offered or served — the base for
    * `maxVersionsPerBatch` rate limiting (Delta's maxFilesPerTrigger
    * shape: bound each micro-batch to k commit intervals so a stream
    * catching up over a long table history doesn't plan one giant
    * batch). Best-effort: the first batch after a RESTART is uncapped
    * (the checkpointed position lives with the engine, not here), and
    * the bootstrap snapshot is inherently one batch. */
  private var lastOffered: Option[Int] = None

  override def schema: StructType = declared

  override def getOffset: Option[V1Offset] =
    table.currentVersion.map { head =>
      val next = maxVersionsPerBatch match {
        case Some(k) =>
          require(k >= 1, s"maxVersionsPerBatch must be >= 1, got $k")
          lastOffered.orElse(startingVersion)
            .map(b => math.min(head, b + k)).getOrElse(head)
        case None => head
      }
      lastOffered = Some(next)
      LongOffset(next.toLong)
    }

  private def versionOf(o: V1Offset): Int = o match {
    case LongOffset(v) => v.toInt
    case SerializedOffset(json) => json.trim.toInt // restart: engine replays raw json
    case other => other.json.trim.toInt
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val to = versionOf(end)
    lastOffered = Some(math.max(lastOffered.getOrElse(-1), to))
    val feed = start.map(versionOf).orElse(startingVersion)
      .fold(table.insertFeed(to))(table.changes(_, Some(to)))
    // pin the stream's declared projection (pre-evolution streams keep
    // their columns; the feed's to-schema may have grown)
    val projected = feed.select(declared.fieldNames.map(col).toSeq: _*)
    graftshim.internalCreateDataFrame(ctx,
      projected.queryExecution.toRdd, declared)
  }

  override def stop(): Unit = ()
}

/** The table's metadata as relations — one row per entry, built on the
  * driver from snapshot metadata, no data read (Iceberg's metadata
  * tables) — chosen by an option set to 'true':
  * {{{
  *   CREATE TEMPORARY VIEW h USING `graft-lake` OPTIONS (path '<root>', history 'true')
  * }}}
  *  - `history` (`DESCRIBE HISTORY`): version | committed_at | operation
  *    | details — one row per retained snapshot; `details` is the full
  *    commit lineage (op counts, offset ranges, per-bucket breakdowns)
  *    as JSON for ad-hoc SQL extraction;
  *  - `tags` (Iceberg `table$refs`): tag | version | committed_at, the
  *    PINNED snapshot's commit time (what the tag preserves);
  *  - `files` (Iceberg `table$files`, `versionAsOf` honored): path |
  *    bucket | seq | delta | patch | records | stats | null_counts, the
  *    manifest inventory; `stats`/`null_counts` carry the per-column
  *    footer-harvested min/max and null counts as JSON — the inputs
  *    StatsPruner skips files by, so layout quality (clustering ranges,
  *    file sizing, delta backlog per bucket) is auditable in plain SQL. */
class LakeMetaRelation(ctx: SQLContext, name: String, override val schema: StructType,
    rows: () => Seq[Row]) extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def buildScan(): RDD[Row] = ctx.sparkContext.parallelize(rows(), 1)
  override def toString: String = name
}

object LakeMetaRelation {
  /** The view whose option is on (`isOn`), if any; `files` lists `version`. */
  def selected(ctx: SQLContext, table: LakeTable, isOn: String => Boolean,
      version: Option[Int]): Option[LakeMetaRelation] = {
    def view(name: String, fields: StructField*)(rows: => Seq[Row]) =
      if (!isOn(name)) None
      else Some(new LakeMetaRelation(ctx, s"LakeMetaRelation[$name ${table.root}]",
        StructType(fields), () => rows))
    def ts(ms: Long) = if (ms < 0) null else new java.sql.Timestamp(ms)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def json(m: Map[String, _]): String =
      if (m.isEmpty) null
      else {
        val node = mapper.createObjectNode()
        m.toSeq.sortBy(_._1).foreach {
          case (k, (mn, mx)) => node.put(k, s"[$mn, $mx]")
          case (k, v) => node.put(k, v.toString)
        }
        mapper.writeValueAsString(node)
      }
    view("history", StructField("version", IntegerType, false),
        StructField("committed_at", TimestampType), StructField("operation", StringType),
        StructField("details", StringType)) {
      table.historyDetail().map { case (v, at, op, det) => Row(v, ts(at), op.orNull, det.orNull) }
    } orElse view("tags", StructField("tag", StringType, false),
        StructField("version", IntegerType, false), StructField("committed_at", TimestampType)) {
      table.tags().toSeq.sortBy(_._1).map { case (tag, v) =>
        Row(tag, v, ts(table.snapshot(v).committedAtMs))
      }
    } orElse view("files", StructField("path", StringType, false),
        StructField("bucket", IntegerType, false), StructField("seq", IntegerType, false),
        StructField("delta", BooleanType, false), StructField("patch", BooleanType, false),
        StructField("records", LongType), StructField("stats", StringType),
        StructField("null_counts", StringType)) {
      table.snapshotAt(version).files.map(f => Row(f.path, f.bucket, f.seq, f.delta, f.patch,
        if (f.rows < 0) null else f.rows, json(f.stats), json(f.nulls)))
    }
  }
}

/** Batch SQL view of the change feed between two committed versions:
  * {{{
  *   CREATE TEMPORARY VIEW ch USING `graft-lake` OPTIONS (
  *     path '<root>', readChangeFeed 'true',
  *     startingVersion '3', endingVersion '7')   -- ending optional
  * }}}
  * The scan IS [[LakeTable.changes]] — one scan and one two-sided fold
  * over the manifest-bounded files (delta-key / touched-bucket tiers),
  * one row per changed key with `_change_type`; schema follows the `to`
  * snapshot. Versions are immutable, so the relation is deterministic
  * and safely re-plannable (an omitted endingVersion pins the head AT
  * RELATION CREATION). */
class LakeChangesRelation(ctx: SQLContext, table: LakeTable,
    fromVersion: Int, toVersion: Option[Int]) extends BaseRelation with TableScan {

  private val resolvedTo: Int = toVersion.orElse(table.currentVersion)
    .getOrElse(sys.error(s"graft-lake: no table at ${table.root}"))

  override def sqlContext: SQLContext = ctx

  override val schema: StructType = table.snapshot(resolvedTo).feedSchema

  override def buildScan(): RDD[Row] =
    table.changes(fromVersion, Some(resolvedTo)).rdd

  override def toString: String =
    s"LakeChangesRelation[${table.root} v$fromVersion..v$resolvedTo]"
}

/** REAL-TIME view of a merge-on-read snapshot: a V1
  * [[PrunedFilteredScan]] whose buildScan plans the lake's own
  * reconstruction read. The scan's pushed columns and filters reach
  * BELOW the fold — `LakeTable.read` scans only the requested +
  * predicate + key columns and StatsPruner-skips files/buckets the
  * predicate cannot match — so SQL over an uncompacted table pays the
  * fold only for the data it actually touches. All filters are
  * re-applied by Spark above the relation (default unhandledFilters),
  * so partial predicate translation is sound. */
class LakeMorRelation(ctx: SQLContext, val table: LakeTable, snapVersion: Int)
    extends BaseRelation with PrunedFilteredScan {

  private val snap = table.snapshot(snapVersion)

  override def sqlContext: SQLContext = ctx

  override def schema: StructType = snap.schema

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    // a filter that fails to translate (exotic literal type, unknown
    // shape) is just not pushed — Spark re-applies it above
    val pred = filters.toSeq.flatMap(f =>
      try toColumn(f)
      catch { case scala.util.control.NonFatal(_) => None }).reduceOption(_ && _)
    // zero-column scans (count(*)) still need the fold to run: read the
    // first key column, emit empty rows
    val cols =
      if (requiredColumns.nonEmpty) requiredColumns.toSeq
      else snap.keyColumns.take(1)
    val df = table.read(Some(snapVersion), Some(cols), pred)
    if (requiredColumns.nonEmpty) df.rdd else df.rdd.map(_ => Row.empty)
  }

  /** Strict source-filter → Column translation: None when any node of
    * the tree has no exact equivalent (the whole filter is then simply
    * not pushed — Spark re-evaluates it above). Strictness keeps `Not`
    * sound: negating a RELAXED child would drop matching rows. Dotted
    * column names are skipped (`col` would parse them as nested). */
  private def toColumn(f: Filter): Option[Column] = {
    def c(name: String): Option[Column] =
      if (name.contains(".")) None else Some(col(name))
    f match {
      case sources.EqualTo(a, v) => c(a).map(_ === lit(v))
      case sources.EqualNullSafe(a, v) => c(a).map(_ <=> lit(v))
      case sources.GreaterThan(a, v) => c(a).map(_ > lit(v))
      case sources.GreaterThanOrEqual(a, v) => c(a).map(_ >= lit(v))
      case sources.LessThan(a, v) => c(a).map(_ < lit(v))
      case sources.LessThanOrEqual(a, v) => c(a).map(_ <= lit(v))
      case sources.In(a, vs) => c(a).map(_.isin(vs.toSeq: _*))
      case sources.IsNull(a) => c(a).map(_.isNull)
      case sources.IsNotNull(a) => c(a).map(_.isNotNull)
      case sources.StringStartsWith(a, p) => c(a).map(_.startsWith(p))
      case sources.StringEndsWith(a, p) => c(a).map(_.endsWith(p))
      case sources.StringContains(a, p) => c(a).map(_.contains(p))
      case sources.And(l, r) =>
        for { a <- toColumn(l); b <- toColumn(r) } yield a && b
      case sources.Or(l, r) =>
        for { a <- toColumn(l); b <- toColumn(r) } yield a || b
      case sources.Not(inner) => toColumn(inner).map(!_)
      case _ => None
    }
  }

  override def toString: String = s"LakeMorRelation[${table.root} v$snapVersion]"
}

/** Manifest-backed [[FileIndex]]: lists a committed snapshot's data
  * files (never the filesystem — orphans from failed commits are
  * invisible by construction) and prunes them against the scan's
  * pushed-down data filters via [[StatsPruner]]. */
class LakeFileIndex(spark: SparkSession, val table: LakeTable,
    version: Option[Int]) extends FileIndex {

  private val snap = table.snapshotAt(version)
  require(!snap.files.exists(_.delta),
    s"graft-lake: v${snap.version} at ${table.root} has outstanding " +
      "merge-on-read deltas; the SQL relation serves the read-optimized " +
      "layout — run LakeTable.compact() first, or read the real-time view " +
      "via LakeTable.read()")

  def schema: StructType = snap.schema

  /** FileStatus per data file, resolved once at index construction (the
    * planner may call listFiles repeatedly). */
  private val statuses: Map[String, FileStatus] = {
    val fs = new Path(table.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    snap.files.map(f => f.path -> fs.getFileStatus(new Path(table.root, f.path))).toMap
  }

  override def rootPaths: Seq[Path] = Seq(new Path(table.root))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // delta-free by construction: every kept file is a final-row file
    val (kept, _) = table.pruneForPredicate(snap, snap.files, dataFilters.reduceOption(And))
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(f => statuses(f.path)).toArray))
  }

  override def inputFiles: Array[String] =
    snap.files.map(f => s"${table.root}/${f.path}").toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.values.map(_.getLen).sum

  override def partitionSchema: StructType = StructType(Nil)
}
