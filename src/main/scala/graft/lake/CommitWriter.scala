package graft.lake

import scala.collection.JavaConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.mapreduce.{Job, JobContext, TaskAttemptContext}

import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A data file one write task closed: its path relative to the table
  * root, its bucket and, for a table with stats columns, its row count
  * (-1 otherwise) and [[CommitWriter.footerStats]]. */
private[lake] case class WrittenFile(path: String, bucket: Int, rows: Long,
    stats: Map[String, (Any, Any)], nulls: Map[String, Long])

/** The one data write of every table commit. */
private[lake] object CommitWriter {

  /** Write `df`, which carries an int `_bucket` column, as parquet files
    * under `<root>/<rel>/_bucket=<k>/` and return the files the committed
    * write tasks report. `FileFormatWriter` runs on the frame's executed
    * plan inside its own SQL execution, so AQE applies and the frame's
    * `Observation`s complete (they are filled from the execution's end
    * event). Parquet bloom options reach the writer through the per-write
    * Hadoop conf, as `DataFrameWriter` options would. */
  def write(df: DataFrame, fs: FileSystem, root: Path, rel: String, bloomCols: Seq[String],
      statCols: Seq[String]): Seq[WrittenFile] = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val options =
      if (bloomCols.isEmpty) Map.empty[String, String]
      else Map("parquet.bloom.filter.adaptive.enabled" -> "true") ++
        bloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    if (fs.isInstanceOf[InProcessChmodLocalFs]) {
      hadoopConf.set("fs.file.impl", classOf[InProcessChmodLocalFs].getName)
      hadoopConf.setBoolean("fs.file.impl.disable.cache", true)
    }
    val dir = new Path(root, rel)
    val committer = new LakeCommitProtocol(java.util.UUID.randomUUID().toString,
      dir.toString, rel, statCols)
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft-lake-write")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(session, plan, new MicrosParquetFormat, committer,
        FileFormatWriter.OutputSpec(dir.toString, Map.empty, plan.output),
        hadoopConf, plan.output.filter(_.name == "_bucket"), None, Nil, options)
    }
    committer.committed.sortBy(_.path)
  }

  /** Per-column (min, max) + null counts + row count from a parquet
    * footer, canonical form (Long / Double / String). A column's range is
    * OMITTED (unknown → never prunes) if any row group lacks usable
    * value statistics for it; its null count is OMITTED if any row group
    * has numNulls unset (null counts survive all-null chunks, where the
    * range cannot — an all-null file still prunes `IS NOT NULL`). */
  def footerStats(p: Path, cols: Seq[String], conf: Configuration)
      : (Map[String, (Any, Any)], Map[String, Long], Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val want = cols.toSet
    val acc = scala.collection.mutable.Map[String, (Any, Any)]()
    val bad = scala.collection.mutable.Set[String]()
    val seen = scala.collection.mutable.Map[String, Int]()
    val nullAcc = scala.collection.mutable.Map[String, Long]()
    val nullSeen = scala.collection.mutable.Map[String, Int]()
    var rowCount = 0L
    def canon(v: Any): Option[Any] = v match {
      case i: java.lang.Integer => Some(i.longValue)
      case l: java.lang.Long => Some(l.longValue)
      case f: java.lang.Float => Some(f.doubleValue)
      case d: java.lang.Double => Some(d.doubleValue)
      case b: org.apache.parquet.io.api.Binary => Some(b.toStringUsingUTF8)
      case _ => None
    }
    def lt(a: Any, b: Any): Boolean = StatsPruner.cmp(a, b).exists(_ < 0)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    val nBlocks = try {
      val blocks = reader.getFooter.getBlocks.asScala
      for (blk <- blocks) {
        rowCount += blk.getRowCount
        for (c <- blk.getColumns.asScala) {
          val name = c.getPath.toDotString
          if (want.contains(name)) {
            val st = c.getStatistics
            if (st != null && !st.isEmpty && st.isNumNullsSet) {
              nullSeen(name) = nullSeen.getOrElse(name, 0) + 1
              nullAcc(name) = nullAcc.getOrElse(name, 0L) + st.getNumNulls
            }
            if (!bad.contains(name)) {
              val ok = st != null && !st.isEmpty && st.hasNonNullValue
              val mn = if (ok) canon(st.genericGetMin) else None
              val mx = if (ok) canon(st.genericGetMax) else None
              (mn, mx) match {
                case (Some(a), Some(b)) =>
                  seen(name) = seen.getOrElse(name, 0) + 1
                  acc.get(name) match {
                    case Some((pa, pb)) =>
                      acc(name) = (if (lt(a, pa)) a else pa, if (lt(pb, b)) b else pb)
                    case None => acc(name) = (a, b)
                  }
                case _ => bad += name; acc.remove(name)
              }
            }
          }
        }
      }
      blocks.size
    } finally reader.close()
    // a column missing from some row group (all-null chunk dropped by the
    // writer) has unknown bounds there: keep it only if every block saw it
    (acc.filter { case (n, _) => seen.getOrElse(n, 0) == nBlocks }.toMap,
      nullAcc.filter { case (n, _) => nullSeen.getOrElse(n, 0) == nBlocks }.toMap,
      rowCount)
  }
}

/** Commit protocol of a table write (the shape of Delta's
  * `DelayedCommitProtocol`). Tasks write straight into the commit dir —
  * unique per commit and invisible until the snapshot that lists its
  * files is published — as `<dir>/_bucket=<k>/part-<task>-<attempt>-<job>…`:
  * no `_temporary` tree, no rename, no `_SUCCESS`. A committed task
  * reports its files (with footer stats for `statCols`, read from the
  * file it just closed), and [[committed]] holds only the committed
  * tasks' reports, so a failed or duplicate attempt's file never enters
  * a manifest; it stays behind as an orphan for `vacuum`. */
private[lake] class LakeCommitProtocol(jobId: String, dir: String, rel: String,
    statCols: Seq[String]) extends FileCommitProtocol with Serializable {

  /** Files of the tasks the job committed; set on the driver by commitJob. */
  @transient var committed: Seq[WrittenFile] = Nil
  @transient private var opened: List[(String, Int)] = Nil

  override def setupJob(job: JobContext): Unit = ()

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    committed = msgs.flatMap(_.obj.asInstanceOf[Seq[WrittenFile]])

  override def abortJob(job: JobContext): Unit = ()

  override def setupTask(task: TaskAttemptContext): Unit = opened = Nil

  override def newTaskTempFile(task: TaskAttemptContext, subdir: Option[String],
      spec: FileNameSpec): String = {
    val bucketDir = subdir.getOrElse(throw new IllegalStateException(
      "graft-lake: a table write must be partitioned by _bucket"))
    val attempt = task.getTaskAttemptID
    val name = f"${spec.prefix}part-${attempt.getTaskID.getId}%05d-${attempt.getId}-$jobId${spec.suffix}"
    opened = (s"$bucketDir/$name", bucketDir.stripPrefix("_bucket=").toInt) :: opened
    s"$dir/$bucketDir/$name"
  }

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(opened.reverse.map { case (file, bucket) =>
      if (statCols.isEmpty) WrittenFile(s"$rel/$file", bucket, -1L, Map.empty, Map.empty)
      else {
        val (ranges, nulls, rows) =
          CommitWriter.footerStats(new Path(dir, file), statCols, task.getConfiguration)
        WrittenFile(s"$rel/$file", bucket, rows, ranges, nulls)
      }
    })

  override def abortTask(task: TaskAttemptContext): Unit =
    opened.foreach { case (file, _) =>
      val p = new Path(dir, file)
      try p.getFileSystem(task.getConfiguration).delete(p, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
}

/** Parquet with timestamps written as INT64 micros rather than Spark's
  * default INT96, set in this write's job conf only: INT96 chunks carry
  * no usable footer min/max, so a timestamp stats column would never
  * prune, and micros match the canonical Long form StatsPruner compares
  * timestamp literals in. */
private[lake] class MicrosParquetFormat extends ParquetFileFormat {
  override def prepareWrite(session: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(session, job, options, dataSchema)
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    factory
  }
}

/** Hadoop's checksummed local file system, with permissions set in
  * process. Without the native Hadoop library (absent from Spark's own
  * distributions) `RawLocalFileSystem.setPermission` forks a `chmod`
  * for every file and directory it creates, a few milliseconds each and
  * dozens per commit; this applies the same bits through `java.nio`.
  * Files, `.crc`s and modes on disk are the same. Used for `file:`
  * table roots only. */
class InProcessChmodLocalFs extends LocalFileSystem(new InProcessChmodLocalFs.Raw)

object InProcessChmodLocalFs {
  /** The file system a table root lives on: this one for `file:` roots,
    * the configured one otherwise. */
  def forRoot(root: Path, conf: Configuration): FileSystem = {
    val base = root.getFileSystem(conf)
    if ("file" != base.getUri.getScheme) base
    else { val local = new InProcessChmodLocalFs; local.initialize(base.getUri, conf); local }
  }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (NativeIO.isAvailable || perm.getStickyBit) super.setPermission(p, perm)
      else java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString(perm.toString))
  }
}
