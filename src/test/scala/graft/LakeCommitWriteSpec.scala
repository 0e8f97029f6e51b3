package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.toCatalyst
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

/** Local files under a `failfs:` scheme. While [[FailFs.armed]], closing
  * a data file of bucket 0 fails after its bytes are on disk — a write
  * task that dies after creating a file. */
class FailFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failfs:///")
  // the local statuses load their permissions through a `file:` URI
  private def plain(s: FileStatus) = new FileStatus(s.getLen, s.isDirectory,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    failing(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    failing(f, super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  private def failing(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!(FailFs.armed && f.getName.startsWith("part-") && f.getParent.getName == "_bucket=0")) out
    else new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = out.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def close(): Unit = { out.close(); throw new java.io.IOException("injected close failure") }
    }, null)
}

object FailFs { @volatile var armed = false }

/** The table write path: tasks write straight into the commit dir and
  * report their files; the write job's settings stay out of the session;
  * modes on disk are Hadoop's; and no commit forks a process. */
class LakeCommitWriteSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val tsSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("at", TimestampType, nullable = true)))

  private def batch(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("at"))

  private def deltas(lo: Long, hi: Long): DataFrame =
    batch(lo, hi).withColumn("operation", lit("u")).withColumn("offset", col("id"))

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def parquetFiles(dir: String): Seq[JPath] = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  test("concurrent table writes get micros timestamps; the session and a user write keep INT96") {
    val key = "spark.sql.parquet.outputTimestampType"
    assert(spark.conf.get(key) == "INT96")
    val tables = Seq.fill(2) {
      val t = new LakeTable(spark, tmpDir("lake-ts"))
      t.create(tsSchema, Seq("id"), nBuckets = 2, statsColumns = Seq("at"))
      t
    }
    val userDir = tmpDir("user-parquet") + "/out"
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var done = false
    val poller = new Thread(() => while (!done) { seen.add(spark.conf.get(key)); Thread.sleep(1) })
    poller.start()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = tables.zipWithIndex.map { case (t, i) =>
      Future((0 until 3).foreach(b => t.append(batch(b * 1000L, (b + 1) * 1000L), s"w$i", b)))
    } :+ Future(batch(0, 1000).write.parquet(userDir))
    try writes.foreach(Await.result(_, scala.concurrent.duration.Duration(300, "s")))
    finally { done = true; poller.join() }
    assert(seen.asScala == Set("INT96"), s"the session saw $key = ${seen.asScala}")
    val cut = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + 2100))
    tables.foreach { t =>
      val snap = t.currentSnapshot.get
      assert(snap.files.forall(_.stats.contains("at")), "every table file has timestamp stats")
      val (a, b, total) = t.pruneForPredicate(snap, toCatalyst(col("at") >= lit(cut)))
      assert(a.size + b.size < total, "a timestamp range predicate prunes files")
    }
    val userTypes = parquetFiles(userDir).map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(p.toUri), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getSchema.getType(Array("at"): _*).asPrimitiveType
        .getPrimitiveTypeName.name
      finally r.close()
    }
    assert(userTypes.nonEmpty && userTypes.forall(_ == "INT96"), s"user write types: $userTypes")
  }

  test("a failed write task: head unchanged, no manifest lists its files, vacuum removes them") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failfs.impl", classOf[FailFs].getName)
    try {
      val local = tmpDir("lake-failfs")
      val t = new LakeTable(spark, s"failfs:$local")
      t.create(tsSchema, Seq("id"), nBuckets = 4)
      t.append(batch(0, 200))
      val head = t.currentSnapshot.get
      FailFs.armed = true
      try intercept[Exception](t.mergeDeltas(deltas(0, 200), "cp", 0L))
      finally FailFs.armed = false
      assert(t.currentVersion.contains(head.version))
      val referenced = head.files.map(f => s"$local/${f.path}").toSet
      assert(t.history().map(_._1).map(t.snapshot).flatMap(_.files)
        .forall(f => referenced(s"$local/${f.path}")))
      val orphans = parquetFiles(local).map(_.toString).filterNot(referenced)
      assert(!orphans.exists(_.contains("/_bucket=0/")), s"the failed task left $orphans")
      assert(t.vacuum() == orphans.size)
      assert(parquetFiles(local).map(_.toString).toSet == referenced)
      assert(t.read().count() == 200)
    } finally conf.unset("fs.failfs.impl")
  }

  test("a file: table keeps Hadoop's modes: 0644 files and checksums, 0755 dirs") {
    val root = tmpDir("lake-modes")
    val t = new LakeTable(spark, root)
    t.create(tsSchema, Seq("id"), nBuckets = 2, statsColumns = Seq("at"))
    t.append(batch(0, 100))
    t.mergeDeltas(deltas(0, 50), "cp", 0L)
    t.tag("t1")
    val s = Files.walk(java.nio.file.Paths.get(root))
    val paths = try s.iterator().asScala.toList.tail finally s.close()
    val modes = paths.map(p => p -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    val (dirs, files) = modes.partition { case (p, _) => Files.isDirectory(p) }
    assert(files.exists(_._1.toString.endsWith(".parquet")) &&
      files.exists(_._1.getFileName.toString.endsWith(".parquet.crc")) &&
      files.exists(_._1.toString.contains("/metadata/")))
    assert(dirs.exists(_._1.getFileName.toString.startsWith("_bucket=")))
    files.foreach { case (p, m) => assert(m == "rw-r--r--", s"$p") }
    dirs.foreach { case (p, m) => assert(m == "rwxr-xr-x", s"$p") }
    assert(!paths.exists { p =>
      val n = p.getFileName.toString
      n == "_temporary" || n == "_SUCCESS" || n == "version-hint.text"
    })
  }

  /** The command lines of the processes `body` starts (JFR
    * `jdk.ProcessStart`). */
  private def processesDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("commit-procs", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
        .map(e => String.valueOf(e.getString("command"))).toSeq
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("commits fork no chmod process") {
    val t = new LakeTable(spark, tmpDir("lake-procs"))
    t.create(tsSchema, Seq("id"), nBuckets = 2)
    val chmods = processesDuring {
      t.append(batch(0, 100))
      t.mergeDeltas(deltas(0, 50), "cp", 0L, autoCompact = 2)
      val snap = t.mergeDeltas(deltas(50, 100), "cp", 1L, autoCompact = 2)
      assert(snap.lineage.exists(_.has("autoCompactedBuckets")))
      t.merge(deltas(0, 10), "cow", 0L)
      t.tag("t1")
    }.filter(_.contains("chmod"))
    if (chmods.nonEmpty)
      fail(s"${chmods.size} chmod processes, e.g. ${chmods.take(3).mkString("; ")}")
  }

  test("expireSnapshots and vacuum start no process") {
    val t = new LakeTable(spark, tmpDir("lake-vacuum-procs"))
    t.create(tsSchema, Seq("id"), nBuckets = 4)
    (0 until 4).foreach(i => t.append(batch(i * 50L, i * 50L + 50)))
    // a copy-on-write merge leaves the rewritten files to the expired
    // snapshots only
    t.merge(deltas(0, 200), "cow", 0L)
    var deleted = 0
    val procs = processesDuring {
      assert(t.expireSnapshots(keepLast = 1).nonEmpty)
      deleted = t.vacuum()
      assert(t.vacuum() == 0)
    }
    if (procs.nonEmpty)
      fail(s"${procs.size} processes, e.g. ${procs.take(3).mkString("; ")}")
    assert(deleted > 0)
    assert(t.read().count() == 200)
  }
}
