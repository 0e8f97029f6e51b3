package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Closed-loop CDC ingest benchmark: one client, one local SparkSession,
  * calls into the engine only through its public API.
  *
  * {{{
  *   Main --workload backfill|serve --seed N --seconds S
  *        --trace 0|1 --cores C --work DIR --out FILE
  * }}}
  *
  * Writes raw samples and counters as JSON to `--out`; `run.py` reduces
  * them to the reported metrics. A phase runs a fixed number of steps,
  * which the workload derives from `--seconds` alone, so both sides of a
  * comparison measure the same batches however fast they run. With
  * `--trace 1` the workload runs two such phases on one session, first
  * untraced, then traced, so the tracing overhead is the difference
  * between the two. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("cores").toInt, req("work"), req("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
    try {
      val wl: Workload = a.workload match {
        case "backfill" => new Backfill(spark, a)
        case "serve" => new Serve(spark, a)
        case other => sys.error(s"unknown workload '$other' (backfill | serve)")
      }
      val ts = System.nanoTime()
      wl.setUp()
      val tw = System.nanoTime()
      wl.warmUp()
      out.put("session_s", sessionS)
      out.put("setup_s", (tw - ts) / 1e9)
      out.put("warmup_s", (System.nanoTime() - tw) / 1e9)
      val steps = wl.steps(a.seconds)
      out.set[ObjectNode]("params", wl.params(mapper).put("steps_per_phase", steps))
      val phases = if (a.trace) Seq(false, true) else Seq(false)
      phases.foreach { traced =>
        val tracer = new Tracer(spark, traced)
        val rec = new Recorder
        val ok = wl.loop(tracer, rec, steps)
        if (ok) rec.attempt(wl.verify(tracer, rec))
        val phase = out.putObject(if (traced) "traced" else "timed")
        rec.toJson(phase)
        if (traced) Layers.toJson(tracer.reduce(), phase,
          new File(a.work, "spans.jsonl").getAbsolutePath)
      }
    } finally {
      Files.write(Paths.get(a.out), mapper.writeValueAsString(out).getBytes(UTF_8))
      spark.stop()
    }
  }
}

/** Raw samples (seconds), counters and operation outcomes of one phase. */
final class Recorder {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val counts = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  var mismatched = 0L

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer[Double]()) += v
  def count(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v

  /** Runs one attempted operation, timed into `metric`. An exception
    * counts as failed and is rethrown so the loop stops. */
  def op[T](metric: String)(body: => T): T = {
    attempted += 1
    val t = System.nanoTime()
    val r = try body catch { case e: Throwable => failed += 1; throw e }
    add(metric, (System.nanoTime() - t) / 1e9)
    r
  }

  /** Runs checks that may throw; an exception counts as one failed
    * operation. */
  def attempt(body: => Unit): Unit =
    try body catch {
      case e: Exception =>
        attempted += 1; failed += 1
        System.err.println(s"[perfbench] check failed: $e")
    }

  /** One oracle comparison; a mismatch is reported on stderr. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { mismatched += 1; System.err.println(s"[perfbench] MISMATCH: $what") }
  }

  def toJson(o: ObjectNode): Unit = {
    val s = o.putObject("samples")
    samples.foreach { case (k, vs) => val arr = s.putArray(k); vs.foreach(arr.add) }
    val c = o.putObject("counts")
    counts.foreach { case (k, v) => c.put(k, v) }
    o.put("attempted", attempted); o.put("failed", failed); o.put("mismatched", mismatched)
  }
}

/** A benchmark workload: set-up, a closed loop of steps, and the final
  * oracle checks. */
abstract class Workload(val spark: SparkSession, val args: Main.Args) {
  protected def freshDir(name: String): String = {
    val d = new File(args.work, name).getAbsolutePath
    FsUtil.delete(spark, d)
    d
  }

  /** Generates the input from the seed and seeds the table. */
  def setUp(): Unit

  /** Runs the engine untimed, so the loop starts with compiled code: the
    * JIT keeps speeding it up for several seconds of work. */
  def warmUp(): Unit

  /** Steps in one phase: a fixed count sized so that a phase takes about
    * `seconds` on a 4-core VM. */
  def steps(seconds: Double): Int

  /** Runs `n` steps; false if an operation failed. Running out of input
    * counts as a mismatch. */
  def loop(tr: Tracer, rec: Recorder, n: Int): Boolean =
    try {
      var done = 0
      while (done < n && step(tr, rec)) done += 1
      rec.check(s"input for $n steps (ran out after $done)", done == n)
      true
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] operation failed: $e")
        e.printStackTrace()
        false
    }

  /** One closed-loop step; false when the prepared input is used up. */
  protected def step(tr: Tracer, rec: Recorder): Boolean

  def verify(tr: Tracer, rec: Recorder): Unit

  def params(m: ObjectMapper): ObjectNode

  /** The lake table the loop writes (its directory is measured). */
  def tableRoot: String
}

object FsUtil {
  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** (bytes, files) under a directory. */
  def usage(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val s = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p)
    (s.getLength, s.getFileCount)
  }
}
