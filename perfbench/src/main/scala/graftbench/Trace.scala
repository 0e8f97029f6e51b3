package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: name, start, end (epoch ms, fractional) and the
  * span that caused it (-1 for a root). */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, var endMs: Double)

/** Spans around the benchmark's own calls into the engine, plus the Spark
  * work attributed to them:
  *  - jobs by job group (each span sets its id as the group while open),
  *  - query planning phases (analysis, optimization, planning) from a
  *    QueryExecutionListener, by the time each phase started,
  *  - whole-stage codegen compile time from Spark's CodeGenerator log
  *    lines, by the time each compile ended,
  *  - shuffle bytes written and "number of files read" scan metrics, by
  *    the job group of the job or SQL execution that produced them.
  * Everything is kept in memory and reduced once the run ends. A disabled
  * tracer only runs the body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private case class Job(group: Int, startMs: Long, endMs: Long)
  private val jobs = mutable.HashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val execJob = mutable.HashMap[Long, Int]()
  private val shuffleBytes = mutable.HashMap[Int, Long]().withDefaultValue(0L)
  private val filesRead = mutable.HashMap[Long, Long]().withDefaultValue(0L)
  private val planPhases = new ConcurrentLinkedQueue[(Double, Double)]()
  private val compiles = new ConcurrentLinkedQueue[(Double, Double)]()
  private val extraSpans = mutable.ArrayBuffer[Span]()

  private def groupOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(groupOf(e.properties), e.time, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execJob.getOrElseUpdate(id.toLong, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      Option(e.stageInfo.taskMetrics).foreach(m =>
        shuffleBytes(e.stageInfo.stageId) += m.shuffleWriteMetrics.bytesWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates =>
        val n = u.accumUpdates.collect {
          case (id, v) if org.apache.spark.SparkInternals.accumulatorName(id).contains("number of files read") => v
        }.sum
        if (n > 0) synchronized { filesRead(u.executionId) += n }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        if (phase == "analysis" || phase == "optimization" || phase == "planning")
          planPhases.add((s.startTimeMs.toDouble, s.durationMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val CodegenLine = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(ev: LogEvent): Unit = ev.getMessage.getFormattedMessage match {
      case CodegenLine(ms) => compiles.add((ev.getTimeMillis.toDouble, ms.toDouble))
      case _ =>
    }
  }
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = ctx.getLogger(codegenLogger)
    logger.addAppender(appender)
    logger.setLevel(org.apache.logging.log4j.Level.INFO)
    logger.setAdditive(false)
  }

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), nowMs, 0.0)
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Adds a span measured by the engine itself (a commit's own duration):
    * its jobs and phases are re-attributed from the span it lies in. */
  def addMeasuredSpan(name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) extraSpans += Span(-1, name, -1, startMs, endMs)

  /** Per-layer results: for each span name, its summed self time, job
    * time, driver gap, planning and codegen time and job count, plus
    * shuffle bytes and scan files read per span name. */
  def reduce(): Tracer.Result = {
    if (!enabled) return Tracer.Result(Nil, Map.empty, Map.empty, Map.empty)
    org.apache.spark.SparkInternals.waitForListeners(sc)
    val all = mutable.ArrayBuffer[Span]() ++= spans
    // engine-measured spans become children of the innermost span that
    // holds them; that span's jobs inside the interval move to the child
    extraSpans.foreach { x =>
      val host = innermost(all, x.startMs + (x.endMs - x.startMs) / 2)
      val child = Span(all.size, x.name, host.map(_.id).getOrElse(-1), x.startMs, x.endMs)
      all += child
      host.foreach { h =>
        jobs.foreach { case (id, j) =>
          if (j.group == h.id && j.startMs >= x.startMs && j.startMs < x.endMs)
            jobs(id) = j.copy(group = child.id)
        }
      }
    }
    val children = all.groupBy(_.parent)
    def covered(s: Span): Double = union(children.get(s.id).toSeq.flatten
      .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
    val jobsBy = jobs.values.groupBy(_.group)
    val stats = mutable.LinkedHashMap[String, Array[Double]]()
    all.foreach { s =>
      val self = (s.endMs - s.startMs) - covered(s)
      val js = jobsBy.getOrElse(s.id, Nil)
      val jobTime = union(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)).toSeq)
      val a = stats.getOrElseUpdate(s.name, new Array[Double](6))
      a(0) += self / 1e3
      a(1) += jobTime / 1e3
      a(2) += math.max(0.0, self - jobTime) / 1e3
      a(5) += js.size
    }
    def attribute(events: Iterable[(Double, Double)], slot: Int): Unit =
      events.foreach { case (t, ms) =>
        innermost(all, t).foreach(s => stats.get(s.name).foreach(_(slot) += ms / 1e3))
      }
    attribute(planPhases.asScala, 3)
    attribute(compiles.asScala, 4)
    val byId = all.map(s => s.id -> s.name).toMap
    def nameOfJob(job: Option[Int]): Option[String] =
      job.flatMap(jobs.get).flatMap(j => byId.get(j.group))
    val shuffle = shuffleBytes.toSeq.flatMap { case (st, b) => nameOfJob(stageJob.get(st)).map(_ -> b) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val files = filesRead.toSeq.flatMap { case (e, n) => nameOfJob(execJob.get(e)).map(_ -> n) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    Tracer.Result(all.toSeq, stats.view.mapValues(_.toSeq).toMap, shuffle, files)
  }

  private def innermost(all: Iterable[Span], t: Double): Option[Span] = {
    val byId = all.map(x => x.id -> x).toMap
    def depth(s: Span): Int = Iterator.iterate(s.parent)(p => byId.get(p).map(_.parent).getOrElse(-1))
      .takeWhile(_ >= 0).size
    all.filter(s => s.startMs <= t && t < s.endMs).maxByOption(s => (depth(s), s.startMs))
  }

  /** Total length of a union of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

object Tracer {
  /** `layers`: span name → (self_s, job_s, gap_s, plan_s, codegen_s, jobs). */
  final case class Result(spans: Seq[Span], layers: Map[String, Seq[Double]],
      shuffleBytes: Map[String, Long], filesRead: Map[String, Long])
}

/** Per-layer metrics of a traced phase, and the trace files. */
object Layers {
  /** Span names, in the order the layer table lists them. */
  val Spans = Seq("streaming.batch", "decode", "apply", "lake.merge", "lake.compact",
    "lake.lookup", "sql.scan", "lake.feed")
  private val Fields = Seq("self_s", "job_s", "gap_s", "plan_s", "codegen_s", "jobs")
  private val FilesRead = Map("lake.lookup" -> "lake.lookup_files_read",
    "lake.feed" -> "lake.feed_files_read", "sql.scan" -> "sql.scan_files_read")

  def toJson(r: Tracer.Result, phase: com.fasterxml.jackson.databind.node.ObjectNode,
      spansFile: String): Unit = {
    val out = phase.putObject("layers")
    Spans.foreach { s =>
      val v = r.layers.getOrElse(s, Seq.fill(Fields.size)(0.0))
      Fields.zip(v).foreach { case (f, x) => out.put(s"$s.$f", x) }
    }
    out.put("apply.shuffle_bytes", r.shuffleBytes.getOrElse("apply", 0L))
    FilesRead.foreach { case (s, m) => out.put(m, r.filesRead.getOrElse(s, 0L)) }
    val w = new java.io.PrintWriter(spansFile, "UTF-8")
    try r.spans.foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }
}
