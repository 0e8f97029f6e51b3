package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Auxiliary measurement harness for the optimization rounds (guide §1):
  * NOT the judged bench (graft.Bench is frozen). Modes:
  *
  *  - `explain <outDir> [suffix] [q1,q2,...]` — build each query and write
  *    its final DataFrame's `.explain("formatted")` to
  *    `<outDir>/<name>_<suffix>.txt` (default suffix "before"). For
  *    pipeline-style gates the commits run as construction side effects;
  *    the captured plan is the judged final read. What differs from run
  *    to run is masked ([[maskPlan]]), so the plans of two checkouts
  *    compare with a plain `diff`.
  *  - `prof [q1,q2,...] [reps]` — run each query (count() action, same as
  *    Bench) under a job listener; print per-query wall time plus a
  *    breakdown of every Spark job (description, duration) so multi-action
  *    gates show where the time goes.
  */
object BenchExtra {

  private class JobTimer extends SparkListener {
    case class J(id: Int, desc: String, start: Long, var end: Long = -1L)
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, J]()
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(js.jobId) = J(js.jobId, desc, js.time)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(je.jobId).foreach(_.end = je.time)
    }
    def drain(): Seq[(Int, String, Long, Long, Long)] = synchronized {
      val out = jobs.values.toSeq.map(j => (j.id, j.desc, j.end - j.start, j.start, j.end))
      jobs.clear(); out
    }
  }

  /** `plan` with expression, plan and RDD ids, source line numbers,
    * scratch table roots (a prefix plus random digits), commit-dir ids,
    * data file names and the commit-seq maps keyed by them replaced by
    * fixed tokens. */
  def maskPlan(plan: String): String = Seq(
    "#\\d+" -> "#N",
    "plan_id=\\d+" -> "plan_id=N",
    "RDD\\[\\d+\\]" -> "RDD[N]",
    "\\.scala:\\d+" -> ".scala:N",
    "(/[A-Za-z_-]+)\\d{6,}" -> "$1N",
    "(/[a-z]+-\\d+)-[0-9a-f]{8}" -> "$1-C",
    "part-[^/\\s,\\]\\)}=]+" -> "part-F",
    "\\{[^{}]*part-F[^{}]*\\}" -> "{seqs}"
  ).foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sql.GraftLakeExtensions")
      .config("spark.local.dir", Scratch.dir("spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val mode = args.headOption.getOrElse("prof")
    def namesArg(s: String): Seq[String] =
      if (s.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else s.split(",").toSeq

    mode match {
      case "explain" =>
        val outDir = args(1)
        val suffix = if (args.length > 2) args(2) else "before"
        val names = namesArg(if (args.length > 3) args(3) else "")
        new java.io.File(outDir).mkdirs()
        names.foreach { name =>
          val t0 = System.nanoTime()
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            val plan = maskPlan(df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
            val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
            try w.write(plan) finally w.close()
            System.err.println(f"[explain] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2fs")
          } catch {
            case e: Throwable =>
              System.err.println(s"[explain] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      case "prof" =>
        val names = namesArg(if (args.length > 1) args(1) else "")
        val reps = if (args.length > 2) args(2).toInt else 1
        val timer = new JobTimer
        spark.sparkContext.addSparkListener(timer)
        for (r <- 1 to reps; name <- names) {
          timer.drain()
          val t0 = System.nanoTime()
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            val built = System.nanoTime()
            val n = df.count()
            val done = System.nanoTime()
            Thread.sleep(50) // let listener events drain
            val jobs = timer.drain()
            println(f"== $name rep=$r rows=$n total=${(done - t0) / 1e9}%.3fs " +
              f"build=${(built - t0) / 1e9}%.3fs action=${(done - built) / 1e9}%.3fs jobs=${jobs.size}")
            // gap = driver-side time since the previous job finished
            // (planning, codegen, commit metadata, footer reads)
            var prevEnd = t0 / 1000000
            jobs.foreach { case (id, desc, ms, start, end) =>
              val d = if (desc.length > 70) desc.take(70) else desc
              println(f"   job#$id%-4d gap=${math.max(0, start - prevEnd)}%5dms run=${ms}%5dms  $d")
              prevEnd = math.max(prevEnd, end)
            }
          } catch {
            case e: Throwable =>
              println(s"== $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      case other => sys.error(s"unknown mode '$other'")
    }
    spark.stop()
  }
}
