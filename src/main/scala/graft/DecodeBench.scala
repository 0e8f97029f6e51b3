package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.decode.{DecodeOptions, EnvelopeDecoder}
import graft.gen.BenchGen
import graft.model.CdcSchema

/** Stage-isolation micro-bench for the decode path: separates raw-scan,
  * envelope JSON parse, full typed decode (non-strict/strict), and the
  * LWW reduce, so decode optimizations are judged against the stage they
  * actually touch instead of end-to-end noise. Prints one JSON line.
  *
  * Env: SPARK_GRAFT_BENCH_EVENTS (default 2e6), SPARK_GRAFT_CPUS (8). */
object DecodeBench {
  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SPARK_GRAFT_BENCH_EVENTS", "2000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Scratch.dir("spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rawPath = Scratch.dir("decode-bench").toString + "/raw"
    BenchGen.envelopes(spark, nEvents).write.parquet(rawPath)
    val raw = spark.read.parquet(rawPath)
    val schema = CdcSchema.transcripts

    // force FULL materialization of every output column — a bare count()
    // lets Catalyst prune the decode away entirely (measured 6+ GB/s
    // "parse" rates that were really parquet-metadata counts)
    def sink(df: org.apache.spark.sql.DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); 0L
    }
    def time(body: => Long): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val n = raw.count()
    // warm page cache + JIT once, untimed
    sink(EnvelopeDecoder.decodeRelational(raw, schema,
      DecodeOptions(strict = false, validate = false)))

    val stages = Seq[(String, () => Long)](
      "scan" -> (() => sink(raw)),
      // value-side Jackson parse only (the dominant decode input cost)
      "value_parse" -> (() => sink(raw.filter(col("value").isNotNull).select(
        from_json(col("value").cast("string"),
          EnvelopeDecoder.valueParseType(schema, includeBefore = false)).as("v")))),
      "decode_fast" -> (() => sink(EnvelopeDecoder.decodeRelational(raw, schema,
        DecodeOptions(strict = false, validate = false)))),
      "decode_valid" -> (() => sink(EnvelopeDecoder.decodeRelational(raw, schema,
        DecodeOptions(strict = false, validate = true)))),
      "decode_strict" -> (() => sink(EnvelopeDecoder.decodeRelational(raw, schema,
        DecodeOptions(strict = true, validate = true)))),
      "decode_reduce" -> (() => sink(EnvelopeDecoder.toDeltas(
        EnvelopeDecoder.decodeRelational(raw, schema,
          DecodeOptions(strict = false, validate = false)), schema))),
      // strict apply stage (window lag + assert_true + LastByOffset); its
      // A/B against the object-mode flatMapGroups walker is in BENCH.md
      "strict_deltas_window" -> (() => sink(graft.apply.CdcApply.strictDeltas(
        EnvelopeDecoder.decodeRelational(raw, schema,
          DecodeOptions(strict = true, validate = false)), schema))))

    val results = stages.map { case (name, body) =>
      name -> (1 to 2).map(_ => time(body())).min
    }
    val js = results.map { case (name, sec) =>
      s""""$name":{"sec":$sec,"eventsPerSec":${(n / sec).toLong}}"""
    }.mkString(",")
    println(s"""{"metric":"decode_stages","events":$n,"cores":$cpus,$js}""")
    spark.stop()
  }
}
