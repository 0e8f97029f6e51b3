package graftbench

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.decode.{DecodeOptions, EnvelopeDecoder}
import graft.gen.{BenchGen, EnvelopeGen}
import graft.gen.EnvelopeGen.{Create, Delete, Op, Read, Turn, Update}
import graft.lake.LakeTable
import graft.model.CdcSchema
import graft.streaming.CdcPipeline

/** One table row as the oracle sees it: user columns, `ts` in epoch
  * millis (the decoder truncates Debezium micros to millis) and the
  * `_offset` of the event that wrote it. */
final case class RowT(conv: String, turn: Int, role: String, text: String,
    tool: String, tsMs: Long, offset: Long)

object RowT {
  /** Columns every read is projected to before comparison. */
  val cols: Seq[org.apache.spark.sql.Column] = Seq(col("conv_id"), col("turn_idx"),
    col("role"), col("text"), col("tool"), unix_millis(col("ts")), col("_offset"))

  def of(r: Row): RowT = RowT(r.getString(0), r.getInt(1), r.getString(2),
    r.getString(3), r.getString(4), r.getLong(5), r.getLong(6))

  def collect(df: DataFrame): Set[RowT] = df.select(cols: _*).collect().map(of).toSet

  def of(t: Turn, offset: Long): RowT =
    RowT(t.convId, t.turnIdx, t.role, t.text, t.tool.orNull, t.tsMicros / 1000, offset)
}

/** Shared engine plumbing: the transcripts table, its pipeline, and the
  * ingest call, which the traced phase splits into the pipeline's own
  * stages (decode, apply, lake merge), each materialised so its work
  * lands in its own span. */
abstract class CdcWorkload(spark: SparkSession, args: Main.Args) extends Workload(spark, args) {
  val schema: CdcSchema = CdcSchema.transcripts
  def autoCompact: Int
  def nBuckets: Int
  val checkpointId = "perfbench"
  /** Last-writer-wins: both workloads ingest without strict validation. */
  val decodeOptions: DecodeOptions = DecodeOptions(strict = false, validate = false)
  protected var table: LakeTable = _
  protected var pipe: CdcPipeline = _
  def tableRoot: String = table.root

  protected def newTable(dir: String): Unit = {
    table = new LakeTable(spark, dir)
    table.create(schema.structType, schema.keyNames, nBuckets)
    pipe = new CdcPipeline(spark, schema, table,
      decodeOptions, checkpointId,
      mergeOnRead = true, autoCompact = autoCompact)
  }

  protected def ingest(tr: Tracer, rec: Recorder, raw: DataFrame, batchId: Long): Int =
    if (!tr.enabled) rec.op("batch_s")(pipe.processBatch(raw, batchId))
    else rec.op("batch_s")(tr.span("streaming.batch") {
      val events = tr.span("decode") {
        materialize(EnvelopeDecoder.decodeRelational(raw, schema, decodeOptions))._1
      }
      val (deltas, n) = tr.span("apply")(materialize(EnvelopeDecoder.toDeltas(events, schema)))
      rec.count("apply.rows_out", n)
      try tr.span("lake.merge") {
        table.mergeDeltas(deltas, checkpointId, batchId, autoCompact = autoCompact).version
      } finally { deltas.unpersist(); events.unpersist() }
    })

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Lake-side counters of the versions (from, to] that one ingest
    * commit produced: compactions (each also becomes a `lake.compact`
    * span from its own recorded duration) and versions no commit of this
    * client accounts for. */
  protected def lakeCounters(tr: Tracer, rec: Recorder, from: Int, to: Int): Unit = {
    val mapper = new ObjectMapper()
    val compacts = table.historyDetail().filter { case (v, _, op, _) =>
      v > from && v <= to && op.contains("compact") }
    compacts.foreach { case (_, at, _, lineage) =>
      val dur = lineage.map(l => mapper.readTree(l).path("durationMs").asDouble(0.0)).getOrElse(0.0)
      tr.addMeasuredSpan("lake.compact", at - dur, at.toDouble)
    }
    rec.count("lake.compactions", compacts.size)
    rec.count("lake.occ_retries", math.max(0, to - from - 1 - compacts.size))
  }

  protected def timedRead(tr: Tracer, rec: Recorder, metric: String, span: String)(
      df: => DataFrame): Set[RowT] =
    rec.op(metric)(tr.span(span)(RowT.collect(df)))

  protected def timedFeed(tr: Tracer, rec: Recorder, v0: Int, v1: Int): Set[(String, RowT)] =
    rec.op("feed_s")(tr.span("lake.feed")(
      table.changes(v0, Some(v1)).select(RowT.cols :+ col("_change_type"): _*)
        .collect().map(r => r.getString(7) -> RowT.of(r)).toSet))

  protected def scanView(pred: String): DataFrame =
    spark.read.format("graft-lake").option("view", "realtime").load(table.root).where(pred)

  /** A range scan of conversations [from, to) through the SQL view. */
  protected def timedScan(tr: Tracer, rec: Recorder, from: String, to: String): Set[RowT] = {
    rec.count("sql.scan_files_total", table.currentSnapshot.get.files.size)
    timedRead(tr, rec, "scan_s", "sql.scan")(scanView(s"conv_id >= '$from' AND conv_id < '$to'"))
  }
}

/** Inputs cut from one seeded `EnvelopeGen.workload`: its snapshot prefix
  * (op `r`) is the table's initial load, and the transactions after it
  * are cut into contiguous offset ranges of `batchEvents` envelopes. The
  * generator's exact fold keeps every batch strict-valid; updates, deletes
  * and re-inserts hit keys earlier batches committed, skewed to hot
  * conversations (Zipf). Offsets are op indices, so they are global and
  * increasing across batches. Envelopes are serialised up front and held
  * in memory, like a broker's log. */
final class GenInput(spark: SparkSession, seed: Long, nConvs: Int, maxTurns: Int,
    nTxns: Int, zipfSkew: Double, batchEvents: Int, partitions: Int) {
  val ops: IndexedSeq[Op] = EnvelopeGen.workload(seed, nConvs, maxTurns, nTxns, zipfSkew).ops
  val nSnap: Int = ops.indexWhere(!_.isInstanceOf[Read])
  /** [from, until) op ranges of the batches. */
  val bounds: IndexedSeq[(Int, Int)] = (nSnap to ops.size - batchEvents by batchEvents)
    .map(s => (s, s + batchEvents))
  private val envelopes: IndexedSeq[Array[Row]] = bounds.map { case (s, e) =>
    (s until e).map { i =>
      val (k, v) = EnvelopeGen.relationalEnvelope(ops(i), "mysql", 1700000000000L + i)
      Row(k.getBytes("UTF-8"), v.getBytes("UTF-8"), "cdc.transcripts", i % partitions,
        i.toLong, new java.sql.Timestamp(1700000000000L + i), 0)
    }.toArray
  }
  val inputBytes: IndexedSeq[Long] = envelopes.map(_.map(_.getAs[Array[Byte]](1).length.toLong).sum)

  /** The snapshot prefix as final table rows. */
  def initialRows(schema: StructType): DataFrame = {
    val rows = (0 until nSnap).map { i =>
      val t = ops(i).asInstanceOf[Read].after
      Row(t.convId, t.turnIdx, t.role, t.text, t.tool.orNull,
        new java.sql.Timestamp(t.tsMicros / 1000), "cdc.transcripts", i.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)
  }

  def raw(b: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(envelopes(b).toSeq, partitions),
      GenInput.rawSchema)
}

object GenInput {
  /** The Kafka record shape the decoder reads. */
  val rawSchema: StructType = StructType(Seq(StructField("key", BinaryType),
    StructField("value", BinaryType), StructField("topic", StringType),
    StructField("partition", IntegerType), StructField("offset", LongType),
    StructField("timestamp", TimestampType), StructField("timestampType", IntegerType)))
}

/** Exact fold of the generator's ops: the live row per key. */
final class Oracle {
  val state = mutable.HashMap[(String, Int), RowT]()
  val seen = mutable.ArrayBuffer[(String, Int)]()
  private val seenSet = mutable.HashSet[(String, Int)]()

  /** Applies ops [from, until); returns before/after of each touched key. */
  def apply(ops: IndexedSeq[Op], from: Int, until: Int): Map[(String, Int), (Option[RowT], Option[RowT])] = {
    val touched = mutable.LinkedHashMap[(String, Int), Option[RowT]]()
    (from until until).foreach { i =>
      val op = ops(i)
      if (!touched.contains(op.key)) touched(op.key) = state.get(op.key)
      if (seenSet.add(op.key)) seen += op.key
      op match {
        case Create(a) => state(op.key) = RowT.of(a, i)
        case Read(a) => state(op.key) = RowT.of(a, i)
        case Update(_, a) => state(op.key) = RowT.of(a, i)
        case Delete(_) => state.remove(op.key)
      }
    }
    touched.map { case (k, before) => k -> (before, state.get(k)) }.toMap
  }

  def rows(keys: Iterable[(String, Int)]): Set[RowT] = keys.flatMap(state.get).toSet
  def convRange(lo: String, hi: String): Set[RowT] =
    state.valuesIterator.filter(r => r.conv >= lo && r.conv < hi).toSet
}

object Oracle {
  /** The change feed a before/after pair per key implies. */
  def feed(diff: Iterable[(Option[RowT], Option[RowT])]): Set[(String, RowT)] =
    diff.flatMap {
      case (None, Some(a)) => Some("insert" -> a)
      case (Some(b), None) => Some("delete" -> b)
      case (Some(b), Some(a)) if a != b => Some("update" -> a)
      case _ => None
    }.toSet
}

/** Reads beside writes: each step ingests one small LWW micro-batch into a
  * seeded merge-on-read table, then makes a point lookup, a range scan
  * through the SQL view and reads the change feed of the batch just
  * committed, each checked against the generator's fold. Per-batch fixed
  * cost dominates the writes (planning, commit metadata, periodic
  * compaction); a write-side change that leaves more files or deltas
  * behind shows up as slower reads. */
final class Serve(spark: SparkSession, args: Main.Args) extends CdcWorkload(spark, args) {
  val autoCompact = 8
  val nBuckets = 8
  val nConvs = 6000
  val maxTurns = 20
  val nTxns = 40000
  val zipfSkew = 2.0
  val batchEvents = 1000
  val lookupKeys = 32
  val scanConvs = 12

  private var input: GenInput = _
  private var oracle: Oracle = _
  private var next = 0
  private val rng = new Random(args.seed ^ 0x5eed)

  def setUp(): Unit = {
    input = new GenInput(spark, args.seed, nConvs, maxTurns, nTxns, zipfSkew, batchEvents,
      args.cores)
    oracle = new Oracle
    oracle.apply(input.ops, 0, input.nSnap)
    newTable(freshDir("table"))
    table.append(input.initialRows(schema.structType))
    next = 0
  }

  /** Half a compaction cycle of full steps, untimed, so the reads have run
    * often enough that the first timed ones are not still warming up. */
  def warmUp(): Unit = {
    val (tr, rec) = (new Tracer(spark, false), new Recorder)
    (0 until autoCompact / 2).foreach(_ => step(tr, rec))
  }

  /** Whole compaction cycles, at least one; a cycle takes 12–28 s. As the
    * warm-up is half a cycle, every phase covers the same batch positions:
    * the second half of one cycle, with the batch that compacts, then the
    * first half of the next. */
  def steps(seconds: Double): Int = autoCompact * math.max(1, math.round(seconds / 20).toInt)

  /** Runs the loop with the lake directory measured around it. */
  override def loop(tr: Tracer, rec: Recorder, n: Int): Boolean = {
    val (b0, f0) = FsUtil.usage(spark, tableRoot)
    val ok = super.loop(tr, rec, n)
    val (b1, f1) = FsUtil.usage(spark, tableRoot)
    rec.count("lake.bytes_added", b1 - b0)
    rec.count("lake.files_added", f1 - f0)
    ok
  }

  protected def step(tr: Tracer, rec: Recorder): Boolean = ingestNext(tr, rec) match {
    case None => false
    case Some(f) =>
      lookup(tr, rec)
      scan(tr, rec)
      feed(tr, rec, f)
      true
  }

  /** Ingests the next batch; returns the versions around it and the
    * oracle's expected change feed, or None when the input is used up. */
  private def ingestNext(tr: Tracer, rec: Recorder): Option[(Int, Int, Set[(String, RowT)])] = {
    if (next >= input.bounds.size) return None
    val b = next
    next += 1
    val v0 = table.currentVersion.get
    val v1 = ingest(tr, rec, input.raw(b), b + 1L)
    val (s, e) = input.bounds(b)
    val diff = oracle.apply(input.ops, s, e)
    rec.count("events", e - s)
    rec.count("decode.input_bytes", input.inputBytes(b))
    lakeCounters(tr, rec, v0, v1)
    Some((v0, v1, Oracle.feed(diff.values)))
  }

  private def lookup(tr: Tracer, rec: Recorder): Unit = {
    val keys = Seq.fill(lookupKeys)(oracle.seen(rng.nextInt(oracle.seen.size))).distinct
    val got = timedRead(tr, rec, "lookup_s", "lake.lookup")(
      table.readKeys(keys.map { case (c, t) => Seq(c, t) }))
    rec.check(s"lookup of ${keys.size} keys", got == oracle.rows(keys))
  }

  private def scan(tr: Tracer, rec: Recorder): Unit = {
    val lo = rng.nextInt(nConvs - scanConvs)
    val (from, to) = (f"conv-$lo%06d", f"conv-${lo + scanConvs}%06d")
    rec.check(s"scan of [$from, $to)", timedScan(tr, rec, from, to) == oracle.convRange(from, to))
  }

  private def feed(tr: Tracer, rec: Recorder, f: (Int, Int, Set[(String, RowT)])): Unit = {
    val (v0, v1, expected) = f
    val got = timedFeed(tr, rec, v0, v1)
    rec.check(s"feed v$v0->v$v1", got == expected)
  }

  def verify(tr: Tracer, rec: Recorder): Unit = {
    val rows = RowT.collect(table.read())
    rec.check(s"final table (${rows.size} rows)", rows == oracle.state.values.toSet)
  }

  def params(m: ObjectMapper): ObjectNode = {
    val o = m.createObjectNode()
    o.put("initial_rows", input.nSnap); o.put("batch_events", batchEvents)
    o.put("batches_prepared", input.bounds.size); o.put("n_convs", nConvs)
    o.put("max_turns", maxTurns); o.put("zipf_skew", zipfSkew)
    o.put("auto_compact", autoCompact); o.put("buckets", nBuckets)
    o
  }
}

/** Replays BenchGen envelopes into an empty table in a few large LWW
  * merge-on-read batches, then compacts; each step is one such round into
  * a fresh table. Decode, reduce and the bucketed write dominate. */
final class Backfill(spark: SparkSession, args: Main.Args) extends CdcWorkload(spark, args) {
  val autoCompact = 0
  val nBuckets = 8
  val targetEvents = 160000L
  val nBatches = 2
  /** Lookups and scans of the probe after the loop, and how often it
    * reads the change feed of every batch. */
  val probeReads = 8
  val feedReads = 2
  private val knobs = new Random(args.seed)
  // the seed varies the skew and delete knobs around BenchGen's defaults
  val hotKeyEvery: Int = 800 + knobs.nextInt(401)
  val deleteEveryNthKey: Int = 7 + knobs.nextInt(9)

  private var rawDir: String = _
  private var events: Array[Long] = _
  private var inputBytes: Array[Long] = _
  private var round = 0

  def setUp(): Unit = {
    rawDir = freshDir("input")
    // cached, as the passes below would each generate it again
    val gen = BenchGen.envelopes(spark, targetEvents, hotKeyEvery = hotKeyEvery,
      deleteEveryNthKey = deleteEveryNthKey).persist(StorageLevel.MEMORY_AND_DISK)
    // BenchGen numbers its log key by key. Renumber it so that keys
    // interleave as in a live source, each key keeping its own order: the
    // i-th event of a key moves to i * (maxOffset + 1) + offset. Later
    // batches then update and delete rows that earlier batches committed.
    val maxOff = gen.agg(max(col("offset"))).head().getLong(0)
    val env = gen.withColumn("offset", (row_number().over(Window.partitionBy(col("key"))
        .orderBy(col("offset"))) - 1).cast("long") * (maxOff + 1) + col("offset"))
      .withColumn("timestamp", timestamp_millis(lit(1700000000000L) + col("offset")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // batches hold equal shares of the log; one file per core in each,
    // so the decode scan uses every core
    val cuts = env.stat.approxQuantile("offset", (1 until nBatches).map(_.toDouble / nBatches).toArray, 0.0)
    val batchOf = cuts.foldLeft(lit(0))((b, c) => b + when(col("offset") > c, 1).otherwise(0))
    gen.unpersist()
    env.withColumn("batch", batchOf).repartitionByRange(nBatches * args.cores, col("offset"))
      .write.partitionBy("batch").parquet(rawDir)
    env.unpersist()
    val per = spark.read.parquet(rawDir).groupBy(col("batch"))
      .agg(count(lit(1)), sum(length(col("value")))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    events = Array.tabulate(nBatches)(b => per(b)._1)
    inputBytes = Array.tabulate(nBatches)(b => per(b)._2)
  }

  /** Two full rounds with reads of each kind between them, untimed: batch
    * times level off only after a few batches, and the first call after a
    * switch between reads and writes is slow. */
  def warmUp(): Unit = {
    step(new Tracer(spark, false), new Recorder)
    warmReads()
    warmReads()
    step(new Tracer(spark, false), new Recorder)
  }

  /** Whole rounds, at least one; a round takes 1.3–3.5 s. */
  def steps(seconds: Double): Int = math.max(1, math.round(seconds / 3.5).toInt)

  /** One read of each kind in the shapes the probe uses (32 keys, a
    * 50-conversation range, the feed of each batch), so the probe's first
    * reads do not pay for the switch from writes to reads. */
  private def warmReads(): Unit = {
    table.readKeys((0 until 32).map(i => Seq(f"conv-$i%08d", 0))).collect()
    scanView("conv_id >= 'conv-00000100' AND conv_id < 'conv-00000150'").collect()
    (1 to nBatches).foreach(b => table.changes(b - 1, Some(b)).collect())
  }

  private def raw(b: Int): DataFrame = spark.read.parquet(s"$rawDir/batch=$b")

  protected def step(tr: Tracer, rec: Recorder): Boolean = {
    if (round > 0) FsUtil.delete(spark, tableRoot)
    round += 1
    newTable(freshDir(s"table-$round"))
    val (b0, f0) = FsUtil.usage(spark, tableRoot)
    rec.op("round_s") {
      (0 until nBatches).foreach(b => ingest(tr, rec, raw(b), b.toLong))
      tr.span("lake.compact")(table.compact())
    }
    val (b1, f1) = FsUtil.usage(spark, tableRoot)
    rec.count("events", events.sum)
    rec.count("decode.input_bytes", inputBytes.sum)
    rec.count("lake.bytes_added", b1 - b0)
    rec.count("lake.files_added", f1 - f0)
    rec.count("lake.compactions", 1)
    true
  }

  /** Plain-Spark oracle, no graft code: the last event of each key in
    * each batch (JSON parsed by Spark's own `from_json`), folded batch by
    * batch into the live rows after every batch. */
  private def oracleStates(): IndexedSeq[Map[(String, Int), RowT]] = {
    val img = StructType(Seq(StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("role", StringType), StructField("text", StringType),
      StructField("tool", StringType), StructField("ts", LongType)))
    val value = StructType(Seq(StructField("payload", StructType(Seq(
      StructField("after", img), StructField("op", StringType))))))
    val key = StructType(Seq(StructField("payload", StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType))))))
    val last = spark.read.parquet(rawDir)
      .select(from_json(col("key").cast("string"), key).getField("payload").as("k"),
        from_json(col("value").cast("string"), value).getField("payload").as("p"),
        col("offset"), col("batch"))
      .withColumn("rn", row_number().over(Window.partitionBy(
        col("k.conv_id"), col("k.turn_idx"), col("batch")).orderBy(desc("offset"))))
      .filter(col("rn") === 1)
      .select(col("batch"), col("k.conv_id"), col("k.turn_idx"), col("p.op"),
        col("p.after.role"), col("p.after.text"), col("p.after.tool"),
        (col("p.after.ts") / 1000).cast("long"), col("offset"))
      .collect().groupBy(_.getInt(0))
    (0 until nBatches).scanLeft(Map.empty[(String, Int), RowT]) { (st, b) =>
      last.getOrElse(b, Array.empty[Row]).foldLeft(st) { (m, r) =>
        val k = (r.getString(1), r.getInt(2))
        if (r.getString(3) == "d") m - k
        else m + (k -> RowT(k._1, k._2, r.getString(4), r.getString(5), r.getString(6),
          r.getLong(7), r.getLong(8)))
      }
    }
  }

  def verify(tr: Tracer, rec: Recorder): Unit = {
    val states = oracleStates()
    val expected = states.last
    rec.check(s"final table (${expected.size} rows)",
      RowT.collect(table.read()) == expected.values.toSet)
    warmReads()
    val rng = new Random(args.seed)
    val keys = states.flatMap(_.keys).distinct.sorted
    val convs = keys.map(_._1).distinct
    (0 until probeReads).foreach { _ =>
      val ks = Seq.fill(32)(keys(rng.nextInt(keys.size))).distinct
      val got = timedRead(tr, rec, "lookup_s", "lake.lookup")(
        table.readKeys(ks.map { case (c, t) => Seq(c, t) }))
      rec.check(s"lookup of ${ks.size} keys", got == ks.flatMap(expected.get).toSet)
      val i = rng.nextInt(convs.size - 50)
      val (lo, hi) = (convs(i), convs(i + 50))
      rec.check(s"scan of [$lo, $hi)", timedScan(tr, rec, lo, hi) ==
        expected.valuesIterator.filter(r => r.conv >= lo && r.conv < hi).toSet)
    }
    // batch b committed version b (version 0 is the empty table)
    val wants = (1 to nBatches).map { b =>
      val (before, after) = (states(b - 1), states(b))
      b -> Oracle.feed((before.keySet ++ after.keySet).toSeq.map(k => (before.get(k), after.get(k))))
    }
    (0 until feedReads).foreach(_ => wants.foreach { case (b, want) =>
      rec.check(s"feed v${b - 1}->v$b", timedFeed(tr, rec, b - 1, b) == want)
    })
  }

  def params(m: ObjectMapper): ObjectNode = {
    val o = m.createObjectNode()
    o.put("events_per_round", events.sum); o.put("batches", nBatches)
    o.put("hot_key_every", hotKeyEvery); o.put("delete_every_nth_key", deleteEveryNthKey)
    o.put("buckets", nBuckets)
    o
  }
}
