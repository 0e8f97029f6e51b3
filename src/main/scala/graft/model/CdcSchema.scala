package graft.model

import org.apache.spark.sql.types._

/** How a column's value is physically encoded inside a Debezium envelope.
  *
  * Mirrors the coercion matrix the reference implements imperatively in
  * rowFromStringObjectMap (DebeziumTransform.scala:271-468), expressed as
  * declarative metadata so the decoder can build Catalyst expressions.
  */
sealed trait DebeziumEncoding
object DebeziumEncoding {
  /** Value arrives as its natural JSON type (bool/int/long/double/string). */
  case object Direct extends DebeziumEncoding
  /** Boolean encoded as 0/1 integer (MySQL TINYINT(1)). */
  case object BooleanAsInt extends DebeziumEncoding
  /** Date as int32 epoch days (reference :314-327). */
  case object EpochDays extends DebeziumEncoding
  /** Decimal as base64 two's-complement unscaled bytes +
    * schema parameters.scale (org.apache.kafka.connect.data.Decimal,
    * reference :334-341). */
  case object DecimalBytes extends DebeziumEncoding
  /** Decimal as decimal string (reference :342). */
  case object DecimalString extends DebeziumEncoding
  /** io.debezium.time.Timestamp: int64 wall-clock millis re-anchored in
    * the column timezone (reference :412,420). */
  case object TimestampWallClockMs extends DebeziumEncoding
  /** io.debezium.time.MicroTimestamp: int64 micros, truncated to millis
    * (reference :413). */
  case object TimestampMicros extends DebeziumEncoding
  /** ISO-8601 instant string (reference :427 Instant.parse). */
  case object TimestampIsoString extends DebeziumEncoding
  /** io.debezium.time.ZonedTimestamp arriving as int64: micros truncated
    * to millis, no re-anchoring (reference :414,422). Debezium normally
    * emits ZonedTimestamp as an ISO string — use TimestampMessage for the
    * full per-message dispatch. */
  case object TimestampZoned extends DebeziumEncoding
  /** Timestamp dispatched per MESSAGE on the envelope's own schema
    * section (reference :396-438): numeric + name
    * io.debezium.time.{Timestamp, MicroTimestamp, ZonedTimestamp} each
    * decode differently; ISO strings parse directly; numeric without a
    * recognized name errors. This is the reference's actual behavior —
    * the fixed encodings above are opt-in fast paths that skip the
    * schema-section parse. */
  case object TimestampMessage extends DebeziumEncoding
  /** Decimal dispatched per MESSAGE: schema-section type 'bytes' reads
    * base64 two's-complement with `parameters.scale` (default 0) from the
    * message itself (reference :334-341 — a message whose scale differs
    * from the declared column must still decode to the right VALUE);
    * type 'string' parses directly. */
  case object DecimalMessage extends DebeziumEncoding
  /** Mongo extended JSON {"$date": iso} (reference :320,403). */
  case object MongoDate extends DebeziumEncoding
}

/** One declared column of a CDC-ingested table. */
case class CdcColumn(
    name: String,
    dataType: DataType,
    nullable: Boolean,
    encoding: DebeziumEncoding = DebeziumEncoding.Direct,
    keyPart: Boolean = false,
    /** tz used by TimestampWallClockMs re-anchoring (Arc timezoneId). */
    timezoneId: String = "UTC") {

  /** JSON leaf type `from_json` should read for this column (before
    * Debezium-semantic coercion). */
  def rawJsonType: DataType = encoding match {
    case DebeziumEncoding.Direct =>
      dataType match {
        case TimestampType => StringType // ISO string if Direct
        case dt => dt
      }
    case DebeziumEncoding.BooleanAsInt => IntegerType
    case DebeziumEncoding.EpochDays => IntegerType
    case DebeziumEncoding.DecimalBytes => StringType // base64
    case DebeziumEncoding.DecimalString => StringType
    case DebeziumEncoding.TimestampWallClockMs => LongType
    case DebeziumEncoding.TimestampMicros => LongType
    case DebeziumEncoding.TimestampIsoString => StringType
    case DebeziumEncoding.TimestampZoned => LongType
    // string: Spark's JSON parser stringifies any scalar token, so one
    // parse accepts both the numeric and ISO-string wire forms
    case DebeziumEncoding.TimestampMessage => StringType
    case DebeziumEncoding.DecimalMessage => StringType
    case DebeziumEncoding.MongoDate => StructType(Seq(StructField("$date", StringType)))
  }
}

/** Declared schema of a CDC-ingested table (reference: Arc schema JSON,
  * resolved at DebeziumTransform.scala:205-235). The output schema is the
  * user columns + `_topic`/`_offset` lineage columns (reference :237-240).
  */
case class CdcSchema(columns: Seq[CdcColumn]) {
  require(columns.nonEmpty, "CDC schema requires at least one column")
  require(columns.exists(_.keyPart), "CDC schema requires at least one key column")

  def keyColumns: Seq[CdcColumn] = columns.filter(_.keyPart)
  def keyNames: Seq[String] = keyColumns.map(_.name)

  /** Any upper-case letter in a declared name → Postgres messages carry
    * lower-cased field names (reference DebeziumTransform.scala:243,
    * 273-276: "postgres does not support case sensitive column names"). */
  def caseSensitive: Boolean = columns.exists(c => c.name.toLowerCase != c.name)

  private val internalMeta =
    new MetadataBuilder().putBoolean("internal", true).build()

  /** User columns + lineage columns, as written to the lake table. */
  def structType: StructType = StructType(
    columns.map(c => StructField(c.name, c.dataType, c.nullable)) ++ Seq(
      StructField("_topic", StringType, nullable = false, internalMeta),
      StructField("_offset", LongType, nullable = false, internalMeta)))

  /** Additive evolution: append new (nullable) columns. Widening/renames
    * are rejected — matches the lake's evolution rules. */
  def evolve(newColumns: Seq[CdcColumn]): CdcSchema = {
    val existing = columns.map(_.name).toSet
    val added = newColumns.filterNot(c => existing.contains(c.name))
    require(added.forall(_.nullable), "evolved columns must be nullable")
    CdcSchema(columns ++ added)
  }
}

object CdcSchema {
  import DebeziumEncoding._

  /** The north-rule transcripts table: multi-turn conversation / agent
    * transcripts keyed by (conv_id, turn_idx) — BASELINE.json input_hint. */
  val transcripts: CdcSchema = CdcSchema(Seq(
    CdcColumn("conv_id", StringType, nullable = false, Direct, keyPart = true),
    CdcColumn("turn_idx", IntegerType, nullable = false, Direct, keyPart = true),
    CdcColumn("role", StringType, nullable = false, Direct),
    CdcColumn("text", StringType, nullable = false, Direct),
    CdcColumn("tool", StringType, nullable = true, Direct),
    CdcColumn("ts", TimestampType, nullable = false, TimestampMicros)))
}
