package graft.decode

import java.time.{ZoneId, ZonedDateTime}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{CdcColumn, CdcSchema, DebeziumEncoding => E}
import graft.functions.BinaryToDecimal.binaryToDecimal

/** Options for envelope decoding.
  *
  * @param strict  also decode `payload.before` and enforce the reference's
  *                null-shape rules (before null for c/r, after null for d —
  *                DebeziumTransform.scala:581,590); required for strict
  *                chain validation downstream.
  * @param validate enforce per-column nullability (missing/null value on a
  *                non-nullable field errors, reference :307-448) and the
  *                null-shape rules via `raise_error`. Off = fast path.
  * @param connector the stream's connector id when known up front
  *                ("mysql"/"postgresql"/"oracle"). Postgres lower-cases
  *                message field names when the declared schema is
  *                case-sensitive (reference :243,273-287). With
  *                `Some(connector)` the folding is a PLAN-time choice
  *                (cheapest: one name per parsed field); with `None` the
  *                relational decoder dispatches PER MESSAGE on the
  *                envelope's own `payload.source.connector` — both name
  *                casings are parsed and each row picks by its connector,
  *                so one decoded view serves a topic mixing mysql/oracle
  *                with postgresql (stronger than the reference's
  *                per-partition memoization :554-565, which mis-decodes a
  *                partition whose connectors actually differ). Use
  *                `Some("mixed")` on [[graft.decode.MixedTopic]] when
  *                MongoDB messages share the topic too.
  */
case class DecodeOptions(strict: Boolean = true, validate: Boolean = true,
    connector: Option[String] = None)

/** Decodes Debezium change-event envelopes into the typed event IR.
  *
  * Unlike the reference's per-partition Jackson `mapPartitions`
  * (DebeziumTransform.scala:531-655 — an optimizer-opaque object boundary),
  * the relational path here is pure Catalyst: one byte-level envelope
  * split (`EnvelopeSlices` — the ~70%-of-bytes schema header never
  * reaches Jackson), `from_json` over just the row images, then
  * per-column coercion expressions. Predicate pushdown, column pruning
  * and whole-stage codegen all survive, and AQE sees real statistics.
  *
  * Event IR columns (mirror of eventSchema, reference :244-254):
  *   key:string, offset:long, connector:string, operation:string,
  *   before:struct, after:struct, keyMask:array<string>
  * where before/after = user columns + `_topic`,`_offset` lineage
  * (reference :237-240).
  */
object EnvelopeDecoder {

  val OpCreate = "c"; val OpRead = "r"; val OpUpdate = "u"; val OpDelete = "d"

  /** Per-field descriptor slice of the message's own schema section
    * (reference reads `type`/`name`/`parameters` per field, :287-341). */
  private val fieldDescType = StructType(Seq(
    StructField("field", StringType),
    StructField("type", StringType),
    StructField("name", StringType),
    StructField("parameters", MapType(StringType, StringType))))

  private def needsMsgSchema(schema: CdcSchema): Boolean =
    schema.columns.exists(c =>
      c.encoding == E.TimestampMessage || c.encoding == E.DecimalMessage)

  /** Parse shape of the message's `schema` header (only the `after`
    * entry's field descriptors are consulted — reference :573). */
  private val msgSchemaSectionType = StructType(Seq(
    StructField("fields", ArrayType(StructType(Seq(
      StructField("field", StringType),
      StructField("fields", ArrayType(fieldDescType))))))))

  /** One row image's raw JSON shape. `names` expands a declared column
    * name to the wire-name variants to parse (one for a plan-time
    * connector; declared + lower-cased under per-message dispatch). */
  private def payloadJsonType(schema: CdcSchema, names: String => Seq[String]): StructType = {
    val fields = schema.columns.flatMap(c =>
      names(c.name).map(n => StructField(n, c.rawJsonType, nullable = true)))
    require(fields.map(_.name).distinct.size == fields.size,
      "declared column names collide after lower-casing; set DecodeOptions.connector explicitly")
    StructType(fields)
  }

  /** Constant epoch-anchored zone offset: the reference re-anchors
    * io.debezium.time.Timestamp wall-clock millis with the zone offset AT
    * 1970-01-01 (ZonedDateTime.of(1970,...).plusNanos — reference :412),
    * NOT the DST-aware offset at the event's own date. */
  private def anchorMs(timezoneId: String): Long =
    ZonedDateTime.of(1970, 1, 1, 0, 0, 0, 0, ZoneId.of(timezoneId))
      .toInstant.toEpochMilli

  /** Debezium-semantic coercion of one raw column (the declarative mirror
    * of rowFromStringObjectMap's type dispatch, reference :271-468).
    * `desc` is the column's per-message schema descriptor (None when no
    * column needs it). */
  private def coerce(c: CdcColumn, raw: Column, desc: Option[Column],
      validate: Boolean): Column = {
    val v = c.encoding match {
      case E.Direct =>
        c.dataType match {
          case TimestampType => raw.cast(TimestampType)
          case _ => raw
        }
      case E.BooleanAsInt => raw =!= 0
      case E.EpochDays => date_from_unix_date(raw)
      case E.DecimalBytes =>
        val dt = c.dataType.asInstanceOf[DecimalType]
        binaryToDecimal(unbase64(raw), lit(dt.scale), dt.precision, dt.scale)
      case E.DecimalString =>
        raw.cast(c.dataType)
      case E.DecimalMessage =>
        val dt = c.dataType.asInstanceOf[DecimalType]
        val d = desc.getOrElse(sys.error(
          s"column '${c.name}': DecimalMessage requires the message schema section"))
        // scale comes from the MESSAGE (reference :334-341): a message
        // whose scale differs from the declared column still decodes to
        // the correct value, then re-scales into the declared type.
        // Missing `parameters` errors under validate (reference parity);
        // the validate=false fast path falls back to the DECLARED scale
        // (scale 0 there would silently decode 10^scale too large). A
        // present map without a `scale` key is 0, as in the reference.
        val msgScale =
          when(d.getField("parameters").isNull, lit(dt.scale))
            .otherwise(coalesce(
              d.getField("parameters").getItem("scale").cast(IntegerType), lit(0)))
        val fromBytes =
          if (validate)
            when(d.getField("parameters").isNull,
              raise_error(lit(s"expected 'parameters' schema for field '${c.name}' of type 'bytes' to be Map[String, String].")))
              .otherwise(binaryToDecimal(unbase64(raw), msgScale, dt.precision, dt.scale))
          else binaryToDecimal(unbase64(raw), msgScale, dt.precision, dt.scale)
        when(raw.isNull, lit(null).cast(dt))
          .when(d.getField("type") === "string", raw.cast(dt))
          .otherwise(fromBytes)
      case E.TimestampWallClockMs =>
        // wall-clock ms re-anchored at the 1970 zone offset (constant per
        // column — matches the reference for DST zones where
        // to_utc_timestamp would apply the offset at the event's date)
        timestamp_millis(raw + lit(anchorMs(c.timezoneId)))
      case E.TimestampMicros =>
        // reference truncates micros to millis (:413) — keep parity
        timestamp_millis(graft.functions.ExprUtils.intDiv(raw, 1000L))
      case E.TimestampZoned =>
        timestamp_millis(graft.functions.ExprUtils.intDiv(raw, 1000L))
      case E.TimestampIsoString => raw.cast(TimestampType)
      case E.TimestampMessage =>
        val d = desc.getOrElse(sys.error(
          s"column '${c.name}': TimestampMessage requires the message schema section"))
        val nm = d.getField("name")
        val num = raw.cast(LongType)
        // raw was parsed as string: numeric wire values dispatch on the
        // message's logical-type name (reference :396-438); anything else
        // is an ISO instant (reference :427 Instant.parse)
        when(raw.isNull, lit(null).cast(TimestampType))
          .when(!raw.rlike("^-?[0-9]+$"), raw.cast(TimestampType))
          .when(nm === "io.debezium.time.Timestamp",
            timestamp_millis(num + lit(anchorMs(c.timezoneId))))
          .when(nm.isin("io.debezium.time.MicroTimestamp", "io.debezium.time.ZonedTimestamp"),
            timestamp_millis(graft.functions.ExprUtils.intDiv(num, 1000L)))
          .otherwise(raise_error(lit(
            s"expected 'name' schema for field '${c.name}' to be String but was not provided.")))
      case E.MongoDate => raw.getField("$date").cast(TimestampType)
    }
    v.as(c.name)
  }

  /** Build the typed row struct (user cols + lineage) from a raw payload
    * struct; null when the raw payload struct is null. */
  private def payloadStruct(schema: CdcSchema, raw: Column, topic: Column,
      offset: Column, validate: Boolean, side: String,
      rawField: (Column, CdcColumn) => Column,
      descOf: CdcColumn => Option[Column]): Column = {
    val cols = schema.columns.map { c =>
      val desc = descOf(c)
      val coerced = coerce(c, rawField(raw, c), desc, validate)
      if (validate && !c.nullable) {
        when(coerced.isNull,
          raise_error(concat(lit(s"missing value for non-nullable field '${c.name}' in $side at offset "),
            offset.cast(StringType))))
          .otherwise(coerced).as(c.name)
      } else coerced
    }
    when(raw.isNotNull,
      struct(cols ++ Seq(topic.as("_topic"), offset.as("_offset")): _*))
      .otherwise(lit(null).cast(structTypeOf(schema)))
  }

  /** The per-column descriptor from the message schema's field list
    * (`name` is a Column so per-message connector dispatch can pick the
    * folded wire name per row). */
  private def descFor(fields: Column, name: Column): Column =
    element_at(filter(fields, f => f.getField("field") === name), 1)

  private def structTypeOf(schema: CdcSchema): StructType = schema.structType

  /** Decode relational-connector envelopes (mysql / postgresql / oracle).
    *
    * Input columns: key:binary, value:binary, topic:string, partition:int,
    * offset:long (the DebeziumStringKafkaEvent shape, reference :165-173).
    * Tombstones (null value) are dropped (reference :529-530). Null or
    * unparseable Kafka keys error (reference :539,543-544) — silently
    * collapsing them onto one merge key would corrupt table state.
    */
  def decodeRelational(raw: DataFrame, schema: CdcSchema,
      opts: DecodeOptions = DecodeOptions()): DataFrame = {
    // Postgres folds message field names to lower case when the declared
    // schema has any upper-case letter (reference :243,273-287). With a
    // plan-time connector the folding is static; with connector=None and a
    // case-sensitive schema, BOTH casings are parsed and each ROW picks by
    // its own `payload.source.connector` (per-message dispatch for mixed
    // relational topics). Schemas with no upper-case letter fold to
    // themselves, so auto mode costs nothing there.
    val foldAll = opts.connector.contains("postgresql") && schema.caseSensitive
    val auto = opts.connector.isEmpty && schema.caseSensitive
    def jsonName(n: String): String = if (foldAll) n.toLowerCase else n
    def variantNames(n: String): Seq[String] =
      if (auto && n.toLowerCase != n) Seq(n, n.toLowerCase) else Seq(jsonName(n))

    // per-row Postgres test (only referenced in auto mode; null-connector
    // envelopes fall to the declared casing)
    val isPg = col("_connector") === "postgresql"
    // struct-field access by ORDINAL: in auto mode the parse struct holds
    // both "Name" and "name", which a (case-insensitive) name lookup
    // cannot disambiguate
    def fieldOf(s: Column, ptype: StructType, name: String): Column = {
      import org.apache.spark.sql.graftshim.{toColumn, toExpression}
      toColumn(org.apache.spark.sql.catalyst.expressions.GetStructField(
        toExpression(s), ptype.fieldIndex(name), Some(name)))
    }
    def rawOf(s: Column, ptype: StructType, c: CdcColumn): Column = {
      val lc = c.name.toLowerCase
      if (auto && lc != c.name)
        when(isPg, fieldOf(s, ptype, lc)).otherwise(fieldOf(s, ptype, c.name))
      else s.getField(jsonName(c.name))
    }
    def descNameOf(c: CdcColumn): Column = {
      val lc = c.name.toLowerCase
      if (auto && lc != c.name) when(isPg, lit(lc)).otherwise(lit(c.name))
      else lit(jsonName(c.name))
    }

    val withMsg = needsMsgSchema(schema)
    val pt = payloadJsonType(schema, variantNames)
    val ktp = StructType(schema.keyColumns.flatMap(c =>
      variantNames(c.name).map(n => StructField(n, c.rawJsonType, nullable = true))))
    val kt = StructType(Seq(StructField("payload", ktp)))

    // stage 1 — one byte-level pass splits the envelope into raw slices
    // (EnvelopeSlices: the schema header is ~70% of the bytes and Jackson
    // would lex all of it even under a pruned parse schema); stage 2 —
    // from_json parses ONLY the ~small row images. Two select boundaries
    // keep each non-cheap expression evaluated once (CollapseProject
    // never inlines non-cheap exprs with multiple uses).
    val sliced = raw
      .filter(col("value").isNotNull)
      .select(
        col("key").isNotNull.as("_key_present"),
        from_json(col("key").cast(StringType), kt).as("_k"),
        graft.functions.EnvelopeSlices.envelopeSlices(
          col("value"), withMsg, opts.strict).as("_s"),
        col("topic"), col("offset"))

    val parsed = sliced.select(
      col("_key_present"), col("_k"), col("topic"), col("offset"),
      col("_s.op").as("_op"),
      col("_s.connector").as("_connector"),
      from_json(col("_s.after_json"), pt).as("_after_raw"),
      (if (opts.strict) from_json(col("_s.before_json"), pt)
       else lit(null).cast(pt)).as("_before_raw"),
      (if (withMsg) from_json(col("_s.schema_json"), msgSchemaSectionType)
       else lit(null).cast(msgSchemaSectionType)).as("_msg_schema"))

    // canonical key string: key payload values joined with "|" (reference
    // :546), guarded by the reference's null/shape checks (:539-544)
    val keyCol =
      when(!col("_key_present"), raise_error(lit(
        "invalid configuration. expected 'key' to not be null. ensure primary key or connector 'message.key.columns' is set.")))
      .when(col("_k").isNull || col("_k.payload").isNull,
        raise_error(concat(
          lit("invalid message format. missing or unparseable 'key.payload' at offset "),
          col("offset").cast(StringType))))
      .otherwise(concat_ws("|",
        schema.keyColumns.map(c =>
          rawOf(col("_k.payload"), ktp, c).cast(StringType)): _*))

    val msgFields: Option[Column] =
      if (withMsg)
        Some(descOfAfter(col("_msg_schema.fields")))
      else None
    def descOf(c: CdcColumn): Option[Column] =
      msgFields.map(descFor(_, descNameOf(c)))
    def rawField(s: Column, c: CdcColumn): Column = rawOf(s, pt, c)

    val op = col("_op")
    val afterRaw = col("_after_raw")
    val beforeRaw = col("_before_raw")

    val after0 = payloadStruct(schema, afterRaw, col("topic"), col("offset"),
      opts.validate, "after", rawField, descOf)
    val before0 = if (opts.strict)
      payloadStruct(schema, beforeRaw, col("topic"), col("offset"),
        opts.validate, "before", rawField, descOf)
    else lit(null).cast(structTypeOf(schema))

    // null-shape rules (reference :581,590): before null for c/r; after null for d
    val after = if (opts.validate) {
      when(op === OpDelete && afterRaw.isNotNull,
        raise_error(concat(lit("expected 'after' to be null for operation 'd' at offset "),
          col("offset").cast(StringType))))
        .otherwise(after0)
    } else after0
    val before = if (opts.validate && opts.strict) {
      when(op.isin(OpCreate, OpRead) && beforeRaw.isNotNull,
        raise_error(concat(lit("expected 'before' to be null for operation 'c'/'r' at offset "),
          col("offset").cast(StringType))))
        // reference parity (:582): strict u/d MUST carry the before-image
        // ("expected 'value.payload.before' to be Object") — and the lake
        // MERGE relies on it: a delta whose _first_before is null is
        // checked presence-only (the Mongo rule), which is only sound
        // because relational u/d can never reach it with a null image
        .when(op.isin(OpUpdate, OpDelete) && beforeRaw.isNull,
          raise_error(concat(lit("expected 'before' to be non-null for operation 'u'/'d' at offset "),
            col("offset").cast(StringType))))
        .otherwise(before0)
    } else before0

    // typed primary-key struct from the Kafka key (always present, even for
    // deletes where `after` is null) — feeds the lake MERGE bucket routing
    val pkCol = struct(schema.keyColumns.map { c =>
      coerce(c, rawOf(col("_k.payload"), ktp, c), descOf(c), validate = false)
    }: _*)

    parsed.select(
      keyCol.as("key"),
      col("offset"),
      col("_connector").as("connector"),
      op.as("operation"),
      before.as("before"),
      after.as("after"),
      lit(null).cast(ArrayType(StringType, containsNull = false)).as("keyMask"),
      pkCol.as("pk"))
  }

  /** The `after` entry's field-descriptor list from the message schema
    * (reference uses the after entry's fields for BOTH images, :573). */
  private def descOfAfter(schemaFields: Column): Column =
    element_at(filter(schemaFields,
      f => f.getField("field") === lit("after")), 1).getField("fields")

  /** Reduce decoded events to MERGE-ready deltas: ≤1 row per key via LWW,
    * columns = typed key cols + non-key payload + lineage + `operation`.
    * Key columns come from the Kafka key so delete rows route correctly. */
  def toDeltas(events: DataFrame, schema: CdcSchema): DataFrame = {
    // LastByOffset (TypedImperativeAggregate) instead of max_by: max_by's
    // struct buffer forces a SortAggregate fallback; this runs as a true
    // ObjectHashAggregate with partial/final merge (see LastByOffset doc)
    val reduced = events
      .groupBy(col("key"))
      .agg(graft.functions.LastByOffset.lastByOffset(
        struct(col("operation"), col("offset"), col("after"), col("pk")),
        col("offset")).as("_w"),
        count(lit(1)).as("n_events"))
    val keyNames = schema.keyNames.toSet
    val payloadCols = schema.structType.fieldNames.filterNot(keyNames.contains).toSeq
    reduced.select(
      schema.keyNames.map(n => col(s"_w.pk.$n").as(n)) ++
      payloadCols.map(n => col(s"_w.after.$n").as(n)) ++
      Seq(col("_w.operation").as("operation"), col("_w.offset").as("offset"),
        col("n_events")): _*)
  }
}
