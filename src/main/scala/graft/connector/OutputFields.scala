package graft.connector

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampType}

import org.apache.spark.sql.types.{BinaryType => BinT, StructType}

import graft.config.{OutputField, OutputFieldEncodingType, OutputFieldType}

/** Output-field projection + encoding (SURVEY.md §2 O6–O9, O14) as pure
  * Catalyst columns — every encode stays inside whole-stage codegen; no UDFs.
  *
  * Reference behavior:
  *   - projection order preserved as configured
  *     (`S3SinkConfig.java:815-838`, `S3SinkTaskTest.java:183,543-551`)
  *   - CSV: key always base64, value base64 unless `encoding=none`
  *     (`README.md:239-250`)
  *   - headers flattened to `b64(name):b64(value);…`
  *     (`S3SinkTaskTest.java:855-866`)
  *   - nulls render as empty CSV fields (`README.md:252-257`)
  */
object OutputFields {

  /** O7 — base64 scalar encode (reference `OutputFieldEncodingType.BASE64`). */
  def base64Encode(c: Column): Column = base64(c.cast(BinaryType))

  /** O8 — header flattening: ordered, duplicate-preserving
    * `b64(name):b64(value);…` join. Composable built-ins — `transform` +
    * `concat_ws` — no UDF (SURVEY.md §2 O8). */
  def flattenHeaders(headers: Column): Column =
    concat_ws(";",
      transform(headers, h =>
        // null header VALUES are legal (Records.scala:28) and must render as
        // `b64(name):` — without the coalesce the whole concat element goes
        // null and concat_ws silently drops the header
        concat(base64(h.getField("key").cast(BinaryType)), lit(":"),
               coalesce(base64(h.getField("value")), lit("")))))

  /** O9 — null-handling: null field → empty string (CSV), applied after
    * encoding so a null never reaches base64. */
  def nullToEmpty(c: Column): Column = coalesce(c, lit(""))

  /** CSV cell for one configured output field (O6 + O7 + O9).
    * `timestamp` renders as epoch millis like the reference's long
    * timestamps (`S3SinkTaskTest.java:810-820`). */
  def csvCell(f: OutputField): Column = {
    val raw = f.fieldType match {
      case OutputFieldType.Key       => encoded(col("key"), f.encoding)
      case OutputFieldType.Value     => encoded(col("value"), f.encoding)
      case OutputFieldType.Offset    => col("offset").cast(StringType)
      case OutputFieldType.Timestamp =>
        // cast first: user-supplied frames may carry TIMESTAMP_NTZ (e.g.
        // pandas-written parquet), which unix_millis rejects; the cast is a
        // no-op for the canonical zoned type
        unix_millis(col("timestamp").cast(TimestampType)).cast(StringType)
      case OutputFieldType.Headers   => flattenHeaders(col("headers"))
    }
    nullToEmpty(raw)
  }

  private def encoded(c: Column, e: OutputFieldEncodingType): Column = e match {
    case OutputFieldEncodingType.Base64 => base64Encode(c)
    case OutputFieldEncodingType.None   => c.cast(StringType)
  }

  /** O10 — one CSV line: raw comma-join of the configured fields (the
    * reference does a raw join, not quoted CSV — `README.md:209-266`). */
  def csvLine(fields: Seq[OutputField]): Column =
    concat_ws(",", fields.map(csvCell): _*)

  /** JSON value for one output field (O11/O12). Binary key/value render as
    * UTF-8 strings (post-converter semantics); struct values stay structs so
    * `to_json` nests them (`README.md:279`); headers as a name→value object;
    * timestamp as epoch millis. `schema` is the record schema — needed to
    * know whether key/value are binary. */
  def jsonField(f: OutputField, schema: StructType): Column = {
    def strOrKeep(name: String): Column =
      if (schema(name).dataType == BinT) col(name).cast(StringType).as(name)
      else col(name).as(name)
    f.fieldType match {
      case OutputFieldType.Key   => strOrKeep("key")
      case OutputFieldType.Value => strOrKeep("value")
      case OutputFieldType.Offset => col("offset").as("offset")
      case OutputFieldType.Timestamp =>
        // JSON formats render ISO-8601 instants (README.md:272-303:
        // "timestamp":"2020-01-01T00:00:01Z"); CSV keeps epoch millis
        date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("timestamp")
      case OutputFieldType.Headers =>
        map_from_entries(transform(col("headers"),
          h => struct(h.getField("key"), h.getField("value").cast(StringType))))
          .as("headers")
    }
  }

  /** O11 — one JSONL line: `{"field": value, …}` in configured field order. */
  def jsonLine(fields: Seq[OutputField], schema: StructType): Column =
    to_json(struct(fields.map(jsonField(_, schema)): _*))
}
