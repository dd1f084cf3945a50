package graft.registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{OutputField, OutputFieldEncodingType => Enc, OutputFieldType => F}
import graft.connector.{Grouping, OutputFields}
import graft.registry.QueryDef.{named, R, rec}

/** Connector rows: one per reference S3-sink operator (SURVEY.md §2) —
  * grouping, compaction, chunking, field projection and encoding, file
  * naming and the Avro envelope — over the record model of [[graft.connector
  * .Records]]. The oracle CTE `records` ([[QueryDef.R]]) is
  * `Records.duckRecordsCte`. */
object ConnectorRows {

  val rows: Seq[QueryDef] = Seq(
    // O2 — topic-partition record grouping: group extents per flush.
    QueryDef("sink_group_topic_partition", (s, dir) => {
      rec(s, dir)
        .groupBy(col("topic"), col("partition").as("part"))
        .agg(
          min("offset").as("start_offset"),
          max("offset").as("end_offset"),
          count(lit(1)).as("cnt"))
        .orderBy(col("topic"), col("part"))
    },
    R +
      """SELECT topic, part, min(off) AS start_offset, max(off) AS end_offset,
        |       count(*) AS cnt
        |FROM records GROUP BY topic, part ORDER BY topic, part""".stripMargin),

    // O16 — distributed filename rendering with zero-padded start_offset.
    QueryDef("sink_filename_template", (s, dir) => {
      named(rec(s, dir))
        .groupBy(col("_filename").as("fname"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("fname"))
    },
    R +
      """SELECT topic || '-' || part || '-' ||
        |       lpad(CAST(min(off) AS VARCHAR), 20, '0') || '.gz' AS fname,
        |       count(*) AS cnt
        |FROM records GROUP BY topic, part ORDER BY fname""".stripMargin),

    // O3 — key compaction: latest record per key (deterministic tie-break).
    QueryDef("sink_key_compaction", (s, dir) => {
      Grouping.compactLatestByKey(rec(s, dir))
        .select(
          col("_k").as("rkey"),
          col("offset").as("off"),
          col("value").cast(StringType).as("rvalue"))
        .orderBy(col("rkey"))
    },
    R +
      """SELECT rkey, off, rvalue FROM (
        |  SELECT rkey, off, rvalue,
        |         row_number() OVER (PARTITION BY rkey ORDER BY off DESC, part DESC) AS rn
        |  FROM records) t
        |WHERE rn = 1 ORDER BY rkey""".stripMargin),

    // O4 — time-bucket grouping (yyyy/MM/dd/HH bucket columns).
    QueryDef("sink_time_bucket", (s, dir) => {
      rec(s, dir)
        .groupBy(
          col("topic"),
          date_format(col("timestamp"), "yyyy").as("y"),
          date_format(col("timestamp"), "MM").as("m"),
          date_format(col("timestamp"), "dd").as("d"),
          date_format(col("timestamp"), "HH").as("h"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("topic"), col("y"), col("m"), col("d"), col("h"))
    },
    R +
      """SELECT topic, strftime(rts, '%Y') AS y, strftime(rts, '%m') AS m,
        |       strftime(rts, '%d') AS d, strftime(rts, '%H') AS h,
        |       count(*) AS cnt
        |FROM records GROUP BY topic, y, m, d, h ORDER BY topic, y, m, d, h""".stripMargin),

    // O5 — file.max.records=100 chunking: per-chunk extents.
    QueryDef("sink_max_records_chunk", (s, dir) => {
      rec(s, dir)
        .withColumn("chunk", Grouping.chunkIndex(100))
        .groupBy(col("topic"), col("partition").as("part"), col("chunk"))
        .agg(min("offset").as("start_offset"), max("offset").as("end_offset"),
          count(lit(1)).as("cnt"))
        .orderBy(col("topic"), col("part"), col("chunk"))
    },
    R +
      """SELECT topic, part, chunk, min(off) AS start_offset,
        |       max(off) AS end_offset, count(*) AS cnt
        |FROM (
        |  SELECT topic, part, off,
        |         CAST((row_number() OVER (PARTITION BY topic, part ORDER BY off) - 1) // 100 AS BIGINT) AS chunk
        |  FROM records) t
        |GROUP BY topic, part, chunk ORDER BY topic, part, chunk""".stripMargin),

    // O6 — output-field projection in configured order (value,key,ts,offset).
    QueryDef("sink_projection_fields", (s, dir) => {
      rec(s, dir)
        .select(
          col("value").cast(StringType).as("rvalue"),
          col("key").cast(StringType).as("rkey"),
          unix_millis(col("timestamp")).as("ts_ms"),
          col("offset").as("off"))
        .orderBy(col("off"))
    },
    R +
      """SELECT rvalue, rkey, epoch_ms(rts) AS ts_ms, off
        |FROM records ORDER BY off""".stripMargin),

    // O7 — base64 field encoding.
    QueryDef("sink_base64_value", (s, dir) => {
      rec(s, dir)
        .select(col("offset").as("off"),
          OutputFields.base64Encode(col("value")).as("v_b64"))
        .orderBy(col("off"))
    },
    R +
      """SELECT off, to_base64(encode(rvalue)) AS v_b64
        |FROM records ORDER BY off""".stripMargin),

    // O8 — header flattening b64(name):b64(value);… .
    QueryDef("sink_header_flatten", (s, dir) => {
      rec(s, dir)
        .select(col("offset").as("off"),
          OutputFields.flattenHeaders(col("headers")).as("headers_flat"))
        .orderBy(col("off"))
    },
    R +
      """SELECT off,
        |       to_base64(encode('et')) || ':' || to_base64(encode(topic)) || ';' ||
        |       to_base64(encode('uid')) || ':' || to_base64(encode(rkey)) AS headers_flat
        |FROM records ORDER BY off""".stripMargin),

    // O9 — null handling: nulls become empty CSV cells.
    QueryDef("sink_null_handling", (s, dir) => {
      rec(s, dir)
        .select(col("offset").as("off"),
          OutputFields.nullToEmpty(
            when(col("topic") === "error", lit(null).cast(StringType))
              .otherwise(col("value").cast(StringType))).as("v_or_empty"))
        .orderBy(col("off"))
    },
    R +
      """SELECT off,
        |       coalesce(CASE WHEN topic = 'error' THEN NULL ELSE rvalue END, '') AS v_or_empty
        |FROM records ORDER BY off""".stripMargin),

    // O10 — CSV line encode (raw comma join, base64 key/value).
    QueryDef("sink_csv_line", (s, dir) => {
      val fields = Seq(
        OutputField(F.Value, Enc.Base64), OutputField(F.Key, Enc.Base64),
        OutputField(F.Timestamp, Enc.None), OutputField(F.Offset, Enc.None),
        OutputField(F.Headers, Enc.Base64))
      rec(s, dir)
        .select(col("offset").as("off"), OutputFields.csvLine(fields).as("line"))
        .orderBy(col("off"))
    },
    R +
      """SELECT off,
        |       concat_ws(',', to_base64(encode(rvalue)), to_base64(encode(rkey)),
        |                 CAST(epoch_ms(rts) AS VARCHAR), CAST(off AS VARCHAR),
        |                 to_base64(encode('et')) || ':' || to_base64(encode(topic)) || ';' ||
        |                 to_base64(encode('uid')) || ':' || to_base64(encode(rkey))) AS line
        |FROM records ORDER BY off""".stripMargin),

    // O11 — JSONL line encode with all four scalar fields; timestamp is
    // ISO-8601 like the reference (README.md:272).
    QueryDef("sink_jsonl_line", (s, dir) => {
      val r = rec(s, dir)
      val fields = Seq(F.Value, F.Key, F.Offset, F.Timestamp).map(OutputField(_, Enc.None))
      r.select(col("offset").as("off"), OutputFields.jsonLine(fields, r.schema).as("line"))
        .orderBy(col("off"))
    },
    R +
      """SELECT off,
        |       CAST(to_json(struct_pack(
        |         "value" := rvalue, "key" := rkey, "offset" := off,
        |         "timestamp" := strftime(rts, '%Y-%m-%dT%H:%M:%SZ'))) AS VARCHAR) AS line
        |FROM records ORDER BY off""".stripMargin),

    // O14 — envelope unwrap: decode JSON value struct, project its fields.
    QueryDef("sink_envelope_unwrap", (s, dir) => {
      rec(s, dir)
        .select(col("offset").as("off"),
          from_json(col("value").cast(StringType), StructType(Seq(
            StructField("k", IntegerType)))).getField("k").as("k"))
        .orderBy(col("off"))
    },
    R +
      """SELECT off, CAST(json_extract_string(rvalue, '$.k') AS INT) AS k
        |FROM records ORDER BY off""".stripMargin),

    // Offset continuity audit: gaps in the per-partition offset sequence
    // (a data-quality check a sink pipeline runs before committing).
    QueryDef("sink_offset_gap_check", (s, dir) => {
      val w = Window.partitionBy(col("topic"), col("partition")).orderBy(col("offset"))
      rec(s, dir)
        .withColumn("_prev", lag(col("offset"), 1).over(w))
        .where(col("_prev").isNotNull && col("offset") =!= col("_prev") + 1)
        .groupBy(col("topic"), col("partition").as("part"))
        .agg(count(lit(1)).as("n_gaps"), max(col("offset") - col("_prev") - 1)
          .as("max_gap"))
        .orderBy("topic", "part")
    },
    R +
      """SELECT topic, part, count(*) AS n_gaps, max(off - prev - 1) AS max_gap
        |FROM (
        |  SELECT topic, part, off,
        |         lag(off) OVER (PARTITION BY topic, part ORDER BY off) AS prev
        |  FROM records) t
        |WHERE prev IS NOT NULL AND off <> prev + 1
        |GROUP BY topic, part ORDER BY topic, part""".stripMargin),

    // O1 — multi-topic subscription = union of topic streams.
    QueryDef("sink_multi_topic_union", (s, dir) => {
      val r = rec(s, dir)
      r.where(col("topic") === "error")
        .unionByName(r.where(col("topic") === "signup"))
        .groupBy(col("topic")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("topic"))
    },
    R +
      """SELECT topic, count(*) AS cnt FROM (
        |  SELECT * FROM records WHERE topic = 'error'
        |  UNION ALL
        |  SELECT * FROM records WHERE topic = 'signup') t
        |GROUP BY topic ORDER BY topic""".stripMargin),

    // Avro-valued topics (the reference's AvroConverter scenario): every
    // record value avro-encodes into the {payload: string} envelope and
    // decodes back to the identical string — a THEOREM of the format, so
    // the oracle pins n_ok = n_records and all_ok symbolically (the
    // dedup_simhash64 pattern; DuckDB has no Avro codec to mirror). A
    // decoder regression (wrong varint handling, stale reused decoder
    // state, charset drift) breaks a round-trip and flips the row.
    QueryDef("sink_avro_roundtrip", (s, dir) => {
      val src = rec(s, dir)
        .select(col("offset").as("off"),
          coalesce(col("value").cast(StringType), lit("")).as("v"))
      val decoded = graft.formats.AvroEnvelope.decodePayload(
        graft.formats.AvroEnvelope.encodePayload(src, "off", "v"),
        "off", "avro")
      src.join(decoded, "off")
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("payload") === col("v"), 1L).otherwise(0L))
            .as("n_ok"))
        .select(col("n_records"), col("n_ok"),
          (col("n_records") === col("n_ok")).as("all_ok"))
    },
    // round-trip identity is a format theorem — pinned symbolically
    R +
      """SELECT CAST(count(*) AS BIGINT) AS n_records,
        |       CAST(count(*) AS BIGINT) AS n_ok,
        |       TRUE AS all_ok
        |FROM records""".stripMargin),

    // Schema-Registry wire framing (AvroConverter + registry config,
    // reference AvroIntegrationTest.java:128-193): every value frames
    // under one of TWO registry ids (offset parity — so the id dispatch in
    // decodeFramed is actually exercised, not a constant) and decodes back
    // through the injected id→schema snapshot to the identical string.
    // Round-trip identity + both-ids-seen are format theorems, pinned
    // symbolically like sink_avro_roundtrip.
    QueryDef("sink_avro_registry", (s, dir) => {
      import graft.formats.AvroEnvelope
      val src = rec(s, dir)
        .select(col("offset").as("off"),
          coalesce(col("value").cast(StringType), lit("")).as("v"))
      val encoded = AvroEnvelope.encodePayload(src, "off", "v")
      val framed = AvroEnvelope.frame(encoded.where(col("off") % 2 === 0), "avro", 101)
        .unionByName(AvroEnvelope.frame(encoded.where(col("off") % 2 === 1), "avro", 202))
      val decoded = AvroEnvelope.decodeFramed(framed, "off", "avro",
        Map(101 -> AvroEnvelope.EnvelopeSchemaJson,
            202 -> AvroEnvelope.EnvelopeSchemaJson))
      src.join(decoded, "off")
        .agg(count(lit(1)).as("n_records"),
          sum(when(col("payload") === col("v"), 1L).otherwise(0L)).as("n_ok"),
          countDistinct(col("schema_id")).as("n_ids"))
        .select(col("n_records"), col("n_ok"), col("n_ids"),
          (col("n_records") === col("n_ok")).as("all_ok"))
    },
    // registry-framed round-trip: identity + exactly the two injected
    // schema ids observed (offsets span both parities at every SF)
    R +
      """SELECT CAST(count(*) AS BIGINT) AS n_records,
        |       CAST(count(*) AS BIGINT) AS n_ok,
        |       CAST(2 AS BIGINT) AS n_ids,
        |       TRUE AS all_ok
        |FROM records""".stripMargin)
  )
}
