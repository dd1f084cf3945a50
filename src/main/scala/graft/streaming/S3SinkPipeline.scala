package graft.streaming

import java.time.ZonedDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.config.{FormatType, GroupingMode, OutputFieldType, SinkConfig}
import graft.connector.{Grouping, OutputFields}
import graft.formats.{GroupFileWriter, ParquetEnvelopeWriter}

/** End-to-end Structured Streaming wiring (SURVEY.md §2 O1, O19; §3.2):
  * Kafka source → micro-batch `foreachBatch` → group → encode → exact-named
  * compressed objects on the target FileSystem.
  *
  * Delivery semantics parity: Structured Streaming checkpoints commit after
  * the batch function returns — exactly the reference's flush-then-commit
  * cycle (`S3SinkTask.java:120-124`): at-least-once, idempotent because
  * file names are deterministic functions of the data.
  */
object S3SinkPipeline {

  /** The exact option map the Kafka DataSource receives — the O1 wiring
    * as a pure function, exposed so the subscribe-vs-subscribePattern
    * precedence, header inclusion, and retry-backoff passthrough are
    * unit-testable in this container (the kafka datasource jars are
    * absent offline, so `load()` itself cannot resolve here; the mapping
    * is everything this side of the DataSource boundary). */
  def kafkaOptions(config: SinkConfig,
                   bootstrapServers: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrapServers,
      "includeHeaders" -> "true") ++
      (config.topicsRegex match {
        case Some(re) => Map("subscribePattern" -> re)
        case None     => Map("subscribe" -> config.topics.mkString(","))
      }) ++
      config.kafkaRetryBackoffMs.map(ms =>
        "kafka.retry.backoff.ms" -> ms.toString)

  /** O1 — the record source behind a pluggable `sourceFormat`: build the
    * subscription options ([[kafkaOptions]]), resolve the DataSource,
    * project the canonical record schema (SURVEY.md §1.4). With the
    * default `"kafka"` format this IS the reference's source wiring —
    * not executable in this offline container (no Kafka jars; the
    * jar-present test auto-activates); with
    * [[graft.sources.SyntheticKafkaSource]] the identical downstream
    * pipeline runs end-to-end as one streaming query (StreamingSpec's
    * pipeline test), so `format("kafka")` resolution is the ONLY branch
    * this environment cannot execute. */
  def sourceReader(spark: SparkSession, config: SinkConfig,
                   bootstrapServers: String,
                   sourceFormat: String = "kafka",
                   extraOptions: Map[String, String] = Map.empty): DataFrame =
    (kafkaOptions(config, bootstrapServers) ++ extraOptions)
      .foldLeft(spark.readStream.format(sourceFormat)) {
        case (r, (k, v)) => r.option(k, v)
      }
      .load()
      .select(col("topic"), col("partition"), col("offset"), col("timestamp"),
        col("key"), col("value"), col("headers"))

  /** CSV schema strictness (SURVEY.md §7.4 item 4): the reference's CSV
    * writer accepts BYTES ONLY — even STRING values throw, with the
    * verbatim message asserted in `S3SinkTaskTest.java:474-498` ("…must be
    * BYTES, STRING given") and `:554-578` ("…STRUCT given"). Value is
    * checked before key. Spark would happily cast, so we check explicitly. */
  def checkCsvSchema(df: DataFrame): Unit = {
    def connectName(dt: DataType): String = dt match {
      case BinaryType => "BYTES"
      case StringType => "STRING"
      case _: StructType => "STRUCT"
      case _: MapType => "MAP"
      case _: ArrayType => "ARRAY"
      case IntegerType => "INT32"
      case LongType => "INT64"
      case FloatType => "FLOAT32"
      case DoubleType => "FLOAT64"
      case BooleanType => "BOOLEAN"
      case other => other.sql
    }
    Seq("value", "key").foreach { label =>
      val dt = df.schema(label).dataType
      if (dt != BinaryType)
        throw new IllegalArgumentException(
          s"Record $label schema type must be BYTES, ${connectName(dt)} given")
    }
  }

  /** The line column for text formats, honoring envelope semantics (O14):
    * envelope off + single struct- or map-valued field → the value object
    * itself, null for a null value (the writer skips such records). */
  private def lineColumn(config: SinkConfig, schema: StructType): Column = {
    val fields = config.outputFields
    val valueIsObject = schema("value").dataType match {
      case _: StructType | _: MapType => true
      case _ => false
    }
    config.formatType match {
      case FormatType.Csv => OutputFields.csvLine(fields)
      case FormatType.Json | FormatType.Jsonl =>
        val singleValue = fields.length == 1 &&
          fields.head.fieldType == OutputFieldType.Value
        if (!config.envelopeEnabled && singleValue && valueIsObject)
          to_json(col("value"))
        else if (!config.envelopeEnabled && singleValue) {
          // scalar unwrap emits a JSON string LITERAL — quoted + escaped
          // ("v0", README.md:343-347). to_json only takes containers, so
          // serialize {"v": value} and slice the field out.
          val j = to_json(struct(col("value").cast(StringType).as("v")))
          j.substr(lit(6), length(j) - 6) // drop {"v": prefix and } suffix
        }
        else OutputFields.jsonLine(fields, schema)
      case FormatType.Parquet =>
        throw new IllegalStateException("parquet has no line encoding")
    }
  }

  /** O19 — one micro-batch: group, encode, write. The `foreachBatch` body.
    * `now` is the batch-start wallclock (the reference's only timestamp
    * source, `S3SinkConfig.java:492-503`). An empty batch makes no requests
    * (`S3SinkTask.java:114-144`): both writers open an object only when its
    * first row arrives.
    *
    * The plan carries only what the writer needs through one exchange:
    * the naming columns of [[Grouping.topicPartitionNaming]] or
    * [[Grouping.keyNaming]] and the encoded line or the Parquet data
    * columns. The writer's tasks cut the chunks and name each object. A
    * legacy prefix that renders `{{key}}` names each record, so that batch
    * carries [[Grouping.annotate]]'s per-row name instead and is written in
    * name order: each task still writes one object at a time. */
  def writeBatch(batch: DataFrame, config: SinkConfig, baseUri: String,
                 now: ZonedDateTime,
                 schemaFingerprint: Option[Column] = None): Unit = {
    if (config.formatType == FormatType.Csv) checkCsvSchema(batch)

    val (records, naming) = config.groupingMode match {
      case GroupingMode.KeyRecord =>
        (Grouping.compactLatestByKey(batch), Grouping.keyNaming(config, now))
      case GroupingMode.TopicPartitionRecord if Grouping.namesPerRecord(config) =>
        (Grouping.annotate(batch, config, now, schemaFingerprint),
          Grouping.byName(Seq("topic", "partition")))
      case GroupingMode.TopicPartitionRecord =>
        (batch, Grouping.topicPartitionNaming(config, now, schemaFingerprint))
    }

    config.formatType match {
      case FormatType.Parquet =>
        ParquetEnvelopeWriter.write(records, naming, baseUri, config,
          wholeObjectCompression = config.parquetWholeObjectCompression)
      case _ =>
        GroupFileWriter.write(records, naming, lineColumn(config, batch.schema),
          baseUri, config.formatType, config.compression)
    }
  }

  /** Wire a (streaming) canonical-record DataFrame into the sink. The
    * trigger interval is the reference's flush cadence
    * (`offset.flush.interval.ms`, default 60 s, `README.md:207`).
    *
    * Each call is a new query, as each restart of a reference task is. On a
    * session built by [[graft.GraftSession]] a later query reuses the
    * classes the first one compiled; on a session built without it, Spark's
    * per-session artifact isolation gives every query its own class loader,
    * so every query recompiles its plan on its first batch. */
  def start(records: DataFrame, config: SinkConfig, baseUri: String,
            checkpointDir: String, flushIntervalMs: Long = 60000L): StreamingQuery =
    records.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeBatch(batch, config, baseUri, ZonedDateTime.now(config.timestampZone))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(flushIntervalMs))
      .start()
}
