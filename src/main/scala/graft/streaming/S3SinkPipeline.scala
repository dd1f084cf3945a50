package graft.streaming

import java.time.ZonedDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.config.{FormatType, GroupingMode, OutputField, OutputFieldEncodingType, OutputFieldType, SinkConfig}
import graft.connector.{Grouping, OutputFields}
import graft.formats.{GroupFileWriter, ParquetEnvelopeWriter}
import graft.template.Template

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

  /** [[sourceReader]] at the production `"kafka"` format. */
  def kafkaReader(spark: SparkSession, config: SinkConfig,
                  bootstrapServers: String): DataFrame =
    sourceReader(spark, config, bootstrapServers)

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
    * envelope off + single struct-valued field → the value object itself. */
  private def lineColumn(config: SinkConfig, schema: StructType): Column = {
    val fields = config.outputFields
    val valueIsStruct = schema("value").dataType.isInstanceOf[StructType]
    config.formatType match {
      case FormatType.Csv => OutputFields.csvLine(fields)
      case FormatType.Json | FormatType.Jsonl =>
        val singleValue = fields.length == 1 &&
          fields.head.fieldType == OutputFieldType.Value
        if (!config.envelopeEnabled && singleValue && valueIsStruct)
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
    * source, `S3SinkConfig.java:492-503`). */
  def writeBatch(batch: DataFrame, config: SinkConfig, baseUri: String,
                 now: ZonedDateTime,
                 schemaFingerprint: Option[Column] = None): Unit = {
    if (batch.isEmpty) return // lazy acquisition: no records → no requests
    if (config.formatType == FormatType.Csv) checkCsvSchema(batch)

    // the grouping keys the annotation clusters by: the Parquet writer's
    // per-object groups, and the line writer's repartition keys, so the
    // annotate+write pipeline needs a single exchange
    val (named, groupCols) = config.groupingMode match {
      case GroupingMode.KeyRecord =>
        val compacted = Grouping.compactLatestByKey(batch)
        val bindings = Map(
          "key"       -> col("_k"),
          "topic"     -> col("topic"),
          "partition" -> col("partition"))
        (compacted.withColumn("_filename",
          concat(Grouping.filenameColumn(config.fileNameTemplate, bindings, now),
            lit(config.compression.extension))), Seq("_k"))
      case GroupingMode.TopicPartitionRecord =>
        (Grouping.annotate(batch, config, now, schemaFingerprint),
          Seq("topic", "partition"))
    }

    config.formatType match {
      case FormatType.Parquet =>
        ParquetEnvelopeWriter.write(named, baseUri, config, groupCols,
          wholeObjectCompression = config.parquetWholeObjectCompression)
      case _ =>
        val withLine = named.withColumn("_line",
          lineColumn(config, batch.schema))
        GroupFileWriter.writeLines(withLine, baseUri, config.formatType,
          config.compression, groupCols)
    }
  }

  /** Wire a (streaming) canonical-record DataFrame into the sink. The
    * trigger interval is the reference's flush cadence
    * (`offset.flush.interval.ms`, default 60 s, `README.md:207`). */
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
