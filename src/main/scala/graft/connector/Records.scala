package graft.connector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The canonical record model — Spark mapping of the reference's
  * `SinkRecord` stream (SURVEY.md §1.4; reference `S3SinkTask.java:33`,
  * fields asserted in `S3SinkTaskTest.java:807-825`).
  *
  * Matches what `spark.readStream.format("kafka")
  * .option("includeHeaders","true")` delivers, so every transform in
  * [[OutputFields]] / [[Grouping]] applies unchanged to a live Kafka stream.
  */
object Records {

  /** Kafka-source-shaped canonical schema. */
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("headers",
      ArrayType(StructType(Seq(
        StructField("key", StringType, nullable = false),
        StructField("value", BinaryType, nullable = true))), containsNull = false),
      nullable = true)
  ))

  /** Number of synthetic Kafka partitions used when adapting the batch
    * `events` table to the record model. Mirrored verbatim in the DuckDB
    * oracle SQL — keep in sync with [[graft.registry.ConnectorRows]]. */
  val SyntheticPartitions = 4

  /** Adapt the driver's `events` parquet table to the canonical record
    * stream: topic ← event_type, partition ← user_id % 4, offset ← event_id,
    * timestamp ← ts, key ← user_id (utf8 bytes), value ← props (utf8 bytes),
    * headers ← [et → event_type, uid → user_id].
    *
    * This is the batch stand-in for the Kafka source (O1) used by the
    * correctness gate; the streaming path reads the same shape from Kafka.
    */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEvents(spark, sfDir)
    ev.select(
      col("event_type").as("topic"),
      (col("user_id") % SyntheticPartitions).cast(IntegerType).as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"),
      col("user_id").cast(StringType).cast(BinaryType).as("key"),
      col("props").cast(BinaryType).as("value"),
      array(
        struct(lit("et").as("key"), col("event_type").cast(BinaryType).as("value")),
        struct(lit("uid").as("key"), col("user_id").cast(StringType).cast(BinaryType).as("value"))
      ).as("headers"))
  }

  /** Read the `events` table, normalizing `ts` to a session-zoned
    * [[TimestampType]] regardless of how the generator wrote it. Two
    * encodings have been observed across driver regenerations:
    *
    *   - parquet TIMESTAMP(NANOS), which Spark 4 only reads via the
    *     nanos-as-long legacy conf → convert nanos back to micros
    *     (the generator emits microsecond-precision values, lossless);
    *   - pandas-written `timestamp[us]` with no UTC flag, which Spark 4
    *     reads as [[TimestampNTZType]] → cast to [[TimestampType]]; under
    *     the pinned-UTC session this reproduces the zoned values
    *     bit-for-bit.
    *
    * Downstream consumers (`unix_millis`, watermarks, window()) require
    * the zoned type, so this is the single choke point for both shims. */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    ev.schema("ts").dataType match {
      case LongType =>
        ev.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        ev.withColumn("ts", col("ts").cast(TimestampType))
      case _ => ev
    }
  }

  /** The same adaptation as a DuckDB SQL common-table-expression, for oracle
    * queries. Column names avoid DuckDB reserved words (`partition`,
    * `offset`, `timestamp`, `key`, `value`). */
  val duckRecordsCte: String =
    """records AS (
      |  SELECT event_type AS topic,
      |         CAST(user_id % 4 AS INT) AS part,
      |         event_id AS off,
      |         ts AS rts,
      |         CAST(user_id AS VARCHAR) AS rkey,
      |         props AS rvalue
      |  FROM events
      |)""".stripMargin

  /** Spark-side projection matching [[duckRecordsCte]] column names. */
  def asDuckNames(records: DataFrame): DataFrame =
    records.select(
      col("topic"),
      col("partition").as("part"),
      col("offset").as("off"),
      col("timestamp").as("rts"),
      col("key").cast(StringType).as("rkey"),
      col("value").cast(StringType).as("rvalue"))
}
