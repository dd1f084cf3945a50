package graft.sources

import java.nio.charset.StandardCharsets
import java.time.{ZoneId, ZonedDateTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{array, col, split, struct, transform, unbase64, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSuite
import graft.config.{CompressionType, SinkConfig}
import graft.streaming.S3SinkPipeline

/** Round-trip fidelity: objects written by the sink read back into the
  * original records through the source module — every codec. */
class SinkObjectReaderSpec extends SparkSuite {

  private val Now = ZonedDateTime.of(2020, 3, 1, 7, 0, 0, 0, ZoneId.of("Z"))

  /** Decode the CSV header cell `b64(name):b64(value);…` back into an
    * ordered array of (key, value) — the inverse of
    * `OutputFields.flattenHeaders` (the reference's test-side equivalent is
    * `BucketAccessor.readAndDecodeLines`, `testutils/BucketAccessor.java:
    * 88-157`). Duplicate keys and order survive. */
  private def decodeHeadersFlat(flat: Column): Column =
    when(flat.isNull || flat === "", array().cast(
      "array<struct<key:string,value:string>>"))
      .otherwise(transform(split(flat, ";"), h =>
        struct(
          unbase64(split(h, ":").getItem(0)).cast("string").as("key"),
          unbase64(split(h, ":").getItem(1)).cast("string").as("value"))))

  private def records(n: Int) = {
    val rows = (0 until n).map { i =>
      Row("rt-topic", i % 2, i.toLong, new java.sql.Timestamp(1000L + i),
        s"key-$i".getBytes(StandardCharsets.UTF_8),
        s"value,$i with \"stuff\"".getBytes(StandardCharsets.UTF_8), null)
    }
    spark.createDataFrame(rows.asJava, graft.connector.Records.schema)
  }

  test("CSV objects round-trip through readCsv for every codec") {
    for (codec <- CompressionType.all) {
      val dir = tmpDir(s"rt-${codec.name}")
      val cfg = SinkConfig.parse(Map(
        "aws.s3.bucket.name" -> "b",
        "format.output.fields" -> "value,key,timestamp,offset",
        "file.compression.type" -> codec.name)).toOption.get
      S3SinkPipeline.writeBatch(records(6), cfg, dir, Now)
      val back = SinkObjectReader.readCsv(spark, dir, cfg)
        .orderBy("offset").collect()
      assert(back.length == 6, s"codec ${codec.name}")
      back.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[String]("value") == s"""value,$i with "stuff"""")
        assert(r.getAs[String]("key") == s"key-$i")
        assert(r.getAs[Long]("offset") == i.toLong)
        assert(r.getAs[Long]("timestamp_ms") == 1000L + i)
      }
    }
  }

  test("header cells decode back to ordered (key, value) pairs " +
    "(BucketAccessor.readAndDecodeLines parity)") {
    val rows = Seq(
      Row("t", 0, 0L, new java.sql.Timestamp(1000L), "k".getBytes, "v".getBytes,
        Seq(Row("h1", "v1".getBytes), Row("h1", "v2".getBytes), // dup keys
          Row("h2", "v3".getBytes))))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), graft.connector.Records.schema)
    val flat = df.select(
      graft.connector.OutputFields.flattenHeaders(col("headers")).as("flat"))
    val back = flat.select(
      decodeHeadersFlat(col("flat")).as("hs"))
      .collect()(0).getSeq[Row](0)
      .map(r => (r.getString(0), r.getString(1))).toList
    assert(back == List(("h1", "v1"), ("h1", "v2"), ("h2", "v3")))
  }

  test("JSONL objects round-trip through readJsonl") {
    val dir = tmpDir("rt-jsonl")
    val cfg = SinkConfig.parse(Map(
      "aws.s3.bucket.name" -> "b",
      "format.output.type" -> "jsonl",
      "format.output.fields" -> "value,key",
      "file.compression.type" -> "gzip")).toOption.get
    S3SinkPipeline.writeBatch(records(4), cfg, dir, Now)
    val schema = StructType(Seq(
      StructField("value", StringType), StructField("key", StringType)))
    val back = SinkObjectReader.readJsonl(spark, dir, schema)
      .orderBy("object_name", "line_no").collect()
    assert(back.length == 4)
    assert(back.map(_.getAs[String]("key")).toSet ==
      (0 until 4).map(i => s"key-$i").toSet)
  }
}
