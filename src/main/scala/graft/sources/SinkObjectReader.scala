package graft.sources

import java.io.{BufferedReader, ByteArrayInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{CompressionType, OutputFieldEncodingType, OutputFieldType, SinkConfig}
import graft.formats.Compression

/** Reads the sink's own objects back into records — the downstream half of
  * the reference's ecosystem (consumers read the S3 objects the connector
  * wrote; `testutils/BucketAccessor.readAndDecodeLines` is its test-side
  * equivalent). Source path: `binaryFile` scan (whole objects — they are
  * flush-bounded by construction) → codec-sniffing decode → line parse →
  * field decode (unbase64 per the configured encoding).
  *
  * Works for all four codecs including zstd/snappy, which Hadoop's text
  * codecs can't decode without native libs — [[Compression.unwrap]]
  * decodes with the same snappy-java / zstd-jni libraries the writer used.
  */
object SinkObjectReader {

  private def codecOf(name: String): CompressionType =
    CompressionType.all.find(c => c.extension.nonEmpty &&
      name.endsWith(c.extension)).getOrElse(CompressionType.None)

  private def decodeLines(bytes: Array[Byte], c: CompressionType): List[String] = {
    val in = Compression.unwrap(new ByteArrayInputStream(bytes), c)
    val br = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      val out = ListBuffer.empty[String]
      var l = br.readLine()
      while (l != null) { out += l; l = br.readLine() }
      out.toList
    } finally br.close()
  }

  /** Raw (object, line) pairs from every object under `baseUri`. */
  def readLines(spark: SparkSession, baseUri: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*")
      .load(baseUri)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        decodeLines(bytes, codecOf(name)).zipWithIndex.map {
          case (line, i) => (name, i.toLong, line)
        }
      }
      .toDF("object_name", "line_no", "line")
  }

  /** Parse CSV-format objects back into typed columns per the configured
    * output-field order (inverse of `OutputFields.csvLine`). */
  def readCsv(spark: SparkSession, baseUri: String, config: SinkConfig): DataFrame = {
    val lines = readLines(spark, baseUri)
    val parts = split(col("line"), ",", -1)
    val cols = config.outputFields.zipWithIndex.map { case (f, i) =>
      val cell = parts.getItem(i)
      f.fieldType match {
        case OutputFieldType.Key =>
          unbase64(cell).cast("string").as("key")
        case OutputFieldType.Value => (f.encoding match {
          case OutputFieldEncodingType.Base64 => unbase64(cell).cast("string")
          case OutputFieldEncodingType.None   => cell
        }).as("value")
        case OutputFieldType.Offset    => cell.cast("long").as("offset")
        case OutputFieldType.Timestamp => cell.cast("long").as("timestamp_ms")
        case OutputFieldType.Headers   => cell.as("headers_flat")
      }
    }
    lines.select(col("object_name") +: col("line_no") +: cols: _*)
  }

  /** Parse JSONL-format objects with an explicit value schema. */
  def readJsonl(spark: SparkSession, baseUri: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame = {
    readLines(spark, baseUri)
      .select(col("object_name"), col("line_no"),
        from_json(col("line"), schema).as("rec"))
      .select(col("object_name"), col("line_no"), col("rec.*"))
  }
}
