package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.{Instant, ZonedDateTime}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import graft.GraftSession
import graft.config.{GroupingMode, SinkConfig}
import graft.connector.{Grouping, OutputFields}
import graft.formats.GroupFileWriter

/** One drained input: the records the query committed, the time from
  * query start to the last offset commit, and each batch's progress. */
final case class Drain(records: Long, wallS: Double,
                       batches: Seq[StreamingQueryProgress], out: String) {
  def durations(key: String): Seq[Double] =
    batches.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0))
}

/** What one output check found. */
final case class Check(mismatches: Seq[String], records: Long, readbackS: Double,
                       objects: Int, bytes: Long)

final class Bench(val work: String, val cores: Int, t0Ms: Long, val corrupt: Boolean) {
  val res = new Result
  val expect: JsonNode = new ObjectMapper().readTree(new File(s"$work/expect.json"))
  /** (name, unit) of the per-layer metrics, from the checkout's BENCHMARK.json. */
  val perLayer: Seq[(String, String)] =
    new ObjectMapper().readTree(new File("BENCHMARK.json")).get("per_layer")
      .elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  var spark: SparkSession = session(cores)
  val progress = new ProgressLog
  spark.streams.addListener(progress)
  private var reps = 0

  def session(n: Int): SparkSession = GraftSession.builder(s"local[$n]", n)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config(BenchFs.conf)
    .getOrCreate()

  /** Rebuild the session with `n` cores (the single-core baseline). */
  def restart(n: Int): Unit = {
    spark.stop()
    spark = session(n)
    spark.streams.addListener(progress)
  }

  def tracer(): Tracer = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Set-up ends when the first timed record is about to be admitted. */
  def markSetupDone(): Unit =
    res.put("setup_s", (System.currentTimeMillis - t0Ms) / 1000.0, "s")

  def result: Result = {
    res.put("peak_rss_mb", peakRssMb, "MB")
    res
  }

  def failed: Long = res.failed

  def fail(why: String): Unit = { res.failed += 1; res.notes += why }

  def stop(): Unit = spark.stop()

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def freshDir(name: String): String = {
    reps += 1
    val d = new File(s"$work/run/${reps}_$name")
    d.mkdirs()
    d.getAbsolutePath
  }

  def config(props: (String, String)*): SinkConfig =
    SinkConfig.parse(Map("aws.s3.bucket.name" -> "bench") ++ props)
      .fold(e => throw new IllegalArgumentException(e.mkString("; ")), identity)

  /** The Kafka record schema (`topic, partition, offset, timestamp, key,
    * value, headers`) over the generator's JSON-lines files, read by a
    * file stream source at one file per trigger: a closed loop that drains
    * a backlog the way a catching-up consumer does at maxOffsetsPerTrigger. */
  def kafkaStream(dir: String): DataFrame =
    spark.readStream.schema(Bench.InputSchema).option("maxFilesPerTrigger", 1)
      .json(BenchFs.uri(dir))
      .select(col("topic"), col("partition"), col("offset"),
        timestamp_millis(col("timestamp")).as("timestamp"),
        col("key").cast("binary").as("key"),
        col("value").cast("binary").as("value"),
        transform(col("headers"), h => struct(h.getField("key").as("key"),
          h.getField("value").cast("binary").as("value"))).as("headers"))

  /** Start a query over `inputDir` (one file per trigger) and wait until
    * it has committed a batch for each of its files; then stop it. The
    * source's own row count is not the stop test: it counts rows scanned,
    * and a batch DataFrame used by several actions is scanned more than once. */
  def drain(name: String, inputDir: String, records: Long)(
      start: (DataFrame, String, String) => StreamingQuery): Drain = {
    val files = new File(inputDir).listFiles().length
    val dir = freshDir(name)
    val out = BenchFs.uri(s"$dir/out")
    val t0 = System.currentTimeMillis
    val q = start(kafkaStream(inputDir), out, BenchFs.uri(s"$dir/ckpt"))
    try {
      while (progress.batches(q.id).size < files) {
        q.exception.foreach(e => throw e)
        if (System.currentTimeMillis - t0 > 150000L)
          throw new IllegalStateException(s"$name: drain timed out")
        Thread.sleep(5)
      }
    } finally q.stop()
    val bs = progress.batches(q.id)
    res.attempted += bs.size
    val end = bs.map(p => Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.get("triggerExecution").toLong).max
    Drain(records, (end - t0) / 1000.0, bs, out)
  }

  /** Objects under an output URI: name → bytes. */
  def objects(out: String): Map[String, Long] = {
    val p = new Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val f = it.next()
      b += f.getPath.getName -> f.getLen
    }
    b.result()
  }

  /** Replace one object with a copy whose first line has one byte changed:
    * the negative self-test of the output checks. */
  def damageOne(out: String): Unit = {
    val dir = new File(new Path(out).toUri.getPath)
    val f = dir.listFiles().minBy(_.getName)
    val codec = f.getName.substring(f.getName.lastIndexOf('.'))
    val raw = java.nio.file.Files.readAllBytes(f.toPath)
    def decode(b: Array[Byte]): Array[Byte] = codec match {
      case ".gz"  => new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b)).readAllBytes()
      case ".zst" => new com.github.luben.zstd.ZstdInputStream(new java.io.ByteArrayInputStream(b)).readAllBytes()
    }
    val text = new String(decode(raw), StandardCharsets.UTF_8)
    val marker = "\"value\":\""
    val i = text.indexOf(marker) + marker.length + 3 // a character inside the first value
    val bad = text.substring(0, i) + (if (text.charAt(i) == 'x') 'y' else 'x') +
      text.substring(i + 1)
    val bos = new java.io.ByteArrayOutputStream
    val os = codec match {
      case ".gz"  => new java.util.zip.GZIPOutputStream(bos)
      case ".zst" => new com.github.luben.zstd.ZstdOutputStream(bos)
    }
    os.write(bad.getBytes(StandardCharsets.UTF_8)); os.close()
    java.nio.file.Files.write(f.toPath, bos.toByteArray)
    res.notes += s"damaged ${f.getName}"
  }

  /** Collect a read-back query (a consumer reading every object) at least
    * three times and until a second of reading has passed; return the rows
    * and the median read time. */
  def readBack(df: DataFrame): (Array[org.apache.spark.sql.Row], Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var rows: Array[org.apache.spark.sql.Row] = null
    while (times.size < 3 || times.sum < 1.0) {
      val t0 = System.nanoTime
      rows = df.collect()
      times += (System.nanoTime - t0) / 1e9
    }
    (rows, Stats.median(times.toSeq))
  }

  /** Record the outcome of one output check. */
  def record(c: Check): Unit = {
    res.attempted += 1
    if (c.mismatches.nonEmpty) {
      res.failed += 1
      res.notes ++= c.mismatches.take(5)
    }
  }

  /** Traced mirror of `S3SinkPipeline.writeBatch`'s text-format path, used
    * only by the traced run: each layer's lazy output is forced where the
    * layer ends, so its time lands in its own span. The timed runs call
    * `writeBatch` itself. */
  def tracedWrite(t: Tracer, b: DataFrame, cfg: SinkConfig, out: String,
                  now: ZonedDateTime, id: String, io: LayerCounts): Unit = {
    if (t.span("sources.probe", id)(b.isEmpty)) return
    val (named, groupCols) = t.span("connector.group", id) {
      val (n, g) = cfg.groupingMode match {
        case GroupingMode.KeyRecord =>
          val bindings = Map("key" -> col("_k"), "topic" -> col("topic"),
            "partition" -> col("partition"))
          (Grouping.compactLatestByKey(b).withColumn("_filename",
            concat(Grouping.filenameColumn(cfg.fileNameTemplate, bindings, now),
              lit(cfg.compression.extension))), Seq("_k"))
        case GroupingMode.TopicPartitionRecord =>
          (Grouping.annotate(b, cfg, now), Seq("topic", "partition"))
      }
      (n.localCheckpoint(true), g)
    }
    val lined = named.withColumn("_line", OutputFields.jsonLine(cfg.outputFields, b.schema))
    t.span("trace.count", id) {
      io.recordsIn += b.count()
      io.recordsOut += named.count()
      io.groups += named.select("_filename").distinct().count()
      io.lineBytes += lined.agg(sum(octet_length(col("_line")) + 1)).head().getLong(0)
      io.batches += 1
    }
    t.span("formats.write", id)(
      GroupFileWriter.writeLines(lined, out, cfg.formatType, cfg.compression, groupCols))
  }
}

/** Row counts a traced run gathers at the connector boundary. */
final class LayerCounts {
  var batches = 0L
  var recordsIn = 0L
  var recordsOut = 0L
  var groups = 0L
  var lineBytes = 0L
  var docsIn = 0L
  var docsKept = 0L
}

object Bench {
  val InputSchema: StructType = StructType.fromDDL(
    "topic STRING, partition INT, offset BIGINT, timestamp BIGINT, key STRING, " +
      "value STRING, headers ARRAY<STRUCT<key: STRING, value: STRING>>")

  /** 64-bit share of one record in the order-free multiset digest; the
    * generator computes the same function over its inputs. */
  def recordDigest(topic: String, partition: Int, offset: Long, value: String): Long = {
    val h = MessageDigest.getInstance("MD5")
      .digest(s"$topic\u001f$partition\u001f$offset\u001f$value".getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** Unsigned decimal form, as the generator writes it. */
  def unsigned(x: Long): String = java.lang.Long.toUnsignedString(x)

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  def names(n: JsonNode): Set[String] = n.elements().asScala.map(_.asText).toSet
}
