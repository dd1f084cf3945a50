package graft.streaming

import java.io.{ByteArrayInputStream, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{ZoneId, ZonedDateTime}
import java.time.format.DateTimeFormatter
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, substring}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite
import graft.config.SinkConfig

/** Model-based check of the sink's object cutting and naming: the objects
  * [[S3SinkPipeline.writeBatch]] writes — every name, and the records each
  * object holds, in order — equal those of a small pure-Scala model of the
  * reference's grouper (`RecordGrouper`: a map `filename → records`,
  * `S3SinkTask.java:59,117,122-123`) and naming rules
  * (`S3SinkTask.java:169-205`, `OldFullKeyFormatters.java:29-33`).
  *
  * Batches draw random topics and partitions, offsets with gaps,
  * `file.max.records` ∈ {0, 1, 2, 3, 5}, file-name templates with and
  * without `padding` and `timestamp`, legacy prefixes (with `{{utc_date}}`,
  * `{{local_date}}`, `{{timestamp}}` and the per-record `{{key}}`),
  * schema-fingerprint runs (A,B,A), a non-UTC `timestampZone`, key mode
  * with null keys, and the JSONL, JSON and Parquet writers. Offsets are
  * unique across the batch, so key compaction has one winner per key, and
  * topics carry no digits, so distinct groups never render one name. */
class SinkNamingModelSpec extends SparkSuite {

  /** 20:30Z: a UTC day that is already the next day in Tokyo. */
  private val Now = ZonedDateTime.of(2020, 3, 1, 20, 30, 0, 0, ZoneId.of("Z"))

  private final case class Rec(topic: String, partition: Int, offset: Long,
                               key: String, value: String) {
    /** The schema fingerprint the batch passes: the value's first letter. */
    def fp: String = value.take(1)
  }

  private val schema = StructType(Seq(
    StructField("topic", StringType, false),
    StructField("partition", IntegerType, false),
    StructField("offset", LongType, false),
    StructField("timestamp", TimestampType, true),
    StructField("key", StringType, true),
    StructField("value", StringType, true),
    StructField("headers", graft.connector.Records.schema("headers").dataType, true)))

  private def toDf(recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(recs.map(r => Row(r.topic, r.partition, r.offset,
      new java.sql.Timestamp(1000L), r.key, r.value, null)).asJava, schema)

  /** Records in a random order, offsets increasing with gaps of 1–3 from a
    * small or a 13-digit base; values carry an A/B/C run letter. */
  private val recsGen: Gen[Seq[Rec]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 28))
    base <- Gen.oneOf(0L, 3L, 1000000000000L)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 3L))
    tps <- Gen.listOfN(n, Gen.zip(Gen.oneOf("alpha", "beta", "gamma"), Gen.choose(0, 3)))
    keys <- Gen.listOfN(n, Gen.oneOf("k1", "k2", "k3", null))
    runs <- Gen.listOfN(n, Gen.frequency(4 -> false, 1 -> true))
    letters <- Gen.listOfN(n, Gen.oneOf("A", "B", "C"))
    order <- Gen.listOfN(n, Gen.long)
  } yield {
    val offsets = gaps.scanLeft(base)(_ + _).tail
    // a letter switches only where `runs` says so: runs of 1..n records
    val runLetters = runs.zip(letters).scanLeft("A") {
      case (cur, (switch, l)) => if (switch) l else cur
    }.tail
    offsets.indices.map { i =>
      Rec(tps(i)._1, tps(i)._2, offsets(i), keys(i), s"${runLetters(i)}v$i")
    }.zip(order).sortBy(_._2).map(_._1)
  }

  private val fileTemplates = Seq(
    "{{topic}}-{{partition}}-{{start_offset}}",
    "{{topic}}-{{partition:padding=true}}-{{start_offset:padding=true}}",
    "{{timestamp:unit=yyyy}}{{timestamp:unit=MM}}{{timestamp:unit=dd}}-" +
      "{{timestamp:unit=HH}}-{{topic}}-{{partition}}-{{start_offset:padding=true}}",
    "{{topic}}/{{partition}}/{{start_offset}}")

  private val prefixes = Seq("pre-", "{{utc_date}}/", "{{key}}-",
    "{{topic}}-{{local_date}}-{{timestamp:unit=HH}}-", "{{key}}/{{utc_date}}-")

  /** The model's renderer, written the reference's way (`String.format`,
    * `DateTimeFormatter`); `now` is already in the configured zone. */
  private def render(tpl: String, r: Rec, start: Long, now: ZonedDateTime): String = {
    val day = DateTimeFormatter.ISO_LOCAL_DATE
    Seq("yyyy", "MM", "dd", "HH").foldLeft(tpl) { (s, u) =>
      s.replace(s"{{timestamp:unit=$u}}", now.format(DateTimeFormatter.ofPattern(u)))
    }
      .replace("{{topic}}", r.topic)
      .replace("{{partition:padding=true}}", "%010d".format(r.partition))
      .replace("{{partition}}", r.partition.toString)
      .replace("{{start_offset:padding=true}}", "%020d".format(start))
      .replace("{{start_offset}}", start.toString)
      .replace("{{key}}", Option(r.key).getOrElse("null"))
      .replace("{{utc_date}}", now.withZoneSameInstant(ZoneId.of("Z")).format(day))
      .replace("{{local_date}}", now.withZoneSameInstant(ZoneId.systemDefault()).format(day))
  }

  /** Topic-partition mode: per (topic, partition), in offset order, a new
    * chunk starts every `maxRecords` records and at every fingerprint
    * change; every record goes to the object its chunk's first offset (and,
    * for a `{{key}}` prefix, its own key) names. */
  private def modelTopicPartition(recs: Seq[Rec], template: Option[String],
      prefix: Option[String], maxRecords: Int, runs: Boolean, ext: String,
      now: ZonedDateTime): Map[String, Seq[Rec]] = {
    val named = recs.groupBy(r => (r.topic, r.partition)).values.toSeq.flatMap { tp =>
      val sorted = tp.sortBy(_.offset)
      var start = 0L
      sorted.zipWithIndex.map { case (r, i) =>
        if (i == 0 || (maxRecords > 0 && i % maxRecords == 0) ||
            (runs && r.fp != sorted(i - 1).fp)) start = r.offset
        val name = prefix match {
          case Some(p) => render(p, r, start, now) +
            s"${r.topic}-${r.partition}-${"%020d".format(start)}"
          case None => render(template.get, r, start, now)
        }
        (name + ext, r)
      }
    }
    named.groupBy(_._1).map { case (n, rs) => n -> rs.map(_._2).sortBy(_.offset) }
  }

  /** Key mode: the latest record (by offset, then partition) per key, a
    * null key compacting under "null"; one object per key. */
  private def modelKey(recs: Seq[Rec], template: String, ext: String): Map[String, Seq[Rec]] =
    recs.groupBy(r => Option(r.key).getOrElse("null")).values.map { rs =>
      val w = rs.maxBy(r => (r.offset, r.partition))
      (render(template, w, 0L, Now) + ext) -> Seq(w)
    }.toMap

  /** Every object under `dir` as (name relative to `dir`) → records. */
  private def objects(dir: String, format: String): Map[String, Seq[Rec]] = {
    val base = new File(dir).toPath
    Files.walk(base).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))
      .map { f =>
        val name = base.relativize(f.toPath).toString
        name -> (if (format == "parquet") parquetRecords(f) else textRecords(f, format))
      }.toMap
  }

  private val LineRe = """\{"offset":(\d+),"value":"([^"]*)"\}""".r

  /** Text objects decode through their exact framing: JSONL one line per
    * record, JSON `[`, `\n`-led records joined by `,`, `\n]`. */
  private def textRecords(f: File, format: String): Seq[Rec] = {
    val raw = Files.readAllBytes(f.toPath)
    val bytes = if (f.getName.endsWith(".gz"))
      new GZIPInputStream(new ByteArrayInputStream(raw)).readAllBytes() else raw
    val text = new String(bytes, StandardCharsets.UTF_8)
    val recs = LineRe.findAllMatchIn(text).map { m =>
      Rec(null, 0, m.group(1).toLong, null, m.group(2))
    }.toSeq
    val lines = recs.map(r => s"""{"offset":${r.offset},"value":"${r.value}"}""")
    val framed =
      if (format == "jsonl") lines.map(_ + "\n").mkString
      else if (lines.isEmpty) "[]"
      else lines.map("\n" + _).mkString("[", ",", "\n]")
    assert(text == framed, s"${f.getName}: framing")
    recs
  }

  private def parquetRecords(f: File): Seq[Rec] = {
    val reader = ParquetReader.builder(new GroupReadSupport(),
      new Path(f.toURI)).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      Rec(null, 0, g.getLong("offset", 0), null, g.getString("value", 0))
    }.toSeq
    finally reader.close()
  }

  /** Records compare on what an object stores: offset and value. */
  private def stored(m: Map[String, Seq[Rec]]): Map[String, Seq[(Long, String)]] =
    m.map { case (n, rs) => n -> rs.map(r => (r.offset, r.value)) }

  private def config(props: (String, String)*): SinkConfig =
    SinkConfig.parse(Map("aws.s3.bucket.name" -> "b",
      "format.output.fields" -> "offset,value",
      "format.output.fields.value.encoding" -> "none") ++ props)
      .fold(e => fail(e.mkString("; ")), identity)

  private val formats = Seq("jsonl", "json", "parquet")

  test("topic-partition objects equal the grouper model: chunks, " +
    "fingerprint runs, file-name templates and legacy prefixes " +
    "(JSONL, JSON, Parquet)") {
    val caseGen = for {
      recs <- recsGen
      maxRecords <- Gen.oneOf(0, 1, 2, 3, 5)
      runs <- Gen.oneOf(false, true)
      named <- Gen.either(Gen.oneOf(fileTemplates), Gen.oneOf(prefixes))
      zone <- Gen.oneOf("UTC", "Asia/Tokyo")
      gzip <- Gen.oneOf(false, true)
    } yield (recs, maxRecords, runs, named, zone, gzip)
    for (c <- 0 until 36) {
      val (recs, maxRecords, runs, named, zone, gzip) =
        caseGen.pureApply(Gen.Parameters.default, Seed(9100L + c))
      val format = formats(c % 3)
      val cfg = config(Seq(
        "format.output.type" -> format,
        "file.compression.type" -> (if (gzip) "gzip" else "none"),
        "file.max.records" -> maxRecords.toString,
        "file.name.timestamp.timezone" -> zone) ++
        named.fold(t => Seq("file.name.template" -> t),
          p => Seq("aws.s3.prefix" -> p)): _*)
      val dir = tmpDir("naming-model")
      S3SinkPipeline.writeBatch(toDf(recs), cfg, dir, Now,
        schemaFingerprint =
          if (runs) Some(substring(col("value"), 1, 1)) else None)
      val want = modelTopicPartition(recs, named.left.toOption,
        named.toOption, maxRecords, runs, cfg.compression.extension,
        Now.withZoneSameInstant(ZoneId.of(zone)))
      assert(stored(objects(dir, format)) == stored(want),
        s"case $c: $format max=$maxRecords runs=$runs $named zone=$zone " +
          s"records=$recs")
    }
  }

  test("key-mode objects equal the grouper model: the latest record per " +
    "key, null keys under \"null\" (JSONL, JSON, Parquet)") {
    val caseGen = for {
      recs <- recsGen
      template <- Gen.oneOf("{{key}}", "{{key}}-{{topic}}-{{partition}}")
      gzip <- Gen.oneOf(false, true)
    } yield (recs, template, gzip)
    for (c <- 0 until 12) {
      val (recs, template, gzip) =
        caseGen.pureApply(Gen.Parameters.default, Seed(9200L + c))
      val format = formats(c % 3)
      val cfg = config("format.output.type" -> format,
        "file.compression.type" -> (if (gzip) "gzip" else "none"),
        "file.name.template" -> template)
      val dir = tmpDir("naming-model-key")
      S3SinkPipeline.writeBatch(toDf(recs), cfg, dir, Now)
      assert(stored(objects(dir, format)) ==
        stored(modelKey(recs, template, cfg.compression.extension)),
        s"case $c: $format $template records=$recs")
    }
  }
}
