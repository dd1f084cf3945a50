package graft.formats

import java.io.{BufferedReader, FileInputStream, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{ZoneId, ZonedDateTime}
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import com.github.luben.zstd.ZstdInputStream
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat, lit, map, raise_error, when}
import org.apache.spark.sql.types._
import org.xerial.snappy.SnappyInputStream

import graft.SparkSuite
import graft.config._
import graft.connector.ByColumn
import graft.streaming.S3SinkPipeline

/** End-to-end batch write tests mirroring the reference's fixtures
  * (FIXTURES.md F1–F3; expected bytes from `S3SinkTaskTest.java`).
  */
class SinkWriteSpec extends SparkSuite {

  private val Now = ZonedDateTime.of(2020, 3, 1, 7, 0, 0, 0, ZoneId.of("Z"))

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  /** F1-style record batch: bytes key/value + two headers, topic test-topic,
    * partition 0, offsets from 0. */
  private def f1Records(n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      Row("test-topic", 0, i.toLong,
        new java.sql.Timestamp(1000L),
        s"test-key".getBytes, s"test-value-$i".getBytes,
        Seq(
          Row("test-header-key-1", "test-header-value-1".getBytes),
          Row("test-header-key-2", "test-header-value-2".getBytes)))
    }
    spark.createDataFrame(rows.asJava, graft.connector.Records.schema)
  }

  /** F2-style string key/value records across topic0 p0/p1 and topic1 p0. */
  private def f2Records(stringSchema: Boolean = true): DataFrame = {
    val schema = StructType(Seq(
      StructField("topic", StringType, false),
      StructField("partition", IntegerType, false),
      StructField("offset", LongType, false),
      StructField("timestamp", TimestampType, true),
      StructField("key", StringType, true),
      StructField("value", StringType, true),
      StructField("headers", graft.connector.Records.schema("headers").dataType, true)))
    val rows = Seq(
      Row("topic0", 0, 10L, new java.sql.Timestamp(1000L), "key0", "value0", null),
      Row("topic0", 1, 20L, new java.sql.Timestamp(1001L), "key1", "value1", null),
      Row("topic1", 0, 30L, new java.sql.Timestamp(1002L), "key2", "value2", null))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** F3-style struct values {name: nameN}. */
  private def f3Records(): DataFrame = {
    val valueType = StructType(Seq(StructField("name", StringType)))
    val schema = StructType(Seq(
      StructField("topic", StringType, false),
      StructField("partition", IntegerType, false),
      StructField("offset", LongType, false),
      StructField("timestamp", TimestampType, true),
      StructField("key", StringType, true),
      StructField("value", valueType, true),
      StructField("headers", graft.connector.Records.schema("headers").dataType, true)))
    val rows = Seq(
      Row("topic0", 0, 10L, new java.sql.Timestamp(1000L), "key0", Row("name0"), null),
      Row("topic0", 1, 20L, new java.sql.Timestamp(1001L), "key1", Row("name1"), null),
      Row("topic1", 0, 30L, new java.sql.Timestamp(1002L), "key2", Row("name2"), null))
    spark.createDataFrame(rows.asJava, schema)
  }

  private def config(extra: (String, String)*): SinkConfig =
    SinkConfig.parse(Map("aws.s3.bucket.name" -> "test") ++ extra.toMap)
      .fold(e => fail(e.mkString("; ")), identity)

  private def decompressed(path: String, c: CompressionType): InputStream = {
    val in = new FileInputStream(path)
    c match {
      case CompressionType.None   => in
      case CompressionType.Gzip   => new GZIPInputStream(in)
      case CompressionType.Snappy => new SnappyInputStream(in)
      case CompressionType.Zstd   => new ZstdInputStream(in)
    }
  }

  private def readLines(path: String, c: CompressionType): List[String] = {
    val br = new BufferedReader(new InputStreamReader(decompressed(path, c)))
    try Iterator.continually(br.readLine()).takeWhile(_ != null).toList
    finally br.close()
  }

  private def ls(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString)
      .filterNot(_.startsWith(".")) // Hadoop LocalFileSystem .crc sidecars
      .toSet

  test("CSV lines with all output fields, every compression codec " +
    "(S3SinkTaskTest.testAivenKafkaConnectS3SinkTask)") {
    for (codec <- CompressionType.all) {
      val dir = tmpDir(s"csv-${codec.name}")
      val cfg = config(
        "format.output.fields" -> "value,key,timestamp,offset,headers",
        "file.compression.type" -> codec.name)
      S3SinkPipeline.writeBatch(f1Records(3), cfg, dir, Now)
      val fname = s"test-topic-0-0${codec.extension}"
      assert(ls(dir) == Set(fname), s"codec ${codec.name}")
      val lines = readLines(s"$dir/$fname", codec)
      val expHeaders = s"${b64("test-header-key-1")}:${b64("test-header-value-1")};" +
        s"${b64("test-header-key-2")}:${b64("test-header-value-2")}"
      assert(lines == (0 until 3).map(i =>
        s"${b64(s"test-value-$i")},${b64("test-key")},1000,$i,$expHeaders").toList)
    }
  }

  test("null-valued header renders as 'b64(name):' in CSV — not dropped " +
    "(null header values are legal, Records.scala:28)") {
    val dir = tmpDir("csv-null-header")
    val cfg = config(
      "format.output.fields" -> "value,headers",
      "file.compression.type" -> "none")
    val rows = Seq(Row("test-topic", 0, 0L, new java.sql.Timestamp(1000L),
      "k".getBytes, "v".getBytes,
      Seq(Row("h1", null), Row("h2", "x".getBytes))))
    val df = spark.createDataFrame(rows.asJava, graft.connector.Records.schema)
    S3SinkPipeline.writeBatch(df, cfg, dir, Now)
    val lines = readLines(s"$dir/test-topic-0-0", CompressionType.None)
    assert(lines == List(s"${b64("v")},${b64("h1")}:;${b64("h2")}:${b64("x")}"))
  }

  test("record key containing '..' cannot escape the sink base " +
    "(S3 keys are flat; hierarchical FS must not walk out of baseUri)") {
    val dir = tmpDir("key-escape")
    val cfg = config(
      "file.name.template" -> "{{key}}",
      "file.compression.type" -> "none")
    val rows = Seq(Row("t", 0, 0L, new java.sql.Timestamp(1000L),
      "../../escape".getBytes, "v".getBytes, null))
    val df = spark.createDataFrame(rows.asJava, graft.connector.Records.schema)
    val e = intercept[Exception] {
      S3SinkPipeline.writeBatch(df, cfg, dir, Now)
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("escapes the sink base")), e.toString)
    assert(ls(dir).isEmpty)
  }

  test("partition padding renders 10 digits in file names (README.md:73)") {
    val dir = tmpDir("ppad")
    val cfg = config(
      "file.name.template" ->
        "{{topic}}-{{partition:padding=true}}-{{start_offset}}",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f1Records(1), cfg, dir, Now)
    assert(ls(dir) == Set("test-topic-0000000000-0"))
  }

  test("default fields = value only; default compression = gzip") {
    val dir = tmpDir("csv-defaults")
    S3SinkPipeline.writeBatch(f1Records(2), config(), dir, Now)
    assert(ls(dir) == Set("test-topic-0-0.gz"))
    assert(readLines(s"$dir/test-topic-0-0.gz", CompressionType.Gzip) ==
      List(b64("test-value-0"), b64("test-value-1")))
  }

  test("JSONL output {\"value\":…,\"key\":…} per group " +
    "(S3SinkTaskTest.supportStringValuesForJsonL)") {
    val dir = tmpDir("jsonl")
    val cfg = config(
      "format.output.type" -> "jsonl",
      "format.output.fields" -> "value,key",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset:padding=true}}")
    S3SinkPipeline.writeBatch(f2Records(), cfg, dir, Now)
    assert(ls(dir) == Set(
      "topic0-0-00000000000000000010", "topic0-1-00000000000000000020",
      "topic1-0-00000000000000000030"))
    assert(readLines(s"$dir/topic0-0-00000000000000000010", CompressionType.None) ==
      List("""{"value":"value0","key":"key0"}"""))
  }

  test("JSONL struct values nest (S3SinkTaskTest.supportStructValuesForJsonL)") {
    val dir = tmpDir("jsonl-struct")
    val cfg = config(
      "format.output.type" -> "jsonl",
      "format.output.fields" -> "value,key",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f3Records(), cfg, dir, Now)
    assert(readLines(s"$dir/topic0-0-10", CompressionType.None) ==
      List("""{"value":{"name":"name0"},"key":"key0"}"""))
  }

  test("JSONL timestamp field renders ISO-8601 (README.md:272)") {
    val dir = tmpDir("jsonl-ts")
    val cfg = config(
      "format.output.type" -> "jsonl",
      "format.output.fields" -> "key,value,offset,timestamp",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f2Records(), cfg, dir, Now)
    val line = readLines(s"$dir/topic0-0-10", CompressionType.None).head
    assert(line ==
      """{"key":"key0","value":"value0","offset":10,"timestamp":"1970-01-01T00:00:01Z"}""")
  }

  test("envelope=false with a SCALAR value emits a quoted JSON literal " +
    "(README.md:343-347)") {
    val dir = tmpDir("jsonl-scalar-unwrap")
    val cfg = config(
      "format.output.type" -> "jsonl",
      "format.output.fields" -> "value",
      "format.output.envelope" -> "false",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f2Records(), cfg, dir, Now)
    assert(readLines(s"$dir/topic0-0-10", CompressionType.None) ==
      List("\"value0\""))
  }

  test("envelope=false unwraps single struct value field " +
    "(S3SinkTaskTest.supportUnwrappedJsonEnvelopeForStructAndJsonL)") {
    val dir = tmpDir("jsonl-unwrap")
    val cfg = config(
      "format.output.type" -> "jsonl",
      "format.output.fields" -> "value",
      "format.output.envelope" -> "false",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f3Records(), cfg, dir, Now)
    assert(readLines(s"$dir/topic1-0-30", CompressionType.None) ==
      List("""{"name":"name2"}"""))
  }

  test("envelope=false unwraps a single MAP value field to its JSON " +
    "object in JSONL and JSON-array framing (O14: RECORD and MAP)") {
    val batch = spark.range(2).select(lit("t").as("topic"),
      lit(0).as("partition"), col("id").as("offset"),
      lit(null).cast(TimestampType).as("timestamp"),
      lit("k").as("key"), map(lit("a"), col("id")).as("value"),
      lit(null).cast(graft.connector.Records.schema("headers").dataType)
        .as("headers"))
    def unwrapped(format: String): List[String] = {
      val dir = tmpDir(s"$format-unwrap-map")
      S3SinkPipeline.writeBatch(batch, config(
        "format.output.type" -> format,
        "format.output.fields" -> "value",
        "format.output.envelope" -> "false",
        "file.compression.type" -> "none"), dir, Now)
      readLines(s"$dir/t-0-0", CompressionType.None)
    }
    assert(unwrapped("jsonl") == List("""{"a":0}""", """{"a":1}"""))
    assert(unwrapped("json") == List("[", """{"a":0},""", """{"a":1}""", "]"))
  }

  test("JSON array framing: [ / rows with trailing commas / ] " +
    "(S3SinkTaskTest.supportStructValuesForClassicJson)") {
    val dir = tmpDir("json-array")
    val cfg = config(
      "format.output.type" -> "json",
      "format.output.fields" -> "value,key",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f3Records(), cfg, dir, Now)
    assert(readLines(s"$dir/topic0-0-10", CompressionType.None) ==
      List("[", """{"value":{"name":"name0"},"key":"key0"}""", "]"))
    // multi-record framing: records get trailing commas except the last
    val dir2 = tmpDir("json-array-multi")
    val cfg2 = config(
      "format.output.type" -> "json",
      "format.output.fields" -> "value",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f1Records(3), cfg2, dir2, Now)
    val lines = readLines(s"$dir2/test-topic-0-0", CompressionType.None)
    assert(lines.head == "[" && lines.last == "]")
    assert(lines(1).endsWith(",") && lines(2).endsWith(",") && !lines(3).endsWith(","))
  }

  test("CSV rejects STRUCT values with the reference's message " +
    "(S3SinkTaskTest.failedForStructValuesByDefault)") {
    val e = intercept[IllegalArgumentException] {
      S3SinkPipeline.writeBatch(f3Records(), config(
        "format.output.fields" -> "key,value"), tmpDir("csv-fail"), Now)
    }
    assert(e.getMessage == "Record value schema type must be BYTES, STRUCT given")
  }

  test("CSV rejects even STRING values — BYTES only " +
    "(S3SinkTaskTest.failedForStringValuesByDefault)") {
    val e = intercept[IllegalArgumentException] {
      S3SinkPipeline.writeBatch(f2Records(), config(
        "format.output.fields" -> "key,value"), tmpDir("csv-fail2"), Now)
    }
    assert(e.getMessage == "Record value schema type must be BYTES, STRING given")
  }

  test("file.max.records=1 splits each record into its own file " +
    "(IntegrationTest.java:260-307)") {
    val dir = tmpDir("maxrec")
    val cfg = config("file.max.records" -> "1", "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f1Records(3), cfg, dir, Now)
    assert(ls(dir) == Set("test-topic-0-0", "test-topic-0-1", "test-topic-0-2"))
    assert(readLines(s"$dir/test-topic-0-1", CompressionType.None) ==
      List(b64("test-value-1")))
  }

  test("key grouping compacts to latest record per key, null key -> \"null\" " +
    "(IntegrationTest.java:309-379)") {
    val schema = graft.connector.Records.schema
    val rows = Seq(
      Row("t", 0, 0L, new java.sql.Timestamp(1000L), "k1".getBytes, "old".getBytes, null),
      Row("t", 0, 1L, new java.sql.Timestamp(1001L), "k1".getBytes, "new".getBytes, null),
      Row("t", 0, 2L, new java.sql.Timestamp(1002L), null, "nullkey".getBytes, null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val dir = tmpDir("keymode")
    val cfg = config(
      "file.name.template" -> "{{key}}",
      "format.output.fields.value.encoding" -> "none",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(df, cfg, dir, Now)
    assert(ls(dir) == Set("k1", "null"))
    assert(readLines(s"$dir/k1", CompressionType.None) == List("new"))
    assert(readLines(s"$dir/null", CompressionType.None) == List("nullkey"))
  }

  test("timestamp template buckets use batch wallclock in configured zone " +
    "(IntegrationTest.java:185-244)") {
    val dir = tmpDir("tsbucket")
    val cfg = config(
      "file.name.template" ->
        ("{{topic}}-{{partition}}-{{start_offset}}-" +
          "{{timestamp:unit=yyyy}}-{{timestamp:unit=MM}}-{{timestamp:unit=dd}}"),
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f1Records(2), cfg, dir, Now)
    assert(ls(dir) == Set("test-topic-0-0-2020-03-01"))
  }

  test("configured prefix switches to legacy naming: prefix + " +
    "topic-partition-paddedOffset (S3SinkTaskTest.java:184,277-293)") {
    val dir = tmpDir("prefix")
    val cfg = config(
      "aws.s3.prefix" -> "aiven--",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f1Records(1), cfg, dir, Now)
    assert(ls(dir) == Set("aiven--test-topic-0-00000000000000000000"))
  }

  test("a prefix with nested template parts lands every object at its " +
    "nested path under a base that does not exist yet") {
    // the writer makes no directories itself: FileSystem.create makes an
    // object's missing parents, the base included
    val dir = s"${tmpDir("prefix-nested")}/base"
    val cfg = config(
      "aws.s3.prefix" -> "a/{{topic}}/{{partition}}/",
      "format.output.type" -> "jsonl",
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f2Records(), cfg, dir, Now)
    val objects = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => Paths.get(dir).relativize(p).toString).toSet
    assert(objects == Set(
      "a/topic0/0/topic0-0-00000000000000000010",
      "a/topic0/1/topic0-1-00000000000000000020",
      "a/topic1/0/topic1-0-00000000000000000030"))
    assert(readLines(s"$dir/a/topic1/0/topic1-0-00000000000000000030",
      CompressionType.None) == List("""{"value":"value2"}"""))
  }

  test("legacy prefix template renders {{utc_date}} " +
    "(S3SinkTaskTest.java:420-434)") {
    val dir = tmpDir("prefix-utc")
    val cfg = config(
      "aws_s3_prefix" -> "prefix-{{ utc_date }}--", // old-style property
      "file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f1Records(1), cfg, dir, Now)
    // utc_date renders the batch wallclock (Now fixture = 2020-03-01)
    assert(ls(dir) == Set("prefix-2020-03-01--test-topic-0-00000000000000000000"))
  }

  test("a {{key}} prefix splits one chunk into an object per key, each " +
    "with its own JSON framing, tombstone-only objects included") {
    val dir = tmpDir("prefix-key-json")
    val cfg = config("aws.s3.prefix" -> "{{key}}-",
      "format.output.type" -> "json", "format.output.envelope" -> "false",
      "file.compression.type" -> "none")
    // struct values: a null (tombstone) value has no line and is skipped
    val df = spark.createDataFrame(Seq(
      Row("t", 0, 0L, new java.sql.Timestamp(1000L), "k1", Row("a"), null),
      Row("t", 0, 1L, new java.sql.Timestamp(1000L), "k2", null, null),
      Row("t", 0, 2L, new java.sql.Timestamp(1000L), "k1", null, null),
      Row("t", 0, 3L, new java.sql.Timestamp(1000L), "k1", Row("b"), null)).asJava,
      f3Records().schema)
    S3SinkPipeline.writeBatch(df, cfg, dir, Now)
    val start = "t-0-00000000000000000000"
    assert(ls(dir) == Set(s"k1-$start", s"k2-$start"))
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/k1-$start")),
      StandardCharsets.UTF_8) == "[\n{\"name\":\"a\"},\n{\"name\":\"b\"}\n]")
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/k2-$start")),
      StandardCharsets.UTF_8) == "[]")
  }

  test("a {{key}} prefix over many keys in one unlimited chunk holds one " +
    "object open at a time (JSONL and Parquet)") {
    spark.sparkContext.hadoopConfiguration.set(CountingFs.conf._1, CountingFs.conf._2)
    val keys = 200
    val df = spark.createDataFrame((0 until keys).map(i =>
      Row("t", 0, i.toLong, new java.sql.Timestamp(1000L), s"k$i", s"v$i", null)).asJava,
      f2Records().schema)
    // one shuffle partition: every object of the batch comes from one task
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try for (format <- Seq("jsonl", "parquet")) {
      val cfg = config("aws.s3.prefix" -> "{{key}}-", "format.output.type" -> format)
      CountingFs.reset()
      S3SinkPipeline.writeBatch(df, cfg, CountingFs.uri(tmpDir("prefix-key-many")), Now)
      assert(CountingFs.opened.get == keys, format)
      assert(CountingFs.closed.get == keys, format)
      assert(CountingFs.maxOpen.get == 1, format)
    } finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
  }

  test("two groups of one task that render the same name fail the write " +
    "rather than overwrite the first group's object") {
    val dir = tmpDir("name-collision")
    val cfg = config("file.name.template" -> "{{topic}}{{partition}}{{start_offset}}",
      "format.output.type" -> "jsonl", "file.compression.type" -> "none")
    // topic t1 partition 0 and topic t partition 10, both from offset 5,
    // render "t105"; one shuffle partition puts both groups in one task
    val df = spark.createDataFrame(Seq(
      Row("t1", 0, 5L, new java.sql.Timestamp(1000L), "k", "a", null),
      Row("t", 10, 5L, new java.sql.Timestamp(1000L), "k", "b", null)).asJava,
      f2Records().schema)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val e = try intercept[Exception](S3SinkPipeline.writeBatch(df, cfg, dir, Now))
      finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => Option(c.getMessage).exists(
      _.contains("object 't105' was already written by this task"))), e)
  }

  test("parquet envelope round-trips through Spark's parquet reader, " +
    "every codec (ParquetIntegrationTest envelope shape)") {
    for (codec <- CompressionType.all) {
      val dir = tmpDir(s"parquet-${codec.name}")
      val cfg = config(
        "format.output.type" -> "parquet",
        "format.output.fields" -> "key,offset,timestamp,headers,value",
        "file.compression.type" -> codec.name,
        "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
      S3SinkPipeline.writeBatch(f1Records(2), cfg, dir, Now)
      val f = s"$dir/test-topic-0-0${codec.extension}"
      assert(Files.exists(Paths.get(f)), s"codec ${codec.name}")
      val back = spark.read.parquet(f)
      assert(back.columns.toSet ==
        Set("key", "offset", "timestamp", "headers", "value"))
      val rows = back.orderBy("offset").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[String]("key") == "test-key")
      assert(rows(0).getAs[String]("value") == "test-value-0")
      assert(rows(0).getAs[Long]("timestamp") == 1000L)
      // headers come back as a MAP (README.md:364 envelope shape)
      assert(back.schema("headers").dataType
        .isInstanceOf[org.apache.spark.sql.types.MapType], s"codec ${codec.name}")
      val hs = rows(0).getMap[String, Array[Byte]](rows(0).fieldIndex("headers"))
        .map { case (k, v) => (k, new String(v, StandardCharsets.UTF_8)) }
      assert(hs == Map("test-header-key-1" -> "test-header-value-1",
        "test-header-key-2" -> "test-header-value-2"))
    }
  }

  test("strict-parity whole-object parquet compression: object bytes are " +
    "codec(parquet), not parquet(codec) — S3SinkTask.java:135-140 layout") {
    // the task-local spool (and the `.crc` sidecar Hadoop's checksummed
    // local file system writes next to it) must not outlive the object
    def spoolEntries = Option(new java.io.File(sys.props("java.io.tmpdir"))
      .list()).getOrElse(Array.empty[String])
      .filter(_.contains("graft-parquet-spool")).toSet
    val spoolsBefore = spoolEntries
    for (codec <- CompressionType.all if codec != CompressionType.None) {
      val dir = tmpDir(s"parquet-whole-${codec.name}")
      val cfg = config(
        "format.output.type" -> "parquet",
        "format.output.fields" -> "key,offset,timestamp,headers,value",
        "file.compression.type" -> codec.name,
        "graft.parquet.whole.object.compression" -> "true",
        "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
      assert(cfg.parquetWholeObjectCompression)
      S3SinkPipeline.writeBatch(f1Records(2), cfg, dir, Now)
      val f = s"$dir/test-topic-0-0${codec.extension}"
      val bytes = Files.readAllBytes(Paths.get(f))
      // NOT a bare parquet file: magic "PAR1" must not lead the object
      assert(!bytes.take(4).sameElements("PAR1".getBytes), codec.name)
      // outer-decompress the whole object -> a complete, readable parquet
      val in: InputStream = codec match {
        case CompressionType.Gzip   => new GZIPInputStream(new FileInputStream(f))
        case CompressionType.Snappy => new SnappyInputStream(new FileInputStream(f))
        case CompressionType.Zstd   => new ZstdInputStream(new FileInputStream(f))
        case CompressionType.None   => new FileInputStream(f)
      }
      val plain = Files.createTempFile("unwrapped", ".parquet")
      try {
        Files.copy(in, plain, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        val inner = Files.readAllBytes(plain)
        assert(inner.take(4).sameElements("PAR1".getBytes), codec.name)
        val back = spark.read.parquet(plain.toString).orderBy("offset").collect()
        assert(back.length == 2)
        assert(back(0).getAs[String]("key") == "test-key")
        assert(back(1).getAs[String]("value") == "test-value-1")
      } finally { in.close(); Files.deleteIfExists(plain) }
    }
    val leaked = spoolEntries -- spoolsBefore
    assert(leaked.isEmpty, s"parquet spool files left behind: $leaked")
  }

  test("parquet round-trip matrix: field orders x envelope on/off x all " +
    "codecs — every written object reads back equal to its input " +
    "(ParquetUtils.java:42-70 read-back contract)") {
    val orders = Seq(
      Seq("key", "offset", "timestamp", "headers", "value"),
      Seq("value", "key"),
      Seq("offset", "value", "timestamp"))
    for (codec <- CompressionType.all) {
      // envelope=true across every field order
      for (order <- orders) {
        val dir = tmpDir(s"rt-${codec.name}-${order.mkString("_")}")
        val cfg = config(
          "format.output.type" -> "parquet",
          "format.output.fields" -> order.mkString(","),
          "file.compression.type" -> codec.name,
          "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
        S3SinkPipeline.writeBatch(f1Records(3), cfg, dir, Now)
        val back = spark.read.parquet(s"$dir/test-topic-0-0${codec.extension}")
        // requested field ORDER is preserved in the file schema
        assert(back.columns.toSeq == order, s"$codec $order")
        val rows = back.collect().sortBy(r =>
          if (order.contains("offset")) r.getAs[Long]("offset")
          else r.getAs[String]("value").split("-").last.toLong)
        assert(rows.length == 3, s"$codec $order")
        rows.zipWithIndex.foreach { case (r, i) =>
          assert(r.getAs[String]("value") == s"test-value-$i")
          if (order.contains("key"))
            assert(r.getAs[String]("key") == "test-key")
          if (order.contains("offset"))
            assert(r.getAs[Long]("offset") == i.toLong)
          if (order.contains("timestamp"))
            assert(r.getAs[Long]("timestamp") == 1000L)
          if (order.contains("headers")) {
            val hs = r.getMap[String, Array[Byte]](r.fieldIndex("headers"))
              .map { case (k, v) => (k, new String(v, StandardCharsets.UTF_8)) }
            assert(hs == Map("test-header-key-1" -> "test-header-value-1",
              "test-header-key-2" -> "test-header-value-2"))
          }
        }
      }
      // envelope=false + single struct value field: unwrapped round-trip
      val dir = tmpDir(s"rt-unwrap-${codec.name}")
      val cfg = config(
        "format.output.type" -> "parquet",
        "format.output.envelope" -> "false",
        "file.compression.type" -> codec.name,
        "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
      S3SinkPipeline.writeBatch(f3Records(), cfg, dir, Now)
      val back = spark.read.parquet(s"$dir/topic0-0-10${codec.extension}")
      assert(back.columns.toSeq == Seq("name"), s"unwrap $codec")
      assert(back.collect().map(_.getString(0)).toSeq == Seq("name0"))
    }
  }

  test("parquet default fields=value writes a {value}-only schema " +
    "(README.md:227,355-436)") {
    val dir = tmpDir("parquet-default-fields")
    val cfg = config(
      "format.output.type" -> "parquet",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
    S3SinkPipeline.writeBatch(f1Records(2), cfg, dir, Now)
    val back = spark.read.parquet(s"$dir/test-topic-0-0")
    assert(back.columns.toSeq == Seq("value"))
    assert(back.orderBy("value").collect().map(_.getString(0)).toSeq ==
      Seq("test-value-0", "test-value-1"))
  }

  test("parquet preserves record-typed values as nested groups " +
    "(AvroParquetIntegrationTest.java:207-270)") {
    val dir = tmpDir("parquet-nested")
    val cfg = config(
      "format.output.type" -> "parquet",
      "format.output.fields" -> "key,value",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
    S3SinkPipeline.writeBatch(f3Records(), cfg, dir, Now)
    val back = spark.read.parquet(s"$dir/topic0-0-10")
    assert(back.columns.toSeq == Seq("key", "value"))
    assert(back.schema("value").dataType.isInstanceOf[StructType])
    val r = back.collect().head
    assert(r.getString(0) == "key0")
    assert(r.getStruct(1).getString(0) == "name0")
  }

  test("parquet envelope=false + single value field unwraps a record value " +
    "to top-level fields (ParquetIntegrationTest.java:278-344)") {
    val dir = tmpDir("parquet-unwrap")
    val cfg = config(
      "format.output.type" -> "parquet",
      "format.output.envelope" -> "false",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
    S3SinkPipeline.writeBatch(f3Records(), cfg, dir, Now)
    val back = spark.read.parquet(s"$dir/topic0-0-10")
    assert(back.columns.toSeq == Seq("name"))
    assert(back.collect().head.getString(0) == "name0")
  }

  test("parquet envelope=false is ignored for non-record values " +
    "(README.md:434-436)") {
    val dir = tmpDir("parquet-unwrap-scalar")
    val cfg = config(
      "format.output.type" -> "parquet",
      "format.output.envelope" -> "false",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
    S3SinkPipeline.writeBatch(f1Records(1), cfg, dir, Now)
    val back = spark.read.parquet(s"$dir/test-topic-0-0")
    assert(back.columns.toSeq == Seq("value")) // still wrapped in {value}
    assert(back.collect().head.getString(0) == "test-value-0")
  }

  test("schema-change rotation: contiguous fingerprint runs split files at " +
    "the change offset (ParquetIntegrationTest.java:346-415)") {
    import org.apache.spark.sql.functions.{length => strlen, col}
    val dir = tmpDir("rotate")
    val cfg = config("file.compression.type" -> "none",
      "format.output.fields.value.encoding" -> "none")
    // values switch "schema" (here: byte length) at offset 2, back at 4:
    // A A B B A -> three files starting at offsets 0, 2, 4
    val schema = graft.connector.Records.schema
    val rows = Seq("aa", "ab", "xxxx", "xyyy", "ac").zipWithIndex.map {
      case (v, i) => Row("t", 0, i.toLong, new java.sql.Timestamp(1000L),
        "k".getBytes, v.getBytes, null)
    }
    val df = spark.createDataFrame(rows.asJava, schema)
    S3SinkPipeline.writeBatch(df, cfg, dir, Now,
      schemaFingerprint = Some(strlen(col("value").cast("string"))))
    assert(ls(dir) == Set("t-0-0", "t-0-2", "t-0-4"))
    assert(readLines(s"$dir/t-0-2", CompressionType.None) == List("xxxx", "xyyy"))
    assert(readLines(s"$dir/t-0-4", CompressionType.None) == List("ac"))
  }

  test("re-running the same batch overwrites objects byte-identically " +
    "(idempotent at-least-once retry, S3SinkTask.java:120-124)") {
    val dir = tmpDir("idem")
    val cfg = config("file.compression.type" -> "none")
    S3SinkPipeline.writeBatch(f1Records(3), cfg, dir, Now)
    val first = readLines(s"$dir/test-topic-0-0", CompressionType.None)
    S3SinkPipeline.writeBatch(f1Records(3), cfg, dir, Now) // retry
    assert(ls(dir) == Set("test-topic-0-0")) // no duplicate objects
    assert(readLines(s"$dir/test-topic-0-0", CompressionType.None) == first)
  }

  test("empty batch produces no objects (lazy acquisition, " +
    "S3OutputStreamTest.java:78-88)") {
    // each writer opens an object only when the object's first row
    // arrives: both grouping modes, both writers, both parquet layouts
    for (cfg <- Seq(config(),
        config("file.name.template" -> "{{key}}", "format.output.type" -> "jsonl"),
        config("format.output.type" -> "parquet"),
        config("format.output.type" -> "parquet",
          "graft.parquet.whole.object.compression" -> "true"))) {
      val dir = tmpDir("empty")
      S3SinkPipeline.writeBatch(f1Records(0), cfg, dir, Now)
      assert(ls(dir).isEmpty, cfg)
    }
  }

  test("a row that raises mid-object surfaces its own error and every " +
    "opened stream is closed (JSONL and Parquet)") {
    spark.sparkContext.hadoopConfiguration.set(CountingFs.conf._1, CountingFs.conf._2)
    // the writers' sort evaluates every row before the first object opens,
    // so a raising row reaches the per-task loop through a local iterator:
    // Spark partition 0 (offsets 0-2) is written into the open object
    // before partition 1 is computed and offset 3 raises
    def rows(): Iterator[Row] =
      spark.range(0, 6, 1, 2)
        .select(lit("obj").as("_filename"),
          when(col("id") === 3L, raise_error(lit("boom at offset 3")))
            .otherwise(concat(lit("line-"), col("id"))),
          col("id").as("offset"))
        .toLocalIterator().asScala
    def check(write: (Iterator[Row], String) => Unit, objectsOpened: Int): Unit = {
      CountingFs.reset()
      val e = intercept[Exception](write(rows(), CountingFs.uri(tmpDir("raise"))))
      assert(e.getMessage.contains("boom at offset 3"))
      assert(CountingFs.opened.get == objectsOpened)
      assert(CountingFs.closed.get == objectsOpened)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    // rows are (name, line, offset): named by column 0, the line and the
    // Parquet value in column 1
    for (jsonArray <- Seq(false, true))
      check(GroupFileWriter.writePartition(_, _, conf, CompressionType.Gzip, jsonArray,
        ByColumn(0), lineIdx = 1), 1)
    val (_, writers, schema) = ParquetEnvelopeWriter.plan(config(), StringType, base = 1)
    check(ParquetEnvelopeWriter.writePartition(_, _, conf, CompressionCodecName.GZIP,
      CompressionType.None, schema.toString, writers, ByColumn(0)), 1)
    // strict parity writes a task-local spool file and opens the object only
    // on close: the failed object is never opened and its spool is deleted
    def spools = new java.io.File(System.getProperty("java.io.tmpdir"))
      .list().count(_.startsWith("graft-parquet-spool"))
    val before = spools
    check(ParquetEnvelopeWriter.writePartition(_, _, conf, CompressionCodecName.UNCOMPRESSED,
      CompressionType.Gzip, schema.toString, writers, ByColumn(0)), 0)
    assert(spools == before)
  }

  test("rendered name parsing as an absolute URI cannot escape the sink " +
    "base even when its path prefix matches (scheme/authority pinned)") {
    val base = tmpDir("uri-escape")
    // path component starts with the base path, so a path-prefix-only check
    // would pass — the scheme/authority check must reject it
    for (evil <- Seq(s"s3a://other-bucket$base/x", s"file://evil-host$base/x"))
      intercept[IllegalArgumentException] {
        GroupFileWriter.resolveUnder(base, evil)
      }
    // and a benign nested name still resolves under the base
    val ok = GroupFileWriter.resolveUnder(base, "sub/dir/obj")
    assert(ok.toUri.getPath == s"$base/sub/dir/obj")
  }

  test("parquet unwrap skips null-valued (tombstone) records instead of " +
    "emitting an invalid empty group") {
    val dir = tmpDir("parquet-unwrap-null")
    val valueType = StructType(Seq(StructField("name", StringType, nullable = false)))
    val schema = StructType(Seq(
      StructField("topic", StringType, false),
      StructField("partition", IntegerType, false),
      StructField("offset", LongType, false),
      StructField("timestamp", TimestampType, true),
      StructField("key", StringType, true),
      StructField("value", valueType, true),
      StructField("headers", graft.connector.Records.schema("headers").dataType, true)))
    val rows = Seq(
      Row("t", 0, 0L, new java.sql.Timestamp(1000L), "k0", Row("name0"), null),
      Row("t", 0, 1L, new java.sql.Timestamp(1001L), "k1", null, null), // tombstone
      Row("t", 0, 2L, new java.sql.Timestamp(1002L), "k2", Row("name2"), null))
    val cfg = config(
      "format.output.type" -> "parquet",
      "format.output.envelope" -> "false",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
    S3SinkPipeline.writeBatch(spark.createDataFrame(rows.asJava, schema), cfg, dir, Now)
    val back = spark.read.parquet(s"$dir/t-0-0")
    assert(back.columns.toSeq == Seq("name"))
    assert(back.orderBy("name").collect().map(_.getString(0)).toSeq ==
      Seq("name0", "name2"))
  }

  test("JSONL unwrap skips null-valued (tombstone) records instead of " +
    "failing on a null line") {
    val dir = tmpDir("jsonl-unwrap-null")
    val valueType = StructType(Seq(StructField("name", StringType, nullable = false)))
    val schema = StructType(Seq(
      StructField("topic", StringType, false),
      StructField("partition", IntegerType, false),
      StructField("offset", LongType, false),
      StructField("timestamp", TimestampType, true),
      StructField("key", StringType, true),
      StructField("value", valueType, true),
      StructField("headers", graft.connector.Records.schema("headers").dataType, true)))
    val rows = Seq(
      Row("t", 0, 0L, new java.sql.Timestamp(1000L), "k0", Row("name0"), null),
      Row("t", 0, 1L, new java.sql.Timestamp(1001L), "k1", null, null), // tombstone
      Row("t", 0, 2L, new java.sql.Timestamp(1002L), "k2", Row("name2"), null))
    val cfg = config(
      "format.output.type" -> "jsonl",
      "format.output.envelope" -> "false",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
    S3SinkPipeline.writeBatch(spark.createDataFrame(rows.asJava, schema), cfg, dir, Now)
    assert(readLines(s"$dir/t-0-0", CompressionType.None) ==
      List("""{"name":"name0"}""", """{"name":"name2"}"""))
  }

  test("parquet envelope=false stays wrapped for MAP values (documented " +
    "divergence from README.md:436 — map keys are data, not schema)") {
    val dir = tmpDir("parquet-unwrap-map")
    val valueType = MapType(StringType, LongType)
    val schema = StructType(Seq(
      StructField("topic", StringType, false),
      StructField("partition", IntegerType, false),
      StructField("offset", LongType, false),
      StructField("timestamp", TimestampType, true),
      StructField("key", StringType, true),
      StructField("value", valueType, true),
      StructField("headers", graft.connector.Records.schema("headers").dataType, true)))
    val rows = Seq(
      Row("t", 0, 0L, new java.sql.Timestamp(1000L), "k0", Map("a" -> 1L), null))
    val cfg = config(
      "format.output.type" -> "parquet",
      "format.output.envelope" -> "false",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
    S3SinkPipeline.writeBatch(spark.createDataFrame(rows.asJava, schema), cfg, dir, Now)
    val back = spark.read.parquet(s"$dir/t-0-0")
    assert(back.columns.toSeq == Seq("value"))
    assert(back.schema("value").dataType.isInstanceOf[MapType])
    assert(back.collect().head.getMap[String, Long](0) == Map("a" -> 1L))
  }

  test("parquet decimal fields round-trip at INT32/INT64/FIXED widths " +
    "(Avro decimal logical type through the Avro->parquet path)") {
    val dir = tmpDir("parquet-decimal")
    val valueType = StructType(Seq(
      StructField("d9", DecimalType(9, 2)),    // -> INT32
      StructField("d18", DecimalType(18, 4)),  // -> INT64
      StructField("d38", DecimalType(38, 10)))) // -> FIXED_LEN_BYTE_ARRAY
    val schema = StructType(Seq(
      StructField("topic", StringType, false),
      StructField("partition", IntegerType, false),
      StructField("offset", LongType, false),
      StructField("timestamp", TimestampType, true),
      StructField("key", StringType, true),
      StructField("value", valueType, true),
      StructField("headers", graft.connector.Records.schema("headers").dataType, true)))
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row("t", 0, 0L, new java.sql.Timestamp(1000L), "k0",
        Row(dec("1234567.89"), dec("12345678901234.5678"),
          dec("1234567890123456789012345678.0123456789")), null),
      Row("t", 0, 1L, new java.sql.Timestamp(1001L), "k1",
        Row(dec("-0.01"), dec("-1.0001"), dec("-42.0000000001")), null))
    val cfg = config(
      "format.output.type" -> "parquet",
      "format.output.fields" -> "offset,value",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
    S3SinkPipeline.writeBatch(spark.createDataFrame(rows.asJava, schema), cfg, dir, Now)
    val back = spark.read.parquet(s"$dir/t-0-0").orderBy("offset").collect()
    val v0 = back(0).getStruct(back(0).fieldIndex("value"))
    val v1 = back(1).getStruct(back(1).fieldIndex("value"))
    assert(v0.getDecimal(0) == dec("1234567.89"))
    assert(v0.getDecimal(1) == dec("12345678901234.5678"))
    assert(v0.getDecimal(2) == dec("1234567890123456789012345678.0123456789"))
    assert(v1.getDecimal(0) == dec("-0.01"))
    assert(v1.getDecimal(1) == dec("-1.0001"))
    assert(v1.getDecimal(2) == dec("-42.0000000001"))
  }

  test("curation -> sink e2e: substringRemoveText's cleaned corpus flows " +
    "through the JSONL writer — the engine's two halves composed") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("curation-sink")
    // doc 1 shares its first 10 tokens with doc 0 (>= 8-token run);
    // lowest-id keeps, so doc 1's copy is cut and only its tail survives.
    val shared = (0 until 10).map(i => s"c$i").mkString(" ")
    val docsDf = Seq((0L, shared), (1L, s"$shared extra1 extra2"))
      .toDF("doc_id", "text")
    // Adapt the cleaned corpus to the record model: the next corpus
    // snapshot rides the SAME sink path as any Kafka batch.
    val cleaned = graft.ops.Dedup.substringRemoveText(docsDf, 8)
    val records = cleaned.select(
      lit("cleaned").as("topic"),
      lit(0).cast(IntegerType).as("partition"),
      col("doc_id").as("offset"),
      lit(null).cast(TimestampType).as("timestamp"),
      col("doc_id").cast(StringType).as("key"),
      col("clean_text").as("value"),
      lit(null).cast(graft.connector.Records.schema("headers").dataType)
        .as("headers"))
    val cfg = config(
      "format.output.type" -> "jsonl",
      "format.output.fields" -> "key,value",
      "file.compression.type" -> "none",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset}}")
    S3SinkPipeline.writeBatch(records, cfg, dir, Now)
    assert(ls(dir) == Set("cleaned-0-0"))
    assert(readLines(s"$dir/cleaned-0-0", CompressionType.None) == List(
      s"""{"key":"0","value":"$shared"}""",
      """{"key":"1","value":"extra1 extra2"}"""))
  }
}
