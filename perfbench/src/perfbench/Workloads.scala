package perfbench

import java.nio.file.{Files, Paths}
import java.time.ZonedDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.{MarkupExpressions, PiiExpressions}
import graft.ops.TextAnalysis
import graft.sources.SinkObjectReader
import graft.streaming.S3SinkPipeline

/** A streaming workload: a file stream source drains a generated backlog
  * one file per trigger. It runs either timed drains of the production
  * path, checking every output (end-to-end metrics, no tracing), or the
  * traced run: one production drain with counting listeners, then one
  * traced drain (per-layer metrics). */
abstract class StreamWorkload(b: Bench) {
  val input = s"${b.work}/input"
  /** Records of one drain and their uncompressed payload bytes. */
  val records: Long = b.expect.get("records").asLong
  private val payloadBytes = b.expect.get("payload_bytes").asDouble
  /** Drains of the backlog before timing: the JIT settles over ~40 triggers. */
  def warmupDrains: Int
  def start(src: DataFrame, out: String, ckpt: String): StreamingQuery
  /** The per-batch body of the traced run. */
  def tracedBatch(t: Tracer, io: LayerCounts, batch: DataFrame, out: String, id: String): Unit
  def check(out: String): Check

  private def e2e(walls: Seq[Double], batchMs: Seq[Double], checks: Seq[Check]): Unit = {
    val r = b.res
    r.put("records_per_s", Stats.median(walls.map(records / _)), "rec/s", walls.size)
    r.put("batch_p50_ms", Stats.median(batchMs), "ms", batchMs.size)
    r.put("stored_bytes_per_input_byte",
      Stats.median(checks.map(_.bytes / payloadBytes)), "ratio", checks.size)
  }

  private def emitLayers(m: Map[String, Double], t: Tracer): Unit = {
    val self = t.selfByName
    def selfOf(layer: String) =
      self.collect { case (n, s) if n.startsWith(layer + ".") => s }.sum
    val selfs = Seq("sources", "streaming", "connector", "formats", "ops")
      .map(l => s"$l.self_s" -> selfOf(l)).toMap
    val spans = Paths.get(b.work, "trace", "spans.json")
    Files.createDirectories(spans.getParent)
    Files.write(spans, t.spansJson.getBytes("UTF-8"))
    // every per-layer metric BENCHMARK.json names; a layer this workload
    // leaves idle reads 0
    b.perLayer.foreach { case (n, u) =>
      b.res.put(n, m.getOrElse(n, selfs.getOrElse(n, 0.0)), u)
    }
  }

  /** Layer metrics every workload shares: production-run Spark counters,
    * the connector and writer spans of the traced run, the read-back. */
  private def common(t: Tracer, prod: Counters, prodWall: Double, tracedWall: Double,
                     check: Check, io: LayerCounts): Map[String, Double] = {
    val conn = t.under("connector.")
    val writeS = t.spans.asScala.filter(_.name == "formats.write").map(_.seconds).sum
    Map(
      "sources.readback_s" -> check.readbackS,
      "sources.readback_objects" -> check.objects.toDouble,
      "sources.readback_bytes" -> check.bytes.toDouble,
      "sources.rows_read_per_record" -> prod.inputRecords.toDouble / records,
      "connector.exec_s" -> t.spans.asScala.filter(_.name == "connector.group").map(_.seconds).sum,
      "connector.shuffle_write_bytes" -> conn.shuffleWriteBytes.toDouble,
      "connector.groups_per_batch" -> io.groups.toDouble / math.max(1L, io.batches),
      "connector.records_in" -> io.recordsIn.toDouble,
      "connector.records_out" -> io.recordsOut.toDouble,
      "formats.write_s" -> writeS,
      "formats.bytes_uncompressed" -> io.lineBytes.toDouble,
      "formats.write_mb_s" -> io.lineBytes / 1e6 / writeS,
      "formats.objects_written" -> check.objects.toDouble,
      "formats.bytes_written" -> check.bytes.toDouble,
      "spark.gc_ms" -> prod.gcMs.toDouble,
      "spark.executor_cpu_s" -> prod.cpuNs / 1e9,
      "spark.cpu_utilization" -> prod.cpuNs / 1e9 / (prodWall * b.cores),
      "trace.overhead_s" -> (tracedWall - prodWall))
  }

  /** The last warm-up drain is checked too, which warms the read-back path. */
  private def warmUp(): Unit = {
    val last = (1 to warmupDrains).map(_ => b.drain("warmup", input, records)(start)).last
    b.record(check(last.out))
    b.markSetupDone()
  }

  def timed(seconds: Double): Unit = {
    warmUp()
    val t0 = System.nanoTime
    val drains = mutable.ArrayBuffer.empty[Drain]
    val checks = mutable.ArrayBuffer.empty[Check]
    do {
      val d = b.drain("timed", input, records)(start)
      drains += d
      if (b.corrupt && drains.size == 1) b.damageOne(d.out)
      val c = check(d.out)
      b.record(c)
      checks += c
    } while ((System.nanoTime - t0) / 1e9 < seconds)
    e2e(drains.map(_.wallS).toSeq, drains.flatMap(_.durations("triggerExecution")).toSeq,
      checks.toSeq)
    val keys = drains.head.batches.head.durationMs.keySet.asScala.toSeq.sorted
    b.res.notes += "drains s: " + drains.map(d => f"${d.wallS}%.2f").mkString(" ")
    b.res.notes += "per-batch p50 ms: " + keys.map(k =>
      f"$k=${Stats.median(drains.flatMap(_.durations(k)).toSeq)}%.0f").mkString(" ")
  }

  def traced(): Unit = {
    warmUp()
    val t = b.tracer()
    val prod = b.drain("production", input, records)(start)
    val counted = t.total
    val skew = t.writeTaskSkew
    val prodCheck = check(prod.out)
    b.record(prodCheck)
    t.reset()
    val io = new LayerCounts
    val tr = t.span("streaming.drain") {
      b.drain("traced", input, records) { (src, out, ckpt) =>
        src.writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            t.span("streaming.batch", s"batch-$id")(tracedBatch(t, io, batch, out, s"batch-$id"))
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.ProcessingTime(0L))
          .start()
      }
    }
    b.record(t.span("sources.readback")(check(tr.out)))
    val n = prod.batches.size.toDouble
    def p50(keys: String*) = Stats.median(prod.batches.indices.map(i =>
      keys.map(k => prod.durations(k)(i)).sum))
    val m = common(t, counted, prod.wallS, tr.wallS, prodCheck, io) ++ Map(
      "sources.get_batch_ms" -> p50("latestOffset", "getBatch"),
      "streaming.add_batch_ms" -> p50("addBatch"),
      "streaming.checkpoint_ms" -> p50("walCommit", "commitOffsets"),
      "streaming.query_planning_ms" -> p50("queryPlanning"),
      "streaming.jobs_per_batch" -> counted.jobs / n,
      "streaming.stages_per_batch" -> counted.stages / n,
      "streaming.tasks_per_batch" -> counted.tasks / n,
      "streaming.batches" -> n,
      "formats.task_skew" -> skew) ++ extraLayers(t, io)
    emitLayers(m, t)
  }

  protected def extraLayers(t: Tracer, io: LayerCounts): Map[String, Double] = Map.empty
}

/** The connector's own product path: Kafka-shaped records through
  * `S3SinkPipeline.start`, topic-partition grouping with file.max.records
  * chunks, gzip JSONL. */
final class SinkStream(b: Bench) extends StreamWorkload(b) {
  private val maxRecords = b.expect.get("max_records").asInt
  val warmupDrains = 3
  val cfg = b.config(
    "file.compression.type" -> "gzip", "format.output.type" -> "jsonl",
    "format.output.fields" -> "key,value,offset,timestamp,headers",
    "format.output.fields.value.encoding" -> "none",
    "file.max.records" -> maxRecords.toString)

  def start(src: DataFrame, out: String, ckpt: String): StreamingQuery =
    S3SinkPipeline.start(src, cfg, out, ckpt, flushIntervalMs = 0L)

  def tracedBatch(t: Tracer, io: LayerCounts, batch: DataFrame, out: String, id: String): Unit =
    b.tracedWrite(t, batch, cfg, out, ZonedDateTime.now(cfg.timestampZone), id, io)

  /** The same drain on one core: the single-thread reference of this job. */
  override protected def extraLayers(t: Tracer, io: LayerCounts): Map[String, Double] = {
    b.restart(1)
    val d = b.drain("one_core", input, records)(start)
    Map("streaming.records_per_s_1core" -> d.records / d.wallS)
  }

  private val readSchema = StructType.fromDDL(
    "key STRING, value STRING, offset BIGINT, timestamp STRING, headers MAP<STRING, STRING>")

  def check(out: String): Check = {
    val objs = b.objects(out)
    val bad = mutable.ArrayBuffer.empty[String]
    val want = Bench.names(b.expect.get("names"))
    if (objs.keySet != want)
      bad += s"object names: ${(objs.keySet diff want).size} unexpected, ${(want diff objs.keySet).size} missing"
    val (rows, readS) = b.readBack(SinkObjectReader.readJsonl(b.spark, out, readSchema)
      .select("object_name", "offset", "value"))
    var digest = 0L
    val perObject = mutable.Map.empty[String, Int].withDefaultValue(0)
    rows.foreach { r =>
      val name = r.getString(0)
      val Array(topic, part, start) = name.stripSuffix(".gz").split("-")
      if (r.isNullAt(1) || r.isNullAt(2)) bad += s"$name: unreadable line"
      else {
        if (r.getLong(1) < start.toLong) bad += s"$name: offset ${r.getLong(1)} before start"
        digest += Bench.recordDigest(topic, part.toInt, r.getLong(1), r.getString(2))
      }
      perObject(name) += 1
    }
    if (perObject.values.exists(_ > maxRecords)) bad += "object over file.max.records"
    if (rows.length != records) bad += s"records: ${rows.length} read back, $records sent"
    if (Bench.unsigned(digest) != b.expect.get("digest").asText)
      bad += "(topic, partition, offset, value) multiset digest differs"
    Check(bad.toSeq, rows.length, readS, objs.size, objs.values.sum)
  }
}

/** Records → curation → sink: crawl pages through the crawl front
  * (canonical URL, markup extraction, PII scrub, C4 flags), then
  * `writeBatch` in key mode keyed on the canonical URL, zstd JSONL. */
final class CrawlStream(b: Bench) extends StreamWorkload(b) {
  val warmupDrains = 2
  val cfg = b.config(
    "file.name.template" -> "{{key}}", "file.compression.type" -> "zstd",
    "format.output.type" -> "jsonl", "format.output.fields" -> "key,value,offset",
    "format.output.fields.value.encoding" -> "none")

  private val pageSchema = StructType.fromDDL(
    "crawl_id BIGINT, page_id BIGINT, url STRING, html STRING")
  private val outSchema = StructType.fromDDL(
    "url_canon STRING, crawl_id BIGINT, page_id BIGINT, keep BOOLEAN, text STRING")

  def curate(batch: DataFrame): DataFrame = {
    val kafka = Seq("topic", "partition", "offset", "timestamp")
    val pages = batch
      .select(kafka.map(col) :+ from_json(col("value").cast("string"), pageSchema).as("p"): _*)
      .select(kafka.map(col) ++ Seq(
        col("p.crawl_id").as("doc_id"), col("p.page_id").as("page_id"),
        TextAnalysis.canonicalizeUrl(col("p.url")).as("url_canon"),
        PiiExpressions.redactPii(MarkupExpressions.extractMarkup(col("p.html"))).as("text")): _*)
    TextAnalysis.c4FilterQuery(pages,
      (kafka :+ "page_id" :+ "url_canon").map(c => c -> col(c)) :+ ("clean_text" -> col("text")))
      .select(kafka.map(col) ++ Seq(
        md5(col("url_canon")).cast("binary").as("key"),
        to_json(struct(col("url_canon"), col("doc_id").as("crawl_id"), col("page_id"),
          col("keep"), col("clean_text").as("text"))).cast("binary").as("value"),
        array().cast("array<struct<key:string,value:binary>>").as("headers")): _*)
  }

  def start(src: DataFrame, out: String, ckpt: String): StreamingQuery =
    src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        S3SinkPipeline.writeBatch(curate(batch), cfg, out,
          ZonedDateTime.now(cfg.timestampZone))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .start()

  def tracedBatch(t: Tracer, io: LayerCounts, batch: DataFrame, out: String, id: String): Unit = {
    val cur = t.span("ops.curate", id)(curate(batch).localCheckpoint(true))
    t.span("trace.count", id) {
      io.docsIn += cur.count()
      io.docsKept += cur.where(get_json_object(col("value").cast("string"), "$.keep") === "true").count()
    }
    b.tracedWrite(t, cur, cfg, out, ZonedDateTime.now(cfg.timestampZone), id, io)
  }

  override protected def extraLayers(t: Tracer, io: LayerCounts): Map[String, Double] = {
    val curate = t.spans.asScala.filter(_.name == "ops.curate").map(_.seconds).toSeq
    val ops = t.under("ops.")
    Map("ops.curate_ms_per_batch" -> Stats.median(curate.map(_ * 1000)),
      "ops.exec_s" -> curate.sum, "ops.stages" -> ops.stages.toDouble,
      "ops.tasks" -> ops.tasks.toDouble, "ops.single_task_stages" -> ops.singleTaskStages.toDouble,
      "ops.shuffle_write_bytes" -> ops.shuffleWriteBytes.toDouble,
      "ops.spill_bytes" -> ops.spillBytes.toDouble,
      "ops.docs_in" -> io.docsIn.toDouble, "ops.docs_kept" -> io.docsKept.toDouble)
  }

  /** Cleaned text the crawl front gives each page's latest crawl, computed
    * in one batch query straight from the input files (no sink code). */
  private lazy val latestText: Map[Long, String] = {
    val ids = b.expect.get("objects").elements().asScala.map(_.get("crawl_id").asLong).toSeq
    b.spark.read.schema(Bench.InputSchema).json(input)
      .select(from_json(col("value"), pageSchema).as("p"))
      .where(col("p.crawl_id").isin(ids: _*))
      .select(col("p.crawl_id"),
        PiiExpressions.redactPii(MarkupExpressions.extractMarkup(col("p.html"))))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  def check(out: String): Check = {
    val objs = b.objects(out)
    val want = b.expect.get("objects")
    val bad = mutable.ArrayBuffer.empty[String]
    val wantNames = want.fieldNames().asScala.toSet
    if (objs.keySet != wantNames)
      bad += s"object names: ${(objs.keySet diff wantNames).size} unexpected, ${(wantNames diff objs.keySet).size} missing"
    val (rows, readS) = b.readBack(
      SinkObjectReader.readJsonl(b.spark, out, StructType.fromDDL("key STRING, value STRING"))
        .select(col("object_name"), from_json(col("value"), outSchema).as("v"))
        .select("object_name", "v.url_canon", "v.crawl_id", "v.text"))
    rows.groupBy(_.getString(0)).foreach { case (name, rs) =>
      val w = want.get(name)
      if (rs.length != 1) bad += s"$name: ${rs.length} lines, want 1"
      else if (w == null) ()
      else {
        val r = rs.head
        if (r.getString(1) != w.get("url_canon").asText) bad += s"$name: url_canon ${r.getString(1)}"
        if (r.isNullAt(2) || r.getLong(2) != w.get("crawl_id").asLong)
          bad += s"$name: not the latest crawl"
        else if (latestText.get(r.getLong(2)).forall(_ != r.getString(3)))
          bad += s"$name: cleaned text differs"
      }
    }
    Check(bad.toSeq, rows.length, readS, objs.size, objs.values.sum)
  }
}
