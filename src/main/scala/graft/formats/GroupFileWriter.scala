package graft.formats

import java.io.OutputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.config.{CompressionType, FormatType}
import graft.connector.{Grouping, ObjectNamer, ObjectNaming}

/** The custom sink-side writer (SURVEY.md §4 item 1 and §7.3): writes one
  * object per group with the exact templated name, via Hadoop `FileSystem`
  * (s3a in production, file:// in tests). This is the only piece of the
  * connector Spark's built-in sinks can't express — Spark names files
  * `part-*`, the reference requires `{{topic}}-{{partition}}-…` names
  * (`S3SinkTask.java:169-205`).
  *
  * Scale design: an [[ObjectNaming]] decides the one exchange and the
  * order within each task — for topic-partition objects, clustered by
  * (topic, partition) and sorted by (topic, partition, offset) — and each
  * task streams its rows once through [[writeObjects]], whose
  * [[ObjectNamer]] cuts the chunks and names each object. A task holds one
  * object open at a time, never a per-group `collect()`. Deterministic names +
  * overwrite give the reference's at-least-once idempotent-retry contract
  * (`S3SinkTask.java:120-124`, SURVEY.md §3.2).
  *
  * JSON-array framing (O12) writes `[`, rows with trailing commas, `]` —
  * byte-exact with `IntegrationTest.java:504-511`; JSONL/CSV write one
  * record per `\n`-terminated line.
  */
object GroupFileWriter {

  /** Resolve a rendered file name under the sink base, refusing resolution
    * outside it. The reference's S3 object keys are flat strings that cannot
    * escape the bucket/prefix; on hierarchical FileSystems a record KEY
    * containing `..` (key-grouping mode feeds raw keys into names) could
    * otherwise walk out of `baseUri`. `/` inside a name is allowed — it
    * stays under the base, matching S3's treatment of `/` as a plain key
    * character. */
  private[formats] def resolveUnder(baseUri: String, name: String): Path = {
    val base = new Path(baseUri).toUri.normalize()
    val resolved = new Path(baseUri, name).toUri.normalize()
    // A name that itself parses as an absolute URI (e.g. a record key like
    // "s3a://other-bucket/...") wins Path resolution outright, so a
    // path-prefix check alone is not enough: the resolved URI must stay on
    // the base's scheme AND authority (bucket), not just under its path.
    require(resolved.getScheme == base.getScheme &&
        resolved.getAuthority == base.getAuthority,
      s"rendered file name '$name' escapes the sink base '$baseUri' " +
        "(foreign scheme or authority)")
    require(resolved.getPath.startsWith(base.getPath.stripSuffix("/") + "/"),
      s"rendered file name '$name' escapes the sink base '$baseUri'")
    new Path(resolved)
  }

  /** Write `df` — which must contain `_filename` (string) and `_line`
    * (string) columns plus an `offset` ordering column — one compressed
    * object per distinct `_filename` under `baseUri`. A row whose `_line` is
    * null is skipped. Returns nothing; the write is the effect.
    *
    * `groupCols` is any column set that determines `_filename` (e.g.
    * (topic, partition)) — repartitioning on it satisfies the upstream
    * grouping window's required distribution, so Catalyst plans ONE
    * exchange for annotate+write instead of two. Defaults to `_filename`
    * itself. */
  def writeLines(df: DataFrame, baseUri: String, format: FormatType,
                 compression: CompressionType,
                 groupCols: Seq[String] = Seq("_filename")): Unit =
    write(df, Grouping.byName(groupCols), col("_line"), baseUri, format, compression)

  /** Write `records` as the objects `naming` cuts, one `line` per record
    * (a null line is skipped), compressed, under `baseUri`. */
  def write(records: DataFrame, naming: ObjectNaming, line: Column, baseUri: String,
            format: FormatType, compression: CompressionType): Unit = {
    val jsonArray = format == FormatType.Json
    val namer = naming.namer
    val lineIdx = naming.columns.size
    withHadoopConf(records.sparkSession) { conf =>
      naming.arrange(records.select(naming.columns :+ line.as("_line"): _*))
        .foreachPartition { (it: Iterator[Row]) =>
          writePartition(it, baseUri, conf.value.value, compression, jsonArray,
            namer, lineIdx)
        }
    }
  }

  /** Run one write with the session's Hadoop conf broadcast, the way Spark's
    * file sources ship it: a task closure that captured the conf itself
    * would carry all of it (~100 KB) in every task. The broadcast is made
    * per write, not cached, because [[graft.GraftSession.create]] may set
    * s3a keys after the session starts; it is destroyed when `body`
    * returns. */
  private[formats] def withHadoopConf[T](spark: SparkSession)(
      body: Broadcast[SerializableConfiguration] => T): T = {
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    try body(conf) finally conf.destroy()
  }

  /** One task's line objects, over rows whose line is column `lineIdx`. */
  private[formats] def writePartition(it: Iterator[Row], baseUri: String,
                             conf: Configuration, compression: CompressionType,
                             jsonArray: Boolean, namer: ObjectNamer,
                             lineIdx: Int): Unit = {
    var first = true
    writeObjects[OutputStream](it, namer)(
      open = { name =>
        val path = resolveUnder(baseUri, name)
        val fs = FileSystem.get(path.toUri, conf)
        // create makes missing parents itself (a postcondition of Hadoop's
        // FileSystem spec); overwrite=true: deterministic names make
        // retries idempotent
        val out = Compression.wrap(fs.create(path, true), compression)
        if (jsonArray) out.write('[')
        first = true
        out
      },
      // a null line (envelope off, struct value, tombstone) has nothing
      // representable: skipped, the policy of ParquetEnvelopeWriter's unwrap
      write = (out, row) => if (!row.isNullAt(lineIdx)) {
        if (jsonArray) {
          if (!first) out.write(',')
          out.write('\n')
        }
        out.write(row.getString(lineIdx).getBytes(StandardCharsets.UTF_8))
        if (!jsonArray) out.write('\n')
        first = false
      },
      close = { out =>
        if (jsonArray) {
          if (!first) out.write('\n')
          out.write(']')
        }
        out.close()
      },
      release = _.close())
  }

  /** The loop both object writers run per task. `namer` cuts the rows, in
    * the order the write arranged them, into objects: a row that starts an
    * object closes the one before and opens its own, so a task holds one
    * object open at a time.
    *
    * A name this task already wrote is never reopened — that would
    * overwrite the object — and fails the task instead, on every retry, so
    * such a config stops the sink. Two groups render one name only when the
    * template cannot tell them apart: `{{topic}}{{partition}}{{start_offset}}`
    * gives `t105` for topic `t1` partition 0 and for topic `t` partition 10,
    * both from offset 5. For the check the task keeps one name per object
    * it wrote. Two such groups in different tasks overwrite each other, as
    * they did when every write sorted by name; a write in name order
    * ([[graft.connector.ByColumn]]) never repeats a name, so its same-named
    * rows go to one object.
    *
    * If anything throws while an object is open, `release` frees it — a
    * stream or writer left open leaks its descriptor and buffers on a
    * long-lived executor — and a failure inside `release` is attached as
    * suppressed, so the task's own exception is the one that propagates. */
  private[formats] def writeObjects[O](it: Iterator[Row], namer: ObjectNamer)(
      open: String => O, write: (O, Row) => Unit, close: O => Unit,
      release: O => Unit): Unit = {
    val cursor = namer.cursor()
    val written = mutable.HashSet.empty[String]
    var obj: Option[O] = None
    try {
      it.foreach { row =>
        if (cursor.advance(row)) {
          obj.foreach(close)
          obj = None // closed: nothing to release should `open` throw
          val name = cursor.name
          if (!written.add(name)) throw new IllegalStateException(
            s"object '$name' was already written by this task: two groups render the same name")
          obj = Some(open(name))
        }
        write(obj.get, row)
      }
      obj.foreach(close)
    } catch {
      case e: Throwable =>
        obj.foreach { o =>
          try release(o) catch { case r: Throwable => e.addSuppressed(r) }
        }
        throw e
    }
  }
}
