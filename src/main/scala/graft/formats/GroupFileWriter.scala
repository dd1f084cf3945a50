package graft.formats

import java.io.OutputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.config.{CompressionType, FormatType}

/** The custom sink-side writer (SURVEY.md §4 item 1 and §7.3): writes one
  * object per group with the exact templated name, via Hadoop `FileSystem`
  * (s3a in production, file:// in tests). This is the only piece of the
  * connector Spark's built-in sinks can't express — Spark names files
  * `part-*`, the reference requires `{{topic}}-{{partition}}-…` names
  * (`S3SinkTask.java:169-205`).
  *
  * Scale design: the input is repartitioned BY the filename column and
  * sorted within partitions by (filename, offset), so each task streams
  * record-groups sequentially — one open stream at a time per task, O(1)
  * memory, never a per-group `collect()`. Deterministic names + overwrite
  * give the reference's at-least-once idempotent-retry contract
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
    * null is skipped. Returns nothing; the write is the effect (used inside
    * `foreachBatch`).
    *
    * `groupCols` is any column set that determines `_filename` (e.g.
    * (topic, partition)) — repartitioning on it satisfies the upstream
    * grouping window's required distribution, so Catalyst plans ONE
    * exchange for annotate+write instead of two. Defaults to `_filename`
    * itself. */
  def writeLines(df: DataFrame, baseUri: String, format: FormatType,
                 compression: CompressionType,
                 groupCols: Seq[String] = Seq("_filename")): Unit = {
    val jsonArray = format == FormatType.Json
    val keep = (Seq("_filename", "_line", "offset") ++ groupCols).distinct
    withHadoopConf(df.sparkSession) { conf =>
      df.select(keep.map(col): _*)
        .repartition(groupCols.map(col): _*)
        .sortWithinPartitions(col("_filename"), col("offset"))
        .foreachPartition { (it: Iterator[Row]) =>
          writePartition(it, baseUri, conf.value.value, compression, jsonArray)
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

  private[formats] def writePartition(it: Iterator[Row], baseUri: String,
                             conf: Configuration, compression: CompressionType,
                             jsonArray: Boolean): Unit = {
    var first = true
    writeObjects[OutputStream](it)(
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
      write = (out, row) => if (!row.isNullAt(1)) {
        if (jsonArray) {
          if (!first) out.write(',')
          out.write('\n')
        }
        out.write(row.getString(1).getBytes(StandardCharsets.UTF_8))
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

  /** The loop both object writers run per task. Rows arrive sorted by
    * object name (column 0); a name change closes the open object and opens
    * the next, so a task holds one object at a time. If anything throws
    * while an object is open, `release` frees it — a stream or writer left
    * open leaks its descriptor and buffers on a long-lived executor — and a
    * failure inside `release` is attached as suppressed, so the task's own
    * exception is the one that propagates. */
  private[formats] def writeObjects[O](it: Iterator[Row])(open: String => O,
      write: (O, Row) => Unit, close: O => Unit, release: O => Unit): Unit = {
    var current: String = null
    var obj: Option[O] = None
    try {
      it.foreach { row =>
        val name = row.getString(0)
        if (name != current) {
          obj.foreach(close)
          obj = None // closed: nothing to release should `open` throw
          obj = Some(open(name))
          current = name
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
