package graft.connector

import java.time.ZonedDateTime

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.config.SinkConfig
import graft.template.Template

/** Record grouping (SURVEY.md §2 O2–O5) and distributed filename rendering
  * (O16), expressed as Catalyst transforms so grouping scales with the data:
  * the group key and file name are plain columns — Spark shuffles once on
  * them and every downstream per-file write is executor-local.
  *
  * Reference semantics (`README.md:97-198`, `RecordGrouperFactory` dispatch
  * at `S3SinkTask.java:77`):
  *   - topic-partition mode: one file per (topic, partition[, time bucket])
  *     per flush, named with the group's min offset (`start_offset`);
  *   - `file.max.records=N` splits a group into chunks of N, each chunk's
  *     file named with the chunk's own first offset;
  *   - key mode: latest record per key wins (compaction), file named by key,
  *     null key → literal "null" (`README.md:176-181`).
  */
object Grouping {

  /** Time-bucket columns for `{{timestamp:unit=…}}` template vars (O4).
    * The reference buckets on *wallclock* time only
    * (`S3SinkConfig.java:492-503`): pass the batch-start wallclock instant so
    * every record in a micro-batch lands in the same bucket. For batch-mode
    * analytics over historical data we expose record-time bucketing too. */
  def wallclockBucket(unit: String, now: ZonedDateTime): Column = {
    val pattern = unit match {
      case "yyyy" => "yyyy"
      case "MM"   => "MM"
      case "dd"   => "dd"
      case "HH"   => "HH"
      case other  => throw new IllegalArgumentException(s"bad timestamp unit $other")
    }
    lit(now.format(java.time.format.DateTimeFormatter.ofPattern(pattern)))
  }

  def recordTimeBucket(unit: String, ts: Column): Column =
    date_format(ts, unit match {
      case "yyyy" | "MM" | "dd" | "HH" => unit
      case other => throw new IllegalArgumentException(s"bad timestamp unit $other")
    })

  /** O5 — chunk index within a (topic, partition) group when
    * `file.max.records` caps file size: records ordered by offset, chunk i
    * holds records [i*N, (i+1)*N). 0 when unlimited. */
  def chunkIndex(maxRecords: Int): Column =
    if (maxRecords <= 0) lit(0L)
    else {
      val rn = row_number().over(
        Window.partitionBy(col("topic"), col("partition")).orderBy(col("offset")))
      ((rn - 1).cast(LongType) / maxRecords).cast(LongType)
    }

  /** O16 — render the file-name template distributively as a Column.
    * `bindings` maps template variable name → column; `padding=true`
    * becomes `lpad(..., 20, "0")` (reference renders `%020d`,
    * `OldFullKeyFormatters.java:29-33`). */
  def filenameColumn(template: Template, bindings: Map[String, Column],
                     now: ZonedDateTime): Column = {
    val parts: Seq[Column] = template.parts.map {
      case Template.Literal(s) => lit(s)
      case Template.Var(name, param) =>
        val base = bindings.getOrElse(name,
          throw new IllegalArgumentException(s"no column binding for template var $name"))
        param match {
          case Some(Template.Param("padding", "true")) =>
            lpad(base.cast(StringType),
              if (name == "partition") 10 else 20, "0")
          case Some(Template.Param("unit", u)) => recordTimeBucket(u, base)
          case _ => base.cast(StringType)
        }
    }
    concat(parts: _*)
  }

  /** O3 — key compaction: latest record per key (the deterministic
    * (offset, partition) max; the reference is explicitly nondeterministic
    * across partitions, `README.md:135-198`, so any consistent pick is
    * within contract). Null keys compact under the literal "null"
    * (`IntegrationTest.java:370-373`).
    *
    * Implemented as `max_by` over a struct rather than a row_number window:
    * the aggregate partial-combines map-side and is immune to hot-key skew
    * (a window would hash-partition ALL records of a key to one task and
    * sort them; with few distinct keys — the common compaction shape — that
    * serializes the whole batch through a handful of tasks). */
  def compactLatestByKey(records: DataFrame): DataFrame = {
    val keyStr = coalesce(col("key").cast(StringType), lit("null"))
    val dataCols = records.columns
    val tagged = records.withColumn("_k", keyStr)
    tagged
      .groupBy(col("_k"))
      .agg(max_by(
        struct(dataCols.toSeq.map(col): _*),
        struct(col("offset"), col("partition"))).as("_r"))
      .select(col("_k") +: dataCols.toSeq.map(c => col(s"_r.$c").as(c)): _*)
  }

  /** Full grouping annotation for topic-partition mode: adds `_chunk`,
    * `_start_offset` and `_filename` columns per the parsed config. One
    * window pass; the subsequent `partitionBy(_filename)` write is the only
    * shuffle.
    *
    * `schemaFingerprint` implements the reference's Parquet schema-change
    * rotation (`ParquetIntegrationTest.java:346-415`: a mid-stream value-
    * schema change starts a new file at the first offset with the new
    * schema). Upstream decode supplies a per-record fingerprint column
    * (e.g. md5 of the value's Avro/JSON schema); each CONTIGUOUS
    * fingerprint run (in offset order) becomes its own group whose
    * `start_offset` is the run's first offset — A,B,A produces three
    * files, like the reference's rotate-on-change writer
    * (SURVEY.md §1.4, §7.4 item on rotation). */
  def annotate(records: DataFrame, config: SinkConfig, now: ZonedDateTime,
               schemaFingerprint: Option[Column] = None): DataFrame = {
    val withRun = schemaFingerprint match {
      case None => records
      case Some(fp) =>
        val w = Window.partitionBy(col("topic"), col("partition"))
          .orderBy(col("offset"))
        val changed =
          when(lag(fp, 1).over(w).isNull || lag(fp, 1).over(w) =!= fp, 1L)
            .otherwise(0L)
        records.withColumn("_schema_run",
          sum(changed).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    val withChunk = withRun.withColumn("_chunk", chunkIndex(config.maxRecordsPerFile))
    val runRef =
      if (schemaFingerprint.isEmpty) Nil else Seq(col("_schema_run"))
    val start = min(col("offset")).over(
      Window.partitionBy(
        Seq(col("topic"), col("partition"), col("_chunk")) ++ runRef: _*))
    val bindings = Map(
      "topic"        -> col("topic"),
      "partition"    -> col("partition"),
      "start_offset" -> col("_start_offset"),
      "key"          -> coalesce(col("key").cast(StringType), lit("null")))
    val zonedNow = now.withZoneSameInstant(config.timestampZone)

    // render any template to filename-column parts; timestamp vars resolve
    // per-occurrence (a template may use several units), utc/local_date are
    // batch wallclock (legacy prefix vars, S3SinkTask.java:186-193)
    def renderParts(tpl: Template): Seq[Column] = tpl.parts.map {
      case Template.Literal(s) => lit(s)
      case Template.Var("timestamp", Some(Template.Param("unit", u))) =>
        wallclockBucket(u, zonedNow)
      case Template.Var("utc_date", _) =>
        lit(now.withZoneSameInstant(java.time.ZoneId.of("Z"))
          .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE))
      case Template.Var("local_date", _) =>
        lit(now.withZoneSameInstant(java.time.ZoneId.systemDefault())
          .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE))
      case Template.Var(name, param) =>
        val base = bindings(name)
        param match {
          case Some(Template.Param("padding", "true")) =>
            // widths differ per variable: offsets %020d, partitions %010d
            // (README.md:66-75)
            val width = if (name == "partition") 10 else 20
            lpad(base.cast(StringType), width, "0")
          case _ => base.cast(StringType)
        }
    }

    // Legacy naming when a prefix is configured (S3SinkTask.java:157-205):
    // renderedPrefix + topic-partition-<%020d start_offset>; the modern
    // file.name.template names files only when no prefix is set.
    val fnameParts: Seq[Column] =
      if (config.usesFileNameTemplate) renderParts(config.fileNameTemplate)
      else renderParts(config.prefixTemplate) ++ Seq(
        col("topic"), lit("-"), col("partition").cast(StringType), lit("-"),
        lpad(col("_start_offset").cast(StringType), 20, "0"))
    withChunk
      .withColumn("_start_offset", start)
      .withColumn("_filename",
        concat(concat(fnameParts: _*), lit(config.compression.extension)))
  }
}
