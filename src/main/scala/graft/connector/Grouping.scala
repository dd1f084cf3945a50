package graft.connector

import java.time.ZonedDateTime

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.config.SinkConfig
import graft.template.Template

/** Record grouping (SURVEY.md §2 O2–O5) and object naming (O16).
  *
  * The sink cuts objects the way the reference does, in one ordered pass
  * (its `RecordGrouper` map `filename → records` is its whole state between
  * flushes, `S3SinkTask.java:59,117,122-123`). An [[ObjectNaming]] tells a
  * writer which few columns to carry ahead of the payload, how to cluster
  * and order the rows (one exchange, at most one sort), and which
  * [[ObjectNamer]] each task runs: the namer counts rows per
  * (topic, partition), starts each chunk, and renders each object's name
  * once with [[Template.render]]. Key mode compacts in Catalyst
  * ([[compactLatestByKey]]) and names each surviving row in the writer.
  * Either way a task writes one object at a time.
  *
  * [[annotate]] is the same grouping as Catalyst columns (windows and a
  * per-row `_filename`). The sink runs it only for a legacy prefix that
  * renders `{{key}}` ([[namesPerRecord]]), where each record names its own
  * object; the registry's sink rows (`QueryDef.named`) and perfbench's
  * traced mirror of `writeBatch` run it too.
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

  /** O16/O17 — a file-name or legacy prefix template as one Column, for
    * plans that need the name on every row (`annotate`). `bindings` maps
    * template variable name → column. A thin wrapper over
    * [[Template.pieces]]: the pieces fix every rendering rule, the column
    * only casts each slot's binding to string and `lpad`s it, so the
    * writers' per-object [[Template.render]] gives the same strings. */
  def filenameColumn(template: Template, bindings: Map[String, Column],
                     now: ZonedDateTime): Column =
    concat(template.pieces(now).map {
      case Template.Text(s) => lit(s)
      case Template.Slot(name, width) =>
        val base = bindings.getOrElse(name,
          throw new IllegalArgumentException(s"no column binding for template var $name"))
          .cast(StringType)
        width.fold(base)(lpad(base, _, "0"))
    }: _*)

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
    val dataCols = records.columns
    val tagged = records.withColumn("_k", keyString)
    tagged
      .groupBy(col("_k"))
      .agg(max_by(
        struct(dataCols.toSeq.map(col): _*),
        struct(col("offset"), col("partition"))).as("_r"))
      .select(col("_k") +: dataCols.toSeq.map(c => col(s"_r.$c").as(c)): _*)
  }

  /** The record key as names see it: null renders "null". */
  private def keyString: Column = coalesce(col("key").cast(StringType), lit("null"))

  /** The object name after a legacy prefix (`S3SinkTask.java:196-205`). */
  private val LegacyName =
    Template.of("{{topic}}-{{partition}}-{{start_offset:padding=true}}")

  /** The templates a topic-partition object name concatenates. Legacy
    * naming when a prefix is configured (`S3SinkTask.java:157-205`):
    * rendered prefix + `topic-partition-<%020d start_offset>`; the modern
    * `file.name.template` names files only when no prefix is set. */
  private def nameTemplates(config: SinkConfig): Seq[Template] =
    if (config.usesFileNameTemplate) Seq(config.fileNameTemplate)
    else Seq(config.prefixTemplate, LegacyName)

  /** Topic-partition grouping as columns: adds `_chunk`, `_start_offset`
    * and `_filename` per the parsed config, with window functions (the
    * chunk's `row_number`, the run's `lag` and running `sum`, the group's
    * `min(offset)`) and a name rendered on every row. The sink's own
    * writes cut the same objects in the writer instead
    * ([[topicPartitionNaming]]) unless a `{{key}}` prefix names each record
    * ([[namesPerRecord]]); this form serves that case, the registry's sink
    * rows and perfbench's traced mirror, which write through `_filename`.
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
      "key"          -> keyString)
    val zonedNow = now.withZoneSameInstant(config.timestampZone)
    val fname = nameTemplates(config).map(filenameColumn(_, bindings, zonedNow))
    withChunk
      .withColumn("_start_offset", start)
      .withColumn("_filename", concat(fname :+ lit(config.compression.extension): _*))
  }

  /** True when a topic-partition name renders `{{key}}`, which only a
    * legacy prefix can (`Template.PrefixVars`): each record then names its
    * own object, and the sink writes through [[annotate]]'s per-row
    * `_filename` in name order ([[byName]]), one object open at a time,
    * rather than through [[topicPartitionNaming]]. */
  def namesPerRecord(config: SinkConfig): Boolean =
    !config.usesFileNameTemplate && config.prefixTemplate.variableNames("key")

  /** How the sink cuts topic-partition objects in the writer. The rows
    * carry `topic`, `partition`, `_offset` and, when a fingerprint is given,
    * `_fp`; they are clustered by (topic, partition) and sorted by
    * (topic, partition, offset), so each task sees every partition it owns
    * whole and in offset order. `schemaFingerprint` is the same rotation
    * rule as [[annotate]]'s. Not for a name that renders `{{key}}`
    * ([[namesPerRecord]]). */
  def topicPartitionNaming(config: SinkConfig, now: ZonedDateTime,
                           schemaFingerprint: Option[Column]): ObjectNaming = {
    val zonedNow = now.withZoneSameInstant(config.timestampZone)
    val pieces = nameTemplates(config).flatMap(_.pieces(zonedNow)) :+
      Template.Text(config.compression.extension)
    requireBound(pieces, Set("topic", "partition", "start_offset"))
    val fp = schemaFingerprint.toSeq.map(_.as("_fp"))
    ObjectNaming(
      Seq(col("topic"), col("partition"), col("offset").as("_offset")) ++ fp,
      clusterBy = Seq(col("topic"), col("partition")),
      orderBy = Seq(col("topic"), col("partition"), col("_offset")),
      TopicPartitionNamer(pieces, config.maxRecordsPerFile,
        fpIdx = if (fp.isEmpty) -1 else 3))
  }

  /** How the sink names key-mode objects in the writer: over
    * [[compactLatestByKey]]'s rows, one object per row, the rows carrying
    * `_k`, `topic` and `partition` and clustered by `_k`. */
  def keyNaming(config: SinkConfig, now: ZonedDateTime): ObjectNaming = {
    val pieces = config.fileNameTemplate.pieces(now) :+
      Template.Text(config.compression.extension)
    requireBound(pieces, Set("key", "topic", "partition"))
    ObjectNaming(Seq(col("_k"), col("topic"), col("partition")),
      clusterBy = Seq(col("_k")), orderBy = Nil, KeyNamer(pieces))
  }

  /** How a write through a `_filename` column cuts objects
    * (`GroupFileWriter.writeLines`, and the sink when [[namesPerRecord]]):
    * rows carry `_filename`, `_offset` and the `groupCols` the write
    * clusters by, and each task writes its names in (name, offset) order,
    * so rows that share a name in one task go to one object. */
  def byName(groupCols: Seq[String]): ObjectNaming =
    ObjectNaming(
      Seq(col("_filename"), col("offset").as("_offset")) ++
        groupCols.filterNot(_ == "_filename").map(col),
      clusterBy = groupCols.map(col),
      orderBy = Seq(col("_filename"), col("_offset")),
      ByColumn(0))

  /** Checks that every slot of `pieces` names a variable the namer binds
    * (`SinkConfig.parse` already refuses any other). */
  private def requireBound(pieces: Seq[Template.Piece], bound: Set[String]): Unit =
    pieces.foreach {
      case Template.Slot(name, _) => require(bound(name), s"no binding for template var $name")
      case _ =>
    }
}

/** How a write cuts its rows into named objects: the naming `columns` that
  * lead each written row (the payload follows them), the columns the write
  * clusters by and orders each task by, and the [[ObjectNamer]] each task
  * runs over its rows in that order. */
final case class ObjectNaming(columns: Seq[Column], clusterBy: Seq[Column],
                              orderBy: Seq[Column], namer: ObjectNamer) {

  /** `rows`, projected with [[columns]] first, clustered and ordered for
    * the namer. */
  def arrange(rows: DataFrame): DataFrame = {
    val clustered = rows.repartition(clusterBy: _*)
    if (orderBy.isEmpty) clustered else clustered.sortWithinPartitions(orderBy: _*)
  }
}

/** Names the objects of one task's rows. Serializable: it ships with the
  * write; each task takes a fresh [[ObjectNamer.Cursor]]. */
sealed trait ObjectNamer extends Serializable {
  def cursor(): ObjectNamer.Cursor
}

object ObjectNamer {
  /** One task's naming state, fed every row in order. */
  trait Cursor {
    /** Move to `row`; true if it starts a new object, which completes the
      * object before it. */
    def advance(row: Row): Boolean
    /** The name of the object the last row went to. */
    def name: String
  }
}

/** Rows named by the string in column `idx`; a name change starts an
  * object. */
final case class ByColumn(idx: Int) extends ObjectNamer {
  def cursor(): ObjectNamer.Cursor = new ObjectNamer.Cursor {
    var name: String = _
    def advance(row: Row): Boolean = {
      val next = row.getString(idx)
      val changed = next != name
      name = next
      changed
    }
  }
}

/** Topic-partition chunks over rows `(topic, partition, offset, …)` sorted
  * by (topic, partition, offset), one object per chunk. A chunk starts at a
  * new (topic, partition), at every `maxRecords`-th row of one (counted
  * across the whole partition, so boundaries match [[Grouping.chunkIndex]]),
  * and at a fingerprint change (column `fpIdx`, -1 for none) —
  * [[Grouping.annotate]]'s run rule exactly: a run starts after a null
  * fingerprint and a null continues the run before it. `start_offset` binds
  * the chunk's first offset; the name renders once per chunk. */
final case class TopicPartitionNamer(pieces: Seq[Template.Piece], maxRecords: Int,
                                     fpIdx: Int) extends ObjectNamer {
  def cursor(): ObjectNamer.Cursor = new ObjectNamer.Cursor {
    private var started = false
    private var topic: String = _
    private var partition: Any = _
    private var n = 0L // the row's index within its (topic, partition)
    private var fp: Any = _
    var name: String = _

    def advance(row: Row): Boolean = {
      val t = row.getString(0)
      val p = row.get(1)
      val samePartition = started && t == topic && p == partition
      n = if (samePartition) n + 1 else 0
      val f = if (fpIdx < 0) null else row.get(fpIdx)
      val cut = !samePartition || (maxRecords > 0 && n % maxRecords == 0) ||
        (fpIdx >= 0 && (fp == null || (f != null && !java.util.Objects.deepEquals(fp, f))))
      started = true
      topic = t
      partition = p
      fp = f
      if (cut) {
        val start = row.get(2).toString
        name = Template.render(pieces, {
          case "topic" => t
          case "partition" => p.toString
          case "start_offset" => start
        })
      }
      cut
    }
  }
}

/** Key mode over rows `(_k, topic, partition, …)`: every row is its own
  * object. */
final case class KeyNamer(pieces: Seq[Template.Piece]) extends ObjectNamer {
  def cursor(): ObjectNamer.Cursor = new ObjectNamer.Cursor {
    var name: String = _
    def advance(row: Row): Boolean = {
      name = Template.render(pieces, {
        case "key" => row.getString(0)
        case "topic" => row.getString(1)
        case "partition" => row.get(2).toString
      })
      true
    }
  }
}
