package graft.registry

import java.time.ZonedDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.SinkConfig
import graft.connector.{Grouping, Records}

/** One registry row: a batch query over the parquet test tables in
  * directory `dir`, and the DuckDB SQL that must return the same rows
  * (same column names, total ORDER BY).
  *
  * Rows live one family per object (`ConnectorRows`, `TextRows`, ...),
  * each holding `val rows`, which [[graft.SparkEntry.rows]] concatenates.
  * A family declares `rows` after its helper vals: building the rows
  * evaluates every oracle string when the object initializes. */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame, oracleSql: String)

/** Helpers every family's rows share. */
object QueryDef {

  private[registry] def rec(s: SparkSession, dir: String): DataFrame =
    Records.fromEvents(s, dir)

  private[registry] def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** A sink config naming objects `topic-partition-<%020d start_offset>.gz`
    * plus `props`. */
  private[graft] def sinkConfig(props: (String, String)*): SinkConfig =
    SinkConfig.parse(Map("aws.s3.bucket.name" -> "graft",
      "file.name.template" -> "{{topic}}-{{partition}}-{{start_offset:padding=true}}") ++ props)
      .fold(e => throw new IllegalArgumentException(e.mkString("; ")), identity)

  /** Records with the sink's `_filename` column. The template has no time
    * variable, so the wallclock passed is immaterial. */
  private[graft] def named(records: DataFrame, config: SinkConfig = sinkConfig()): DataFrame =
    Grouping.annotate(records, config, ZonedDateTime.now(config.timestampZone))

  /** Shared DuckDB CTE prefix adapting `events` to the record model. */
  private[registry] val R = "WITH " + Records.duckRecordsCte + "\n"
}
