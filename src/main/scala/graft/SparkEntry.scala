package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.connector.{OutputFields, Records}
import graft.registry._
import graft.registry.QueryDef.{named, sinkConfig}

/** The library's entry surface: `entry` plus the query registry.
  *
  * Each registry row re-expresses one operator from SURVEY.md §2 (the
  * reference S3-sink-connector surface) or one training-data-pipeline
  * operator as a batch DataFrame query over the parquet test tables,
  * paired with the equivalent DuckDB SQL. Column names and row order are
  * deterministic and identical on both sides. The rows live one file per
  * family in [[graft.registry]].
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2 minimum end-to-end slice): events →
    * canonical records → grouped by (topic, partition) → base64 CSV lines
    * with rendered `{{topic}}-{{partition}}-{{start_offset:padding=true}}.gz`
    * file names — the sink's own `Grouping.annotate` and `csvLine`.
    */
  def entry(spark: SparkSession): DataFrame = {
    val records = Records.fromEvents(spark, "/root/testdata/sf0.001")
    val config = sinkConfig("format.output.type" -> "csv",
      "format.output.fields" -> "value,key,timestamp,offset")
    named(records, config)
      .select(col("_filename").as("filename"),
        OutputFields.csvLine(config.outputFields).as("line"))
  }

  /** Every registry row, family by family. */
  val rows: Seq[QueryDef] =
    ConnectorRows.rows ++ TextRows.rows ++ SamplingRows.rows ++ DedupRows.rows ++
      SimilarityRows.rows ++ MultimodalRows.rows ++ RelationalRows.rows ++
      StreamingRows.rows ++ PipelineRows.rows

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.build).toMap

  def oracleSql: Map[String, String] =
    rows.map(r => r.name -> r.oracleSql).toMap
}
