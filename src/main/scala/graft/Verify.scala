package graft
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Build and write one registry row to `outDir/name` inside a
    * [[CacheScope]]. A row that throws, or that leaves a table cached
    * after its scope ends, fails: `[verify] <name> failed: …` goes to
    * stderr and the row's output is deleted, so the oracle check fails
    * the row by name. The session cache is cleared afterwards, so one
    * leaking row cannot spill into the next. Returns the failure. */
  def writeRow(spark: SparkSession, name: String,
               build: (SparkSession, String) => DataFrame,
               sfDir: String, outDir: String): Option[String] = {
    val out = new Path(s"$outDir/$name")
    val failure =
      try {
        CacheScope.run(build(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(out.toString))
        val left = GraftBridge.numCachedEntries(spark)
        if (left == 0) None else Some(s"left $left cached tables")
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
    failure.foreach { msg =>
      System.err.println(s"[verify] $name failed: $msg")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
    }
    spark.catalog.clearCache()
    failure
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the optional tail
    // restricts the dump to named queries (local iteration; the driver
    // always passes exactly two args and dumps everything)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) => writeRow(spark, name, fn, sfDir, outDir) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Single source of truth for the suite size — docs cite THIS line
    // (grep COUNTS) instead of hand-maintaining numbers that drift.
    val counts = s"COUNTS queries=${SparkEntry.queries.size} " +
      s"oracles=${SparkEntry.oracleSql.size}"
    println(counts)
    Files.writeString(Paths.get(s"$outDir/COUNTS"), counts + "\n")
    spark.stop()
  }
}
