package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry bench: `Bench` times every `SparkEntry.queries` row and
  * writes the suite artifact; `Bench q1 q2 ...` times just the named
  * queries under the same protocol and prints one median-of-3 line each. */
object Bench {

  /** Execute a query's OWN physical plan and count its rows at the RDD
    * layer. `df.count()` re-optimizes the plan UNDER the count: column
    * pruning strips every map-side projection (a pure-map query times as
    * a bare parquet-scan count) and distinct-key join elimination can
    * drop a row-preserving left join's entire build subtree (the round-17
    * finding: `dedup_substring_remove` "counted" in 0.58 s at the 100×
    * probe while its real plan — the full posting-join detection chain —
    * runs ~25 s; `text_token_count_bpe`'s flat 0.15 s rows were scan
    * counts, not BPE encodes). `queryExecution.toRdd` executes the plan
    * the query DECLARES — every projected column materializes, the output
    * sort runs — which is the work Verify's parquet dump pays minus file
    * I/O, so bench rows now bound the cost a consumer actually sees. */
  private def runPlan(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Cumulative stop-the-world GC time across all collectors (ms). */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** First three /proc/loadavg fields as "1m,5m,15m" ('' off-Linux). */
  private def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(",")
      finally src.close()
    } catch { case _: Throwable => "" }

  /** One query's timing: the median of its reps, the raw reps, its GC-time
    * delta over them, or the error that condemned it. */
  final case class QStat(median: Double, reps: Seq[Double], gcMs: Long,
                         err: Option[String])

  /** Median-of-3 of one query, the variance protocol: single runs
    * produced phantom cross-round swings (worst observed: 4.3x on the
    * same code); the median rejects one GC/scheduler outlier in either
    * direction without hiding real cost. Caches are CLEARED after every
    * rep: a few operators (simhashPairs, connectedComponents) cache
    * interior tables for within-query reuse, and without clearing those
    * entries accumulate across the warm pass + every query x 3 reps in
    * one JVM — measured +56% on the whole-suite total from storage/GC
    * pressure — while making later reps of the SAME query read leftover
    * cached data instead of doing the full scan the protocol promises.
    *
    * A failing query must surface as an ERROR, not as its time-to-crash:
    * round 13 proved the old `catch → -1L` swallow launders analysis
    * failures into phantom "speedups" (failure latency ~0.06 s read as a
    * 2x win). One crash condemns the query — it is not re-run, records
    * `err` instead of reps and a median of -1 — because a median over the
    * surviving reps would be the same partial-timing laundering, one rep
    * later. */
  def timeQuery(spark: SparkSession, query: () => DataFrame): QStat = {
    val gc0 = gcMillis()
    var err: Option[String] = None
    val times = (1 to 3).flatMap { _ =>
      if (err.isDefined) None
      else {
        val t0 = System.nanoTime()
        try { runPlan(query()) } catch {
          case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator
                .take(1).mkString.take(200))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        if (err.isDefined) None else Some(dt)
      }
    }
    val median =
      if (err.isDefined || times.isEmpty) -1.0
      else times.sorted.apply(times.size / 2)
    QStat(median, times, gcMillis() - gc0, err)
  }

  /** Suite total: errored queries are excluded, never counted at -1. */
  def total(stats: Iterable[QStat]): Double =
    stats.collect { case s if s.err.isEmpty => s.median }.sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // an optional tail of query names restricts the bench to those rows
    // (the way Verify's tail restricts its dump) and prints their lines
    // instead of writing the suite artifact
    val only = args.toSeq
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(", ")}; " +
      s"known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadBefore = loadAvg()
    // Steady-state methodology: run every query once at the smallest scale
    // factor first. Cold-run cost is dominated by fixed overhead (janino
    // codegen compile, planner warm-up — ~3-7 s per complex pipeline,
    // data-independent), which at production scale amortizes to nothing;
    // timing it against sf0.1 would measure the JIT, not the engine.
    val warmDir = {
      val small = new java.io.File(
        new java.io.File(sfDir).getParentFile, "sf0.001")
      if (small.isDirectory) small.getPath else sfDir
    }
    selected.foreach { case (_, fn) =>
      try runPlan(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    // Adjudication telemetry (round-11): alongside each median the JSON
    // carries the raw per-rep times, the query's GC-time delta summed over
    // its 3 reps, and its suite position, plus suite-level loadavg
    // before/after — so a driver-vs-builder spike (like round 10's 6-10x
    // on four CONTIGUOUS queries) is diagnosable from the artifact alone:
    // one outlier rep with a matching GC/loadavg signature says machine
    // stall; three uniformly slow reps with quiet GC says plan.
    // Any errored query forces a nonzero exit so the run shows red.
    val results = selected.map { case (name, fn) =>
      name -> timeQuery(spark, () => fn(spark, sfDir))
    }
    val nErrors = results.count(_._2.err.isDefined)
    if (only.nonEmpty) {
      results.foreach { case (n, q) =>
        println(q.err.fold(f"$n%-28s median ${q.median}%.3f s  " +
          s"(runs: ${q.reps.map(t => f"$t%.2f").mkString(" ")})")(
          e => f"$n%-28s ERROR $e"))
      }
      spark.stop()
      if (nErrors > 0) sys.exit(1)
      return
    }
    val loadAfter = loadAvg()
    // The driver captures only a BOUNDED tail of the stdout (2000 chars in
    // rounds 17-18 — both rounds' BENCH_r{N}.json came back "parsed": null
    // because the full per-query telemetry line overflowed it). Split the
    // output: the FULL artifact (per-query medians, reps, gc)
    // goes to a file (GRAFT_BENCH_JSON, default bench_runs/bench_full.json
    // — what bench_reps.sh installs as run{i}.json), and stdout's LAST
    // line is a compact totals JSON guaranteed to fit the tail window.
    // (build.sbt sets `Global / showSuccess := false` for the same reason —
    // otherwise sbt's "[success] Total time" line lands after ours.)
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    // errored queries keep a numeric (but impossible) -1 in the queries map
    // so downstream numeric parsers don't trip; the err text lives in
    // telemetry and n_errors flags the artifact as red at the top level
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f3(v.median) }
      .mkString("{", ",", "}")
    val tel = results.zipWithIndex
      .map { case ((k, v), pos) =>
        "\"" + k + "\":{\"pos\":" + pos +
          ",\"reps\":[" + v.reps.map(f3).mkString(",") + "]" +
          ",\"gc_ms\":" + v.gcMs +
          v.err.fold("")(e => ",\"err\":" + jstr(e)) + "}"
      }
      .mkString("{", ",", "}")
    val suiteTotal = total(results.map(_._2))
    spark.stop()
    // n_queries mirrors Verify's COUNTS line into the bench artifact, so
    // BENCH_r{N}.json is self-describing about suite size (doc counts
    // cite COUNTS; the bench JSON can now be cross-checked against it)
    val fullJson = s"""{"metric":"total","value":${f3(suiteTotal)},"unit":"sec","n_queries":${results.size},"n_errors":$nErrors,"action":"plan","queries":$qs,"telemetry":$tel,"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","sf":"$sfDir"}"""
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_BENCH_JSON", "bench_runs/bench_full.json"))
    Option(fullPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(fullPath,
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // compact stdout line: totals + the 5 slowest query medians (for
    // at-a-glance triage) + the path of the full artifact. ~400 chars for
    // a 200-query suite — well inside the 2000-char driver tail.
    val medQ = {
      val ms = results.map(_._2).collect {
        case s if s.err.isEmpty => s.median }.sorted
      if (ms.isEmpty) -1.0 else ms(ms.size / 2)
    }
    val top5 = results.filter(_._2.err.isEmpty)
      .sortBy(-_._2.median).take(5)
      .map { case (k, v) => "\"" + k + "\":" + f3(v.median) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(suiteTotal)},"unit":"sec","n_queries":${results.size},"n_errors":$nErrors,"median_query":${f3(medQ)},"action":"plan","slowest":$top5,"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","sf":"$sfDir","full_json":"${fullPath.toString}"}""")
    if (nErrors > 0) {
      Console.err.println(s"BENCH RED: $nErrors queries errored")
      sys.exit(1)
    }
  }
}
