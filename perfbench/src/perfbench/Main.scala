package perfbench

import java.io.File

import scala.collection.mutable

/** JVM side of the benchmark: drives one workload through the connector's
  * production entry points and prints one `RESULT {json}` line.
  *
  *   --workload sink_stream|crawl_stream
  *   --work DIR       generated inputs + expect.json; scratch space
  *   --seconds S      time spent in timed repetitions (at least one runs)
  *   --trace 0|1      0: end-to-end metrics; 1: the traced run
  *   --cores N        local[N], spark.sql.shuffle.partitions = N
  *   --t0-ms T        epoch ms at which set-up began (before generation)
  *   --corrupt 0|1    damage one written object before it is checked
  *
  * Run through perfbench/run.py, which builds, generates and parses. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work")).getAbsolutePath
    val bench = new Bench(work, a("cores").toInt, a("t0-ms").toLong,
      corrupt = a.getOrElse("corrupt", "0") == "1")
    val wl: StreamWorkload = a("workload") match {
      case "sink_stream"  => new SinkStream(bench)
      case "crawl_stream" => new CrawlStream(bench)
    }
    val result =
      try {
        if (a("trace") == "1") wl.traced() else wl.timed(a("seconds").toDouble)
        bench.result
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          bench.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          bench.result
      } finally bench.stop()
    println("RESULT " + result)
    sys.exit(if (bench.failed == 0) 0 else 1)
  }
}

/** Shared state of one benchmark process: operations attempted and failed,
  * the metrics and their sample counts. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    metrics(name) = (value, unit, samples)

  override def toString: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ms = metrics.map { case (n, (v, u, k)) =>
      s"${q(n)}:{${q("value")}:${if (v.isNaN || v.isInfinite) "0" else v.toString},${q("unit")}:${q(u)},${q("samples")}:$k}"
    }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":${math.max(1L, attempted)},""" +
      s""""failed":$failed,"metrics":{$ms},"notes":[${notes.map(q).mkString(",")}]}"""
  }
}
