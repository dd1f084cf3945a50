package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Per-trigger progress of every streaming query the benchmark starts,
  * collected from Spark's own `StreamingQueryListener` events. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of the batches of one query that admitted records. */
  def batches(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.filter(p => p.id == id && p.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)
}

/** Counters of the Spark jobs that ran under one span (or under no span). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var singleTaskStages = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var gcMs = 0L
  var cpuNs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    singleTaskStages += o.singleTaskStages
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputRecords += o.inputRecords; gcMs += o.gcMs; cpuNs += o.cpuNs
  }
}

/** One traced interval: a call into a layer, made by the benchmark. */
final case class Span(id: Long, name: String, parent: Long, trace: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the benchmark ends, plus a
  * `SparkListener` that attributes every job, stage and task to the span
  * whose thread submitted it (via a Spark local property) and records the
  * task times of each micro-batch's write stage.
  *
  * Also installed, without any span, in the production repetitions of a
  * traced run: there it only counts, which is cheap. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val nextId = new AtomicLong(1)
  // inheritable: a streaming query's thread, started inside a span, nests
  // its batch spans under it
  private val current = new InheritableThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]
  private val bySpan = mutable.Map.empty[Long, Counters]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // the last job a micro-batch runs is the sink's write: batch id -> (job id, final stage)
  private val lastJob = mutable.Map.empty[String, (Int, Int)]

  def span[T](name: String, trace: String = "run")(body: => T): T = {
    val parent = current.get
    val s = Span(nextId.getAndIncrement(), name,
      if (parent == null) 0L else parent.id, trace, System.nanoTime)
    val prevProp = sc.getLocalProperty(SpanKey)
    current.set(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime
      spans.add(s)
      current.set(parent)
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    counters(id).jobs += 1
    e.stageIds.foreach(stageSpan(_) = id)
    Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach { b =>
        if (lastJob.get(b).forall(_._1 < e.jobId)) lastJob(b) = (e.jobId, e.stageIds.max)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = counters(stageSpan.getOrElse(info.stageId, 0L))
    c.stages += 1
    c.tasks += info.numTasks
    if (info.numTasks == 1) c.singleTaskStages += 1
    val m = info.taskMetrics
    if (m != null) {
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
      c.gcMs += m.jvmGCTime
      c.cpuNs += m.executorCpuTime
    }
  }

  private def counters(id: Long): Counters = bySpan.getOrElseUpdate(id, new Counters)

  /** Everything counted so far, over all spans and outside them. */
  def total: Counters = synchronized {
    val t = new Counters; bySpan.values.foreach(t.add); t
  }

  /** Counters of the spans whose name starts with `prefix`. */
  def under(prefix: String): Counters = synchronized {
    val ids = spans.asScala.filter(_.name.startsWith(prefix)).map(_.id).toSet
    val t = new Counters
    bySpan.foreach { case (id, c) => if (ids(id)) t.add(c) }
    t
  }

  /** max / median task run time of each micro-batch's write stage (the
    * final stage of its last job), as a median over batches. */
  def writeTaskSkew: Double = synchronized {
    Stats.median(lastJob.values.toSeq.flatMap { case (_, stage) =>
      stageTaskMs.get(stage).map { ms =>
        val ts = ms.sorted
        ts.last.toDouble / math.max(1L, ts(ts.size / 2))
      }
    })
  }

  def reset(): Unit = synchronized {
    spans.clear(); bySpan.clear(); stageSpan.clear(); stageTaskMs.clear()
    lastJob.clear()
  }

  /** Span time minus the part of it covered by its child spans. */
  def selfSeconds: Map[Long, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) {
          case ((sum, hi), (a, b)) =>
            val from = math.max(a, hi)
            (if (b > from) sum + (b - from) else sum, math.max(hi, b))
        }._1
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Self seconds summed per span name. */
  def selfByName: Map[String, Double] = {
    val self = selfSeconds
    spans.asScala.toSeq.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id)).sum }
  }

  def spansJson: String = {
    val self = selfSeconds
    spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      val c = synchronized(bySpan.get(s.id))
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":"${s.trace}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${self(s.id)}%.6f,""" +
        s""""jobs":${c.map(_.jobs).getOrElse(0L)},"stages":${c.map(_.stages).getOrElse(0L)},""" +
        s""""tasks":${c.map(_.tasks).getOrElse(0L)},""" +
        s""""shuffle_write_bytes":${c.map(_.shuffleWriteBytes).getOrElse(0L)}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
