package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming operators — beyond the reference's surface (it has
  * no event-time semantics at all, SURVEY.md §2.2: wallclock bucketing only,
  * no watermarks, no late-data handling). These are the Structured-
  * Streaming-native building blocks a training-data ingest pipeline layers
  * on top of the sink: watermarked tumbling-window aggregation and
  * session-window state via `mapGroupsWithState`.
  *
  * State is per-key and incremental: at 100 TB/day the watermark bounds
  * state size and the session state store scales with live keys, not
  * history.
  */
object EventTimeOps {

  /** Tumbling event-time window counts with late-data eviction.
    * Works on any frame with (timestamp, topic) — streaming or batch. */
  def windowedCounts(records: DataFrame, windowDuration: String = "1 hour",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    records
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(window(col("timestamp"), windowDuration), col("topic"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("topic"), col("cnt"))

  /** Streaming exact dedup: first occurrence of each content hash wins,
    * across micro-batches. `dropDuplicatesWithinWatermark` keeps the seen-
    * hash state only until the watermark passes — bounded state at any
    * throughput, the streaming twin of the batch `Dedup.exact` operator
    * (a training-data ingest pipeline's first line of defense). */
  def streamingDedup(records: DataFrame,
                     watermarkDelay: String = "10 minutes"): DataFrame =
    records
      .withColumn("_h", md5(col("value").cast("string")))
      .withWatermark("timestamp", watermarkDelay)
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")

  /** Deterministic batch twin of [[streamingDedup]]: keep, per content
    * hash, the record that streaming first-wins semantics would keep — the
    * earliest by (timestamp, offset). Expressed as one skew-immune
    * `min_by(struct)` partial-aggregated groupBy on the 32-char hash (the
    * [[graft.connector.Grouping]] key-compaction shape): one shuffle of
    * 32-byte keys + winner structs, no window sort, works at any key
    * cardinality. Streaming keeps bounded state via the watermark; batch
    * sees all data, so "within watermark" degenerates to global
    * first-wins — same keeper on any input where duplicates arrive inside
    * the watermark. */
  def batchDedup(records: DataFrame): DataFrame = {
    val keyed = records.withColumn("_h", md5(col("value").cast("string")))
    val payload = records.columns.map(col)
    keyed.groupBy("_h")
      .agg(min_by(struct(payload: _*),
        struct(col("timestamp"), col("offset"))).as("_r"))
      .select(col("_r.*"))
  }

  final case class SessionInput(user: String, ts: Long)
  final case class SessionState(start: Long, last: Long, events: Long)
  final case class SessionOutput(user: String, start: Long, end: Long,
                                 events: Long, closed: Boolean)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Streaming sessionization: 30-minute-gap sessions per user via
    * `mapGroupsWithState`. In production run with
    * `GroupStateTimeout.ProcessingTimeTimeout` so idle sessions close and
    * their state is evicted; tests pass `NoTimeout` (with a processing-time
    * timeout registered, `processAllAvailable` never quiesces — the engine
    * keeps scheduling batches to service pending timeouts). */
  def sessionize(events: Dataset[SessionInput],
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionOutput] = {
    import events.sparkSession.implicits._
    val useTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events
      .groupByKey(_.user)
      .mapGroupsWithState[SessionState, SessionOutput](timeout) {
        (user: String, batch: Iterator[SessionInput],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOutput(user, s.start, s.last, s.events, closed = true)
          } else {
            val ts = batch.map(_.ts).toList
            val prev = state.getOption
            val merged = (prev.map(s => List(s.start, s.last)).getOrElse(Nil) ++ ts)
            val (start, last) = (merged.min, merged.max)
            val events = prev.map(_.events).getOrElse(0L) + ts.length
            val ns = SessionState(start, last, events)
            state.update(ns)
            if (useTimeout) state.setTimeoutDuration(SessionGapMs)
            SessionOutput(user, ns.start, ns.last, ns.events, closed = false)
          }
      }
  }

  final case class TimedEvent(user: String, ts: java.sql.Timestamp)

  /** Streaming sessionization emitting CLOSED sessions exactly once
    * (Append mode) — the production shape for feeding a downstream sink:
    * `flatMapGroupsWithState` with `EventTimeTimeout`, so a session closes
    * either when a later event for the same user arrives past the gap
    * (emitted in that batch) or when the WATERMARK passes `last + gap`
    * (emitted by the timeout callback — no per-user traffic needed). In
    * contrast to [[sessionize]] (Update mode, running session snapshots),
    * every output row here is final — safe to append to files/Kafka.
    *
    * State is one (start, last, events) triple per live user; the
    * watermark bounds both late data and state lifetime. Late events
    * inside the watermark follow batch gap semantics: one within `gap` of
    * the open session (including inside it) merges; one more than `gap`
    * BEFORE the session's start becomes its own closed session — the open
    * state and the batch's events are merged as sorted intervals, so a
    * `watermarkDelay` larger than the gap cannot glue a too-old event
    * onto the open session via an unconditional `min(start, t)`. */
  /** `batchMode = true` runs the same state function on a BATCH Dataset
    * (each user's full history arrives as one group; state starts empty,
    * event-time timeouts cannot fire, so output is every session EXCEPT
    * each user's trailing one — which streaming would close by timeout).
    * Used by the oracle gate; streaming callers leave the default. */
  def sessionizeClosed(events: Dataset[TimedEvent],
                       gapMs: Long = SessionGapMs,
                       watermarkDelay: String = "10 minutes",
                       batchMode: Boolean = false)
      : Dataset[SessionOutput] = {
    import events.sparkSession.implicits._
    val marked = if (batchMode) events
      else events.withWatermark("ts", watermarkDelay)
    marked
      .groupByKey(_.user)
      .flatMapGroupsWithState[SessionState, SessionOutput](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: String, batch: Iterator[TimedEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              SessionOutput(user, s.start, s.last, s.events, closed = true))
          } else {
            // Merge the open-session interval with this batch's events as
            // SORTED intervals — not "fold each event into the open state".
            // The fold's `t - l0 <= gapMs` guard is vacuously true for any
            // event at or before l0, so with watermarkDelay > gap an
            // admitted event older than the session start by more than the
            // gap would be glued on via min(start, t); interval-merge gives
            // it its own (closed) session, matching batch gap semantics.
            val intervals =
              (state.getOption.map(s => (s.start, s.last, s.events)).toList
                ++ batch.map(e => (e.ts.getTime, e.ts.getTime, 1L)))
                .sortBy(iv => (iv._1, iv._2))
            val closed = List.newBuilder[SessionOutput]
            var open: Option[(Long, Long, Long)] = None
            for ((s1, l1, n1) <- intervals) open match {
              case Some((s0, l0, n0)) if s1 - l0 <= gapMs =>
                open = Some((s0, math.max(l0, l1), n0 + n1))
              case Some((s0, l0, n0)) =>
                closed += SessionOutput(user, s0, l0, n0, closed = true)
                open = Some((s1, l1, n1))
              case None =>
                open = Some((s1, l1, n1))
            }
            open.foreach { case (s0, l0, n0) =>
              state.update(SessionState(s0, l0, n0))
              // batch execution has no watermark to time out against
              if (!batchMode) state.setTimeoutTimestamp(l0 + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Batch-mode sessionization over the events table (same 30-minute-gap
    * semantics, pure DataFrame — lag + cumulative sum session ids, one
    * window pass per user). */
  def batchSessions(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    events
      .withColumn("_prev", lag(col("ts_ms"), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev").isNull ||
          col("ts_ms") - col("_prev") > SessionGapMs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("_new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min("ts_ms").as("session_start"), max("ts_ms").as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  }
}
