package graft.registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.connector.Records
import graft.registry.QueryDef.R

/** Streaming rows: batch-mode runs of the event-time operators
  * ([[graft.streaming.EventTimeOps]]); the same code paths run under
  * readStream with watermarks / mapGroupsWithState (StreamingSpec covers
  * that mode). */
object StreamingRows {

  val rows: Seq[QueryDef] = Seq(
    // Tumbling 1-hour event-time windows per topic.
    QueryDef("q_windowed_counts", (s, dir) => {
      graft.streaming.EventTimeOps.windowedCounts(Records.fromEvents(s, dir))
        .select(unix_millis(col("window_start")).as("wstart_ms"),
          col("topic"), col("cnt"))
        .orderBy("wstart_ms", "topic")
    },
    R +
      """SELECT epoch_ms(date_trunc('hour', rts)) AS wstart_ms, topic,
        |       count(*) AS cnt
        |FROM records GROUP BY wstart_ms, topic ORDER BY wstart_ms, topic""".stripMargin),
    // 30-minute-gap sessionization per user (lag + cumsum session ids).
    QueryDef("q_sessionization", (s, dir) => {
      graft.streaming.EventTimeOps.batchSessions(
        Records.readEvents(s, dir)
          .select(col("user_id"), unix_millis(col("ts")).as("ts_ms")))
    },
    """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
        |), s AS (
        |  SELECT user_id, ts_ms,
        |    CASE WHEN lag(ts_ms) OVER w IS NULL
        |           OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
        |), t AS (
        |  SELECT user_id, ts_ms,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ms
        |                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM s
        |)
        |SELECT user_id, session_id, min(ts_ms) AS session_start,
        |       max(ts_ms) AS session_end, count(*) AS n_events
        |FROM t GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),

    // The flatMapGroupsWithState closed-session operator run in BATCH
    // mode (state starts empty, event-time timeouts cannot fire): each
    // user's history arrives as one group, so the state function emits
    // every gap-closed session EXCEPT the user's trailing one — a
    // deterministic theorem of the operator the oracle mirrors as
    // "all sessions minus each user's last". Streaming closure-by-timeout
    // semantics are pinned in StreamingSpec.
    QueryDef("q_stream_sessions_closed", (s, dir) => {
      import s.implicits._
      val timed = Records.readEvents(s, dir)
        .select(col("user_id").cast(StringType).as("user"), col("ts"))
        .as[graft.streaming.EventTimeOps.TimedEvent]
      graft.streaming.EventTimeOps.sessionizeClosed(timed, batchMode = true)
        .toDF()
        .select(col("user").cast("long").as("user_id"),
          col("start").as("session_start"), col("end").as("session_end"),
          col("events").as("n_events"))
        .orderBy("user_id", "session_start")
    },
    // the batch-mode theorem: all gap-closed sessions minus each user's
    // trailing (max-session_id) one — the q_sessionization chain + a
    // per-user max window filter
    """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
        |), s AS (
        |  SELECT user_id, ts_ms,
        |    CASE WHEN lag(ts_ms) OVER w IS NULL
        |           OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
        |), t AS (
        |  SELECT user_id, ts_ms,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ms
        |                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM s
        |), g AS (
        |  SELECT user_id, session_id, min(ts_ms) AS session_start,
        |         max(ts_ms) AS session_end, count(*) AS n_events
        |  FROM t GROUP BY user_id, session_id
        |)
        |SELECT user_id, session_start, session_end, n_events FROM (
        |  SELECT g.*, max(session_id) OVER (PARTITION BY user_id) AS mx
        |  FROM g)
        |WHERE session_id < mx
        |ORDER BY user_id, session_start""".stripMargin),

    // Batch run of the streaming first-wins content dedup (EventTimeOps
    // .streamingDedup's deterministic twin): earliest (timestamp, offset)
    // record per md5(value), one min_by(struct) groupBy.
    QueryDef("q_stream_dedup", (s, dir) => {
      graft.connector.Records.asDuckNames(
        graft.streaming.EventTimeOps.batchDedup(
          graft.connector.Records.fromEvents(s, dir)))
        .select(col("topic"), col("part"), col("off"),
          unix_millis(col("rts")).as("ts_ms"), col("rkey"), col("rvalue"))
        .orderBy("off")
    },
    R +
      """, keyed AS (
        |  SELECT topic, part, off, rts, rkey, rvalue, md5(rvalue) AS h,
        |    row_number() OVER (PARTITION BY md5(rvalue)
        |                       ORDER BY rts, off) AS rn
        |  FROM records
        |)
        |SELECT topic, part, off, epoch_ms(rts) AS ts_ms, rkey, rvalue
        |FROM keyed WHERE rn = 1 ORDER BY off""".stripMargin),

    // Ordered-funnel analysis: users who viewed, then clicked AFTER the
    // first view, then purchased AFTER that click. Each stage is a
    // partial-aggregated min-ts groupBy plus a user-keyed join — every
    // hop hashes on user_id, so Catalyst reuses one partitioning down the
    // whole chain; funnel depth adds joins, never wider shuffles.
    QueryDef("q_funnel", (s, dir) => {
      val ev = Records.readEvents(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts_ms").as("t1"))
      val c = ev.where(col("event_type") === "click")
        .join(v, Seq("user_id")).where(col("ts_ms") >= col("t1"))
        .groupBy("user_id").agg(min("ts_ms").as("t2"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, Seq("user_id")).where(col("ts_ms") >= col("t2"))
        .groupBy("user_id").agg(min("ts_ms").as("t3"))
      def stage(df: DataFrame, name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(name).as("stage"), col("n_users"))
      stage(v, "1_view").union(stage(c, "2_click"))
        .union(stage(p, "3_purchase")).orderBy("stage")
    },
    """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
        |), v AS (
        |  SELECT user_id, min(ts_ms) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, min(e.ts_ms) AS t2
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts_ms >= v.t1 GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, min(e.ts_ms) AS t3
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_ms >= c.t2 GROUP BY e.user_id
        |)
        |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
        |ORDER BY stage""".stripMargin)
  )
}
