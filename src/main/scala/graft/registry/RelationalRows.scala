package graft.registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.connector.Records
import graft.registry.QueryDef.R

/** Relational rows. Beyond-parity (SURVEY.md §2.2): the reference has no
  * joins/aggregations; these come from Spark SQL and double as the bench
  * headliners. */
object RelationalRows {

  val rows: Seq[QueryDef] = Seq(
    // TPC-H Q1-style pricing summary: partial-agg-friendly single shuffle.
    QueryDef("q1_pricing_summary", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // TPC-H Q3-style: broadcast the filtered dimensions into the fact scan.
    QueryDef("q3_top_orders", (s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") < lit("1997-01-01"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") > lit("1997-01-01"))
      li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_date, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // TPC-H Q5-style: star join, all dims broadcast, one fact shuffle.
    QueryDef("q5_region_revenue", (s, dir) => {
      val region = s.read.parquet(s"$dir/region.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")
    },
    """SELECT r_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // TPC-H Q6-style: pure filter + aggregate, fully pushed to the scan.
    QueryDef("q6_forecast_revenue", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
    },
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin),

    // Ranking window: top-3 customers by balance per nation.
    QueryDef("q_window_top_customers", (s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      s.read.parquet(s"$dir/customer.parquet")
        .withColumn("rank", row_number().over(w).cast(LongType))
        .where(col("rank") <= 3)
        .select(col("c_nationkey").as("nationkey"), col("rank"),
          col("c_custkey").as("custkey"), col("c_acctbal").as("acctbal"))
        .orderBy("nationkey", "rank")
    },
    """SELECT c_nationkey AS nationkey,
        |  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rank,
        |  c_custkey AS custkey, c_acctbal AS acctbal
        |FROM customer
        |QUALIFY rank <= 3
        |ORDER BY nationkey, rank""".stripMargin),

    // Exact distinct cardinalities (oracle-checked); the HLL-sketch twin
    // below demonstrates the approximate path for 100TB cardinalities.
    QueryDef("q_count_distinct", (s, dir) => {
      Records.fromEvents(s, dir)
        .groupBy("topic")
        .agg(countDistinct(col("key")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("topic")
    },
    R +
      """SELECT topic, count(DISTINCT rkey) AS n_users, count(*) AS n_events
        |FROM records GROUP BY topic ORDER BY topic""".stripMargin),
    // approx_count_distinct (HyperLogLog++) + approx_percentile sketches.
    // No other engine reproduces a sketch bit-for-bit, so the oracle
    // contract is a BOUNDS assertion computed inside the query: each
    // approximate answer must land within its published error envelope of
    // the exact answer computed alongside it (HLL: |approx-exact| <=
    // 3*rsd*exact; percentile: the approx value's true rank within 0.02 of
    // the target quantile). The flags ship as columns the oracle asserts
    // are literally 1 — a sketch drifting out of bounds turns the row red.
    QueryDef("q_sketch_distinct", (s, dir) => {
      val ev = Records.fromEvents(s, dir)
        .select(col("topic"), col("key"), col("offset"))
      val agg = ev.groupBy("topic")
        .agg(approx_count_distinct(col("key"), 0.02).as("approx_users"),
          countDistinct(col("key")).as("n_users"),
          count(lit(1)).as("n_events"),
          expr("approx_percentile(offset, array(0.5D, 0.95D), 10000)")
            .as("oq"))
        .select(col("topic"), col("n_users"), col("n_events"),
          col("approx_users"),
          element_at(col("oq"), 1).as("ap50"),
          element_at(col("oq"), 2).as("ap95"))
      // true rank of each approx percentile value (one broadcast join —
      // the per-topic aggregate is tiny)
      val ranks = ev
        .join(broadcast(agg.select(col("topic"), col("ap50"), col("ap95"))),
          Seq("topic"))
        .groupBy("topic")
        .agg(
          (sum(when(col("offset") <= col("ap50"), 1L).otherwise(0L)) /
            count(lit(1))).as("f50"),
          (sum(when(col("offset") <= col("ap95"), 1L).otherwise(0L)) /
            count(lit(1))).as("f95"),
          // tie mass AT each returned value: F jumps by this much at ap,
          // so the rank gate must absorb it
          (sum(when(col("offset") === col("ap50"), 1L).otherwise(0L)) /
            count(lit(1))).as("t50"),
          (sum(when(col("offset") === col("ap95"), 1L).otherwise(0L)) /
            count(lit(1))).as("t95"))
      // Gate tolerance is data-aware, not a bare 0.02: F's granularity on a
      // topic with n events is 1/n (n=10 makes F(p95-element) land on 1.0),
      // and a tie block at the returned value shifts F(ap) by the whole
      // block's mass while the sketch is still within its rank-error spec.
      // tol = max(0.02, 1/n + tie_mass) keeps the flag meaning "sketch
      // within published bounds" at every scale factor.
      def tol(tie: Column) =
        greatest(lit(0.02), lit(1.0) / col("n_events") + tie)
      agg.join(ranks, Seq("topic"))
        .select(col("topic"), col("n_users"), col("n_events"),
          when(abs(col("approx_users") - col("n_users")) <=
            lit(3 * 0.02) * col("n_users"), 1L).otherwise(0L).as("hll_ok"),
          when(abs(col("f50") - 0.5) <= tol(col("t50")), 1L)
            .otherwise(0L).as("p50_ok"),
          when(abs(col("f95") - 0.95) <= tol(col("t95")), 1L)
            .otherwise(0L).as("p95_ok"))
        .orderBy("topic")
    },
    // The sketch twin: exact columns are recomputed by the oracle; the
    // in-query bounds flags must come out 1 (sketches inside their error
    // envelopes) — asserted as literals here, so an out-of-bounds sketch
    // hash-mismatches.
    R +
      """SELECT topic, count(DISTINCT rkey) AS n_users, count(*) AS n_events,
        |  CAST(1 AS BIGINT) AS hll_ok, CAST(1 AS BIGINT) AS p50_ok,
        |  CAST(1 AS BIGINT) AS p95_ok
        |FROM records GROUP BY topic ORDER BY topic""".stripMargin),

    // Mergeable-sketch re-aggregation (DataSketches HLL): per-group
    // sketches union into a global estimate WITHOUT rescanning raw data —
    // the 100 TB pattern where KB-sized sketches re-aggregate at any
    // rollup level while raw ids never leave their shard. Sketches can't
    // hash-match another engine, so the oracle gets exact twins plus
    // in-query bounds flags (the q_sketch_distinct pattern).
    QueryDef("q_hll_merge", (s, dir) => {
      val ev = Records.readEvents(s, dir)
        .select(col("event_type").as("grp"), col("user_id"))
      val sk = ev.groupBy("grp")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val per = sk.select(col("grp"), col("exact_users"),
        when(abs(expr("hll_sketch_estimate(sk)") - col("exact_users")) <=
          lit(0.05) * col("exact_users"), 1L).otherwise(0L).as("est_ok"))
      // the "(all)" row re-aggregates the per-group SKETCHES, not the data
      val allRow = sk
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        .crossJoin(ev.agg(countDistinct(col("user_id")).as("exact_users")))
        .select(lit("(all)").as("grp"), col("exact_users"),
          when(abs(col("est") - col("exact_users")) <=
            lit(0.05) * col("exact_users"), 1L).otherwise(0L).as("est_ok"))
      per.unionByName(allRow).orderBy("grp")
    },
    """SELECT grp, exact_users, est_ok FROM (
        |  SELECT event_type AS grp,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |    CAST(1 AS BIGINT) AS est_ok
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT '(all)', CAST(count(DISTINCT user_id) AS BIGINT),
        |    CAST(1 AS BIGINT)
        |  FROM events) t
        |ORDER BY grp""".stripMargin),

    // Sketch set-algebra (DataSketches Theta): distinct clickers who never
    // errored, via theta_difference over two sketches — set EXCEPT without
    // joining raw ids. Same bounds-flag oracle pattern.
    QueryDef("q_theta_diff", (s, dir) => {
      val ev = Records.readEvents(s, dir)
        .select(col("event_type"), col("user_id"))
      val clicks = ev.where(col("event_type") === "click")
      val errors = ev.where(col("event_type") === "error")
      val exact = clicks.select("user_id").distinct()
        .join(errors.select("user_id").distinct(), Seq("user_id"), "left_anti")
        .agg(count(lit(1)).as("exact_users"))
      val est = clicks.agg(expr("theta_sketch_agg(user_id)").as("cs"))
        .crossJoin(errors.agg(expr("theta_sketch_agg(user_id)").as("es")))
        .select(expr("theta_sketch_estimate(theta_difference(cs, es))")
          .as("est"))
      exact.crossJoin(est).select(col("exact_users"),
        when(abs(col("est") - col("exact_users")) <=
          greatest(lit(0.05) * col("exact_users"), lit(2.0)), 1L)
          .otherwise(0L).as("est_ok"))
    },
    """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS est_ok
        |FROM events
        |WHERE event_type = 'click'
        |  AND user_id NOT IN (SELECT user_id FROM events
        |                      WHERE event_type = 'error')""".stripMargin),

    // Frequent-items sketch (approx_top_k family): per-shard sketches
    // accumulate independently, then a single combine+estimate produces the
    // global top-k — the mergeable "most common values" pattern at 100 TB
    // (one KB-sized sketch per partition/day; only states cross the wire).
    // The ~50-item key space sits far below maxItemsTracked, so the sketch
    // tracks every item exactly and the estimate must EQUAL the exact
    // count — a hard equality flag, stronger than the HLL bounds flag.
    QueryDef("q_approx_topk", (s, dir) => {
      val ev = Records.readEvents(s, dir)
        .select(concat_ws("_", col("event_type"),
            (col("user_id") % 10).cast("string")).as("item"),
          (col("user_id") % 4).as("shard"))
      val acc = ev.groupBy("shard")
        .agg(expr("approx_top_k_accumulate(item, 1000)").as("sk"))
      val est = acc
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk, 1000), 100)")
          .as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("est_cnt"))
      val exact = ev.groupBy("item").agg(count(lit(1)).as("cnt"))
      exact.join(est, Seq("item"), "left")
        .select(col("item"), col("cnt"),
          when(col("est_cnt") === col("cnt"), 1L).otherwise(0L).as("est_ok"))
        .orderBy(col("cnt").desc, col("item"))
    },
    """SELECT event_type || '_' || CAST(user_id % 10 AS VARCHAR) AS item,
        |  CAST(count(*) AS BIGINT) AS cnt, CAST(1 AS BIGINT) AS est_ok
        |FROM events GROUP BY 1 ORDER BY cnt DESC, item""".stripMargin),

    // Window frame: running revenue total per customer over order dates.
    QueryDef("q_running_total", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_custkey") < 100)
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
        .orderBy("custkey", "orderkey")
    },
    """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING), 2) AS running_total
        |FROM orders WHERE o_custkey < 100
        |ORDER BY custkey, orderkey""".stripMargin),

    // CUBE: all four aggregation levels of (status, year) in one pass —
    // completes the rollup / grouping-sets / cube triad. Partial-agg
    // expansion is Catalyst's: one Expand + one shuffle, not four scans.
    // Rollup rows are detected with grouping(), not a NULL-coalesce
    // sentinel, so a genuine NULL group value on nullable data could
    // never be conflated with an aggregate level.
    QueryDef("q_cube", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderstatus"),
          year(col("o_orderdate")).cast(LongType).as("yr"),
          col("o_totalprice"))
        .cube(col("o_orderstatus"), col("yr"))
        .agg(grouping(col("o_orderstatus")).as("_gs"),
          grouping(col("yr")).as("_gy"),
          count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .select(
          when(col("_gs") === 1, "(all)").otherwise(col("o_orderstatus"))
            .as("status"),
          when(col("_gy") === 1, -1L).otherwise(col("yr")).as("yr"),
          col("cnt"), col("total"))
        .orderBy("status", "yr")
    },
    """SELECT
        |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
        |       ELSE o_orderstatus END AS status,
        |  CASE WHEN GROUPING(year(o_orderdate)) = 1 THEN -1
        |       ELSE CAST(year(o_orderdate) AS BIGINT) END AS yr,
        |  count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, year(o_orderdate))
        |ORDER BY status, yr""".stripMargin),

    // FULL OUTER join with side attribution: customers without orders and
    // order-groups outside the customer slice both survive.
    QueryDef("q_join_full_outer", (s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_custkey") <= 600).select(col("c_custkey"))
      val ords = s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        .where(col("o_custkey") <= 900)
      cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          when(col("c_custkey").isNull, "order_only")
            .when(col("o_custkey").isNull, "customer_only")
            .otherwise("both").as("side"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey")
    },
    """WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey <= 600),
        |o AS (SELECT o_custkey, count(*) AS n_orders FROM orders
        |      GROUP BY o_custkey HAVING o_custkey <= 900)
        |SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
        |  CASE WHEN c.c_custkey IS NULL THEN 'order_only'
        |       WHEN o.o_custkey IS NULL THEN 'customer_only'
        |       ELSE 'both' END AS side,
        |  coalesce(o.n_orders, 0) AS n_orders
        |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
        |ORDER BY custkey""".stripMargin),

    // UNPIVOT (melt): wide per-flag measures back to (flag, metric, value)
    // rows via stack() — the inverse of q_pivot_status_priority. stack is
    // a Generate (map-side 1->3), not a shuffle.
    QueryDef("q_unpivot", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(round(sum("l_quantity"), 2).as("qty"),
          round(sum("l_discount"), 2).as("disc"),
          round(sum("l_tax"), 2).as("tax"))
        .select(col("flag"),
          expr("stack(3, 'qty', qty, 'disc', disc, 'tax', tax)")
            .as(Seq("metric", "value")))
        .orderBy("flag", "metric")
    },
    """WITH w AS (
        |  SELECT l_returnflag AS flag, round(sum(l_quantity), 2) AS qty,
        |    round(sum(l_discount), 2) AS disc, round(sum(l_tax), 2) AS tax
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT flag, 'qty' AS metric, qty AS value FROM w
        |UNION ALL SELECT flag, 'disc', disc FROM w
        |UNION ALL SELECT flag, 'tax', tax FROM w
        |ORDER BY flag, metric""".stripMargin),

    // Time-series gap filling: each customer's order-day series becomes
    // dense over [min_day, max_day] with zero-filled missing days —
    // sequence() + explode builds the calendar DISTRIBUTED per key (rows =
    // keys × span), and the fill join is (custkey, day)-keyed; nothing
    // ever materializes a global calendar on the driver.
    QueryDef("q_gap_fill", (s, dir) => {
      val daily = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_custkey") < 20)
        .select(col("o_custkey").as("custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01"))
            .cast(LongType).as("day"))
        .groupBy("custkey", "day").agg(count(lit(1)).as("n_orders"))
      val cal = daily.groupBy("custkey")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("custkey"), explode(sequence(col("d0"), col("d1"))).as("day"))
      cal.join(daily, Seq("custkey", "day"), "left")
        .select(col("custkey"), col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey", "day")
    },
    """WITH d AS (
        |  SELECT o_custkey AS custkey,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
        |    count(*) AS n_orders
        |  FROM orders WHERE o_custkey < 20 GROUP BY custkey, day),
        |s AS (SELECT custkey, min(day) AS d0, max(day) AS d1 FROM d
        |      GROUP BY custkey),
        |cal AS (SELECT custkey, unnest(generate_series(d0, d1)) AS day FROM s)
        |SELECT cal.custkey, cal.day, coalesce(d.n_orders, 0) AS n_orders
        |FROM cal LEFT JOIN d ON cal.custkey = d.custkey AND cal.day = d.day
        |ORDER BY cal.custkey, cal.day""".stripMargin),

    // 30-day trailing revenue per customer: a time-based RANGE frame (vs
    // q_running_total's ROWS frame) over pre-aggregated per-day revenue.
    // Pre-aggregating to (custkey, day) first bounds the frame's row count
    // by 30 regardless of order volume — the step that keeps the window
    // memory constant at 100 TB; both the groupBy and the window hash on
    // o_custkey, so the window adds no second shuffle.
    QueryDef("q_range_frame", (s, dir) => {
      val daily = s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01"))
            .cast(LongType).as("day"))
        .agg(sum(col("o_totalprice")).as("day_rev"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
        .rangeBetween(-29, 0)
      daily
        .select(col("o_custkey").as("custkey"), col("day"),
          round(col("day_rev"), 2).as("day_rev"),
          round(sum(col("day_rev")).over(w), 2).as("rev_30d"))
        .orderBy("custkey", "day")
    },
    """WITH daily AS (
        |  SELECT o_custkey,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
        |    sum(o_totalprice) AS day_rev
        |  FROM orders GROUP BY o_custkey, day)
        |SELECT o_custkey AS custkey, day, round(day_rev, 2) AS day_rev,
        |  round(sum(day_rev) OVER (
        |    PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2) AS rev_30d
        |FROM daily ORDER BY custkey, day""".stripMargin),

    // lag/lead inter-order gap statistics: one window pass (co-partitioned
    // with the following per-customer agg — Catalyst reuses the hash
    // partitioning on o_custkey, so the groupBy adds no second shuffle).
    // Integer day-gaps only: sums/maxes stay BIGINT, no fp rounding needed.
    QueryDef("q_lag_lead", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gap = datediff(col("o_orderdate"), col("prev_ts"))
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(w).as("prev_ts"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          count(col("prev_ts")).as("n_gaps"),
          coalesce(sum(gap), lit(0)).cast(LongType).as("sum_gap_days"),
          coalesce(max(gap), lit(0)).cast(LongType).as("max_gap_days"))
        .orderBy("o_custkey")
    },
    """WITH w AS (
        |  SELECT o_custkey, o_orderdate,
        |    lag(o_orderdate) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_ts
        |  FROM orders)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(prev_ts) AS BIGINT) AS n_gaps,
        |  CAST(coalesce(sum(date_diff('day', CAST(prev_ts AS DATE),
        |                              CAST(o_orderdate AS DATE))), 0) AS BIGINT)
        |    AS sum_gap_days,
        |  CAST(coalesce(max(date_diff('day', CAST(prev_ts AS DATE),
        |                              CAST(o_orderdate AS DATE))), 0) AS BIGINT)
        |    AS max_gap_days
        |FROM w GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // ntile quartiles of account balance within each nation, then one
    // per-(nation, quartile) agg — same single hash partitioning on
    // c_nationkey reused by the window sort and the groupBy.
    QueryDef("q_ntile", (s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_nationkey"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"))
        .groupBy(col("c_nationkey").cast(LongType).as("nationkey"),
          col("quartile").cast(LongType).as("quartile"))
        .agg(count(lit(1)).as("n_cust"),
          round(min("c_acctbal"), 2).as("min_bal"),
          round(max("c_acctbal"), 2).as("max_bal"))
        .orderBy("nationkey", "quartile")
    },
    """WITH q AS (
        |  SELECT c_nationkey, c_acctbal,
        |    ntile(4) OVER (
        |      PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS quartile
        |  FROM customer)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  CAST(quartile AS BIGINT) AS quartile,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  round(min(c_acctbal), 2) AS min_bal, round(max(c_acctbal), 2) AS max_bal
        |FROM q GROUP BY nationkey, quartile
        |ORDER BY nationkey, quartile""".stripMargin),

    // Z-order layout audit: Morton-code the (orderkey, partkey) pairs and
    // check every bucket of the z-range layout has tight min/max ranges in
    // BOTH dimensions — the file-skipping property. Buckets are 32 fixed
    // equal-width z ranges derived from a 2-scalar distributed agg
    // (min/max z, broadcast back) — the deterministic stand-in for the
    // writer's `repartitionByRange(32, z)` boundaries. Everything is
    // partial-agg + broadcast-scalar + hash-agg: no global window, no
    // single-partition exchange anywhere in the plan, so the audit runs at
    // any scale. (An earlier revision used ntile over a global z sort —
    // equal row counts per bucket, but every row serialized through one
    // window task.)
    QueryDef("q_zorder_cluster", (s, dir) => {
      import graft.functions.ZOrder
      val pairs = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .withColumn("z", ZOrder.zorderKey(col("l_orderkey"), col("l_partkey")))
      val stats = pairs.agg(min("z").as("zmin"), max("z").as("zmax"))
      // Integer-only bucket arithmetic: z ≤ 2^62, so (z - zmin) stays in
      // Long and `div` avoids the double-precision cliff past 2^53.
      pairs.crossJoin(broadcast(stats))
        .withColumn("bucket",
          expr("(z - zmin) div ((zmax - zmin) div 32 + 1) + 1").cast(LongType))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
          min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
          min("z").as("min_z"), max("z").as("max_z"))
        .orderBy("bucket")
    },
    """WITH p AS (SELECT DISTINCT l_orderkey AS a, l_partkey AS b FROM lineitem),
        |s0 AS (SELECT a, b, a & 2147483647 AS xa, b & 2147483647 AS xb FROM p),
        |s1 AS (SELECT a, b, (xa | (xa << 16)) & 281470681808895 AS xa,
        |                    (xb | (xb << 16)) & 281470681808895 AS xb FROM s0),
        |s2 AS (SELECT a, b, (xa | (xa << 8)) & 71777214294589695 AS xa,
        |                    (xb | (xb << 8)) & 71777214294589695 AS xb FROM s1),
        |s3 AS (SELECT a, b, (xa | (xa << 4)) & 1085102592571150095 AS xa,
        |                    (xb | (xb << 4)) & 1085102592571150095 AS xb FROM s2),
        |s4 AS (SELECT a, b, (xa | (xa << 2)) & 3689348814741910323 AS xa,
        |                    (xb | (xb << 2)) & 3689348814741910323 AS xb FROM s3),
        |s5 AS (SELECT a, b, (xa | (xa << 1)) & 6148914691236517205 AS xa,
        |                    (xb | (xb << 1)) & 6148914691236517205 AS xb FROM s4),
        |zz AS (SELECT a, b, xa | (xb << 1) AS z FROM s5),
        |st AS (SELECT min(z) AS zmin, max(z) AS zmax FROM zz),
        |t AS (SELECT a, b, z,
        |        (z - zmin) // ((zmax - zmin) // 32 + 1) + 1 AS bucket
        |      FROM zz, st)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(a) AS min_ok, max(a) AS max_ok,
        |  min(b) AS min_pk, max(b) AS max_pk,
        |  min(z) AS min_z, max(z) AS max_z
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Time-series rollup on the orders stream.
    QueryDef("q_monthly_orders", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("month")
    },
    """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY month ORDER BY month""".stripMargin),

    // Correlated scalar subquery through the engine's SQL surface.
    QueryDef("q_correlated_subquery", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("v_orders")
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS price
          |FROM v_orders o
          |WHERE o_totalprice > 1.5 * (
          |  SELECT avg(o_totalprice) FROM v_orders o2
          |  WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    },
    """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT avg(o_totalprice) FROM orders o2
        |  WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),

    // INTERSECT: customers holding both open and finished orders.
    QueryDef("q_set_intersect", (s, dir) => {
      val ord = s.read.parquet(s"$dir/orders.parquet")
      ord.where(col("o_orderstatus") === "O").select("o_custkey").distinct()
        .intersect(
          ord.where(col("o_orderstatus") === "F").select("o_custkey").distinct())
        .orderBy("o_custkey")
    },
    """SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin),

    // GROUPING SETS (disjoint axes — not expressible as one rollup).
    QueryDef("q_grouping_sets", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("v_orders2")
      s.sql(
        """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
          |            ELSE o_orderstatus END AS status,
          |       CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
          |            ELSE o_orderpriority END AS priority,
          |       count(*) AS cnt, round(sum(o_totalprice), 2) AS total
          |FROM v_orders2
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
          |ORDER BY status, priority""".stripMargin)
    },
    """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
        |            ELSE o_orderstatus END AS status,
        |       CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
        |            ELSE o_orderpriority END AS priority,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin),

    // Pivot: order counts status x priority (conditional-agg formulation so
    // the shape is fixed and oracle-portable).
    QueryDef("q_pivot_status_priority", (s, dir) => {
      val pr = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(
          sum(when(col("o_orderpriority") === pr(0), 1L).otherwise(0L)).as("urgent"),
          sum(when(col("o_orderpriority") === pr(1), 1L).otherwise(0L)).as("high"),
          sum(when(col("o_orderpriority") === pr(2), 1L).otherwise(0L)).as("medium"),
          sum(when(col("o_orderpriority") === pr(3), 1L).otherwise(0L)).as("unspec"),
          sum(when(col("o_orderpriority") === pr(4), 1L).otherwise(0L)).as("low"))
        .orderBy("status")
    },
    """SELECT o_orderstatus AS status,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS unspec,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
        |FROM orders GROUP BY status ORDER BY status""".stripMargin),

    // Histogram: event-value distribution in width-50 buckets.
    QueryDef("q_value_histogram", (s, dir) => {
      Records.readEvents(s, dir)
        .groupBy(floor(col("value") / 50).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("value")), 4).as("avg_v"))
        .orderBy("bucket")
    },
    """SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS cnt,
        |       round(avg(value), 4) AS avg_v
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Exact percentiles (sort-based interpolated; the approx twin lives in
    // q_sketch_distinct's approx_percentile).
    QueryDef("q_percentile_exact", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5D)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.95D)"), 4).as("p95"),
          count(lit(1)).as("cnt"))
        .orderBy("status")
    },
    """SELECT o_orderstatus AS status,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |  count(*) AS cnt
        |FROM orders GROUP BY status ORDER BY status""".stripMargin),

    // Set operation: customers with open orders but no finished ones.
    QueryDef("q_set_except", (s, dir) => {
      val ord = s.read.parquet(s"$dir/orders.parquet")
      ord.where(col("o_orderstatus") === "O").select("o_custkey").distinct()
        .except(ord.where(col("o_orderstatus") === "F").select("o_custkey").distinct())
        .orderBy("o_custkey")
    },
    """SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin),

    // As-of join: latest strictly-prior signup event per event, same user.
    // Runs the CUSTOM plan ladder (AsOfJoinNode -> AsOfJoinStrategy ->
    // AsOfJoinExec streaming merge); the composed union+window variant is
    // proven equal in AsOfJoinPlanSpec; oracle is DuckDB's native ASOF JOIN.
    QueryDef("q_asof_join", (s, dir) => {
      val ev = Records.readEvents(s, dir)
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      val signups = Records.readEvents(s, dir)
        .where(col("event_type") === "signup")
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_id").as("signup_id"))
      graft.operators.AsOfJoin
        .asOfJoinNative(ev, signups, "user_id", "ts_ms", Seq("signup_id"))
        .select(col("event_id"), col("asof_signup_id").as("prior_signup"))
        .orderBy("event_id")
    },
    """SELECT e.event_id, s.signup_id AS prior_signup
        |FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events) e
        |ASOF LEFT JOIN (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id AS signup_id
        |  FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts_ms > s.ts_ms
        |ORDER BY e.event_id""".stripMargin),

    // Range join (no equi key): events falling inside promo windows derived
    // from the first 50 orders (order date + 3 days). Bucketized interval
    // join — never a nested-loop cross product.
    QueryDef("q_range_join", (s, dir) => {
      val ev = Records.readEvents(s, dir)
        .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"))
      val windows = Records.readEvents(s, dir)
        .where(col("event_type") === "signup" && col("event_id") < 500)
        .select(col("event_id").as("win_id"),
          unix_millis(col("ts")).as("w_start"),
          (unix_millis(col("ts")) + 6L * 3600000L).as("w_end"))
      graft.operators.RangeJoin
        .bucketed(ev, "ts_ms", windows, "w_start", "w_end",
          Seq("win_id"), bucketMs = 3600000L)
        .groupBy(col("range_win_id").as("win_id"))
        .agg(count(lit(1)).as("n_events"), min("event_id").as("first_event"))
        .orderBy("win_id")
    },
    """WITH ev AS (SELECT event_id, epoch_ms(ts) AS ts_ms FROM events),
        |wins AS (
        |  SELECT event_id AS win_id, epoch_ms(ts) AS w_start,
        |         epoch_ms(ts) + 6 * 3600000 AS w_end
        |  FROM events WHERE event_type = 'signup' AND event_id < 500)
        |SELECT win_id, count(*) AS n_events, min(event_id) AS first_event
        |FROM ev JOIN wins ON ev.ts_ms BETWEEN w_start AND w_end
        |GROUP BY win_id ORDER BY win_id""".stripMargin),

    // Hierarchical rollup: revenue by (region, nation) with subtotals.
    QueryDef("q_rollup_revenue", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val region = s.read.parquet(s"$dir/region.parquet")
      li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(grouping(col("r_name")).as("_gr"),
          grouping(col("n_name")).as("_gn"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"), count(lit(1)).as("n_items"))
        .select(
          when(col("_gr") === 1, "(all)").otherwise(col("r_name")).as("region"),
          when(col("_gn") === 1, "(all)").otherwise(col("n_name")).as("nation"),
          col("revenue"), col("n_items"))
        .orderBy("region", "nation")
    },
    """SELECT CASE WHEN GROUPING(r_name) = 1 THEN '(all)' ELSE r_name END
        |         AS region,
        |       CASE WHEN GROUPING(n_name) = 1 THEN '(all)' ELSE n_name END
        |         AS nation,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin),

    // Left-semi: customers having at least one urgent open order.
    QueryDef("q_join_semi", (s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey")).orderBy("c_custkey")
    },
    """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),

    // Bloom-prefiltered semi-join: lineitems of high-value orders. The
    // broadcast Bloom drops non-matching fact rows BEFORE the join's
    // shuffle (at 100 TB: shuffle volume ~ selectivity, not table size);
    // false positives are removed by the exact semi-join, so the result --
    // and the oracle -- is the plain semi-join's.
    QueryDef("q_bloom_semi_join", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val highVal = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_totalprice") > 400000.0)
      graft.operators.BloomSemiJoin
        .semiJoin(li, highVal, "l_orderkey", "o_orderkey",
          expectedItems = 100000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("rev"))
        .orderBy("l_returnflag")
    },
    """SELECT l_returnflag, count(*) AS cnt,
        |  round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_totalprice > 400000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Skew-mitigated join: events (5 heavily-skewed topics) x per-topic dim,
    // salted 16 ways. Result identical to the plain join -- oracled as one.
    QueryDef("q_salted_join", (s, dir) => {
      val ev = Records.fromEvents(s, dir)
        .select(col("topic"), col("offset").as("off"))
      val dim = Records.fromEvents(s, dir)
        .groupBy("topic").agg(count(lit(1)).as("topic_total"))
      graft.operators.SaltedJoin.join(ev, dim, "topic")
        .groupBy(col("topic"), col("topic_total"))
        .agg(count(lit(1)).as("cnt"), sum(col("off")).as("sum_off"))
        .orderBy("topic")
    },
    R +
      """, dim AS (SELECT topic, count(*) AS topic_total FROM records GROUP BY topic)
        |SELECT r.topic, dim.topic_total, count(*) AS cnt,
        |       CAST(sum(r.off) AS BIGINT) AS sum_off
        |FROM records r JOIN dim ON r.topic = dim.topic
        |GROUP BY r.topic, dim.topic_total ORDER BY r.topic""".stripMargin),

    // Left-anti: customers with no urgent orders (complement of the semi).
    QueryDef("q_join_anti", (s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy("c_custkey")
    },
    """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)
  )
}
