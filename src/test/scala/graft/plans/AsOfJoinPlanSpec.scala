package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.AsOfJoin

/** Native AsOfJoinExec vs the composed union+window operator: identical
  * results on real data, plus plan-shape and optimizer-rule checks. */
class AsOfJoinPlanSpec extends SparkSuite {

  import spark.implicits._

  private def eventsMs = {
    graft.connector.Records.readEvents(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_type"))
  }

  test("native as-of join matches the composed operator on 1000 events") {
    val left = eventsMs.select("event_id", "user_id", "ts_ms")
    val right = eventsMs.where($"event_type" === "signup")
      .select($"user_id", $"ts_ms", $"event_id".as("signup_id"))
    val composed = AsOfJoin.asOfJoin(left, right, "user_id", "ts_ms", Seq("signup_id"))
      .select("event_id", "asof_signup_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val native = AsOfJoin.asOfJoinNative(left, right, "user_id", "ts_ms", Seq("signup_id"))
      .select("event_id", "asof_signup_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(native.size == 1000)
    assert(native == composed)
    assert(native.values.exists(_ >= 0) && native.values.exists(_ == -1L))
  }

  test("native as-of join plans AsOfJoinExec with sorted, clustered children") {
    val left = eventsMs.select("event_id", "user_id", "ts_ms")
    val right = eventsMs.select($"user_id", $"ts_ms", $"event_id".as("rid"))
    val df = AsOfJoin.asOfJoinNative(left, right, "user_id", "ts_ms", Seq("rid"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"plan:\n$plan")
    assert(plan.contains("Sort"), "children must be sorted for the merge scan")
  }

  test("asOfJoinNative installs AsOfJoinStrategy on a plain session once, " +
    "however often it is called") {
    val left = Seq((1L, "k", 100L)).toDF("id", "k", "ts")
    val right = Seq(("k", 99L, 5L)).toDF("k", "ts", "rid")
    AsOfJoin.asOfJoinNative(left, right, "k", "ts", Seq("rid"))
    AsOfJoin.asOfJoinNative(left, right, "k", "ts", Seq("rid"))
    assert(spark.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
  }

  test("AsOfJoinExec reports numOutputRows/numMatchedRows SQLMetrics " +
    "like the built-in joins") {
    val left = Seq((1L, "k", 100L), (2L, "k", 50L), (3L, "z", 10L))
      .toDF("id", "k", "ts")
    val right = Seq(("k", 99L, 5L)).toDF("k", "ts", "rid")
    val df = AsOfJoin.asOfJoinNative(left, right, "k", "ts", Seq("rid"))
    df.collect()
    // unwrap AQE: AdaptiveSparkPlanExec AND its QueryStageExec wrappers
    // hide children from collect — recurse through both
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findExec(p: SparkPlan): Option[AsOfJoinExec] = p match {
      case e: AsOfJoinExec => Some(e)
      case a: AdaptiveSparkPlanExec => findExec(a.executedPlan)
      case q: QueryStageExec => findExec(q.plan)
      case other => other.children.view.flatMap(findExec).headOption
    }
    val exec = findExec(df.queryExecution.executedPlan)
      .getOrElse(fail("no AsOfJoinExec in executed plan"))
    assert(exec.metrics.contains("numOutputRows"))
    assert(exec.metrics("numOutputRows").value == 3L)
    assert(exec.metrics("numMatchedRows").value == 1L) // only id=1 matches
  }

  test("property: native exec == composed operator == reference model on " +
    "randomized datasets (unmatched keys, ties, strict-< boundaries)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 6) {
      // small key/ts domains force collisions: duplicate left (k, ts),
      // left-only and right-only keys, rts == lts strict-boundary hits.
      // right (k, ts) is deduped so "latest prior" is uniquely defined —
      // the one case where both engines may legitimately differ is a tie
      // among right rows, which the operator does not promise to break.
      val left = (0 until 200).map(i =>
        (i.toLong, s"k${rnd.nextInt(6)}", rnd.nextInt(25).toLong))
      val right = (0 until 100)
        .map(i => (s"k${rnd.nextInt(8)}", rnd.nextInt(25).toLong, i.toLong))
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val expected = left.map { case (id, k, ts) =>
        val m = right.filter(r => r._1 == k && r._2 < ts)
        id -> (if (m.isEmpty) -1L else m.maxBy(_._2)._3)
      }.toMap
      val lDf = left.toDF("id", "k", "ts")
      val rDf = right.toDF("k", "ts", "rid")
      def run(native: Boolean) = {
        val joined =
          if (native) AsOfJoin.asOfJoinNative(lDf, rDf, "k", "ts", Seq("rid"))
          else AsOfJoin.asOfJoin(lDf, rDf, "k", "ts", Seq("rid"))
        joined.select("id", "asof_rid").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      }
      assert(run(native = true) == expected, s"native, round $round")
      assert(run(native = false) == expected, s"composed, round $round")
    }
  }

  test("strict semantics: same-timestamp right rows are not matched") {
    val left = Seq((1L, "k", 100L)).toDF("id", "k", "ts")
    val right = Seq(("k", 100L, 7L), ("k", 99L, 5L)).toDF("k", "ts", "rid")
    val r = AsOfJoin.asOfJoinNative(left, right, "k", "ts", Seq("rid")).collect()
    assert(r(0).getLong(3) == 5L) // ts=100 right excluded, ts=99 matched
  }

  test("CollapseRedundantRound removes outer coarser re-rounds") {
    val sess = spark.newSession()
    sess.experimental.extraOptimizations =
      sess.experimental.extraOptimizations :+ CollapseRedundantRound
    import sess.implicits._
    val df = Seq(1.234567891).toDF("x")
      .select(round(round($"x", 4), 6).as("y"))
    val optimized = df.queryExecution.optimizedPlan.toString
    // outer round(…, 6) of a round(…, 4) value must be gone
    assert(!optimized.contains("round(round("), s"plan:\n$optimized")
    assert(df.collect()(0).getDouble(0) == 1.2346)
    // but a genuinely tightening round stays
    val df2 = Seq(1.234567891).toDF("x")
      .select(round(round($"x", 6), 4).as("y"))
    assert(df2.collect()(0).getDouble(0) == 1.2346)
  }

  test("CollapseRedundantRound preserves DecimalType output type and value " +
    "(optimized result identical to an extensions-free session)") {
    // Spark's Round on decimal(p,s) yields scale min(s, targetScale), so
    // round(round(x, 2), 4) is decimal(·,2) = 1.23 with or without the rule.
    // The contract under test: the rule never changes dataType or result.
    def run(withRule: Boolean) = {
      val sess = spark.newSession()
      if (withRule) sess.experimental.extraOptimizations =
        sess.experimental.extraOptimizations :+ CollapseRedundantRound
      import sess.implicits._
      Seq(BigDecimal("1.23456789")).toDF("x")
        .select(round(round($"x", 2), 4).as("y"))
    }
    val vanilla = run(withRule = false)
    val ruled = run(withRule = true)
    // pin that the rule actually FIRES on decimals (both rounds resolve to
    // the same decimal scale so the type guard passes) — applied directly
    // to the analyzed plan so no other optimizer rule can mask it
    val analyzed = vanilla.queryExecution.analyzed
    assert(analyzed.toString.contains("round(round("), "fixture lost nesting")
    val collapsed = CollapseRedundantRound(analyzed).toString
    assert(!collapsed.contains("round(round("),
      s"rule did not collapse decimal rounds; plan:\n$collapsed")
    assert(ruled.schema == vanilla.schema,
      s"rule changed schema: ${ruled.schema} vs ${vanilla.schema}")
    val v = ruled.collect()(0).getDecimal(0)
    assert(v == vanilla.collect()(0).getDecimal(0))
    assert(v.compareTo(new java.math.BigDecimal("1.23")) == 0, s"value: $v")
  }
}
