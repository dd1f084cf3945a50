package graft

import org.apache.spark.sql.catalyst.expressions.Round
import org.apache.spark.sql.functions._

import graft.plans.AsOfJoinStrategy

/** The session every entry point builds ([[GraftSession.builder]]), the
  * timing rule [[Bench]] applies to each query, and the registry's
  * row invariants ([[SparkEntry.rows]]). */
class EntryPointSpec extends SparkSuite {

  override lazy val spark = GraftSession.builder("local[2]", 2)
    .appName(getClass.getSimpleName)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("GraftSession installs vec_dot, CollapseRedundantRound and " +
    "AsOfJoinStrategy") {
    val d = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    // a range, not a local relation, so the projection stays in the plan
    val rounded = spark.range(10).select((col("id") / 7).as("x"))
      .select(round(round(col("x"), 2), 4).as("y"))
    val rounds = rounded.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case r: Round => r })
    assert(rounds.size == 1, s"plan:\n${rounded.queryExecution.optimizedPlan}")
    assert(spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
  }

  test("Bench.timeQuery reports the middle of 3 reps") {
    val sleeps = Iterator(300L, 20L, 120L)
    val q = Bench.timeQuery(spark,
      () => { Thread.sleep(sleeps.next()); spark.range(1).toDF() })
    assert(q.err.isEmpty && q.reps.size == 3)
    assert(q.median == q.reps.sorted.apply(1))
    // the two slower reps slept >= 120 ms, so their minimum bounds the middle
    assert(q.median >= 0.12, s"reps: ${q.reps}")
  }

  test("Bench.timeQuery records a throwing query's error, runs it once, " +
    "and leaves it out of the total") {
    var builds = 0
    val failed = Bench.timeQuery(spark, () => {
      builds += 1
      spark.range(1).select(raise_error(lit("boom")).as("x")).toDF()
    })
    assert(builds == 1)
    assert(failed.err.isDefined)
    assert(failed.reps.isEmpty && failed.median == -1.0)
    val ok = Bench.timeQuery(spark, () => spark.range(1).toDF())
    assert(Bench.total(Seq(ok, failed)) == ok.median)
  }

  test("registry row names are distinct") {
    val names = SparkEntry.rows.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"duplicate row names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("registry queries and oracles have the same keys") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("no registry oracle is blank") {
    val blank = SparkEntry.rows
      .filter(r => r.oracleSql == null || r.oracleSql.trim.isEmpty)
      .map(_.name)
    assert(blank.isEmpty, s"blank oracles: ${blank.mkString(", ")}")
  }
}
