package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator Spark SQL lacks natively
  * (SURVEY.md brief: compose existing ops when semantics allow, which they
  * do here, so no custom plan node is needed).
  *
  * For each left row, attach the latest right row with
  * `right.ts < left.ts` (strict) sharing the join key. Implemented with the
  * union + ordered-window formulation: tag both sides, union them, and take
  * `last_value(right payload, ignoreNulls)` over
  * (key ORDER BY ts, side) ROWS UNBOUNDED PRECEDING..CURRENT — one shuffle
  * on the key, no range-cross-join blowup, arbitrarily large sides. The
  * side ordering makes strictness exact: at equal timestamps left rows sort
  * before right rows, so a same-instant right row is never visible.
  *
  * At 100 TB this is the only formulation that works: a naive
  * `a JOIN b ON a.key = b.key AND b.ts < a.ts` + argmax explodes to the
  * full history per row before aggregating; the window formulation is
  * O(|a| + |b|) shuffled once.
  */
object AsOfJoin {

  /** Left as-of join. `rightCols` are payload columns from `right` to carry
    * (renamed with `asof_` prefix in the output). Rows with no prior match
    * keep nulls. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val payload = struct(rightCols.map(col): _*)
    val l = left
      .withColumn("_side", lit(0))
      .withColumn("_rp", lit(null).cast(right.select(rightCols.map(col): _*)
        .schema.fields.foldLeft(new org.apache.spark.sql.types.StructType()) {
          (s, f) => s.add(f)
        }))
    val r = right
      .select((Seq(col(key), col(ts)) :+ payload.as("_rp")): _*)
      .withColumn("_side", lit(1))
    // align schemas: right side carries only key/ts/payload
    val lAligned = l.select(
      (Seq(col(key), col(ts), col("_side"), col("_rp")) ++
        leftCols.filterNot(c => c == key || c == ts).map(col)): _*)
    val rAligned = r.select(
      (Seq(col(key), col(ts), col("_side"), col("_rp")) ++
        leftCols.filterNot(c => c == key || c == ts)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val unioned = lAligned.unionByName(rAligned)
    // strict semantics: at equal ts the right row must NOT be visible to the
    // left row -> order rights AFTER lefts at equal ts (side asc: left=0 first)
    val wStrict = Window.partitionBy(col(key))
      .orderBy(col(ts), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = unioned
      .withColumn("_match", last(col("_rp"), ignoreNulls = true).over(wStrict))
      .where(col("_side") === 0)
    val out = joined.select(
      (leftCols.map(col) ++
        rightCols.map(c => col(s"_match.$c").as(s"asof_$c"))): _*)
    out
  }

  /** Native-plan variant: constructs [[graft.plans.AsOfJoinNode]] and plans
    * it with [[graft.plans.AsOfJoinExec]] — a streaming merge per
    * co-partition, O(1) state, instead of the union+window's full sort +
    * window machinery. Same semantics/columns as [[asOfJoin]]
    * (cross-validated in tests).
    *
    * A [[graft.GraftSession]] session already plans the node through
    * `GraftExtensions`; a plain session (one built without the
    * extensions, like the test suites') does not, so this call appends
    * [[graft.plans.AsOfJoinStrategy]] to its `extraStrategies` — once,
    * however often it is called. */
  def asOfJoinNative(left: DataFrame, right: DataFrame, key: String, ts: String,
                     rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    val lPlan = GraftBridge.analyzedPlan(left)
    val rPlan = GraftBridge.analyzedPlan(right)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n"))
    val node = graft.plans.AsOfJoinNode(
      lPlan, rPlan,
      attr(lPlan, key), attr(lPlan, ts),
      attr(rPlan, key), attr(rPlan, ts),
      rightCols.map(c => attr(rPlan, c)))
    val raw = GraftBridge.ofRows(spark, node)
    // align output names with asOfJoin: left cols + asof_-prefixed payload
    val leftNames = left.columns
    raw.toDF(leftNames.toSeq ++ rightCols.map(c => s"asof_$c"): _*)
  }
}
