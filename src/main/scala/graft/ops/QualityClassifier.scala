package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** TRAINED document-quality classifier — the published curation stack
  * (CCNet, DCLM) scores with a trained fastText-style linear model, not a
  * rule bundle; this is that operator as Spark aggregations: a linear
  * model over hashed word-unigram RATIO features, initialized closed-form
  * at the class centroids (Rocchio) and fine-tuned with a damped batch
  * perceptron. Both stages are pure integer arithmetic.
  *
  * Determinism by construction: features are per-mille integer ratios,
  * weights/margins/gradients are integers, and every division is the
  * TRUNCATING integer division both engines share (Scala `/` on Long ==
  * DuckDB `//` — verified on negatives), so per-epoch sums are exact and
  * partition-order-independent and the DuckDB oracle replays the whole
  * training run weight-for-weight. A logistic loss would put a float
  * `exp` inside a distributed sum — last-ulp engine divergence exactly
  * where the gate needs bit equality.
  *
  * Why ratios and why the centroid init (both measured, sf0.01):
  * raw gram COUNTS can't linearly express the label (it is built from
  * per-document ratios — a float logistic ceiling test scored exactly the
  * 82.6% majority baseline on counts, 95.4% on ratios), and a zero-init
  * batch perceptron on this class balance flip-flops between the all-
  * positive and all-negative corners forever (measured at every cap/width
  * tried). Centroid init lands at 89.4% in ONE aggregation; six damped
  * fine-tune epochs (gradient/500) climb monotonically to 93.4%.
  *
  * Labels bootstrap from the heuristic bundle the pipeline gates on
  * ([[TextAnalysis.qualityQuery]] >= 0.5 — the corpus-median split; the
  * pipeline's 0.25 gate passes every synthetic doc and would collapse
  * training to one class). Swapping in human labels changes one
  * DataFrame.
  *
  * Scale shape (100 TB): the feature frame is map-side only (the fused
  * TokenHashFeatures kernel + posexplode); the centroid init is ONE
  * integer aggregation collected at `NumBuckets+1` rows; each fine-tune
  * epoch is one margin aggregation + one gradient aggregation (both
  * partial-aggregable integer sums) and a 65-row collect — the weight
  * vector is KBs on the driver, the corpus never is. Scoring is a
  * map-side codegen'd expression per row (no join, no shuffle).
  */
object QualityClassifier {

  /** Hashed feature space: word unigrams → md5-prefix hash16 → 64
    * buckets; bucket 64 is the bias (constant 1000 per doc). Small
    * enough that the oracle carries the weight vector through epoch
    * CTEs; the production dial is just a bigger power of two. */
  val NumBuckets = 64

  /** Damped fine-tune epochs (each = 2 aggregations + a 65-row collect). */
  val Epochs = 6

  /** Gradient damping divisor for the fine-tune updates. */
  val LrDiv = 500L

  /** Feature scale: ratios are per-mille integers. */
  val Scale = 1000L

  /** The (doc_id, f, v) integer ratio-feature frame + bias rows: v_f =
    * (count_f · 1000) div total_tokens (zero-valued features dropped),
    * plus one (doc_id, 64, 1000) bias row per doc. Shared by training
    * and (in expression form) scoring, so the two can never drift.
    *
    * ENTIRELY MAP-SIDE since the [[graft.functions.TokenHashFeatures]]
    * kernel: the per-doc bucket counts come out of one fused byte-scan
    * pass and posexplode, replacing the explode → groupBy(doc, f) +
    * groupBy(doc) → join formulation — two shuffles of every token and a
    * corpus self-join gone from every training pass. Counts are
    * identical by the kernel's pinned equivalence, so the oracle's replay
    * (which still derives counts declaratively) is untouched. */
  private[ops] def featureFrame(docs: DataFrame): DataFrame = {
    val f = docs.select(col("doc_id"),
      graft.functions.TextExpressions.tokenHashFeatures(
        col("text"), NumBuckets, Nil).as("_f"))
      // NULL text -> NULL features: drop the doc entirely, matching the
      // old explode formulation (which emitted no rows for it) and the
      // oracle's declarative count derivation — without this the bias
      // union below would still emit the doc's (doc_id, 64, 1000) row
      .where(col("_f").isNotNull)
      .select(col("doc_id"),
        expr(s"slice(_f, 1, $NumBuckets)").as("_h"),
        element_at(col("_f"), NumBuckets + 1).as("tot"))
    val v = f.select(col("doc_id"), col("tot"),
        posexplode(col("_h")).as(Seq("f", "cnt")))
      .select(col("doc_id"), col("f").cast("int"),
        expr(s"(cnt * $Scale) div tot").as("v"))
      .where(col("v") > 0)
    v.unionByName(f.select(col("doc_id"),
      lit(NumBuckets).cast("int").as("f"), lit(Scale).as("v")))
  }

  /** Bootstrap labels: the heuristic quality score, median-split, as a
    * boolean (degenerate docs with NULL quality label false). */
  def labels(docs: DataFrame): DataFrame =
    TextAnalysis.qualityQuery(docs)
      .select(col("doc_id"),
        coalesce(col("quality") >= 0.5, lit(false)).as("y"))

  /** Train the weight vector: Rocchio centroid init (one aggregation —
    * w_f = mean_pos(v_f) − mean_neg(v_f) in per-mille fixed point, bias
    * set to the midpoint of the projected class means) followed by
    * `epochs` damped batch-perceptron rounds (misclassified docs vote
    * ±v_f; w += gradient / [[LrDiv]]). Stops early when an epoch updates
    * nothing. The feature frame is cached across the passes;
    * unpersisted before returning. */
  def train(docs: DataFrame, epochs: Int = Epochs): Array[Long] = {
    require(epochs >= 0, s"quality train: epochs must be >= 0, got $epochs")
    val fx = featureFrame(docs).join(labels(docs), "doc_id").cache()
    // ---- centroid init: ONE integer aggregation (the class counts ride
    // the same 65-row groupBy as the per-feature sums — the bias bucket
    // appears exactly once per doc, so its row's class counts ARE
    // npos/nneg; previously a separate count action paid one extra job
    // per train call)
    val sums = fx.groupBy("f")
      .agg(sum(when(col("y"), col("v")).otherwise(0L)).as("sp"),
        sum(when(!col("y"), col("v")).otherwise(0L)).as("sn"),
        sum(when(col("y"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("cn"))
      .collect()
    val biasRow = sums.find(_.getInt(0) == NumBuckets)
    val npos = biasRow.map(_.getLong(3)).getOrElse(0L)
    val nneg = biasRow.map(_.getLong(4)).getOrElse(0L)
    val mp = Array.fill(NumBuckets + 1)(0L)
    val mn = Array.fill(NumBuckets + 1)(0L)
    sums.foreach { r =>
      val f = r.getInt(0)
      if (npos > 0) mp(f) = r.getLong(1) * Scale / npos
      if (nneg > 0) mn(f) = r.getLong(2) * Scale / nneg
    }
    val w = Array.tabulate(NumBuckets + 1)(f => mp(f) - mn(f))
    // bias: zero the margin at the midpoint of the projected class means
    // (the bias bucket itself is constant per class, so its centroid
    // difference is 0 before this assignment)
    val fpart = (0 until NumBuckets).map(f => w(f) * (mp(f) + mn(f))).sum
    w(NumBuckets) = -(fpart / (2L * Scale * Scale))
    // ---- damped batch-perceptron fine-tune
    var done = false
    var e = 0
    while (!done && e < epochs) {
      val wlit = typedLit(w.toSeq)
      val upd = fx.groupBy("doc_id")
        .agg(first(col("y")).as("y"),
          sum(col("v") * element_at(wlit, col("f") + 1)).as("m"))
        .select(col("doc_id"),
          when(col("y") && col("m") <= 0, 1L)
            .when(!col("y") && col("m") > 0, -1L)
            .otherwise(0L).as("upd"))
        .where(col("upd") =!= 0)
      val grad = fx.join(upd, "doc_id")
        .groupBy("f").agg(sum(col("v") * col("upd")).as("g"))
        .collect()
      if (grad.isEmpty) done = true
      else grad.foreach(r => w(r.getInt(0)) += r.getLong(1) / LrDiv)
      e += 1
    }
    fx.unpersist()
    w
  }

  /** The label rule as a per-row COLUMN over already-counted stopword /
    * token totals + the raw text — [[labels]]' semantics exactly (the
    * qualityQuery formula, median-split, NULL → false), composable inline
    * so scoring needs no corpus self-join and no token array. */
  private def labelColFromCounts(nStop: Column, nTok: Column,
                                 text: Column): Column = {
    val nChars = length(text).cast(LongType)
    val quality = TextAnalysis.round6(
      (nStop.cast("double") / nTok) * 0.4 +
        least(nChars.cast("double") / nTok / 10.0, lit(1.0)) * 0.3 +
        (lit(1.0) - when(nChars > 0,
          TextAnalysis.punctCount(text).cast("double") / nChars)) * 0.3)
    coalesce(quality >= 0.5, lit(false))
  }

  /** Score a corpus with a trained weight vector — MAP-SIDE ONLY: one
    * fused tokenize+hash+bucket pass per row (the codegen'd
    * [[graft.functions.TokenHashFeatures]] kernel — it replaced the
    * split-regex + token-array + md5-per-token front-end that SCALING.md's
    * 100× probes measured as the dominant remaining cost of this row)
    * folded against the weight literals with one 64-element zip_with; the
    * stopword count the label rule needs rides in the SAME kernel pass as
    * a marker group, so the plan has NO join and NO shuffle. `pred` is
    * the margin's sign. One row per doc:
    * (doc_id, margin, pred, label). */
  def scoreQuery(docs: DataFrame, w: Array[Long]): DataFrame = {
    require(w.length == NumBuckets + 1,
      s"quality score: expected ${NumBuckets + 1} weights, got ${w.length}")
    val wsql = w.take(NumBuckets).map(_ + "L").mkString("array(", ", ", ")")
    val marginSql =
      s"""aggregate(zip_with(_cnt, $wsql,
         |  (c, wv) -> wv * ((c * ${Scale}L) div _n)), 0L,
         |  (acc, x) -> acc + x,
         |  acc -> acc + ${w(NumBuckets)}L * ${Scale}L)""".stripMargin
    docs
      .select(col("doc_id"), col("text"),
        graft.functions.TextExpressions.tokenHashFeatures(
          col("text"), NumBuckets, Seq(TextAnalysis.Stopwords)).as("_f"))
      .select(col("doc_id"),
        labelColFromCounts(element_at(col("_f"), NumBuckets + 2),
          element_at(col("_f"), NumBuckets + 1), col("text")).as("label"),
        element_at(col("_f"), NumBuckets + 1).as("_n"),
        expr(s"slice(_f, 1, $NumBuckets)").as("_cnt"))
      .select(col("doc_id"),
        expr(marginSql).cast(LongType).as("margin"), col("label"))
      .withColumn("pred", col("margin") > 0)
      .select(col("doc_id"), col("margin"), col("pred"), col("label"))
  }

  /** Build-once/score-many weights through [[FingerprintStore]] (the
    * bpemerges precedent): one (bucket, weight) row per feature, keyed by
    * the corpus fingerprint + every training dial. A warm call reads 65
    * parquet rows and runs ZERO training jobs before the map-only score;
    * training is deterministic and weights are integers, so the stored
    * model scores identically to a fresh train. */
  def weightsStore(spark: org.apache.spark.sql.SparkSession,
                   docs: DataFrame, sourcePath: String,
                   epochs: Int = Epochs,
                   storeRoot: Option[String] = None): Array[Long] = {
    // The version string encodes EVERY training dial — trainer shape,
    // epochs, bucket count, label rule (t50 = quality >= 0.5), damping:
    // a store keyed only by (corpus, epochs) served a stale model
    // verbatim when the label rule changed during development — exactly
    // the silent-staleness class the CodeStoreVersion contract kills.
    val stored = FingerprintStore.getOrBuild(spark, sourcePath,
      "qualweights", s"v3-rocchio-e$epochs-b$NumBuckets-t50-d$LrDiv",
      storeRoot) {
      import spark.implicits._
      train(docs, epochs).toSeq.zipWithIndex
        .map { case (wv, f) => (f.toLong, wv) }
        .toDF("f", "w")
        .coalesce(1) // NumBuckets+1 rows: one file, one footer
    }
    val w = Array.fill(NumBuckets + 1)(0L)
    stored.collect().foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    w
  }
}
