package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.CacheScope

/** Bigram Stupid-Backoff language model — the sequence-aware LM scoring
  * step of the published curation recipes (CCNet gates documents on a
  * trained LM's perplexity; Stupid Backoff is the web-scale smoothing
  * published for exactly this regime, where held-out tuning of discount
  * mass is impossible and a fixed backoff multiplier works as well at
  * large counts). [[TextAnalysis.commonnessQuery]] is its unigram cousin;
  * this operator adds the CONTEXT: a fluent document scores high because
  * its bigrams are corpus-attested, while shuffled or gibberish text with
  * the same unigram profile falls to the backoff path and scores low.
  *
  * Kept log-free and integer-exact on purpose (the commonness precedent):
  * the per-token score is the Stupid-Backoff probability in PER-MILLION
  * fixed point,
  *
  *   s(w | w_prev) = (c2(w_prev,w) · S) ÷ c1(w_prev)   if the bigram is
  *                                                      attested,
  *                 = 0.4 · (c1(w) · S) ÷ N              otherwise
  *                                                      (α = 0.4, the
  *                                                      published constant),
  *   s(w_first)    = (c1(w) · S) ÷ N,
  *   s(OOV)        = 0,
  *
  * with S = [[Scale]] = 10⁶ and ÷ truncating integer division, and the
  * document score the truncated mean of per-token scores. Every quantity
  * is an integer, so the DuckDB oracle replays training AND scoring
  * bit-for-bit — a sum of per-token `log p` doubles would depend on
  * reduction order and differ in the last ulp across engines.
  *
  * Overflow discipline: `c·S` can exceed Long.MAX once a single n-gram's
  * count passes Long.MAX/S ≈ 9.2·10¹². [[scaledDivSql]] therefore uses
  * the exact decomposition `(c div d)·S + ((c mod d)·S) div d`, whose
  * intermediate is bounded by `min(c, d−1)·S` — the NUMERATOR count, not
  * the corpus total. The bound is then "no single token occurs more than
  * 9.2e12 times": at a realistic 5% top-unigram frequency that is a
  * ~1.8e14-token (≈ 700 TB) corpus, comfortably past the 100 TB target.
  * The oracle mirrors with one HUGEINT floor division (mathematically
  * identical on non-negative operands).
  *
  * Scale shape (100 TB): training is two token-keyed partial-aggregated
  * groupBys over the exploded corpus (unigram + bigram counts — the same
  * shuffles `text_vocab_top` runs) plus a 1-row total. Scoring collapses
  * each document's positions to DISTINCT (doc, w_prev, w) triples with
  * multiplicity first (the score depends only on the pair, so within-doc
  * repetition never re-joins), then runs three vocabulary-keyed joins —
  * c2 on the pair, c1 on each side — all pinned SHUFFLE_MERGE because
  * both count tables are corpus-derived and can be vocabulary-huge
  * (broadcasting them is the classic scale-killer), and one final
  * (doc_id) regroup of integer partials. The only broadcast is the
  * 1-row N. Model persistence ([[countsStore]]) reuses
  * [[FingerprintStore]]: a warm call reads the counts parquet and runs
  * ZERO training jobs before the scoring joins.
  */
object LanguageModel {

  /** Fixed-point probability scale: scores are per-million. */
  val Scale = 1000000L

  /** Exact `(num · Scale) div den` as overflow-safe SQL over longs:
    * quotient/remainder decomposition keeps every intermediate under
    * `min(num, den−1) · Scale` (see class doc). Callers gate on
    * `den > 0`. */
  private def scaledDivSql(num: String, den: String): String =
    s"(($num) div ($den)) * ${Scale}L + " +
      s"((($num) % ($den)) * ${Scale}L) div ($den)"

  /** (doc_id, wp, w, k): each document's token positions collapsed to
    * distinct (previous-token, token) pairs with multiplicity `k`; the
    * first position carries `wp = NULL`. One explode + one (doc, pair)
    * partial-aggregated groupBy; the lambda references the materialized
    * token array, never re-derives it (the CollapseProject
    * re-tokenization trap). */
  private[ops] def pairCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("_t"))), i =>
          struct(
            when(i > lit(1), element_at(col("_t"), i - 1)).as("wp"),
            element_at(col("_t"), i).as("w")))).as("p"))
      .select(col("doc_id"), col("p.wp").as("wp"), col("p.w").as("w"))
      .groupBy("doc_id", "wp", "w")
      .agg(count(lit(1)).as("k"))

  /** Train the model over `train`: one tall counts frame
    * (kind: 'u'|'b'|'t', w1, w2, cnt) — unigram rows ('u', w, NULL, c1),
    * bigram rows ('b', w_prev, w, c2), and the 1-row corpus total
    * ('t', NULL, NULL, N). A single frame so [[FingerprintStore]] can
    * persist the whole model as one parquet table. */
  def countsFrame(train: DataFrame): DataFrame = {
    // The corpus-scale work runs ONCE (round 21): training never needed
    // [[pairCounts]]'s per-DOCUMENT grouping — one direct (wp, w)
    // aggregation over the exploded positions (wp NULL = first
    // positions, kept) yields a table from which all three model views
    // are cheap re-aggregations: uni = Σ over wp (first positions
    // included), bi = the wp-non-null rows, tot = Σ all. The previous
    // formulation re-ran the corpus explode+groupBy under each of the
    // three branches. `b0` is attested-bigram-bounded (vocabulary² in
    // the worst case, corpus-distinct-bigrams in practice — model-sized,
    // never doc-scale), so caching it for the three consumers is
    // scale-safe.
    val b0 = CacheScope.cached(train
      .select(TextAnalysis.tokens(col("text")).as("_t"))
      .select(explode(transform(sequence(lit(1), size(col("_t"))), i =>
        struct(
          when(i > lit(1), element_at(col("_t"), i - 1)).as("wp"),
          element_at(col("_t"), i).as("w")))).as("p"))
      .select(col("p.wp").as("wp"), col("p.w").as("w"))
      .groupBy("wp", "w").agg(count(lit(1)).as("cnt")))
    val uni = b0.groupBy("w").agg(sum(col("cnt")).as("cnt"))
      .select(lit("u").as("kind"), col("w").as("w1"),
        lit(null).cast("string").as("w2"), col("cnt"))
    val bi = b0.where(col("wp").isNotNull)
      .select(lit("b").as("kind"), col("wp").as("w1"),
        col("w").as("w2"), col("cnt"))
    val tot = b0.agg(sum(col("cnt")).as("cnt"))
      .select(lit("t").as("kind"), lit(null).cast("string").as("w1"),
        lit(null).cast("string").as("w2"), col("cnt"))
    uni.unionByName(bi).unionByName(tot)
  }

  /** Build-once/score-many model through [[FingerprintStore]] (the
    * lmcounts family): counts trained once per corpus fingerprint; a
    * warm call reads the parquet back with zero training jobs. */
  def countsStore(spark: SparkSession, train: DataFrame,
                  sourcePath: String,
                  storeRoot: Option[String] = None): DataFrame =
    FingerprintStore.getOrBuild(spark, sourcePath,
      "lmcounts", s"v1-sb-bigram-a04-s$Scale", storeRoot) {
      countsFrame(train)
    }

  /** Score every document in `docs` against a trained counts frame.
    * Output per doc: (doc_id, n_tok, n_hit, n_oov, lm_score)
    * where `n_hit` counts positions whose bigram was attested in
    * training, `n_oov` positions whose token is out-of-vocabulary
    * (score 0 — only possible when scoring held-out text), and
    * `lm_score` the truncated per-million mean Stupid-Backoff
    * probability. */
  def scoreQuery(docs: DataFrame, counts: DataFrame): DataFrame = {
    val c1 = counts.where(col("kind") === "u")
      .select(col("w1").as("_cw"), col("cnt").as("c1"))
    val c2 = counts.where(col("kind") === "b")
      .select(col("w1").as("_bw1"), col("w2").as("_bw2"),
        col("cnt").as("c2"))
    val n = counts.where(col("kind") === "t")
      .select(col("cnt").as("n_total"))
    val uniSql = scaledDivSql("coalesce(c1w, 0L)", "n_total")
    val scored = pairCounts(docs)
      // vocabulary-sized, corpus-derived sides: merge-join, never broadcast
      .join(c2.hint("SHUFFLE_MERGE"),
        col("wp") === col("_bw1") && col("w") === col("_bw2"), "left")
      .join(c1.hint("SHUFFLE_MERGE").as("up"),
        col("wp") === col("up._cw"), "left")
      .withColumnRenamed("c1", "c1p")
      .join(c1.hint("SHUFFLE_MERGE").as("uw"),
        col("w") === col("uw._cw"), "left")
      .withColumnRenamed("c1", "c1w")
      .crossJoin(broadcast(n))
      .withColumn("s", expr(
        s"""CASE WHEN wp IS NULL THEN $uniSql
           |     WHEN c2 IS NOT NULL THEN ${scaledDivSql("c2", "c1p")}
           |     ELSE (2L * ($uniSql)) div 5L END""".stripMargin)
        .cast(LongType))
    scored
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_tok"),
        sum(when(col("c2").isNotNull, col("k")).otherwise(lit(0L)))
          .as("n_hit"),
        sum(when(col("c1w").isNull, col("k")).otherwise(lit(0L)))
          .as("n_oov"),
        sum(col("k") * col("s")).as("_ss"))
      .select(col("doc_id"), col("n_tok"), col("n_hit"), col("n_oov"),
        expr("_ss div n_tok").cast(LongType).as("lm_score"))
  }
}
