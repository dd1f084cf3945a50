package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.CacheScope

/** Deterministic sampling / split-assignment operators for a training-data
  * pipeline: train/val/test splits, per-stratum downsampling, and
  * token-budget sequence packing.
  *
  * Everything keys off a salted content hash, never `rand()`: the split a
  * document lands in is a pure function of its id, so re-running the
  * pipeline on a grown corpus keeps every previously-assigned document in
  * the same split (the property that protects train/test hygiene across
  * dataset refreshes — a resample would leak yesterday's train docs into
  * today's test set). All map-only per-row expressions — no shuffle at any
  * scale, and the DuckDB oracle mirrors the md5 arithmetic bit-exactly.
  */
object Sampling {

  /** 48-bit salted hash of a document id in [0, 2^48): the md5-prefix
    * pattern from [[Dedup.shingleHash]], salted so independent sampling
    * decisions (split assignment vs stratified keep) don't correlate. */
  def saltedHash48(salt: String, id: Column): Column =
    conv(substring(md5(concat(lit(salt), lit(":"), id.cast("string"))), 1, 12),
      16, 10).cast(LongType)

  /** Percentile bucket 0-99 derived from the salted hash. A mod of a
    * 48-bit uniform hash is uniform to ~2^-41 — far below any sampling
    * tolerance that matters. */
  def hashBucket(salt: String, id: Column): Column =
    saltedHash48(salt, id) % 100

  /** Deterministic train/val/test assignment: bucket < trainPct → train,
    * < trainPct+valPct → val, else test. */
  def assignSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        hashBucket("split", col("doc_id")).as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))

  /** Deterministic sharded training-order shuffle: a reproducible
    * pseudo-random permutation of the corpus via the salted 48-bit hash —
    * the "shuffle your training data each epoch" step without `rand()`
    * (nondeterministic under task retry). A document lands in shard
    * `h % nShards` at the position of its hash within the shard; a new
    * epoch reseeds the salt and yields an independent permutation.
    *
    * Sharded on purpose: a single global position would need a
    * one-partition window (the q_zorder round-7 anti-pattern). Shards
    * make the rank window `partitionBy(shard)` — nShards-way parallel,
    * bounded state — which is also how training pipelines actually
    * consume a shuffle (shard files read in order, shuffled within
    * shard). At 100 TB: nShards = O(corpus/shard-budget), write each
    * shard's rows in pos order, stream epochs shard by shard. */
  def shuffleOrder(docs: DataFrame, epoch: Int,
                   nShards: Int = 32): DataFrame = {
    val h = saltedHash48(s"shuffle:$epoch", col("doc_id"))
    docs
      .select(col("doc_id"), h.as("h"), (h % nShards).as("shard"))
      .withColumn("pos",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast(LongType))
      .select(lit(epoch.toLong).as("epoch"), col("shard"), col("pos"),
        col("doc_id"))
  }

  /** Static data mixing toward target per-language token WEIGHTS: the
    * language whose corpus is scarcest relative to its weight is kept in
    * full (the binding constraint), every other language is deterministically
    * downsampled so surviving token mass is proportional to the weights —
    * the classic "mix web/code/books to a target ratio" step of a
    * training-data pipeline, without discarding more data than the
    * targets force.
    *
    * rate_l = min(1, k·w_l / tokens_l) with k = min_l(tokens_l / w_l);
    * a doc survives iff its salted 48-bit hash < rate_l·2^48 (per-doc
    * acceptance approximates the token-level rate). Deterministic and
    * reproducible for a given corpus; unlike [[assignSplit]], survival is
    * NOT stable under corpus growth — rates shift with the token totals,
    * which is inherent to ratio targeting (hash ordering does guarantee a
    * rate DECREASE only removes docs, never swaps one for another).
    *
    * Scale: one partial-aggregated groupBy(lang) for token totals (a
    * languages-sized table), a 1-row scalar min riding a broadcast
    * crossJoin (the q_sketch_distinct pattern — no driver action), a
    * broadcast rate join, and a map-side hash filter. The corpus is never
    * shuffled; it is scanned twice (the `toks` subtree feeds both the
    * per-lang token totals and the final filter join), each scan a linear
    * map pass — persist `toks` if the double tokenize ever shows in a
    * profile. */
  def mixToWeights(docs: DataFrame, weights: Map[String, Double],
                   defaultWeight: Double): DataFrame = {
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (lang, wt)) =>
      when(col("lang") === lang, lit(wt)).otherwise(acc)
    }
    val toks = docs.select(col("doc_id"), col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tok"))
    val perLang = toks.groupBy("lang").agg(sum("n_tok").as("ltok"))
      .withColumn("w", w)
    val kRow = perLang.agg(
      min(col("ltok").cast("double") / col("w")).as("k"))
    val rates = perLang.crossJoin(broadcast(kRow))
      .select(col("lang"),
        least(lit(1.0),
          col("k") * col("w") / col("ltok").cast("double")).as("rate"))
    toks.join(broadcast(rates), "lang")
      .where(saltedHash48("mix", col("doc_id")).cast("double") <
        col("rate") * lit(281474976710656.0)) // 2^48, exactly representable
      .select(col("doc_id"), col("lang"), col("n_tok"),
        TextAnalysis.round6(col("rate")).as("rate"))
  }

  /** Per-stratum deterministic downsampling: keep a document iff its
    * salted bucket falls under the stratum's percentage. Rates arrive as a
    * driver-side map (tiny config, folded into the plan as a CASE — at
    * scale this is exactly how a per-language quota table ships with the
    * job; a genuinely large rate table would become a broadcast join). */
  def stratifiedSample(docs: DataFrame, ratesPct: Map[String, Int],
                       defaultPct: Int): DataFrame = {
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(col("lang") === k, v).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("lang"),
        hashBucket("strat", col("doc_id")).as("bucket"), rate.as("rate_pct"))
      .where(col("bucket") < col("rate_pct"))
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** Token-budget sequence packing by prefix-sum bucketing: within each
    * lang, documents in doc_id order land in
    * `pack_id = prefix_tokens div budget`, so consecutive documents fill a
    * pack and a pack overflows by AT MOST its last document (which the
    * dataloader then truncates or spills — the usual contract). Strict
    * close-when-full greedy packing is a sequential recurrence that no
    * window function expresses; this one-window-sum approximation is the
    * standard distributed form of it.
    *
    * Scale: one shuffle on lang for the window, one partial-aggregated
    * groupBy. At 100 TB the window partition key becomes (lang, shard)
    * where shard = hash div N — packing is order-sensitive only WITHIN a
    * pack, so sharding the window keeps partitions bounded without
    * changing semantics. */
  def packByTokenBudget(docs: DataFrame, budget: Long): DataFrame =
    packByTokenBudget(docs, budget, TextAnalysis.tokenCount(col("text")))

  /** [[packByTokenBudget]] with the token counter as a parameter — the
    * real-BPE instance (`pack_token_budget_bpe`) passes
    * [[TextAnalysis.bpeRealTokenCount]] so budgets mean ACTUAL tokenizer
    * tokens, not whitespace words. */
  def packByTokenBudget(docs: DataFrame, budget: Long,
                        nTok: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    docs
      .select(col("doc_id"), col("lang"), nTok.as("n_tok"))
      .withColumn("pre", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("pack_id", expr(s"pre div ${budget}L"))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("pack_tokens"))
  }

  /** Per-source quota capping: keep at most `perSource` documents from each
    * source, preferring longer documents (tie-broken by doc_id so the keep
    * set is deterministic). The anti-over-representation pass of corpus
    * mixing — no single crawl domain may dominate the training mix.
    * Returns the kept documents with their per-source rank.
    *
    * Scale: expressed as rank-over-window + filter so Catalyst's
    * InferWindowGroupLimit kicks in — each map task pre-prunes its
    * partition to the per-source top-`perSource` BEFORE the shuffle
    * (verified in the physical plan: a partial WindowGroupLimit under the
    * exchange), so the shuffle carries O(sources × perSource × tasks)
    * rows, not the corpus. A source with billions of rows therefore never
    * concentrates on one reducer beyond that bound. */
  def quotaCap(docs: DataFrame, perSource: Int = 40): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        row_number().over(w).cast(LongType).as("rk"))
      .where(col("rk") <= perSource)
  }

  /** Quality-weighted epoch repetition: emit each document once per
    * training epoch it participates in, with high-quality docs repeated
    * more — the "repeat books 4×, crawl 1×" mix-construction step of a
    * pretraining recipe, driven here by [[TextAnalysis.qualityQuery]]'s
    * heuristic score (quality ≥ 0.5 → 3 copies, ≥ 0.25 → 2, else — and
    * for degenerate docs whose quality is NULL — 1). Tiers compare the
    * ROUNDED score, so the branch taken is bit-identical across engines.
    * Returns (doc_id, n_copies, epoch_copy).
    *
    * Scale: pure map + explode — zero shuffle at any size (plan-asserted
    * with the other map-only family members); the output multiplies rows
    * by the mean copy count, which is the operator's semantics, not
    * overhead. */
  def epochRepeat(docs: DataFrame): DataFrame =
    TextAnalysis.qualityQuery(docs)
      .select(col("doc_id"), col("quality"))
      .withColumn("n_copies",
        when(col("quality") >= 0.5, 3L)
          .when(col("quality") >= 0.25, 2L)
          .otherwise(1L))
      .select(col("doc_id"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("epoch_copy"))

  /** DSIR-flavored importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each SOURCE
    * document by how target-like its hashed n-gram profile is, keep docs
    * scoring above parity. The target split (`doc_id % targetMod == 0` —
    * the same stand-in convention [[Curation.decontaminate]] uses for an
    * external high-quality set) plays the "formal text" distribution;
    * 2-gram features hash into `buckets` buckets.
    *
    * The published recipe scores with a sum of per-bucket log-likelihood
    * ratios; this implementation integerizes it as a RATIO OF INTEGER
    * SUMS — imp = (Σ_g ct[b(g)] / T) / (Σ_g cs[b(g)] / S), i.e. the
    * aggregate target-vs-source frequency ratio of the doc's grams — for
    * two reasons. Deterministic oracle parity: integer sums are
    * order-independent where a float sum-of-logs depends on partition
    * order (and `ln` is not bit-identical across engines); and a single
    * final double multiply/divide is IEEE-exact in both engines. Scale:
    * the bucket tables are ≤ `buckets` rows (broadcast), the totals ride
    * a 1-row broadcast crossJoin, and the only corpus shuffle is the
    * per-doc partial-aggregated groupBy — the corpus itself is never
    * repartitioned. Returns (doc_id, n_grams, t_hits, s_hits, imp_ratio)
    * for source docs with imp_ratio > 1; docs sharing no bucket
    * with the target (t_hits = 0 would make the ratio 0) drop out via
    * the threshold like everything else below parity. */
  def importanceSelect(docs: DataFrame, targetMod: Int = 17,
                       buckets: Int = 256): DataFrame = {
    val grams = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))
      .select(col("doc_id"), explode(TextAnalysis.shingles2(col("_t"))).as("g"))
      .withColumn("b", Dedup.shingleHash(col("g")) % buckets)
    // ONE bucket-stats pass: target and source counts as conditional sums
    // over the same scan (separate target/source aggregations would each
    // re-tokenize the corpus)
    // `buckets`-row table with THREE consumers (totals re-aggregates it,
    // the per-doc join broadcasts it) — cached, each consumer costs 256
    // rows instead of re-running the corpus-gram pass its lineage holds
    // (round 21; bounded by `buckets`, so the cache is scale-safe).
    val bstats = CacheScope.cached(grams.groupBy("b").agg(
      sum(when(col("doc_id") % targetMod === 0, 1L).otherwise(0L)).as("ct"),
      sum(when(col("doc_id") % targetMod =!= 0, 1L).otherwise(0L)).as("cs")))
    val totals = bstats.agg(sum("ct").as("t_total"), sum("cs").as("s_total"))
    val raw = col("t_hits").cast("double") * col("s_total") /
      (col("s_hits").cast("double") * col("t_total"))
    grams.where(col("doc_id") % targetMod =!= 0)
      .join(broadcast(bstats), Seq("b")) // every bucket of a source gram exists
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(col("ct")).as("t_hits"),
        sum(col("cs")).as("s_hits")) // every source gram counts itself: cs >= 1
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_grams"), col("t_hits"), col("s_hits"),
        // ANSI guard: an empty target split zeroes t_total -> NULL ratio
        TextAnalysis.round6(
          when(col("s_hits") * col("t_total") > 0, raw)).as("imp_ratio"))
      .where(col("imp_ratio") > 1.0)
  }
}
