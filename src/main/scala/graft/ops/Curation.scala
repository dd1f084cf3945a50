package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-curation filters a pretraining pipeline runs between "raw crawl"
  * and "training set": benchmark decontamination and repetition scoring.
  * Complements [[Dedup]] (inter-document redundancy) with the two
  * intra-pipeline checks the dedup family doesn't cover — overlap with a
  * held-out eval set, and within-document repetition.
  *
  * Scale design:
  *   - decontamination: the eval side (benchmark suites) is MBs against a
  *     100 TB corpus, so its distinct n-gram set is broadcast and the whole
  *     corpus-side probe is a map-side hash join — the only shuffle is the
  *     final per-doc partial-aggregated count.
  *   - repetition stats: per-row array expressions where possible (the
  *     duplicate-3-gram fraction never leaves the row); the top-2-gram
  *     count is a two-level aggregation — (doc, gram) then doc — whose
  *     second level is shuffle-free because rows of one doc are already
  *     co-located after the first groupBy.
  *
  * Both follow the published curation recipes: n-gram-overlap
  * decontamination as in the GPT-3 appendix-C / PaLM protocols (13-gram
  * collisions against eval sets; 3-token shingles here so the synthetic
  * corpus exercises the operator), and repetition filters as in Gopher
  * (Rae et al. 2021, "Scaling Language Models", table A1: fraction of
  * tokens in the most common n-gram, fraction of duplicated n-grams).
  *
  * No operator here sorts its output: a caller that needs an order (the
  * registry rows, for the oracle compare) sorts on the row key.
  */
object Curation {

  /** Documents of the corpus split sharing at least one distinct 3-token
    * shingle with the eval split (`doc_id % evalMod == 0` defines eval —
    * stand-in for a benchmark table). Returns one row per contaminated
    * corpus doc: (doc_id, n_grams, n_overlap, contam_frac).
    *
    * The eval gram set is explicitly `broadcast` — at production scale it
    * is the distinct n-grams of benchmark suites (MBs), never the corpus.
    */
  def decontaminate(docs: DataFrame, evalMod: Int = 17): DataFrame = {
    val grams = docGrams(docs)
    probeContamination(
      grams.where(col("doc_id") % evalMod =!= 0),
      grams.where(col("doc_id") % evalMod === 0).select("sh"))
  }

  /** Production signature: decontaminate the WHOLE corpus against an
    * external eval-gram table — one string column `sh` holding the
    * benchmark suites' n-grams (typically a small parquet file maintained
    * alongside the eval sets). Same broadcast-probe topology as the
    * mod-based oracle variant; only the eval side's provenance differs.
    * Duplicate grams in the input are tolerated (distinct'd here). */
  def decontaminate(docs: DataFrame, evalGrams: DataFrame): DataFrame =
    probeContamination(docGrams(docs), evalGrams.select(col("sh")))

  /** (doc_id, sh) distinct 3-token shingles per document — the corpus-side
    * probe rows ([[Dedup.shingleSets]], exploded). */
  private def docGrams(docs: DataFrame): DataFrame =
    Dedup.shingleSets(docs, Seq("doc_id"), exploded = true)

  /** Broadcast-probe core: mark each corpus gram that appears in the eval
    * set, aggregate per doc, keep contaminated docs. The eval side is
    * distinct'd and explicitly broadcast — benchmark suites are MBs
    * against a 100 TB corpus, so the probe is a map-side hash join and
    * the only shuffle is the final per-doc partial-aggregated count. */
  private def probeContamination(grams: DataFrame,
                                 evalGrams: DataFrame): DataFrame =
    grams
      .join(broadcast(evalGrams.distinct().withColumn("hit", lit(1L))),
        Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .where(col("n_overlap") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_overlap"),
        TextAnalysis.round6(col("n_overlap").cast("double") / col("n_grams"))
          .as("contam_frac"))

  /** CROSS-SNAPSHOT contamination screen: odd-id documents checked for
    * shared 3-token shingles against the EVEN half's gram set — the
    * configuration where the reference side is itself corpus-sized (a
    * previous crawl snapshot, a licensed-set exclusion list at corpus
    * scale), so [[decontaminate]]'s broadcast topology is illegal.
    * Instead the reference grams fold into a ONE-ROW Bloom filter
    * ([[graft.operators.BloomSemiJoin.bloomOf]] — the manual form of
    * Spark's injected runtime row-level filters), the corpus-side probe
    * drops definitely-clean grams MAP-SIDE, and only the plausible
    * survivors pay the exact merge-join verify. The result is EXACTLY
    * the plain semi-join's: Bloom false positives and xxhash64
    * collisions waste shuffle bytes, never flip a row — which is why
    * the DuckDB oracle can assert this operator cell-exactly with no
    * sketch-tolerance theorem.
    *
    * Output matches [[decontaminate]]: (doc_id, n_grams, n_overlap,
    * contam_frac) per contaminated probe doc.
    *
    * Scale: the Bloom build is one aggregation to a single row
    * (`expectedRefGrams` sizes it at ~10 bits/gram — a dial from corpus
    * metadata; undersizing only raises the false-positive rate). The
    * verify join and the totals join-back are corpus × corpus — both
    * pinned SHUFFLE_MERGE. Shuffle volume on the probe side drops by
    * ~the contamination rate, which for real snapshot screens is the
    * difference between shuffling 100 TB of grams and shuffling the
    * contaminated sliver. */
  def decontaminateCross(docs: DataFrame,
                         expectedRefGrams: Long = 1L << 18): DataFrame = {
    val grams = docGrams(docs)
    val probe = grams.where(col("doc_id") % 2 =!= 0)
    val ref = grams.where(col("doc_id") % 2 === 0).select(col("sh"))
    val bloom = graft.operators.BloomSemiJoin.bloomOf(
      ref, col("sh"), expectedRefGrams)
    val totals = probe.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = probe
      .where(graft.operators.BloomSemiJoin.bloomMightContain(
        bloom, col("sh")))
      .join(ref.distinct().hint("SHUFFLE_MERGE"), Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    totals.join(hits.hint("SHUFFLE_MERGE"), Seq("doc_id"))
      .select(col("doc_id"), col("n_grams"), col("n_overlap"),
        TextAnalysis.round6(
          col("n_overlap").cast("double") / col("n_grams"))
          .as("contam_frac"))
  }

  /** Gopher-style within-document repetition statistics, one row per doc:
    * (doc_id, n_tok, top2_cnt, top2_frac, dup3_frac) where `top2_frac` is
    * the fraction of 2-grams accounted for by the single most frequent
    * 2-gram and `dup3_frac` the fraction of 3-grams that are repeats of an
    * earlier 3-gram in the same doc. High values of either mark
    * low-quality boilerplate/spam for corpus filtering. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))
    val perRow = base.select(
      col("doc_id"),
      size(col("_t")).cast(LongType).as("n_tok"),
      size(TextAnalysis.shingles3(col("_t"))).cast(LongType).as("n3"),
      size(array_distinct(TextAnalysis.shingles3(col("_t"))))
        .cast(LongType).as("n3d"))
    val top2 = base
      .select(col("doc_id"), explode(TextAnalysis.shingles2(col("_t"))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(max("cnt").as("top2_cnt"), sum("cnt").as("n2"))
    perRow.join(top2, Seq("doc_id"))
      .select(col("doc_id"), col("n_tok"), col("top2_cnt"),
        TextAnalysis.round6(col("top2_cnt").cast("double") / col("n2"))
          .as("top2_frac"),
        // a 2-token doc has one 2-gram (so it survives the join) but ZERO
        // 3-grams: ANSI Spark would THROW on 0/0 where DuckDB yields
        // NULL — gate the division so both emit a NULL dup3_frac. (n2 is
        // never 0 here: the inner join keeps only docs with a 2-gram.)
        TextAnalysis.round6(when(col("n3") > 0,
          (col("n3") - col("n3d")).cast("double") / col("n3")))
          .as("dup3_frac"))
  }

  /** CCNet-style sub-document deduplication: split every document into
    * fixed-width token chunks (the stand-in for paragraphs/lines — the
    * synthetic corpus has no newlines), drop every chunk that also appears
    * in another document EXCEPT its first occurrence (ordered by
    * (doc_id, chunk_id)), and reassemble what is left. One row per doc:
    * (doc_id, n_chunks, n_kept, clean_md5) where clean_md5 fingerprints
    * the reassembled text ('' when nothing survives).
    *
    * This is the paragraph-dedup pass of CCNet (Wenzek et al. 2020) /
    * the line-dedup pass of RefinedWeb: exact-duplicate SPANS are removed
    * corpus-wide while each span's canonical copy survives, so boilerplate
    * shared across near-duplicate pages is stripped without deleting the
    * information itself.
    *
    * Scale design (100 TB):
    *   - chunking is a pure per-row array expression (`sequence` +
    *     `slice` + `array_join`) — zero shuffle to build chunks, and the
    *     posexplode feeds the aggregation's map-side partials directly;
    *   - canonical-occurrence election is ONE groupBy(chunk) with
    *     `min(struct(doc_id, chunk_id))` + min/max(doc_id) — "shared
    *     across documents" is tested as `min(doc_id) != max(doc_id)`
    *     rather than `countDistinct(doc_id) > 1`, which would expand into
    *     a second exchange (distinct aggregates repartition on
    *     (chunk, doc_id) first). All three are partial-aggregable, so the
    *     single shuffle carries one row per distinct chunk, not one per
    *     occurrence;
    *   - the occurrence⋈ownership join is chunk-keyed on both sides, so
    *     AQE reuses the aggregation's exchange; a pathological boilerplate
    *     chunk (df in the millions) fans out only its own occurrences —
    *     the same skew the semantics require us to touch;
    *   - reassembly is one groupBy(doc_id); per-group state is bounded by
    *     document length, never by corpus size.
    */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    val nChunksExpr = // ceil(len/chunkTokens) as the 0-based last chunk id
      s"sequence(0, (size(_t) - 1) div $chunkTokens)"
    val chunked = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform($nChunksExpr, i -> array_join(slice(_t, i * $chunkTokens + 1, $chunkTokens), ' '))")))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "chunk")
    val own = chunked.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("first_occ"),
        min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
    chunked.join(own, Seq("chunk"))
      .withColumn("keep",
        col("dmin") === col("dmax") ||
          (col("doc_id") === col("first_occ.doc_id") &&
            col("chunk_id") === col("first_occ.chunk_id")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("chunk_id"), col("chunk"))))),
            x => x.getField("chunk")),
          " ")).as("clean_md5"))
  }

  /** Robust length-outlier detection per language: median and MAD (median
    * absolute deviation) of `n_chars`, plus how many documents sit more
    * than `k` MADs from the median — the standard robust filter for
    * truncated/concatenated crawl pages (mean/stddev would let a few
    * mega-documents drag the threshold). One row per lang:
    * (lang, n_docs, med_chars, mad_chars, n_outliers).
    *
    * Scale: two percentile aggregations over (lang); the per-lang
    * aggregate rows are tiny and explicitly broadcast back for the
    * deviation/flag passes, so the corpus is scanned exactly twice and
    * shuffled only into per-lang partials. The production dial is
    * `approxAccuracy`: `Some(acc)` swaps `percentile` for
    * `approx_percentile(…, acc)` — identical plan shape (both are
    * ObjectHashAggregate TypedImperative aggs; asserted by
    * CurationOpsSpec), sketch-mergeable partials, bounded state (~acc
    * samples per group instead of every value) — the med/MAD pass a
    * 100 TB corpus actually runs. Documented rank error is ≤ 1/acc, but
    * measured (sf0.01, groups of 64–218): acc=100 drifts up to ~9% of
    * ranks — keep acc ≥ 1000, the empirical floor where the guarantee
    * holds, which the text_length_outliers_approx oracle row gates
    * in-query. */
  def lengthOutliers(docs: DataFrame, k: Double = 3.0,
                     approxAccuracy: Option[Int] = None): DataFrame = {
    // cast("double"): percentile returns DOUBLE but approx_percentile
    // returns the input type — pin the schema so the dial never changes it
    def p50(c: String) = (approxAccuracy match {
      case Some(acc) => expr(s"approx_percentile($c, 0.5D, $acc)")
      case None      => expr(s"percentile($c, 0.5D)")
    }).cast("double")
    val base = docs.select(col("lang"), col("n_chars"))
    val med = base.groupBy("lang")
      .agg(p50("n_chars").as("med_chars"))
    val dev = base.join(broadcast(med), Seq("lang"))
      .withColumn("adev", abs(col("n_chars") - col("med_chars")))
    val mad = dev.groupBy("lang")
      .agg(p50("adev").as("mad_chars"))
    dev.join(broadcast(mad), Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        TextAnalysis.round6(first(col("med_chars"))).as("med_chars"),
        TextAnalysis.round6(first(col("mad_chars"))).as("mad_chars"),
        sum(when(col("adev") > lit(k) * col("mad_chars"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  // ------------------------------------------------------------------
  // Line-level boilerplate dedup (the CCNet / RefinedWeb pass): lines
  // repeated across many UNRELATED documents are navigation chrome,
  // cookie banners, copyright footers — removed line-by-line while the
  // documents themselves are kept. Complements the dedup families:
  // whole/near-doc dedup drops documents, the substring family removes
  // long verbatim runs, and [[chunkDedup]] keeps a duplicated chunk's
  // FIRST occurrence; THIS pass removes high-document-frequency lines
  // from EVERY document including the first — boilerplate has no
  // canonical owner worth keeping.
  // ------------------------------------------------------------------

  /** Deterministic line-structured view of the flat-token documents table
    * (the [[graft.ops.Multimodal.phashLake]] precedent: synthesize the
    * structure the operator exists for, from arithmetic the oracle can
    * replay symbolically). Body = the doc's tokens in 12-token chunks,
    * one line each; boilerplate = a 7-variant header injected on
    * doc_id % 3 == 0 and a 5-variant footer on doc_id % 2 == 0 — so the
    * corpus carries real cross-document repeated lines (df 20+ at
    * sf0.01) against unique body lines, exactly the df contrast the
    * operator separates. Splits on a single literal space to mirror
    * DuckDB's string_split. */
  def lineified(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val header = when(col("doc_id") % 3 === 0,
      array(concat(lit("nav home about contact menu b"),
        (col("doc_id") % 7).cast("string"))))
      .otherwise(array().cast("array<string>"))
    val footer = when(col("doc_id") % 2 === 0,
      array(concat(lit("copyright footer terms privacy b"),
        (col("doc_id") % 5).cast("string"))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), toks.as("_t"))
      .select(col("doc_id"),
        array_join(concat(
          header,
          transform(
            // ceil(n/12) chunks; Column./ is DOUBLE division, so cast back
            sequence(lit(0), ((size(col("_t")) + 11) / 12).cast("int") - 1),
            i => array_join(slice(col("_t"), i * 12 + 1, lit(12)), " ")),
          footer), "\n").as("text"))
  }

  /** Per-line document frequency over a line-structured corpus:
    * (line, df). One exploded map pass + one partially-aggregated
    * count-distinct shuffle — the line string is the key here because the
    * oracle joins on it; at 100 TB the key would be a 64-bit line hash
    * (same topology, narrower shuffle), with the string carried only in
    * the (tiny) over-threshold output. */
  def lineDf(lined: DataFrame): DataFrame =
    lined
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))

  /** Remove every line whose document frequency is >= minDf and
    * reassemble each document's remaining lines in order. Returns
    * (doc_id, n_lines, n_removed, clean_text), one row per doc.
    *
    * Scale shape: posexplode is map-side; the df aggregation shuffles
    * (line, doc_id) with partial distinct; the removal join's build side
    * is corpus-DERIVED (the over-threshold line set), so it is pinned
    * SHUFFLE_MERGE like every corpus-derived join side in the dedup
    * families — in a real crawl the boilerplate set is millions of
    * lines and must never be the broadcast side. Reassembly is one
    * per-doc aggregation: collect (pos, line), sort in the row,
    * join with newline — no window, no second shuffle beyond the
    * groupBy(doc_id). */
  def lineDedup(lined: DataFrame, minDf: Int = 3): DataFrame =
    removeBoilerLines(lined, lineDf(lined).where(col("df") >= minDf))

  /** Persisted over-threshold boilerplate line table of an EXISTING
    * corpus — the [[graft.ops.Dedup.substringPostingStore]] precedent:
    * the corpus's line document frequencies are counted ONCE per (corpus
    * fingerprint, minDf) and every later batch joins the stored
    * (line, df) rows. The artifact is tiny relative to the corpus (only
    * lines crossing the threshold are kept), but it is corpus-DERIVED
    * and unbounded in a real crawl, so consumers still join it pinned. */
  def lineBoilerplateStore(spark: org.apache.spark.sql.SparkSession,
                           lined: DataFrame, sourcePath: String,
                           tag: String, minDf: Int = 3,
                           storeRoot: Option[String] = None): DataFrame =
    FingerprintStore.getOrBuild(spark, sourcePath, tag,
      s"v1-linedf-m$minDf", storeRoot)(
      lineDf(lined).where(col("df") >= minDf))

  /** Clean a NEW batch against an EXISTING corpus's stored boilerplate
    * set ([[lineBoilerplateStore]]): the old corpus is never re-read —
    * batch lines are exploded fresh and joined against the store. Lines
    * boilerplate only WITHIN the new batch are not counted (the store
    * is the df authority; production refreshes it on corpus
    * regeneration, which the fingerprint key does automatically). */
  def lineDedupIncremental(newLined: DataFrame,
                           boiler: DataFrame): DataFrame =
    removeBoilerLines(newLined, boiler)

  /** Shared removal core: left join the exploded lines against the
    * over-threshold set (SHUFFLE_MERGE — corpus-derived side), one
    * per-doc reassembly aggregation. */
  private def removeBoilerLines(lined: DataFrame,
                                boiler: DataFrame): DataFrame = {
    val ex = lined.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    ex.join(boiler.select(col("line"), col("df")).hint("SHUFFLE_MERGE"),
        Seq("line"), "left_outer")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("df").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("df").isNull, struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"))
  }
}
