package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language ID, and
  * document fingerprinting.
  *
  * All operators are pure Catalyst column expressions (no UDFs) so they stay
  * inside whole-stage codegen and scale embarrassingly-parallel: each is a
  * per-row map over the scan — no shuffle at all until a downstream groupBy.
  * Every scalar here is integer or pre-rounded, so results are bit-identical
  * across engines (the DuckDB oracle mirrors each formula). No query here
  * sorts its output: a caller that needs an order sorts on the row key.
  */
object TextAnalysis {

  /** Portable 6-decimal rounding: `floor(x*1e6 + 0.5)/1e6`. Ratio-valued
    * scores (ints over ints) can land EXACTLY on a .5 decimal boundary,
    * where Spark's BigDecimal HALF_UP and DuckDB's double rounding disagree
    * on the last digit (seen at sf0.1: 0.5103125 → .510313 vs .510312).
    * floor on the same IEEE double is bit-identical in both engines. */
  def round6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0

  /** URL canonicalization — the crawl-side dedup key (a recrawled page
    * arrives as `HTTP://EX.COM:80/p?b=2&a=1#frag` one day and
    * `http://ex.com/p?a=1&b=2` the next; byte-level dedup sees two
    * URLs). Declared rule chain, each step a codegen'd built-in (no
    * UDF, no custom expression — URLs are short, so the win is staying
    * inside whole-stage codegen, not a byte kernel):
    *
    *   1. strip the fragment (`(?s)#.*` → '');
    *   2. lowercase the scheme+authority prefix
    *      (`^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*`), path untouched
    *      (paths are case-sensitive);
    *   3. strip the scheme's default port (`:80` for http, `:443` for
    *      https; any other port survives);
    *   4. empty path → `/`;
    *   5. sort query parameters byte-wise on the raw `&` split (an
    *      empty query drops its `?`).
    *
    * Non-URL input degrades deterministically (empty prefix, the whole
    * string treated as a path) — garbage in, stable garbage out, same
    * on both engines. The oracle replays the chain with DuckDB string
    * ops (strpos/list_sort are binary-collation, matching Spark's
    * UTF8String ordering).
    *
    * Implementation is the single-pass byte-scan kernel
    * ([[graft.functions.CanonicalizeUrl]] — the markup-kernel
    * precedent): the declarative chain (kept test-side as the
    * reference) re-ran 4 regex passes +
    * split/sort machinery per row (~27 µs/row, the round-20 verdict's
    * measurement) and re-inlined itself at every reference site,
    * bloating plans ~20×. The chain remains the declared semantics;
    * the kernel is pinned against it in UrlCanonSpec planted edges and
    * ByteScanFuzzSpec compositions. */
  def canonicalizeUrl(url: Column): Column =
    graft.functions.UrlExpressions.canonicalizeUrl(url)

  /** Host of a CANONICAL URL ([[canonicalizeUrl]] output: scheme and
    * host already lowercased): the `://`-to-first-`/:?#` span. Empty
    * for scheme-less input — non-URL garbage groups under '' rather
    * than polluting a real host's stats. The per-domain grouping key a
    * crawl pipeline quotas and mixes on.
    *
    * DECLARED CONTRACT (round-20 advisor note): the capture is scoped
    * to ORDINARY authorities — a registered name or IPv4 literal with
    * an optional port, no userinfo. A bracketed IPv6 literal
    * (`http://[::1]/x`) stops the span at the first ':', yielding
    * host '[' — every IPv6 authority groups under that one junk key —
    * and a userinfo authority (`http://user@h/`) keeps the `user@`
    * prefix in the host. Both engines run the identical regex (oracle
    * parity holds, UrlCanonSpec documents the edges); a crawl that
    * quotas IPv6/userinfo hosts needs the wider
    * `(\[[^\]]*\]|[^/:?#@]*)`-style capture on BOTH sides first. */
  def urlHost(canon: Column): Column =
    regexp_extract(canon, "^[a-z][a-z0-9+.-]*://([^/:?#]*)", 1)

  /** Whitespace tokenization of lowercased, trimmed text. */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Token count (whitespace segmentation baseline). */
  def tokenCount(text: Column): Column =
    size(tokens(text)).cast(LongType)

  /** BPE-ish pre-tokenizer regex (GPT-2-style byte-pair-encoding input
    * segmentation approximation): runs of letters, runs of digits, runs of
    * other symbols — each optionally space-prefixed. Chosen to be
    * dialect-portable (same matches in Java regex and DuckDB's RE2). */
  val BpeIshPattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** BPE-ish token count — a closer proxy for LLM token budgets than
    * whitespace counting (punctuation and number runs count separately). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeIshPattern), lit(0))).cast(LongType)

  /** REAL merge-table BPE token count over the whitespace words — the
    * committed-merge-table tokenizer ([[Bpe]]): a codegen'd kernel with
    * a per-executor distinct-word memo; the number an LLM token budget
    * actually means. */
  def bpeRealTokenCount(text: Column): Column =
    graft.functions.BpeExpressions.bpeTokenCount(tokens(text))

  /** The full real-BPE tokenization, space-joined (digest this — the
    * oracle rebuilds it symbol-for-symbol from the same merge table). */
  def bpeRealEncode(text: Column): Column =
    graft.functions.BpeExpressions.bpeEncode(tokens(text))

  /** [[bpeRealTokenCount]] over an ARBITRARY merge table — the consumer
    * of a [[Bpe.train]]-ed vocabulary instead of the committed fixture. */
  def bpeRealTokenCountWith(text: Column, coder: Bpe.Coder): Column =
    graft.functions.BpeExpressions.bpeTokenCount(tokens(text), coder)

  /** [[bpeRealEncode]] over an arbitrary merge table. */
  def bpeRealEncodeWith(text: Column, coder: Bpe.Coder): Column =
    graft.functions.BpeExpressions.bpeEncode(tokens(text), coder)

  /** BYTE-level token count: the merge-table kernel over
    * [[Bpe.preTokens]] (GPT-2 pre-tokenization, space carried as Ġ)
    * instead of whitespace words — the symbol space a production
    * byte-level tokenizer runs. Pair with a [[Bpe.trainBytesBatched]]
    * table. */
  def bpeByteTokenCountWith(text: Column, coder: Bpe.Coder): Column =
    graft.functions.BpeExpressions.bpeTokenCount(Bpe.preTokens(text), coder)

  /** The full byte-level tokenization, space-joined (digest this). */
  def bpeByteEncodeWith(text: Column, coder: Bpe.Coder): Column =
    graft.functions.BpeExpressions.bpeEncode(Bpe.preTokens(text), coder)

  /** Sliding 3-gram (shingle) array over the token sequence; empty when the
    * document has fewer than 3 tokens. 1-based indexing matches the DuckDB
    * mirror (`t[i] || ' ' || t[i+1] || ' ' || t[i+2]`). */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** Sliding 2-gram array over the token sequence; empty when the document
    * has fewer than 2 tokens. Same 1-based indexing contract as
    * [[shingles3]] (`t[i] || ' ' || t[i+1]` in the DuckDB mirror). */
  def shingles2(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** English-ish stopword list used by quality scoring. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")

  /** Language marker tokens (n-gram/stopword heuristic language ID). */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "los", "las"),
    "fr" -> Seq("le", "les", "des"))

  /** Count of tokens belonging to a marker set (multiplicity preserved). */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers))).cast(LongType)

  /** Count of non-alphanumeric, non-whitespace characters — the native
    * [[graft.functions.AsciiPunctCount]] kernel (byte-identical to
    * `regexp_count(text, "[^a-zA-Z0-9\\s]")`, which iterated the regex
    * machinery once per punctuation char and dominated the quality rows
    * at the 100× probe). */
  def punctCount(text: Column): Column =
    graft.functions.TextExpressions.punctCount(text).cast(LongType)

  /** Quality-score query in [0,1]: stopword density + token-length sanity +
    * punctuation penalty. Deterministic double math, pre-rounded to 6
    * decimals. Token and stopword counts come from ONE fused byte-scan
    * pass ([[graft.functions.TokenHashFeatures]] in marker-only mode —
    * no token array, no split regex; layout [total, n_stopwords]). */
  def qualityQuery(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        graft.functions.TextExpressions.tokenHashFeatures(
          col("text"), 0, Seq(Stopwords)).as("_f"))
      .select(col("doc_id"),
        element_at(col("_f"), 1).as("n_tokens"),
        length(col("text")).cast(LongType).as("n_chars2"),
        element_at(col("_f"), 2).as("n_stopwords"),
        punctCount(col("text")).as("n_punct"))
      .withColumn("quality",
        round6(
          (col("n_stopwords").cast("double") / col("n_tokens")) * 0.4 +
            least(col("n_chars2").cast("double") / col("n_tokens") / 10.0,
              lit(1.0)) * 0.3 +
            // empty text has n_chars2 = 0: ANSI Spark would THROW on the
            // division, DuckDB yields NULL — gate it so both produce a
            // NULL quality for degenerate docs (n_tokens is never 0:
            // tokenizing "" yields one empty token)
            (lit(1.0) - when(col("n_chars2") > 0,
              col("n_punct").cast("double") / col("n_chars2"))) * 0.3))

  /** 16-bit hash of a token derived from its md5 hex prefix — chosen because
    * both Spark and DuckDB expose md5, making the oracle bit-exact. */
  def hash16(t: Column): Column =
    conv(substring(md5(t), 1, 4), 16, 10).cast(LongType)

  /** Polynomial rolling-hash fingerprint over the token sequence:
    * fold (acc * 31 + hash16(tok)) mod 1e9+7 — order-sensitive, so
    * reordered documents fingerprint differently (unlike bag-of-words). */
  def rollingFingerprint(toks: Column): Column =
    aggregate(
      transform(toks, hash16(_)),
      lit(0L),
      (acc, x) => (acc * 31 + x) % 1000000007L)

  /** Content fingerprint: md5 of whitespace-normalized text (stable under
    * formatting-only changes). */
  def md5Fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** PII-style redaction of numeric runs: every maximal digit run becomes
    * `<NUM>`. The pattern is RE2-safe (no backreferences/lookaround) so the
    * DuckDB oracle applies the identical regex; a production scrubber adds
    * email/phone/ssn alternations to the same single-pass replace. Pure
    * codegen'd expression — redaction is a map over the scan, which is the
    * property that matters at 100 TB (no shuffle, no UDF serialization). */
  def redactNumbers(text: Column): Column =
    regexp_replace(text, "[0-9]+", "<NUM>")

  /** Count of maximal digit runs (the redaction audit column). */
  def numberRunCount(text: Column): Column =
    regexp_count(text, lit("[0-9]+")).cast(LongType)

  /** Full language-ID query: marker counts per language + argmax prediction
    * ('en' wins ties / all-zero). */
  def langIdQuery(docs: DataFrame): DataFrame = {
    val scored = docs
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .select(
        col("doc_id"),
        markerCount(col("_t"), LangMarkers("en")).as("en_score"),
        markerCount(col("_t"), LangMarkers("de")).as("de_score"),
        markerCount(col("_t"), LangMarkers("es")).as("es_score"),
        markerCount(col("_t"), LangMarkers("fr")).as("fr_score"))
    scored.select(
      col("doc_id"), col("en_score"), col("de_score"), col("es_score"), col("fr_score"),
      when(col("de_score") > col("en_score") && col("de_score") >= col("es_score") &&
        col("de_score") >= col("fr_score"), "de")
        .when(col("es_score") > col("en_score") && col("es_score") > col("de_score") &&
          col("es_score") >= col("fr_score"), "es")
        .when(col("fr_score") > col("en_score") && col("fr_score") > col("de_score") &&
          col("fr_score") > col("es_score"), "fr")
        .otherwise("en").as("lang_pred"))
  }

  /** Per-document corpus-commonness score: the mean corpus frequency of
    * the document's tokens — low means rare-token-heavy (gibberish, OCR
    * noise, wrong-language), high means boilerplate built from the
    * corpus's most common tokens. The unigram-LM cousin of the CCNet
    * perplexity filter, kept log-free on purpose: every aggregate here is
    * an INTEGER sum (token counts), so the score is one long product and
    * one IEEE division at the end — bit-reproducible across engines and
    * across partition orders, where a sum of per-token `log(p)` doubles
    * would depend on reduction order.
    *
    * Output per doc: (doc_id, n_tok, sum_cnt, commonness) with
    * commonness = sum_cnt / n_tok / total_corpus_tokens ∈ (0, 1] — two
    * successive IEEE divisions, never the `n_tok * total` long product,
    * which at real corpus scale (total ≈ 1e13 tokens × 1e5-token docs)
    * would exceed Long.MAX and wrap silently under non-ANSI mode.
    *
    * Scale: one (term)-keyed count aggregation, one term-join back (both
    * partial-aggregated; the count table is vocabulary-sized so it
    * shuffle-joins, like [[tfidfTopQuery]]'s df), one (doc_id) regroup of
    * integer partials. */
  def commonnessQuery(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val cnt = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = toks.agg(count(lit(1)).as("total"))
    toks.join(cnt, Seq("term"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("cnt")).as("sum_cnt"),
        first(col("total")).as("_total"))
      .select(col("doc_id"), col("n_tok"), col("sum_cnt"),
        round6(col("sum_cnt") / col("n_tok") / col("_total"))
          .as("commonness"))
  }

  /** C4/Gopher-style rule-bundle filter — the standard pre-training
    * cleaning pass, emitted as one boolean per rule plus the composite
    * `keep`, one row per document (flags rather than a filtered subset,
    * so the oracle verifies every rule on every doc):
    *
    *   - `len_ok`       10 ≤ token count ≤ 5000 (Gopher word-count gate)
    *   - `wordlen_ok`   mean token length in [2, 12] (Gopher)
    *   - `symbol_ok`    non-alphanumeric char ratio < 0.15 (C4/Gopher
    *                    symbol-to-word screen)
    *   - `alpha_ok`     ≥ 50% of tokens purely alphabetic (Gopher)
    *   - `toklen_ok`    longest token ≤ 25 chars (kills base64/URL blobs)
    *   - `lorem_ok`     no "lorem ipsum" (C4 placeholder screen)
    *   - `distinct_ok`  distinct-token ratio ≥ 0.2 (repetition screen —
    *                    the cheap cousin of [[graft.ops.Curation.repetitionStats]])
    *
    * Every rule is a pure per-row column expression over one shared token
    * array — zero shuffle, whole-stage codegen, embarrassingly parallel
    * at any scale. All comparisons are on exact integers or a single IEEE
    * division of exact integers, so the flags are bit-identical across
    * engines.
    *
    * `carry` names pass-through columns (each expression is evaluated
    * against the INPUT row, so `md5(col("text"))` rides the same
    * projection as the flags) — the composing-pipeline hook: a caller
    * wanting flags PLUS derived columns would otherwise join two copies
    * of its upstream subtree, executing every kernel beneath it twice
    * (the round-20 v6 plan audit: four document scans, two keeper
    * elections, both byte kernels duplicated). */
  def c4FilterQuery(docs: DataFrame,
                    carry: Seq[(String, Column)] = Nil): DataFrame = {
    val withT = docs.select(
      Seq(col("doc_id"), col("text"), tokens(col("text")).as("_t")) ++
        carry.map { case (n, c) => c.as(n) }: _*)
    val nTok = size(col("_t")).cast(LongType)
    val totTokChars = length(array_join(col("_t"), "")).cast(LongType)
    val nSym = punctCount(col("text")) // the same char class, kernel form
    val nAlpha = size(filter(col("_t"), x => x.rlike("^[a-z]+$"))).cast(LongType)
    val maxTokLen = array_max(transform(col("_t"), x => length(x))).cast(LongType)
    val nDistinct = size(array_distinct(col("_t"))).cast(LongType)
    // Degenerate rows (empty/whitespace-only text) give several ratios a
    // zero divisor: Spark 4 runs ANSI mode, where that THROWS
    // DIVIDE_BY_ZERO — so each division is gated on a positive divisor
    // (NULL otherwise, mirroring DuckDB's x/0 → NULL), and every flag is
    // coalesced to false. Degenerate docs are deterministically rejected
    // with non-null flags in both engines, and can never crash the query.
    def flag(c: Column) = coalesce(c, lit(false))
    def ratio(num: Column, den: Column) =
      when(den > 0, num.cast("double") / den.cast("double"))
    withT
      .select(Seq(col("doc_id"), nTok.as("n_tok"),
        flag(nTok.between(10, 5000)).as("len_ok"),
        flag(ratio(totTokChars, nTok).between(2.0, 12.0)).as("wordlen_ok"),
        flag(ratio(nSym, length(col("text"))) < 0.15).as("symbol_ok"),
        flag(ratio(nAlpha, nTok) >= 0.5).as("alpha_ok"),
        flag(maxTokLen <= 25).as("toklen_ok"),
        flag(!contains(lower(col("text")), lit("lorem ipsum"))).as("lorem_ok"),
        flag(ratio(nDistinct, nTok) >= 0.2).as("distinct_ok")) ++
        carry.map { case (n, _) => col(n) }: _*)
      .withColumn("keep",
        col("len_ok") && col("wordlen_ok") && col("symbol_ok") &&
          col("alpha_ok") && col("toklen_ok") && col("lorem_ok") &&
          col("distinct_ok"))
  }

  /** Top-`k` TF-IDF terms per document — the keyword-extraction /
    * topic-tagging primitive of corpus analysis. Uses a linear idf
    * (`n_docs / df` instead of `ln(n_docs / df)`) so the score is one
    * integer product + one IEEE division, bit-identical across engines —
    * `ln` could differ in the last ulp between libm and the JVM and flip a
    * near-tie ranking. Ties break on term asc. One row per (doc, rank):
    * (doc_id, rk, term, tf, score).
    *
    * Scale: tf is a (doc,term)-keyed partial-aggregated groupBy; df
    * re-aggregates tf's output BY TERM (one more shuffle over rows that
    * are already one-per-(doc,term), not one-per-token); the tf⋈df join
    * shuffles on term — df is vocabulary-sized, so broadcast is wrong at
    * corpus scale and the plan does NOT assume it. The final top-k is
    * rank-over-window + filter, pre-pruned map-side by
    * InferWindowGroupLimit exactly like [[Sampling.quotaCap]]. */
  def tfidfTopQuery(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * col("n_docs") / col("df"))
      .select(col("doc_id"),
        row_number().over(w).cast(LongType).as("rk"),
        col("term"), col("tf"), round6(col("score")).as("score"))
      .where(col("rk") <= k)
  }
}
