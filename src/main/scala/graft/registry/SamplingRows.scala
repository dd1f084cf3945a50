package graft.registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.connector.Records
import graft.ops.{Sampling, TextAnalysis}
import graft.registry.QueryDef.docs
import graft.registry.TextRows.{bpeSqlChain, T}

/** Sampling rows. Deterministic dataset curation: hash-based splits and
  * packing — the operators between "corpus" and "dataloader" in a
  * pretraining pipeline — plus the byte-scan kernels (URL canonicalization,
  * markup extraction, PII redaction) whose SQL mirrors the pipeline rows
  * reuse. */
object SamplingRows {

  /** Deterministic synthesized URL over an id — the PII-suffix
    * precedent: every canonicalization rule exercised, replayed
    * verbatim by [[synthUrlSql]]. */
  private[registry] def synthUrl(id: Column): Column =
    concat(
      when(id % 5 === 0,
        concat(lit("HTTPS://Sec"), (id % 7).cast("string"),
          lit(".COM:443")))
        .otherwise(concat(lit("HTTP://Ex"), (id % 7).cast("string"),
          lit(".COM"),
          when(id % 2 === 0, lit(":80")).otherwise(lit(":8080")))),
      when(id % 3 === 0, lit(""))
        .otherwise(concat(lit("/Path/"), (id % 5).cast("string"))),
      when(id % 3 === 1,
        concat(lit("?b=2&a="), id.cast("string"), lit("&c=")))
        .otherwise(when(id % 6 === 2, lit("?")).otherwise(lit(""))),
      when(id % 4 === 0, concat(lit("#Frag"), id.cast("string")))
        .otherwise(lit("")))

  private[registry] def synthUrlSql(id: String): String =
    s"(CASE WHEN $id % 5 = 0 THEN 'HTTPS://Sec' || CAST($id % 7 AS VARCHAR) || '.COM:443'" +
      s" ELSE 'HTTP://Ex' || CAST($id % 7 AS VARCHAR) || '.COM' ||" +
      s" (CASE WHEN $id % 2 = 0 THEN ':80' ELSE ':8080' END) END)" +
      s" || (CASE WHEN $id % 3 = 0 THEN '' ELSE '/Path/' || CAST($id % 5 AS VARCHAR) END)" +
      s" || (CASE WHEN $id % 3 = 1 THEN '?b=2&a=' || CAST($id AS VARCHAR) || '&c='" +
      s" WHEN $id % 6 = 2 THEN '?' ELSE '' END)" +
      s" || (CASE WHEN $id % 4 = 0 THEN '#Frag' || CAST($id AS VARCHAR) ELSE '' END)"

  /** The canonicalization chain over a SQL expression — DuckDB replay
    * of [[TextAnalysis.canonicalizeUrl]]'s declared rules. Emits CTE
    * bodies `u -> s2 -> s3 -> s4` given `u(id, url)` in scope; the
    * final canonical string is `s4`'s select list. */
  private[registry] def urlCanonCtes: String =
    """s1 AS (
      |  SELECT id, url, regexp_replace(url, '(?s)#.*', '') AS nofrag
      |  FROM u
      |), s2 AS (
      |  SELECT id, url, nofrag,
      |    coalesce(regexp_extract(nofrag,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'), '') AS pre
      |  FROM s1
      |), s3 AS (
      |  SELECT id, url,
      |    regexp_replace(regexp_replace(lower(pre),
      |      '^(http://[^/?#]*):80$', '\1'),
      |      '^(https://[^/?#]*):443$', '\1') AS auth,
      |    substr(nofrag, length(pre) + 1) AS rest
      |  FROM s2
      |), s4 AS (
      |  SELECT id, url, auth,
      |    CASE WHEN strpos(rest, '?') > 0
      |         THEN substr(rest, 1, strpos(rest, '?') - 1)
      |         ELSE rest END AS path0,
      |    CASE WHEN strpos(rest, '?') > 0
      |         THEN substr(rest, strpos(rest, '?') + 1)
      |         ELSE '' END AS q
      |  FROM s3
      |), canon AS (
      |  SELECT id, url,
      |    auth || (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
      |    (CASE WHEN q = '' THEN ''
      |          ELSE '?' || array_to_string(
      |            list_sort(string_split(q, '&')), '&') END) AS url_canon
      |  FROM s4
      |)""".stripMargin

  /** The deterministic markup wrapper `text_extract_markup` and
    * `pipeline_clean_corpus_v5` synthesize around each document — every
    * extraction rule exercised: a script block (with `&&` and `<` that
    * must NOT leak), a style block, a comment, attributed + plain tags,
    * a raw newline, and all entity classes. [[markupWrappedSql]] is the
    * same expression in DuckDB SQL. */
  private[graft] def markupWrapped(id: Column, text: Column): Column =
    concat(lit("<html><head><script src=\"a"), id.cast("string"),
      lit(".js\">var x=1 && y<2;</script><style>p{color:#"),
      (id % 10).cast("string"),
      lit("}</style></head><body><!-- c"), id.cast("string"),
      lit(" --><h1 class=\"t\">T"), id.cast("string"),
      lit("</h1>\n<p>"), text,
      lit(" &amp; more &lt;b&gt;bold&lt;/b&gt;&nbsp;end</p></body></html>"))

  private[registry] def markupWrappedSql(id: String, text: String): String =
    s"'<html><head><script src=\"a' || CAST($id AS VARCHAR)" +
      " || '.js\">var x=1 && y<2;</script><style>p{color:#'" +
      s" || CAST($id % 10 AS VARCHAR)" +
      s" || '}</style></head><body><!-- c' || CAST($id AS VARCHAR)" +
      s" || ' --><h1 class=\"t\">T' || CAST($id AS VARCHAR)" +
      s" || '</h1>' || chr(10) || '<p>' || $text" +
      " || ' &amp; more &lt;b&gt;bold&lt;/b&gt;&nbsp;end</p></body></html>'"

  /** The five-rule PII chain over a SQL expression — RE2 replay of
    * [[graft.functions.PiiRedact]]'s declared regexes (the RE2-safe
    * forms — IpRe's `\b` IS RE2's ASCII boundary; the Java-only
    * IpReJava rendering never reaches the oracle). */
  private[registry] def piiRedactSql(t: String): String =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(\n" +
      s"      regexp_replace($t,\n" +
      s"      '${graft.functions.PiiRedact.EmailRe}', '<EMAIL>', 'g'),\n" +
      s"      '${graft.functions.PiiRedact.UrlRe}', '<URL>', 'g'),\n" +
      s"      '${graft.functions.PiiRedact.IpRe}', '<IP>', 'g'),\n" +
      s"      '${graft.functions.PiiRedact.PhoneRe}', '<PHONE>', 'g'),\n" +
      s"      '${graft.functions.PiiRedact.NumRe}', '<NUM>', 'g')"

  /** The declared extraction chain over a SQL expression — RE2 replay
    * of [[graft.functions.MarkupExtract]]'s rules, nesting order the
    * contract: blocks, comments, tags, entity decodes (amp last),
    * whitespace collapse, trim. */
  private[registry] def markupExtractSql(t: String): String = {
    import graft.functions.MarkupExtract._
    val blocks = s"regexp_replace(regexp_replace(regexp_replace(" +
      s"regexp_replace($t, '$ScriptRe', ' ', 'g'), '$StyleRe', ' ', 'g')," +
      s" '$CommentRe', ' ', 'g'), '$TagRe', ' ', 'g')"
    val entities = "replace(replace(replace(replace(replace(replace(" +
      blocks + ", '&lt;', '<'), '&gt;', '>'), '&quot;', '\"')," +
      " '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&')"
    s"trim(regexp_replace($entities, '$WsRe', ' ', 'g'))"
  }

  val rows: Seq[QueryDef] = Seq(
    // Train/val/test assignment as a pure function of doc_id: stable under
    // corpus growth (no resample leakage across dataset refreshes).
    QueryDef("sample_split", (s, dir) =>
      Sampling.assignSplit(docs(s, dir)).orderBy("doc_id"),
    """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin),
    // Per-language quota downsampling with an independent hash salt.
    QueryDef("sample_stratified", (s, dir) =>
      Sampling.stratifiedSample(docs(s, dir),
        Map("en" -> 50, "zh" -> 30), defaultPct = 20).orderBy("doc_id"),
    """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100
        |      AS bucket,
        |    CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 30 ELSE 20 END AS rate
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM h WHERE bucket < rate
        |ORDER BY doc_id""".stripMargin),
    // Token-budget sequence packing via prefix-sum bucketing.
    QueryDef("pack_token_budget", (s, dir) =>
      Sampling.packByTokenBudget(docs(s, dir), budget = 2000L)
        .orderBy("lang", "pack_id"),
    """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - n_tok AS pre
        |  FROM toks)
        |SELECT lang, CAST(pre // 2000 AS BIGINT) AS pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin),
    // ... and with budgets counted by the REAL BPE tokenizer, so "2000
    // tokens" means what the dataloader will actually see.
    QueryDef("pack_token_budget_bpe", (s, dir) =>
      Sampling.packByTokenBudget(docs(s, dir), budget = 2000L,
        TextAnalysis.bpeRealTokenCount(col("text")))
        .orderBy("lang", "pack_id"),
    "WITH RECURSIVE " + bpeSqlChain +
      """, c AS (
        |  SELECT d.doc_id, d.lang, b.n_bpe_real AS n_tok,
        |    sum(b.n_bpe_real) OVER (PARTITION BY d.lang ORDER BY d.doc_id)
        |      - b.n_bpe_real AS pre
        |  FROM documents d JOIN dbpe b USING (doc_id))
        |SELECT lang, CAST(pre // 2000 AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin),
    // Per-source quota cap: keep the 40 longest docs per source (rank
    // pre-pruned map-side via InferWindowGroupLimit before the shuffle).
    QueryDef("sample_quota", (s, dir) =>
      Sampling.quotaCap(docs(s, dir), 40).orderBy("doc_id"),
    """SELECT doc_id, source, n_chars, rk FROM (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        |  FROM documents) r
        |WHERE rk <= 40 ORDER BY doc_id""".stripMargin),
    // Epoch-1 sharded training shuffle: deterministic salted-hash
    // permutation, rank window partitioned by shard (never global).
    QueryDef("sample_shuffle", (s, dir) =>
      Sampling.shuffleOrder(docs(s, dir), 1).orderBy("shard", "pos"),
    """WITH h AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('shuffle:1:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |      AS h
        |  FROM documents)
        |SELECT CAST(1 AS BIGINT) AS epoch, h % 32 AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY h % 32 ORDER BY h, doc_id) AS BIGINT) AS pos,
        |  doc_id
        |FROM h ORDER BY shard, pos""".stripMargin),
    // Static data mixing: downsample languages so surviving token mass is
    // proportional to target weights (en 0.5 / zh 0.3 / others 0.2 each);
    // the scarcest-relative-to-weight language is kept in full.
    QueryDef("sample_mix", (s, dir) => Sampling.mixToWeights(docs(s, dir),
      Map("en" -> 0.5, "zh" -> 0.3), 0.2).orderBy("doc_id"),
    // mirrors mixToWeights exactly: same CASE weights, same division
    // order for k and rate (IEEE doubles match bit-for-bit), same salted
    // hash threshold at rate * 2^48
    """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents
        |), per_lang AS (
        |  SELECT lang, CAST(sum(n_tok) AS BIGINT) AS ltok,
        |    CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.3
        |         ELSE 0.2 END AS DOUBLE) AS w
        |  FROM toks GROUP BY lang
        |), kk AS (
        |  SELECT min(CAST(ltok AS DOUBLE) / w) AS k FROM per_lang
        |), rates AS (
        |  SELECT lang, least(1.0, k * w / CAST(ltok AS DOUBLE)) AS rate
        |  FROM per_lang CROSS JOIN kk
        |)
        |SELECT t.doc_id, t.lang, t.n_tok,
        |  floor(r.rate * 1000000 + 0.5) / 1000000 AS rate
        |FROM toks t JOIN rates r ON t.lang = r.lang
        |WHERE CAST(CAST(('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS DOUBLE)
        |      < r.rate * 281474976710656.0
        |ORDER BY t.doc_id""".stripMargin),
    // Quality-weighted epoch repetition: 3/2/1 copies by quality tier
    // (the "repeat high-quality data more" mix-construction step). Pure
    // map + explode, zero shuffle.
    QueryDef("sample_epochs", (s, dir) =>
      Sampling.epochRepeat(docs(s, dir)).orderBy("doc_id", "epoch_copy"),
    // quality expression inlined from the text_quality_score oracle; the
    // tier CASE guards NULL/NaN explicitly so a degenerate doc lands in
    // the 1-copy tier on both engines regardless of DuckDB's
    // float-division setting (Spark's guarded quality is NULL there)
    T +
      """SELECT doc_id, n_copies, CAST(ec AS BIGINT) AS epoch_copy
        |FROM (
        |  SELECT doc_id,
        |    CAST(CASE WHEN quality IS NULL OR isnan(quality) THEN 1
        |              WHEN quality >= 0.5 THEN 3
        |              WHEN quality >= 0.25 THEN 2
        |              ELSE 1 END AS BIGINT) AS n_copies
        |  FROM (
        |    SELECT doc_id,
        |      floor(((CAST(len(list_filter(t, x -> list_contains(
        |          ['the','a','and','of','to','in','is','for','on','with'], x))) AS BIGINT)
        |          * 1.0 / len(t)) * 0.4 +
        |        least(length(text) * 1.0 / len(t) / 10.0, 1.0) * 0.3 +
        |        (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |          / length(text)) * 0.3) * 1000000 + 0.5) / 1000000 AS quality
        |    FROM toks) q
        |) c, LATERAL (SELECT unnest(generate_series(1, n_copies)) AS ec) g
        |ORDER BY doc_id, epoch_copy""".stripMargin),
    // DSIR-flavored importance selection: keep source docs whose hashed
    // 2-gram profile is more target-like than source-like (integerized
    // ratio-of-sums — see Sampling.importanceSelect's scaladoc for why
    // not sum-of-logs).
    QueryDef("sample_importance", (s, dir) =>
      Sampling.importanceSelect(docs(s, dir)).orderBy("doc_id"),
    """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), g2 AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM toks, LATERAL (
        |    SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) x
        |), gb AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT) % 256 AS b
        |  FROM g2
        |), bs AS (
        |  SELECT b,
        |    CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cs
        |  FROM gb GROUP BY b
        |), tot AS (
        |  SELECT sum(ct) AS t_total, sum(cs) AS s_total FROM bs
        |), per AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |         CAST(sum(bs.ct) AS BIGINT) AS t_hits,
        |         CAST(sum(bs.cs) AS BIGINT) AS s_hits
        |  FROM gb g JOIN bs ON g.b = bs.b
        |  WHERE g.doc_id % 17 <> 0 GROUP BY g.doc_id
        |)
        |SELECT doc_id, n_grams, t_hits, s_hits, imp_ratio FROM (
        |  SELECT doc_id, n_grams, t_hits, s_hits,
        |    floor((t_hits * 1.0 * s_total /
        |           nullif(s_hits * 1.0 * t_total, 0)) * 1000000 + 0.5)
        |      / 1000000 AS imp_ratio
        |  FROM per, tot)
        |WHERE imp_ratio > 1.0
        |ORDER BY doc_id""".stripMargin),
    // Numeric-run redaction over the events payload column (documents are
    // digit-free by construction, so the scrub targets props): a single
    // codegen'd regexp_replace pass plus an audit count.
    QueryDef("text_redact_numbers", (s, dir) => {
      Records.readEvents(s, dir)
        .select(col("event_id"),
          TextAnalysis.redactNumbers(col("props")).as("props_red"),
          TextAnalysis.numberRunCount(col("props")).as("n_nums"))
        .orderBy("event_id")
    },
    """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_red,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_nums
        |FROM events ORDER BY event_id""".stripMargin),
    // Full PII scrub (email/URL/IPv4/phone/number) as ONE codegen'd
    // five-pass byte-scan kernel — regexp_replace per pattern was the
    // 25 s Matcher.find() trap the punctuation kernel killed, times five
    // rules. The corpus is digit/PII-free by construction, so a
    // deterministic PII-rich suffix (every rule exercised, synthesized
    // identically in SQL) rides on each event's props; audit counts are
    // placeholder occurrences in the redacted text (literal replace
    // arithmetic — engine-identical). The oracle replays the rule CHAIN
    // declaratively in RE2; the kernel↔Java-regex equivalence is pinned
    // in PiiExpressionsSpec.
    QueryDef("text_redact_pii", (s, dir) => {
      val full = concat(col("props"),
        lit(" mail u"), col("event_id").cast("string"),
        lit("@ex"), (col("event_id") % 7).cast("string"),
        lit(".com via http://h"), (col("event_id") % 5).cast("string"),
        lit(".io/p?q="), col("event_id").cast("string"),
        lit("&x=<y> ip "), (col("event_id") % 256).cast("string"),
        lit("."), ((col("event_id") * 7) % 256).cast("string"),
        lit("."), ((col("event_id") * 13) % 256).cast("string"),
        lit("."), (col("event_id") % 250).cast("string"),
        lit(" tel +49151"),
        (lit(1000000) + col("event_id") % 1000000).cast("string"),
        lit(" alt "), (lit(100) + col("event_id") % 900).cast("string"),
        lit("-"), (lit(100) + (col("event_id") * 3) % 900).cast("string"),
        lit("-"), (lit(1000) + col("event_id") % 9000).cast("string"),
        lit(" ref "), (col("event_id") * col("event_id")).cast("string"))
      def nOf(p: String): Column = expr(
        s"CAST((length(_red) - length(replace(_red, '$p', '')))" +
          s" div ${p.length} AS BIGINT)")
      Records.readEvents(s, dir)
        .select(col("event_id"),
          graft.functions.PiiExpressions.redactPii(full).as("_red"))
        .select(col("event_id"), col("_red").as("props_red"),
          nOf("<EMAIL>").as("n_emails"),
          nOf("<URL>").as("n_urls"),
          nOf("<IP>").as("n_ips"),
          nOf("<PHONE>").as("n_phones"),
          nOf("<NUM>").as("n_nums"))
        .orderBy("event_id")
    },
    // The five-rule chain replayed declaratively in RE2 over the same
    // synthesized PII-rich text; audit counts are placeholder-occurrence
    // arithmetic on the final string (literal replace — engine-identical).
    {
      val full = "props || ' mail u' || CAST(event_id AS VARCHAR)" +
        " || '@ex' || CAST(event_id % 7 AS VARCHAR)" +
        " || '.com via http://h' || CAST(event_id % 5 AS VARCHAR)" +
        " || '.io/p?q=' || CAST(event_id AS VARCHAR)" +
        " || '&x=<y> ip ' || CAST(event_id % 256 AS VARCHAR)" +
        " || '.' || CAST((event_id * 7) % 256 AS VARCHAR)" +
        " || '.' || CAST((event_id * 13) % 256 AS VARCHAR)" +
        " || '.' || CAST(event_id % 250 AS VARCHAR)" +
        " || ' tel +49151' || CAST(1000000 + event_id % 1000000 AS VARCHAR)" +
        " || ' alt ' || CAST(100 + event_id % 900 AS VARCHAR)" +
        " || '-' || CAST(100 + (event_id * 3) % 900 AS VARCHAR)" +
        " || '-' || CAST(1000 + event_id % 9000 AS VARCHAR)" +
        " || ' ref ' || CAST(event_id * event_id AS VARCHAR)"
      def nOf(p: String): String =
        s"CAST((len(_red) - len(replace(_red, '$p', ''))) // ${p.length}" +
          s" AS BIGINT)"
      s"""WITH r AS (
         |  SELECT event_id,
         |    ${piiRedactSql(full)} AS _red
         |  FROM events)
         |SELECT event_id, _red AS props_red,
         |  ${nOf("<EMAIL>")} AS n_emails,
         |  ${nOf("<URL>")} AS n_urls,
         |  ${nOf("<IP>")} AS n_ips,
         |  ${nOf("<PHONE>")} AS n_phones,
         |  ${nOf("<NUM>")} AS n_nums
         |FROM r ORDER BY event_id""".stripMargin
    }),
    // Markup/boilerplate text extraction — the FIRST operator of a real
    // crawl pipeline: strip script/style blocks, comments, tags,
    // entities, and collapse whitespace to main text, as ONE codegen'd
    // byte-scan kernel (the PiiRedact pattern). The corpus is
    // markup-free by construction, so a deterministic HTML wrapper
    // (every rule exercised, synthesized identically in SQL) rides on
    // each document's text; the oracle replays the rule CHAIN
    // declaratively in RE2, and the kernel↔Java-regex equivalence is
    // pinned in MarkupExpressionsSpec.
    QueryDef("text_extract_markup", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.MarkupExpressions.extractMarkup(
            markupWrapped(col("doc_id"), col("text"))).as("main_text"))
        .select(col("doc_id"), col("main_text"),
          length(col("main_text")).cast("long").as("n_chars_clean"))
        .orderBy("doc_id"),
    s"""WITH raw AS (
         |  SELECT doc_id, ${markupWrappedSql("doc_id", "text")} AS t
         |  FROM documents
         |), ext AS (
         |  SELECT doc_id, ${markupExtractSql("t")} AS main_text FROM raw)
         |SELECT doc_id, main_text,
         |  CAST(len(main_text) AS BIGINT) AS n_chars_clean
         |FROM ext ORDER BY doc_id""".stripMargin),
    // URL canonicalization — the crawl-side dedup key. The corpus
    // carries no URL column, so a deterministic synthesized URL (every
    // rule exercised: mixed case, both default ports, a kept non-default
    // port, empty paths, unsorted/empty queries, fragments) rides on
    // each event id, identically in SQL.
    QueryDef("url_canonicalize", (s, dir) =>
      Records.readEvents(s, dir)
        .select(col("event_id"), synthUrl(col("event_id")).as("url"))
        .select(col("event_id"), col("url"),
          TextAnalysis.canonicalizeUrl(col("url")).as("url_canon"))
        .orderBy("event_id"),
    s"""WITH u AS (
         |  SELECT event_id AS id, ${synthUrlSql("event_id")} AS url
         |  FROM events
         |), $urlCanonCtes
         |SELECT id AS event_id, url, url_canon
         |FROM canon ORDER BY event_id""".stripMargin),
    // ... and the dedup it exists for: recrawls of the same canonical
    // URL collapse to one keeper (min id), a plain hash-groupBy on the
    // canonical key — at 100 TB one map pass + one shuffle.
    QueryDef("url_dedup", (s, dir) =>
      Records.readEvents(s, dir)
        .select(col("event_id"),
          TextAnalysis.canonicalizeUrl(synthUrl(col("event_id")))
            .as("url_canon"))
        .groupBy("url_canon")
        .agg(count(lit(1)).as("n_dups"), min("event_id").as("keep_id"))
        .orderBy("url_canon"),
    s"""WITH u AS (
         |  SELECT event_id AS id, ${synthUrlSql("event_id")} AS url
         |  FROM events
         |), $urlCanonCtes
         |SELECT url_canon, CAST(count(*) AS BIGINT) AS n_dups,
         |  CAST(min(id) AS BIGINT) AS keep_id
         |FROM canon GROUP BY url_canon ORDER BY url_canon""".stripMargin),
    // Per-host crawl inventory — the grouping a pipeline quotas and
    // mixes on (sample_quota's 'source' lever applied to the crawl's
    // real key). One map pass + one shuffle; distinct-URL counts are
    // partial-aggregated per host.
    QueryDef("url_host_stats", (s, dir) =>
      Records.readEvents(s, dir)
        .select(TextAnalysis.canonicalizeUrl(synthUrl(col("event_id")))
          .as("url_canon"))
        .select(TextAnalysis.urlHost(col("url_canon")).as("host"),
          col("url_canon"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("url_canon")).as("n_urls"))
        .orderBy("host"),
    s"""WITH u AS (
         |  SELECT event_id AS id, ${synthUrlSql("event_id")} AS url
         |  FROM events
         |), $urlCanonCtes
         |SELECT coalesce(regexp_extract(url_canon,
         |    '^[a-z][a-z0-9+.-]*://([^/:?#]*)', 1), '') AS host,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls
         |FROM canon GROUP BY host ORDER BY host""".stripMargin)
  )
}
