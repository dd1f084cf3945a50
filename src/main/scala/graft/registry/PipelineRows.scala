package graft.registry

import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, TextAnalysis}
import graft.registry.DedupRows.{MinhashCandChain, substringCtes, SubstringRemoveCtes}
import graft.registry.QueryDef.docs
import graft.registry.SamplingRows.{markupExtractSql, markupWrapped,
  markupWrappedSql, piiRedactSql, synthUrl, synthUrlSql, urlCanonCtes}
import graft.registry.TextRows.LineLakeChain

/** Pipeline rows: the end-to-end training-data cleaning pipeline as ONE
  * query per version — quality-score filter → MinHash-LSH cluster dedup
  * (keep lowest id per cluster) → per-doc token stats for the surviving
  * corpus, and its staged successors — plus the store catalog and the
  * one-row run report. Every stage is one of the other families'
  * operators; these rows prove they compose. */
object PipelineRows {

  val rows: Seq[QueryDef] = Seq(
    QueryDef("pipeline_clean_corpus", (s, dir) => {
      val d = docs(s, dir)
      val quality = TextAnalysis.qualityQuery(d)
        .where(col("quality") >= 0.25)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
      val keep = Dedup.clusterKeepList(d).where(col("keep"))
        .select(col("doc_id"), col("cluster"))
      quality.join(keep, "doc_id")
        .select(col("doc_id"), col("cluster"), col("n_tokens"), col("quality"))
        .orderBy("doc_id")
    },
    "WITH RECURSIVE " + MinhashCandChain +
      """, edges AS (
        |  SELECT d1 AS a, d2 AS b FROM cand
        |  UNION ALL SELECT d2, d1 FROM cand
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
        |), clusters AS (
        |  SELECT node AS doc_id, min(label) AS cluster FROM reach GROUP BY node
        |), quality AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    floor(((CAST(len(list_filter(t, x -> list_contains(
        |        ['the','a','and','of','to','in','is','for','on','with'], x))) AS BIGINT)
        |        * 1.0 / len(t)) * 0.4 +
        |      least(length(text) * 1.0 / len(t) / 10.0, 1.0) * 0.3 +
        |      (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |        / length(text)) * 0.3) * 1000000 + 0.5) / 1000000 AS quality
        |  FROM (SELECT doc_id, text,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents) q
        |)
        |SELECT q.doc_id, c.cluster, q.n_tokens, q.quality
        |FROM quality q
        |JOIN clusters c ON q.doc_id = c.doc_id AND c.cluster = q.doc_id
        |WHERE q.quality >= 0.25
        |ORDER BY q.doc_id""".stripMargin),
    // v2 = the full production curation pass: quality gate -> LSH dedup
    // keep-list -> SEMANTIC DECONTAMINATION against the benchmark
    // embeddings (vec_id < 20 stand-in, max-cos < 0.8) — a document
    // survives only if it clears all three. Composes
    // Dedup.semanticDecontaminate's broadcast/map-side max into the
    // same plan; embeddings join documents on the shared id space.
    QueryDef("pipeline_clean_corpus_v2", (s, dir) => {
      val d = docs(s, dir)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val quality = TextAnalysis.qualityQuery(d)
        .where(col("quality") >= 0.25)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
      val keep = Dedup.clusterKeepList(d).where(col("keep"))
        .select(col("doc_id"), col("cluster"))
      val clean = Dedup.semanticDecontaminate(emb,
          emb.where(col("vec_id") < 20), 0.8, excludeSelfIds = true)
        .where(col("keep"))
        .select(col("vec_id").as("doc_id"), col("max_cos"))
      quality.join(keep, "doc_id").join(clean, "doc_id")
        .select(col("doc_id"), col("cluster"), col("n_tokens"),
          col("quality"), col("max_cos"))
        .orderBy("doc_id")
    },
    // v2 appends the decontaminate_semantic CTEs (broadcast-benchmark
    // max-cos, keep = below 0.8 or no comparable neighbor) to the same
    // chain and inner-joins the keep-list into the final select.
    "WITH RECURSIVE " + MinhashCandChain +
      """, edges AS (
        |  SELECT d1 AS a, d2 AS b FROM cand
        |  UNION ALL SELECT d2, d1 FROM cand
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
        |), clusters AS (
        |  SELECT node AS doc_id, min(label) AS cluster FROM reach GROUP BY node
        |), quality AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    floor(((CAST(len(list_filter(t, x -> list_contains(
        |        ['the','a','and','of','to','in','is','for','on','with'], x))) AS BIGINT)
        |        * 1.0 / len(t)) * 0.4 +
        |      least(length(text) * 1.0 / len(t) / 10.0, 1.0) * 0.3 +
        |      (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |        / length(text)) * 0.3) * 1000000 + 0.5) / 1000000 AS quality
        |  FROM (SELECT doc_id, text,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents) q
        |), enrm AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings
        |), emc AS (
        |  SELECT c.vec_id,
        |    max(list_dot_product(CAST(c.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])) /
        |        nullif(c.n * b.n, 0)) AS mc
        |  FROM enrm c JOIN enrm b ON b.vec_id < 20 AND b.vec_id <> c.vec_id
        |  GROUP BY c.vec_id
        |), clean AS (
        |  SELECT vec_id, round(mc, 6) AS max_cos FROM emc
        |  WHERE coalesce(mc < 0.8, true)
        |)
        |SELECT q.doc_id, c.cluster, q.n_tokens, q.quality, cl.max_cos
        |FROM quality q
        |JOIN clusters c ON q.doc_id = c.doc_id AND c.cluster = q.doc_id
        |JOIN clean cl ON cl.vec_id = q.doc_id
        |WHERE q.quality >= 0.25
        |ORDER BY q.doc_id""".stripMargin),
    // v3 composes the round-17 in-document boilerplate removal into the
    // same pass: each surviving document additionally carries the
    // >= 8-token cross-document runs cut from it (lowest-id doc keeps)
    // and — since round 18 — the cleaned TEXT itself, so the pipeline's
    // output is the next corpus snapshot rather than stats about
    // cleaning (it feeds the sink writers directly; see SinkWriteSpec's
    // curation->sink e2e). Quality filter, document dedup,
    // decontamination, and substring removal as ONE plan. The removal
    // side joins on doc_id pinned SHUFFLE_MERGE (corpus-derived, never
    // broadcast).
    QueryDef("pipeline_clean_corpus_v3", (s, dir) => {
      val d = docs(s, dir)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val quality = TextAnalysis.qualityQuery(d)
        .where(col("quality") >= 0.25)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
      val keep = Dedup.clusterKeepList(d).where(col("keep"))
        .select(col("doc_id"), col("cluster"))
      val clean = Dedup.semanticDecontaminate(emb,
          emb.where(col("vec_id") < 20), 0.8, excludeSelfIds = true)
        .where(col("keep"))
        .select(col("vec_id").as("doc_id"), col("max_cos"))
      val derun = Dedup.substringRemoveText(d, 8)
      quality.join(keep, "doc_id").join(clean, "doc_id")
        .join(derun.hint("SHUFFLE_MERGE"), "doc_id")
        .select(col("doc_id"), col("cluster"), col("n_tokens"),
          col("quality"), col("max_cos"), col("n_removed"),
          col("clean_md5"), col("clean_text"))
        .orderBy("doc_id")
    },
    // v3 = the v2 chain + the ss-prefixed substring-removal chain,
    // joined per doc in the final select.
    "WITH RECURSIVE " + MinhashCandChain +
      """, edges AS (
        |  SELECT d1 AS a, d2 AS b FROM cand
        |  UNION ALL SELECT d2, d1 FROM cand
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
        |), clusters AS (
        |  SELECT node AS doc_id, min(label) AS cluster FROM reach GROUP BY node
        |), quality AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    floor(((CAST(len(list_filter(t, x -> list_contains(
        |        ['the','a','and','of','to','in','is','for','on','with'], x))) AS BIGINT)
        |        * 1.0 / len(t)) * 0.4 +
        |      least(length(text) * 1.0 / len(t) / 10.0, 1.0) * 0.3 +
        |      (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |        / length(text)) * 0.3) * 1000000 + 0.5) / 1000000 AS quality
        |  FROM (SELECT doc_id, text,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents) q
        |), enrm AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings
        |), emc AS (
        |  SELECT c.vec_id,
        |    max(list_dot_product(CAST(c.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])) /
        |        nullif(c.n * b.n, 0)) AS mc
        |  FROM enrm c JOIN enrm b ON b.vec_id < 20 AND b.vec_id <> c.vec_id
        |  GROUP BY c.vec_id
        |), clean AS (
        |  SELECT vec_id, round(mc, 6) AS max_cos FROM emc
        |  WHERE coalesce(mc < 0.8, true)
        |)""".stripMargin +
      ", " + substringCtes(8, None) + SubstringRemoveCtes +
      """
        |SELECT q.doc_id, c.cluster, q.n_tokens, q.quality, cl.max_cos,
        |  r.n_removed, r.clean_md5, r.clean_text
        |FROM quality q
        |JOIN clusters c ON q.doc_id = c.doc_id AND c.cluster = q.doc_id
        |JOIN clean cl ON cl.vec_id = q.doc_id
        |JOIN ssrm r ON r.doc_id = q.doc_id
        |WHERE q.quality >= 0.25
        |ORDER BY q.doc_id""".stripMargin),

    // v4: STAGED text flow — the boilerplate-line pass runs FIRST and
    // every later stage consumes its cleaned text, not the raw corpus
    // (v1-v3 join per-doc stats computed independently on the raw text;
    // here stage N+1's input IS stage N's output, the shape a real
    // curation DAG has). Quality is scored on the line-cleaned text and
    // exact dedup keys on its md5 — so a doc whose uniqueness was all
    // boilerplate collapses into its duplicate class only AFTER the line
    // pass exposes it. The keep-list join side is corpus-derived: pinned.
    QueryDef("pipeline_clean_corpus_v4", (s, dir) => {
      val cleaned = Curation.lineDedup(Curation.lineified(docs(s, dir)), 3)
        .select(col("doc_id"), col("n_removed"),
          col("clean_text").as("text"))
      val q = TextAnalysis.qualityQuery(cleaned)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
      val keep = cleaned
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"))
      cleaned.withColumn("h", md5(col("text")))
        .join(q.hint("SHUFFLE_MERGE"), Seq("doc_id")) // corpus-derived side
        .join(keep.hint("SHUFFLE_MERGE"), Seq("h"))
        .select(col("doc_id"), col("n_removed"), col("n_tokens"),
          col("quality"), (col("doc_id") === col("keep_id")).as("keep"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    // v4: the staged chain — line-cleaned text (LineLakeChain + removal)
    // feeds the quality formula and the exact-dedup md5 key; the quality
    // CTE is the v1-v3 replay applied to `cl.text` instead of raw
    // documents.text.
    s"WITH $LineLakeChain, bo AS (\n" +
      """  SELECT line, count(DISTINCT doc_id) AS df
        |  FROM ex GROUP BY line HAVING count(DISTINCT doc_id) >= 3
        |), cl AS (
        |  SELECT e.doc_id,
        |    CAST(sum(CASE WHEN b.df IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_removed,
        |    coalesce(array_to_string(
        |      list(e.line ORDER BY e.pos) FILTER (WHERE b.df IS NULL),
        |      chr(10)), '') AS text
        |  FROM ex e LEFT JOIN bo b ON e.line = b.line
        |  GROUP BY e.doc_id
        |), q AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    floor(((CAST(len(list_filter(t, x -> list_contains(
        |        ['the','a','and','of','to','in','is','for','on','with'], x))) AS BIGINT)
        |        * 1.0 / len(t)) * 0.4 +
        |      least(length(text) * 1.0 / len(t) / 10.0, 1.0) * 0.3 +
        |      (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |        / nullif(length(text), 0)) * 0.3) * 1000000 + 0.5) / 1000000
        |      AS quality
        |  FROM (SELECT doc_id, text,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM cl) x
        |), k AS (
        |  SELECT md5(text) AS h, min(doc_id) AS keep_id FROM cl GROUP BY md5(text)
        |)
        |SELECT c.doc_id, c.n_removed, q.n_tokens, q.quality,
        |  (c.doc_id = k.keep_id) AS keep, md5(c.text) AS clean_md5
        |FROM cl c
        |JOIN q ON q.doc_id = c.doc_id
        |JOIN k ON md5(c.text) = k.h
        |ORDER BY c.doc_id""".stripMargin),

    // v5: the CRAWL-SHAPED front of the DAG — raw HTML-ish payloads
    // (the deterministic markup wrapper) go through the byte-scan
    // extraction kernel FIRST, and the C4 quality-filter stage consumes
    // the EXTRACTED main text (the v4 staged-flow doctrine applied one
    // stage earlier: markup stripping is the first operator of a real
    // pipeline, before any text statistic is meaningful). Map-only up to
    // the filter flags — extraction adds zero shuffles.
    QueryDef("pipeline_clean_corpus_v5", (s, dir) => {
      val extracted = docs(s, dir).select(col("doc_id"),
        graft.functions.MarkupExpressions.extractMarkup(
          markupWrapped(col("doc_id"), col("text"))).as("text"))
      TextAnalysis.c4FilterQuery(extracted).orderBy("doc_id")
    },
    // v5: markup extraction first (the declared RE2 chain over the
    // deterministic wrapper), then the text_c4_filters replay over the
    // EXTRACTED text.
    s"""WITH raw AS (
         |  SELECT doc_id, ${markupWrappedSql("doc_id", "text")} AS t0
         |  FROM documents
         |), ext AS (
         |  SELECT doc_id, ${markupExtractSql("t0")} AS text FROM raw
         |), toks AS (
         |  SELECT doc_id, text,
         |         string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM ext
         |)
         |""".stripMargin +
      """SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tok,
        |  coalesce(len(t) BETWEEN 10 AND 5000, false) AS len_ok,
        |  coalesce((length(array_to_string(t, '')) * 1.0 / len(t))
        |    BETWEEN 2.0 AND 12.0, false) AS wordlen_ok,
        |  coalesce(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |    / length(text) < 0.15, false) AS symbol_ok,
        |  coalesce(len(list_filter(t, x -> regexp_full_match(x, '[a-z]+'))) * 1.0
        |    / len(t) >= 0.5, false) AS alpha_ok,
        |  coalesce(list_max(list_transform(t, x -> length(x))) <= 25, false)
        |    AS toklen_ok,
        |  coalesce(NOT contains(lower(text), 'lorem ipsum'), false) AS lorem_ok,
        |  coalesce(len(list_distinct(t)) * 1.0 / len(t) >= 0.2, false)
        |    AS distinct_ok,
        |  (len_ok AND wordlen_ok AND symbol_ok AND alpha_ok AND toklen_ok
        |    AND lorem_ok AND distinct_ok) AS keep
        |FROM toks ORDER BY doc_id""".stripMargin),

    // v6: the complete crawl front in one DAG — canonical-URL dedup
    // picks one keeper per recrawled page (min doc_id per canonical
    // key), and ONLY the keepers pay extraction + PII scrub + C4
    // filtering (the order a real pipeline runs: the cheap key-level
    // dedup gates the expensive per-byte work). One aggregation + one
    // keeper join (aggregation-bounded but corpus-scale: pinned);
    // everything after is map-only kernels.
    QueryDef("pipeline_clean_corpus_v6", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.canonicalizeUrl(synthUrl(col("doc_id")))
          .as("url_canon"),
        col("text"))
      val keep = d.groupBy("url_canon")
        .agg(min("doc_id").as("doc_id"))
      val kept = d.join(keep.hint("SHUFFLE_MERGE"),
        Seq("url_canon", "doc_id"))
      val ext = kept.select(col("doc_id"), col("url_canon"),
        graft.functions.PiiExpressions.redactPii(
          graft.functions.MarkupExpressions.extractMarkup(
            markupWrapped(col("doc_id"), col("text")))).as("text"))
      // carry url_canon + the text md5 THROUGH the flags projection —
      // a flags⋈md5 self-join would execute the keeper election and
      // both byte kernels twice (the round-20 plan audit's finding)
      TextAnalysis.c4FilterQuery(ext,
        Seq("url_canon" -> col("url_canon"),
          "clean_md5" -> md5(col("text"))))
        .orderBy("doc_id")
    },
    // v6: canonical-URL keeper election, then markup + PII + C4 over
    // the keepers only — every stage the declared chain of its own
    // oracle row, composed.
    s"""WITH u AS (
         |  SELECT doc_id AS id, ${synthUrlSql("doc_id")} AS url
         |  FROM documents
         |), $urlCanonCtes, keepers AS (
         |  SELECT url_canon, min(id) AS id FROM canon GROUP BY url_canon
         |), raw AS (
         |  SELECT k.id AS doc_id, k.url_canon,
         |    ${markupWrappedSql("d.doc_id", "d.text")} AS t0
         |  FROM keepers k JOIN documents d ON d.doc_id = k.id
         |), ext AS (
         |  SELECT doc_id, url_canon,
         |    ${piiRedactSql(markupExtractSql("t0"))} AS text
         |  FROM raw
         |), toks AS (
         |  SELECT doc_id, url_canon, text,
         |         string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM ext
         |)
         |""".stripMargin +
      """SELECT doc_id, url_canon, md5(text) AS clean_md5,
        |  CAST(len(t) AS BIGINT) AS n_tok,
        |  coalesce(len(t) BETWEEN 10 AND 5000, false) AS len_ok,
        |  coalesce((length(array_to_string(t, '')) * 1.0 / len(t))
        |    BETWEEN 2.0 AND 12.0, false) AS wordlen_ok,
        |  coalesce(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |    / length(text) < 0.15, false) AS symbol_ok,
        |  coalesce(len(list_filter(t, x -> regexp_full_match(x, '[a-z]+'))) * 1.0
        |    / len(t) >= 0.5, false) AS alpha_ok,
        |  coalesce(list_max(list_transform(t, x -> length(x))) <= 25, false)
        |    AS toklen_ok,
        |  coalesce(NOT contains(lower(text), 'lorem ipsum'), false) AS lorem_ok,
        |  coalesce(len(list_distinct(t)) * 1.0 / len(t) >= 0.2, false)
        |    AS distinct_ok,
        |  (len_ok AND wordlen_ok AND symbol_ok AND alpha_ok AND toklen_ok
        |    AND lorem_ok AND distinct_ok) AS keep
        |FROM toks ORDER BY doc_id""".stripMargin),
    // Store catalog over a three-family store tree (int8 codes, substring
    // postings, LSH band buckets — built into a per-corpus report root,
    // warm after the first call): FingerprintStore.list parses every
    // fingerprinted directory and report() reads footer-only row counts.
    // The nine store families now have a list/inspect/GC surface — at
    // 100 TB the index artifacts are themselves big data, and each corpus
    // regeneration strands the prior fingerprint's directories until
    // FingerprintStore.gc reclaims them (gc is unit-tested in
    // SigStoreSpec; the report row pins the catalog semantics).
    QueryDef("pipeline_store_report", (s, dir) => {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-report-" + dir.replaceAll("[^a-zA-Z0-9]", "_")).toURI.toString
      val d = docs(s, dir)
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      graft.ops.Quantization.int8CodeStore(s, emb,
        s"$dir/embeddings.parquet", "rpt-int8", Some(root))
      Dedup.substringPostingStore(s, d, s"$dir/documents.parquet",
        "rpt-sswin", 8, Some(root))
      Dedup.bandBucketStore(s, d, s"$dir/documents.parquet",
        "rpt-bands", Some(root))
      graft.ops.FingerprintStore.report(s, Some(root), "rpt-").orderBy("tag")
    },
    // The catalog reports each store's (tag, pinned version string, row
    // count); the oracle recomputes every count from the source tables —
    // int8 codes are one row per vector, the posting store one row per
    // k-token window, the band store NumBands rows per doc. A version
    // bump or a row-count drift in any builder breaks the hash.
    s"""WITH toks AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
         |  FROM documents
         |)
         |SELECT * FROM (
         |  SELECT 'rpt-bands' AS tag,
         |    '${graft.ops.Dedup.SigStoreVersion}' AS version,
         |    CAST(4 * (SELECT count(*) FROM documents) AS BIGINT) AS n_rows
         |  UNION ALL
         |  SELECT 'rpt-int8', '${graft.ops.Quantization.CodeStoreVersion}',
         |    CAST((SELECT count(*) FROM embeddings) AS BIGINT)
         |  UNION ALL
         |  SELECT 'rpt-sswin', 'v1-sswin-k8',
         |    CAST((SELECT sum(greatest(len(t) - 7, 0)) FROM toks) AS BIGINT)
         |) ORDER BY tag""".stripMargin),
    // One-row pipeline report: corpus in/out + dedup rate + mean quality —
    // the summary a data-curation run logs after each pass.
    QueryDef("pipeline_report", (s, dir) => {
      val d = docs(s, dir)
      val quality = TextAnalysis.qualityQuery(d)
      val kept = Dedup.clusterKeepList(d).where(col("keep"))
      val joined = quality.join(kept.select("doc_id"), "doc_id")
      // corpus size rides the DAG as a broadcast 1-row crossJoin (the
      // q_sketch_distinct pattern) — one job, no driver-side count action
      val total = d.agg(count(lit(1)).as("_total"))
      joined.agg(
        count(lit(1)).as("docs_kept"),
        TextAnalysis.round6(avg(col("quality"))).as("mean_quality"))
        .crossJoin(broadcast(total))
        .select(
          col("_total").as("docs_in"),
          col("docs_kept"),
          TextAnalysis.round6(lit(1.0) -
            col("docs_kept").cast("double") / col("_total")).as("drop_rate"),
          col("mean_quality"))
    },
    "WITH RECURSIVE " + MinhashCandChain +
      """, edges AS (
        |  SELECT d1 AS a, d2 AS b FROM cand
        |  UNION ALL SELECT d2, d1 FROM cand
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
        |), keepers AS (
        |  SELECT node AS doc_id FROM reach GROUP BY node
        |  HAVING node = min(label)
        |), q AS (
        |  SELECT doc_id,
        |    floor(((CAST(len(list_filter(t, x -> list_contains(
        |        ['the','a','and','of','to','in','is','for','on','with'], x))) AS BIGINT)
        |        * 1.0 / len(t)) * 0.4 +
        |      least(length(text) * 1.0 / len(t) / 10.0, 1.0) * 0.3 +
        |      (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |        / length(text)) * 0.3) * 1000000 + 0.5) / 1000000 AS quality
        |  FROM (SELECT doc_id, text,
        |          string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents) s
        |)
        |SELECT (SELECT count(*) FROM documents) AS docs_in,
        |  count(*) AS docs_kept,
        |  floor((1.0 - count(*) * 1.0 / (SELECT count(*) FROM documents))
        |        * 1000000 + 0.5) / 1000000 AS drop_rate,
        |  floor(avg(quality) * 1000000 + 0.5) / 1000000 AS mean_quality
        |FROM q JOIN keepers USING (doc_id)""".stripMargin)
  )
}
