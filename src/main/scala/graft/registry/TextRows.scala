package graft.registry

import org.apache.spark.sql.functions._

import graft.ops.{Curation, TextAnalysis}
import graft.registry.DedupRows.ShChain
import graft.registry.QueryDef.docs

/** Text rows: tokenization (whitespace, BPE, unigram), quality and
  * language-model scoring, markup/line cleaning and the trainers behind
  * them, with the SQL chains their oracles share. */
object TextRows {

  /** Shared line-lake CTE chain ([[graft.ops.Curation.lineified]] replay:
    * %3 header / 12-token body chunks / %2 footer, then exploded to
    * (doc_id, line, pos) — parallel unnest() calls zip in DuckDB). */
  private[registry] val LineLakeChain =
    """lk AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0
      |          THEN ['nav home about contact menu b'
      |                || CAST(doc_id % 7 AS VARCHAR)]
      |          ELSE [] END)
      |    || list_transform(
      |         range(0, (len(string_split(text, ' ')) + 11) // 12),
      |         i -> array_to_string(
      |           string_split(text, ' ')[i*12+1 : i*12+12], ' '))
      |    || (CASE WHEN doc_id % 2 = 0
      |          THEN ['copyright footer terms privacy b'
      |                || CAST(doc_id % 5 AS VARCHAR)]
      |          ELSE [] END) AS lines
      |  FROM documents
      |), ex AS (
      |  SELECT doc_id, unnest(lines) AS line,
      |         unnest(range(len(lines))) AS pos
      |  FROM lk
      |)""".stripMargin

  /** Shared DuckDB tokenization CTE over `documents`. */
  private[registry] val T =
    """WITH toks AS (
      |  SELECT doc_id, text, lang, source,
      |         string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents
      |)
      |""".stripMargin

  /** Real-BPE oracle chain (needs a leading WITH RECURSIVE): the merge
    * table rendered from [[graft.ops.Bpe.Merges]] itself, each distinct
    * word's merge fixpoint derived by recursive `instr`/`substr` surgery
    * on the space-delimited symbol string (min-rank applicable merge,
    * leftmost occurrence — `Bpe.Coder.encodeWord` exactly; validated
    * symbol-for-symbol), then per-doc counts and the rebuilt token
    * string in `dbpe(doc_id, n_bpe_real, bpe_md5)`. */
  private[registry] def bpeSqlChain: String = bpeSqlChainWith(
    s"bpem AS (SELECT * FROM (VALUES ${graft.ops.Bpe.mergesSqlValues}) t(rnk, ma, mb))")

  /** [[bpeSqlChain]] over an arbitrary `bpem(rnk, ma, mb)` CTE — the
    * fixture VALUES normally, the symbolically-TRAINED table for the
    * trained-tokenizer row (see [[bpeTrainChain]]). */
  private def bpeSqlChainWith(bpemCte: String,
      wordsArr: String = "string_split_regex(lower(trim(text)), '\\s+')")
      : String =
    s"""$bpemCte,
       |words AS (
       |  SELECT DISTINCT unnest($wordsArr) AS w
       |  FROM documents
       |), bpe(w, seq) AS (
       |  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g')
       |  FROM words WHERE w <> ''
       |  UNION ALL
       |  SELECT w, substr(seq, 1, instr(seq, pat) - 1) || rep ||
       |            substr(seq, instr(seq, pat) + length(pat))
       |  FROM (
       |    SELECT b.w, b.seq,
       |      min_by(' ' || m.ma || ' ' || m.mb || ' ', m.rnk) AS pat,
       |      min_by(' ' || m.ma || m.mb || ' ', m.rnk) AS rep
       |    FROM bpe b JOIN bpem m
       |      ON instr(b.seq, ' ' || m.ma || ' ' || m.mb || ' ') > 0
       |    GROUP BY b.w, b.seq)
       |), wtok AS (
       |  SELECT w, trim(seq) AS toks,
       |    CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n
       |  FROM bpe b
       |  WHERE NOT EXISTS (SELECT 1 FROM bpem m
       |    WHERE instr(b.seq, ' ' || m.ma || ' ' || m.mb || ' ') > 0)
       |), dtok AS (
       |  SELECT doc_id, g.i, t[g.i] AS w
       |  FROM (SELECT doc_id, $wordsArr AS t
       |        FROM documents) d,
       |  LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
       |), dbpe AS (
       |  SELECT d.doc_id,
       |    CAST(sum(coalesce(wt.n, 0)) AS BIGINT) AS n_bpe_real,
       |    md5(coalesce(string_agg(wt.toks, ' ' ORDER BY d.i), '')) AS bpe_md5
       |  FROM dtok d LEFT JOIN wtok wt ON wt.w = d.w
       |  GROUP BY d.doc_id
       |)""".stripMargin

  /** BPE TRAINING replayed symbolically, round by round
    * (`graft.ops.Bpe.train` digit-for-digit): the (word, count) vocab
    * (`btw`), char-split symbol strings (`bts0`), then per round r a
    * pair-count CTE (`btp$r` — adjacent symbols weighted by word
    * count), the argmax merge (`btm$r` — count desc, pair
    * lexicographic), and a recursive one-occurrence-at-a-time
    * leftmost-replacement fixpoint (`btr$r`/`bts${r+1}` — the
    * [[bpeSqlChain]] surgery specialized to a single pair; equivalent
    * to the trainer's single left-to-right pass because a merge never
    * creates a new occurrence of its own pair). MATERIALIZED hints
    * keep the chained rounds linear — DuckDB would otherwise inline
    * the multi-referenced round CTEs exponentially. */
  private def bpeTrainChain(n: Int): String = {
    val head =
      """btw AS MATERIALIZED (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |    FROM documents) WHERE w <> '' GROUP BY w
        |), bts0 AS MATERIALIZED (
        |  SELECT w, cnt, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq
        |  FROM btw
        |)""".stripMargin
    val rounds = (0 until n).map { r =>
      s""", btp$r AS MATERIALIZED (
         |  SELECT l[g.i] AS a, l[g.i+1] AS b, sum(cnt) AS c
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS l FROM bts$r) t,
         |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) g
         |  GROUP BY a, b
         |), btm$r AS MATERIALIZED (
         |  SELECT a, b, ' ' || a || ' ' || b || ' ' AS pat,
         |         ' ' || a || b || ' ' AS rep
         |  FROM btp$r ORDER BY c DESC, a, b LIMIT 1
         |), btr$r(w, cnt, seq) AS (
         |  SELECT w, cnt, seq FROM bts$r
         |  UNION ALL
         |  SELECT s.w, s.cnt,
         |    substr(s.seq, 1, instr(s.seq, m.pat) - 1) || m.rep ||
         |      substr(s.seq, instr(s.seq, m.pat) + length(m.pat))
         |  FROM btr$r s, btm$r m
         |  WHERE instr(s.seq, m.pat) > 0
         |), bts${r + 1} AS MATERIALIZED (
         |  SELECT w, cnt, seq FROM btr$r s
         |  WHERE NOT EXISTS (SELECT 1 FROM btm$r m
         |                    WHERE instr(s.seq, m.pat) > 0)
         |)""".stripMargin
    }.mkString
    head + rounds
  }

  /** The trained merge rows as a SELECT (rank, ma, mb) union over
    * [[bpeTrainChain]]'s argmax CTEs — rounds whose corpus ran out of
    * pairs contribute zero rows on both engines. */
  private def bpeTrainSelect(n: Int): String =
    (0 until n)
      .map(r => s"SELECT $r AS rank, a AS ma, b AS mb FROM btm$r")
      .mkString("\n  UNION ALL ")

  /** BATCHED byte-level BPE training replayed round by round
    * (`graft.ops.Bpe.trainBytesBatched` merge-for-merge): the GPT-2
    * pre-token vocab with the space carried as Ġ (`bbw`/`bbs0`), then
    * per round r the pair-count ranking (`bbp$r`), the top-4M candidate
    * window (`bbk$r`), the greedy-disjoint keep set with its in-round
    * rank and merge patterns (`bbc$r` — keep a candidate iff no
    * earlier-RANKED candidate shares a symbol; a pure rank predicate,
    * one NOT EXISTS self-join), and the batch applied to a fixpoint by
    * min-in-round-rank leftmost replacement (`bbr$r`/`bbs${r+1}` — the
    * [[bpeSqlChain]] surgery over the round's own merge table; disjoint
    * pairs make order immaterial, so this equals the Scala fold). */
  private def bpeTrainBytesChain(rounds: Int, m: Int): String = {
    val head =
      s"""bbw AS MATERIALIZED (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT replace(unnest(regexp_extract_all(text,
         |      '${graft.ops.TextAnalysis.BpeIshPattern}')), ' ', 'Ġ') AS w
         |    FROM documents) WHERE w <> '' GROUP BY w
         |), bbs0 AS MATERIALIZED (
         |  SELECT w, cnt, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq
         |  FROM bbw
         |)""".stripMargin
    val rounds_ = (0 until rounds).map { r =>
      s""", bbp$r AS MATERIALIZED (
         |  SELECT l[g.i] AS a, l[g.i+1] AS b, sum(cnt) AS c
         |  FROM (SELECT cnt, string_split(trim(seq), ' ') AS l FROM bbs$r) t,
         |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) g
         |  GROUP BY a, b
         |), bbk$r AS MATERIALIZED (
         |  SELECT a, b, row_number() OVER (ORDER BY c DESC, a, b) AS rk
         |  FROM bbp$r ORDER BY c DESC, a, b LIMIT ${4 * m}
         |), bbc$r AS MATERIALIZED (
         |  SELECT a, b, row_number() OVER (ORDER BY rk) AS rk2,
         |    ' ' || a || ' ' || b || ' ' AS pat, ' ' || a || b || ' ' AS rep
         |  FROM bbk$r k
         |  WHERE NOT EXISTS (SELECT 1 FROM bbk$r k2 WHERE k2.rk < k.rk
         |    AND (k.a IN (k2.a, k2.b) OR k.b IN (k2.a, k2.b)))
         |  QUALIFY rk2 <= $m
         |), bbr$r(w, cnt, seq) AS (
         |  SELECT w, cnt, seq FROM bbs$r
         |  UNION ALL
         |  SELECT t.w, t.cnt,
         |    substr(t.seq, 1, instr(t.seq, t.pat) - 1) || t.rep ||
         |      substr(t.seq, instr(t.seq, t.pat) + length(t.pat))
         |  FROM (
         |    SELECT b.w, b.cnt, b.seq,
         |      min_by(c.pat, c.rk2) AS pat, min_by(c.rep, c.rk2) AS rep
         |    FROM bbr$r b JOIN bbc$r c ON instr(b.seq, c.pat) > 0
         |    GROUP BY b.w, b.cnt, b.seq) t
         |), bbs${r + 1} AS MATERIALIZED (
         |  SELECT w, cnt, seq FROM bbr$r s
         |  WHERE NOT EXISTS (SELECT 1 FROM bbc$r c
         |                    WHERE instr(s.seq, c.pat) > 0)
         |)""".stripMargin
    }.mkString
    head + rounds_
  }

  /** The batched-trained merge rows with their GLOBAL rank (round-major,
    * in-round keep order) — rounds that kept fewer than M pairs stay
    * contiguous on both engines. */
  private def bpeTrainBytesSelect(rounds: Int): String =
    s"""SELECT CAST(row_number() OVER (ORDER BY round, rk2) - 1 AS BIGINT)
       |    AS rank, a AS ma, b AS mb
       |  FROM (
       |  ${(0 until rounds)
            .map(r => s"SELECT $r AS round, rk2, a, b FROM bbc$r")
            .mkString("\n  UNION ALL ")}
       |)""".stripMargin

  /** Quality-classifier TRAINING replayed weight-for-weight
    * (`graft.ops.QualityClassifier.train`): the hashed word-unigram
    * per-mille ratio frame + bias rows (`qv`), the median-split labels
    * (`qlab`), the Rocchio centroid init (`qsum`/`qwi`/`qbias`/`qw0` —
    * per-class per-mille means, w = mean_pos − mean_neg, bias zeroing
    * the projected-midpoint margin), then per epoch r the per-doc
    * integer margins (`qm$r`), the misclassification votes (`qu$r`,
    * ±1), and the DAMPED update `qw${r+1}` = w + gradient // 500.
    * Integer arithmetic + truncating division (`//` == Scala `/`)
    * throughout — sums are exact in any order, so the replay is
    * bit-exact. Ends with the per-doc scoring join under the final
    * weights. */
  private def qualityTrainChain(epochs: Int): String = {
    val head =
      """qtok AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(t), 1, 4)) AS BIGINT) % 64 AS f
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |        FROM documents)
        |), qcnt AS (
        |  SELECT doc_id, f, CAST(count(*) AS BIGINT) AS cnt
        |  FROM qtok GROUP BY doc_id, f
        |), qtot AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS tot
        |  FROM qtok GROUP BY doc_id
        |), qv AS MATERIALIZED (
        |  SELECT c.doc_id, c.f, (c.cnt * 1000) // t.tot AS v
        |  FROM qcnt c JOIN qtot t USING (doc_id)
        |  WHERE (c.cnt * 1000) // t.tot > 0
        |  UNION ALL
        |  SELECT doc_id, 64, 1000 FROM qtot
        |), qlab AS MATERIALIZED (
        |  SELECT doc_id, coalesce(quality >= 0.5, false) AS y FROM (
        |    SELECT doc_id,
        |      floor(((CAST(len(list_filter(t, x -> list_contains(
        |          ['the','a','and','of','to','in','is','for','on','with'], x))) AS BIGINT)
        |          * 1.0 / len(t)) * 0.4 +
        |        least(length(text) * 1.0 / len(t) / 10.0, 1.0) * 0.3 +
        |        (1.0 - len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 1.0
        |          / length(text)) * 0.3) * 1000000 + 0.5) / 1000000 AS quality
        |    FROM (SELECT doc_id, text,
        |            string_split_regex(lower(trim(text)), '\s+') AS t
        |          FROM documents) qq)
        |), qcls AS (
        |  SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS npos,
        |         sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS nneg
        |  FROM qlab
        |), qsum AS (
        |  SELECT v.f,
        |    sum(CASE WHEN l.y THEN v.v ELSE 0 END) AS sp,
        |    sum(CASE WHEN NOT l.y THEN v.v ELSE 0 END) AS sn
        |  FROM qv v JOIN qlab l USING (doc_id) GROUP BY v.f
        |), qwi AS (
        |  SELECT f, (s.sp * 1000) // c.npos AS mp,
        |            (s.sn * 1000) // c.nneg AS mn
        |  FROM qsum s, qcls c
        |), qbias AS (
        |  SELECT -(sum((mp - mn) * (mp + mn)) // (2 * 1000 * 1000)) AS wb
        |  FROM qwi WHERE f < 64
        |), qw0 AS MATERIALIZED (
        |  SELECT f, CAST(CASE WHEN f = 64 THEN (SELECT wb FROM qbias)
        |                 ELSE mp - mn END AS BIGINT) AS w
        |  FROM qwi
        |)""".stripMargin
    val rounds = (0 until epochs).map { r =>
      s""", qm$r AS MATERIALIZED (
         |  SELECT v.doc_id, sum(v.v * w.w) AS m
         |  FROM qv v JOIN qw$r w USING (f) GROUP BY v.doc_id
         |), qu$r AS MATERIALIZED (
         |  SELECT l.doc_id,
         |    CASE WHEN l.y AND coalesce(m.m, 0) <= 0 THEN 1
         |         WHEN NOT l.y AND coalesce(m.m, 0) > 0 THEN -1
         |         ELSE 0 END AS upd
         |  FROM qlab l LEFT JOIN qm$r m ON m.doc_id = l.doc_id
         |), qw${r + 1} AS MATERIALIZED (
         |  SELECT w.f, CAST(w.w + coalesce(gg.g, 0) // 500 AS BIGINT) AS w
         |  FROM qw$r w LEFT JOIN (
         |    SELECT v.f, sum(v.v * u.upd) AS g
         |    FROM qv v JOIN qu$r u ON u.doc_id = v.doc_id AND u.upd <> 0
         |    GROUP BY v.f) gg ON gg.f = w.f
         |)""".stripMargin
    }.mkString
    val score =
      s"""
         |SELECT l.doc_id, CAST(coalesce(s.m, 0) AS BIGINT) AS margin,
         |  coalesce(s.m, 0) > 0 AS pred, l.y AS label
         |FROM qlab l
         |LEFT JOIN (
         |  SELECT v.doc_id, sum(v.v * w.w) AS m
         |  FROM qv v JOIN qw$epochs w USING (f) GROUP BY v.doc_id) s
         |  ON s.doc_id = l.doc_id
         |ORDER BY l.doc_id""".stripMargin
    head + rounds + score
  }

  /** Trained-domain oracle: the keyword annotator replay, the qv feature
    * chain (content buckets only — the bias dim shifts every margin
    * equally), per-domain centroids at the v·Scale fixed point, and the
    * nearest-centroid argmax in its linear expansion
    * margin = 2·Σx·c − Σc² — the cross term is the only
    * (doc, f)×(domain, f) join (absent features contribute x = 0), the
    * norm term is domain-only. row_number ties break
    * (margin DESC, domain asc) — Spark's alphabetical first-match over
    * greatest(). */
  private val domainTrainSql: String =
    """WITH qtok AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(t), 1, 4)) AS BIGINT) % 64 AS f
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |        FROM documents)
      |), qcnt AS (
      |  SELECT doc_id, f, CAST(count(*) AS BIGINT) AS cnt
      |  FROM qtok GROUP BY doc_id, f
      |), qtot AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS tot
      |  FROM qtok GROUP BY doc_id
      |), qv AS MATERIALIZED (
      |  SELECT c.doc_id, c.f, (c.cnt * 1000) // t.tot AS v
      |  FROM qcnt c JOIN qtot t USING (doc_id)
      |  WHERE (c.cnt * 1000) // t.tot > 0
      |), llab AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE
      |      WHEN c_s >= r_s AND c_s >= st_s AND c_s >= sm_s THEN 'compute'
      |      WHEN r_s >= st_s AND r_s >= sm_s THEN 'relate'
      |      WHEN st_s >= sm_s THEN 'store'
      |      ELSE 'stream' END AS lang
      |  FROM (SELECT doc_id,
      |      len(list_filter(t, x -> list_contains(['scan','filter','sort'], x))) AS c_s,
      |      len(list_filter(t, x -> list_contains(['join','merge','hash'], x))) AS r_s,
      |      len(list_filter(t, x -> list_contains(['table','column','row'], x))) AS st_s,
      |      len(list_filter(t, x -> list_contains(['stream','batch','window'], x))) AS sm_s
      |    FROM (SELECT doc_id,
      |            string_split_regex(lower(trim(text)), '\s+') AS t
      |          FROM documents))
      |), lcnt AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n
      |  FROM llab GROUP BY lang
      |), lc AS MATERIALIZED (
      |  SELECT d.lang, v.f,
      |    (CAST(sum(v.v) AS BIGINT) * 1000) // max(n.n) AS c
      |  FROM qv v JOIN llab d USING (doc_id) JOIN lcnt n USING (lang)
      |  GROUP BY d.lang, v.f
      |), langs AS (
      |  SELECT unnest(['compute', 'relate', 'store', 'stream']) AS lang
      |), sc2 AS (
      |  SELECT l.lang, coalesce(c.sc, 0) AS sc
      |  FROM langs l LEFT JOIN (
      |    SELECT lang, CAST(sum(c * c) AS BIGINT) AS sc
      |    FROM lc GROUP BY lang) c USING (lang)
      |), xterm AS (
      |  SELECT v.doc_id, c.lang,
      |    CAST(sum((v.v * 1000) * c.c) AS BIGINT) AS xc
      |  FROM qv v JOIN lc c USING (f)
      |  GROUP BY v.doc_id, c.lang
      |), pick AS (
      |  SELECT d.doc_id, s.lang,
      |    row_number() OVER (PARTITION BY d.doc_id
      |      ORDER BY 2 * coalesce(x.xc, 0) - s.sc DESC, s.lang) AS rn
      |  FROM (SELECT DISTINCT doc_id FROM qv) d
      |  CROSS JOIN sc2 s
      |  LEFT JOIN xterm x ON x.doc_id = d.doc_id AND x.lang = s.lang
      |)
      |SELECT p.doc_id, p.lang AS pred_domain, d.lang AS label,
      |  (p.lang = d.lang) AS correct
      |FROM pick p JOIN llab d USING (doc_id)
      |WHERE p.rn = 1
      |ORDER BY doc_id""".stripMargin

  /** Bigram Stupid-Backoff LM oracle ([[graft.ops.LanguageModel]]
    * digit-for-digit): position table with the previous token, counts
    * over the `trainPred` split, scoring of the `scorePred` split via
    * the same integer CASE — the HUGEINT floor division mirrors the
    * Scala side's overflow-safe quotient/remainder decomposition
    * exactly (both are floor division on non-negative operands). */
  private def lmChain(trainPred: String, scorePred: String): String = {
    val S = graft.ops.LanguageModel.Scale
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents
       |), lmpos AS (
       |  SELECT doc_id, CASE WHEN i > 1 THEN t[i-1] END AS wp, t[i] AS w
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
       |), lmgrp AS (
       |  SELECT doc_id, wp, w, CAST(count(*) AS BIGINT) AS k
       |  FROM lmpos WHERE $scorePred GROUP BY doc_id, wp, w
       |), lmc1 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM lmpos WHERE $trainPred GROUP BY w
       |), lmn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM lmpos WHERE $trainPred
       |), lmc2 AS (
       |  SELECT wp, w, CAST(count(*) AS BIGINT) AS c
       |  FROM lmpos WHERE wp IS NOT NULL AND ($trainPred) GROUP BY wp, w
       |), lmsc AS (
       |  SELECT g.doc_id, g.k,
       |    CAST(CASE
       |      WHEN g.wp IS NULL
       |        THEN (coalesce(u.c, 0)::HUGEINT * $S) // n.n
       |      WHEN b.c IS NOT NULL THEN (b.c::HUGEINT * $S) // up.c
       |      ELSE (2 * ((coalesce(u.c, 0)::HUGEINT * $S) // n.n)) // 5
       |    END AS BIGINT) AS s,
       |    (b.c IS NOT NULL) AS hit, (u.c IS NULL) AS oov
       |  FROM lmgrp g
       |  LEFT JOIN lmc1 u ON u.w = g.w
       |  LEFT JOIN lmc1 up ON up.w = g.wp
       |  LEFT JOIN lmc2 b ON b.wp = g.wp AND b.w = g.w
       |  CROSS JOIN lmn n
       |)
       |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tok,
       |  CAST(sum(CASE WHEN hit THEN k ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(sum(CASE WHEN oov THEN k ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(sum(k * s) // sum(k) AS BIGINT) AS lm_score
       |FROM lmsc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** One Viterbi segmentation pass as a recursive CTE (requires the
    * whole statement to open with WITH RECURSIVE): DP over word
    * positions carrying the last [[graft.ops.Unigram.MaxPieceLen]]
    * dp values AND best-path piece lists as columns (standard SQL
    * forbids aggregation in the recursive term — the bounded-lookback
    * state makes the max a `greatest` over four candidates). Tie-break
    * = the CASE order: longest piece first —
    * [[graft.ops.Unigram.segment]]'s loop order exactly. */
  private def unigramViterbi(seg: String, score: String,
                             cNorm: String): String = {
    val g =
      s"""greatest(
         |      coalesce(d0 + s1.s - CC.c, -9223372036854775807),
         |      coalesce(d1 + s2.s - CC.c, -9223372036854775807),
         |      coalesce(d2 + s3.s - CC.c, -9223372036854775807),
         |      coalesce(d3 + s4.s - CC.c, -9223372036854775807))""".stripMargin
    s"""$seg AS (
       |  SELECT w, freq, 0 AS j,
       |    CAST(0 AS BIGINT) AS d0, CAST(NULL AS BIGINT) AS d1,
       |    CAST(NULL AS BIGINT) AS d2, CAST(NULL AS BIGINT) AS d3,
       |    []::VARCHAR[] AS p0, CAST(NULL AS VARCHAR[]) AS p1,
       |    CAST(NULL AS VARCHAR[]) AS p2, CAST(NULL AS VARCHAR[]) AS p3
       |  FROM uw
       |  UNION ALL
       |  SELECT w, freq, j + 1,
       |    $g AS nd, d0, d1, d2,
       |    CASE
       |      WHEN d3 IS NOT NULL AND s4.s IS NOT NULL
       |           AND d3 + s4.s - CC.c = $g
       |        THEN list_append(p3, substr(w, j - 2, 4))
       |      WHEN d2 IS NOT NULL AND s3.s IS NOT NULL
       |           AND d2 + s3.s - CC.c = $g
       |        THEN list_append(p2, substr(w, j - 1, 3))
       |      WHEN d1 IS NOT NULL AND s2.s IS NOT NULL
       |           AND d1 + s2.s - CC.c = $g
       |        THEN list_append(p1, substr(w, j, 2))
       |      ELSE list_append(p0, substr(w, j + 1, 1))
       |    END AS np,
       |    p0, p1, p2
       |  FROM $seg
       |  LEFT JOIN $score s1 ON s1.p = substr($seg.w, $seg.j + 1, 1)
       |  LEFT JOIN $score s2 ON $seg.j >= 1
       |    AND s2.p = substr($seg.w, $seg.j, 2)
       |  LEFT JOIN $score s3 ON $seg.j >= 2
       |    AND s3.p = substr($seg.w, $seg.j - 1, 3)
       |  LEFT JOIN $score s4 ON $seg.j >= 3
       |    AND s4.p = substr($seg.w, $seg.j - 2, 4)
       |  CROSS JOIN $cNorm CC
       |  WHERE $seg.j < len($seg.w)
       |)""".stripMargin
  }

  /** One unigram EM round as CTEs: bit-quantized scores from the
    * incoming vocab, Viterbi re-segmentation, freq-weighted piece
    * recount, chars kept (coverage) + zero-count multis dropped —
    * [[graft.ops.Unigram.emRound]] digit-for-digit. MATERIALIZED is
    * load-bearing: the score table is referenced four times per
    * recursion level and the chain nests two rounds deep — inlining
    * re-evaluates the whole upstream chain multiplicatively. */
  private def unigramRound(r: Int, inVocab: String): String =
    s"""us$r AS MATERIALIZED (
       |  SELECT p, CAST(length(bin(cnt + 1)) - 1 AS BIGINT) AS s
       |  FROM $inVocab),
       |uc$r AS MATERIALIZED (
       |  SELECT CAST(length(bin(SUM(cnt) + 1)) - 1 AS BIGINT) AS c
       |  FROM $inVocab),
       |${unigramViterbi(s"seg$r", s"us$r", s"uc$r")},
       |upath$r AS MATERIALIZED (
       |  SELECT w, freq, p0 AS path FROM seg$r WHERE j = len(w)),
       |ucnt$r AS MATERIALIZED (
       |  SELECT tt.pp AS p, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM upath$r, LATERAL (SELECT unnest(path) AS pp) tt
       |  GROUP BY tt.pp),
       |uvocab$r AS MATERIALIZED (
       |  SELECT c.p, coalesce(u.cnt, 0) AS cnt
       |  FROM uchars c LEFT JOIN ucnt$r u ON u.p = c.p
       |  UNION ALL
       |  SELECT u.p, u.cnt FROM ucnt$r u WHERE len(u.p) >= 2)""".stripMargin

  /** The full unigram training chain (word freqs → substring seed →
    * top-512 multi + all chars → 2 EM rounds → prune to chars +
    * top-256), ending at `uvocabf` — [[graft.ops.Unigram.train]]
    * replayed end to end. Callers must prepend WITH RECURSIVE. */
  private def unigramChain: String =
    s"""uw AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents) t
       |  WHERE len(w) > 0 GROUP BY w),
       |useed AS MATERIALIZED (
       |  SELECT substr(uw.w, ii.i, ll.l) AS p,
       |    CAST(SUM(uw.freq) AS BIGINT) AS cnt
       |  FROM uw,
       |    LATERAL (SELECT unnest(range(1, len(uw.w) + 1)) AS i) ii,
       |    LATERAL (SELECT unnest(
       |      range(1, least(4, len(uw.w) - ii.i + 1) + 1)) AS l) ll
       |  GROUP BY p),
       |uchars AS MATERIALIZED (
       |  SELECT p, cnt FROM useed WHERE len(p) = 1),
       |uvocab0 AS MATERIALIZED (
       |  SELECT p, cnt FROM uchars
       |  UNION ALL
       |  SELECT p, cnt FROM (
       |    SELECT p, cnt FROM useed WHERE len(p) >= 2
       |    ORDER BY cnt DESC, p LIMIT ${graft.ops.Unigram.SeedMulti}) s),
       |${unigramRound(1, "uvocab0")},
       |${unigramRound(2, "uvocab1")},
       |uvocabf AS MATERIALIZED (
       |  SELECT p, cnt FROM uvocab2 WHERE len(p) = 1
       |  UNION ALL
       |  SELECT p, cnt FROM (
       |    SELECT p, cnt FROM uvocab2 WHERE len(p) >= 2
       |    ORDER BY cnt DESC, p LIMIT ${graft.ops.Unigram.FinalMulti}) s)"""
      .stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("text_token_count", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
    T +
      """SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT)
        |    AS n_bpe_tokens
        |FROM toks ORDER BY doc_id""".stripMargin),
    // REAL merge-table BPE (committed 40-merge fixture, graft.ops.Bpe):
    // per-doc token count plus an md5 of the full tokenization — the
    // oracle re-derives every word's merge fixpoint with a recursive CTE
    // over the SAME merge table (rendered from the fixture, zero drift)
    // and rebuilds the token string symbol-for-symbol.
    QueryDef("text_token_count_bpe", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeRealTokenCount(col("text")).as("n_bpe_real"),
          md5(TextAnalysis.bpeRealEncode(col("text"))).as("bpe_md5"))
        .orderBy("doc_id"),
    "WITH RECURSIVE " + bpeSqlChain +
      """
        |SELECT doc_id, n_bpe_real, bpe_md5 FROM dbpe ORDER BY doc_id""".stripMargin),
    // Corpus-scale BPE TRAINING (graft.ops.Bpe.train): the iterative
    // pair-count/merge loop as Spark jobs — one corpus pass builds the
    // (word, count) vocab, then each round is one vocab groupBy + a
    // 1-row argmax collect + a map-only merge application. At sf0.01
    // the 40 trained rows ARE the committed Bpe.Merges fixture
    // byte-for-byte (its provenance, reproduced in-engine); the oracle
    // replays every round symbolically.
    QueryDef("bpe_train", (s, dir) => {
      import s.implicits._
      graft.ops.Bpe.train(docs(s, dir), 40).zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "ma", "mb").orderBy("rank")
    },
    "WITH RECURSIVE " + bpeTrainChain(40) +
      s"""
         |SELECT CAST(rank AS BIGINT) AS rank, ma, mb FROM (
         |  ${bpeTrainSelect(40)}
         |) ORDER BY rank""".stripMargin),
    // ... and the trained table CONSUMED: text_token_count_bpe's shape
    // with a 12-merge vocabulary trained from the corpus at query time
    // (the coder-parametric expression overloads) — trainer and
    // tokenizer composed end-to-end, oracle-replayed end-to-end.
    QueryDef("text_token_count_bpe_trained", (s, dir) => {
      val coder = new graft.ops.Bpe.Coder(
        graft.ops.Bpe.train(docs(s, dir), 12))
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeRealTokenCountWith(col("text"), coder)
            .as("n_bpe_real"),
          md5(TextAnalysis.bpeRealEncodeWith(col("text"), coder))
            .as("bpe_md5"))
        .orderBy("doc_id")
    },
    // Trained-tokenizer composition: 12 training rounds replayed, the
    // replayed table fed into the encode chain as `bpem`.
    "WITH RECURSIVE " + bpeTrainChain(12) +
      ", " + bpeSqlChainWith(
        s"""bpem AS MATERIALIZED (
           |  SELECT CAST(rank AS INT) AS rnk, ma, mb FROM (
           |  ${bpeTrainSelect(12)}
           |  )
           |)""".stripMargin) +
      """
        |SELECT doc_id, n_bpe_real, bpe_md5 FROM dbpe ORDER BY doc_id""".stripMargin),
    // ... and the trained table MANAGED (the pqStore precedent): the
    // 40-merge vocabulary is trained once per corpus fingerprint and
    // persisted; a warm call reads 40 parquet rows and runs zero
    // training jobs before the map-only encode. At sf0.01 the stored
    // table is bpe_train's — i.e. the committed fixture — so this row
    // also re-proves the store round-trips the trainer bit-for-bit.
    QueryDef("text_token_count_bpe_managed", (s, dir) => {
      val coder = new graft.ops.Bpe.Coder(
        graft.ops.Bpe.mergesStore(s, docs(s, dir),
          s"$dir/documents.parquet", 40))
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeRealTokenCountWith(col("text"), coder)
            .as("n_bpe_real"),
          md5(TextAnalysis.bpeRealEncodeWith(col("text"), coder))
            .as("bpe_md5"))
        .orderBy("doc_id")
    },
    // Managed-tokenizer row: the stored table IS train(40)'s output, so
    // the oracle replays the full 40-round training symbolically and
    // feeds the replayed table into the encode chain.
    "WITH RECURSIVE " + bpeTrainChain(40) +
      ", " + bpeSqlChainWith(
        s"""bpem AS MATERIALIZED (
           |  SELECT CAST(rank AS INT) AS rnk, ma, mb FROM (
           |  ${bpeTrainSelect(40)}
           |  )
           |)""".stripMargin) +
      """
        |SELECT doc_id, n_bpe_real, bpe_md5 FROM dbpe ORDER BY doc_id""".stripMargin),
    // BATCHED BYTE-LEVEL BPE training (graft.ops.Bpe.trainBytesBatched):
    // GPT-2-style pre-tokenization (space carried as Ġ), up to M=4
    // pairwise-symbol-disjoint merges per round, 3 rounds — the round
    // topology a 32k-merge production vocabulary needs (hundreds of
    // driver rounds, not 32k sequential jobs). The oracle replays every
    // round: ranking window, greedy-disjoint keep set, batch
    // application.
    QueryDef("bpe_train_bytes", (s, dir) => {
      import s.implicits._
      graft.ops.Bpe.trainBytesBatched(docs(s, dir), 3, 4).zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "ma", "mb").orderBy("rank")
    },
    "WITH RECURSIVE " + bpeTrainBytesChain(3, 4) +
      s"""
         |${bpeTrainBytesSelect(3)}
         |ORDER BY rank""".stripMargin),
    // ... and the byte-level table CONSUMED: the merge-table kernel over
    // the SAME pre-token symbols (Bpe.preTokens), trainer and tokenizer
    // composed end-to-end, oracle-replayed end-to-end.
    QueryDef("text_token_count_bpe_bytes", (s, dir) => {
      val coder = new graft.ops.Bpe.Coder(
        graft.ops.Bpe.trainBytesBatched(docs(s, dir), 3, 4))
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeByteTokenCountWith(col("text"), coder)
            .as("n_bpe_bytes"),
          md5(TextAnalysis.bpeByteEncodeWith(col("text"), coder))
            .as("bpe_md5"))
        .orderBy("doc_id")
    },
    // Byte-level trained-table consumption: 3 batched rounds replayed,
    // the replayed table fed into the encode chain as `bpem`, the
    // word-array derivation swapped to the GPT-2 pre-tokens.
    "WITH RECURSIVE " +
      bpeTrainBytesChain(3, 4) + ", " +
      bpeSqlChainWith(
        s"""bpem AS MATERIALIZED (
           |  SELECT CAST(rank AS INT) AS rnk, ma, mb FROM (
           |  ${bpeTrainBytesSelect(3)}
           |  )
           |)""".stripMargin,
        wordsArr = "list_transform(regexp_extract_all(text, '" +
          graft.ops.TextAnalysis.BpeIshPattern +
          "'), x -> replace(x, ' ', 'Ġ'))") +
      """
        |SELECT doc_id, n_bpe_real AS n_bpe_bytes, bpe_md5 FROM dbpe
        |ORDER BY doc_id""".stripMargin),
    // Unigram-LM (SentencePiece-style) tokenizer trainer — BPE's
    // complement: over-complete substring seed, 2 integer-exact EM
    // rounds (bit-quantized log scores, fixed Viterbi tie-break), prune
    // to chars + top-256. The oracle replays seed -> both EM rounds ->
    // prune digit-for-digit, Viterbi included (recursive CTEs).
    QueryDef("tok_train_unigram", (s, dir) =>
      graft.ops.Unigram.vocabDf(s, graft.ops.Unigram.train(docs(s, dir)))
        .orderBy("piece"),
    // Unigram trainer replayed end to end: substring seed, both EM
    // rounds (bit-quantized scores, the Viterbi recursion with its
    // longest-piece tie-break), the prune — every count integer-exact.
    "WITH RECURSIVE " + unigramChain +
      """
        |SELECT p AS piece, cnt FROM uvocabf ORDER BY piece""".stripMargin),
    // ... the trained vocab MANAGED (the bpemerges precedent): trained
    // once per corpus fingerprint, persisted; a warm call reads <=
    // charset+256 parquet rows and runs zero training jobs.
    QueryDef("tok_train_unigram_managed", (s, dir) =>
      graft.ops.Unigram.vocabDf(s,
        graft.ops.Unigram.vocabStore(s, docs(s, dir),
          s"$dir/documents.parquet"))
        .orderBy("piece"),
    // The managed row replays the same training (the store must be
    // bit-identical to a fresh train — the bpemerges contract).
    "WITH RECURSIVE " + unigramChain +
      """
        |SELECT p AS piece, cnt FROM uvocabf ORDER BY piece""".stripMargin),
    // ... and the vocab CONSUMED: per-doc unigram token counts, map-only
    // (broadcast vocab, in-scan Viterbi) — trainer and tokenizer
    // composed end-to-end, oracle-replayed end-to-end.
    QueryDef("text_token_count_unigram", (s, dir) =>
      graft.ops.Unigram.tokenCounts(docs(s, dir),
        graft.ops.Unigram.train(docs(s, dir))),
    // ... and the vocab consumed: a THIRD Viterbi pass under the final
    // vocab, summed per document.
    "WITH RECURSIVE " + unigramChain +
      s""",
         |usf AS MATERIALIZED (
         |  SELECT p, CAST(length(bin(cnt + 1)) - 1 AS BIGINT) AS s
         |  FROM uvocabf),
         |ucf AS MATERIALIZED (
         |  SELECT CAST(length(bin(SUM(cnt) + 1)) - 1 AS BIGINT) AS c
         |  FROM uvocabf),
         |${unigramViterbi("seg3", "usf", "ucf")},
         |uplen AS MATERIALIZED (
         |  SELECT w, CAST(len(p0) AS BIGINT) AS n FROM seg3
         |  WHERE j = len(w)),
         |udw AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |  FROM documents)
         |SELECT d0.doc_id, CAST(COALESCE(SUM(u.n), 0) AS BIGINT)
         |  AS n_tokens
         |FROM documents d0
         |LEFT JOIN (SELECT doc_id, w FROM udw WHERE len(w) > 0) dw
         |  ON dw.doc_id = d0.doc_id
         |LEFT JOIN uplen u ON u.w = dw.w
         |GROUP BY d0.doc_id ORDER BY d0.doc_id""".stripMargin),
    QueryDef("text_quality_score", (s, dir) =>
      TextAnalysis.qualityQuery(docs(s, dir)).orderBy("doc_id"),
    T +
      """SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars2,
        |  CAST(len(list_filter(t, x -> list_contains(
        |    ['the','a','and','of','to','in','is','for','on','with'], x))) AS BIGINT) AS n_stopwords,
        |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS n_punct,
        |  floor(((n_stopwords * 1.0 / n_tokens) * 0.4 +
        |         least(n_chars2 * 1.0 / n_tokens / 10.0, 1.0) * 0.3 +
        |         (1.0 - n_punct * 1.0 / n_chars2) * 0.3) * 1000000 + 0.5)
        |    / 1000000 AS quality
        |FROM toks ORDER BY doc_id""".stripMargin),
    // TRAINED quality classifier (graft.ops.QualityClassifier): hashed
    // word-unigram ratio features, Rocchio centroid init + damped batch
    // perceptron — integer arithmetic end-to-end, so the oracle replays
    // TRAINING itself (centroid means, every epoch's margins, votes and
    // damped updates) and then the map-side scoring expression. A drift
    // anywhere — feature hashing, ratio arithmetic, label rule, update
    // rule, epoch count, damping — breaks the hash. 93.4% train accuracy
    // vs the 82.6% majority baseline at sf0.01.
    QueryDef("text_quality_trained", (s, dir) => {
      val d = docs(s, dir)
      // NO training-input spread: measured 2x WORSE on this trainer and
      // ~10% worse on text_domain_trained (interleaved A/B) — the
      // per-epoch work is 65-row aggregations over the cached feature
      // frame; the exchange costs more than the single-task feature pass
      // it parallelizes. ScanSpread stays where it measured a win (the
      // blocked posting families).
      graft.ops.QualityClassifier.scoreQuery(d,
        graft.ops.QualityClassifier.train(d))
        .orderBy("doc_id")
    },
    "WITH " + qualityTrainChain(6)),
    // ... and the model MANAGED (the bpemerges precedent): weights
    // trained once per corpus fingerprint, persisted as 64 parquet rows;
    // a warm call runs zero training jobs before the map-only score.
    // Deterministic integer training + exact round-trip => identical
    // scores, same oracle replay.
    QueryDef("text_quality_trained_managed", (s, dir) => {
      val d = docs(s, dir)
      graft.ops.QualityClassifier.scoreQuery(d,
        graft.ops.QualityClassifier.weightsStore(s, d,
          s"$dir/documents.parquet"))
        .orderBy("doc_id")
    },
    // The stored model is train(3)'s weights round-tripped exactly —
    // the identical replay.
    "WITH " + qualityTrainChain(6)),
    // TRAINED domain classifier (graft.ops.DomainClassifier): Rocchio
    // centroids over the same hashed integer features, nearest-centroid
    // (2*x*c - |c|^2) classification map-side with the centroids as
    // literals; labels bootstrap from a keyword annotator (the corpus's
    // lang/source columns are text-independent — measured — so they are
    // unlearnable; the keyword label is diverse and real). The oracle
    // replays labeling, centroids, and the argmax relationally.
    QueryDef("text_domain_trained", (s, dir) => {
      val d = docs(s, dir)
      // NO spread here either: interleaved A/B showed the training-input
      // spread LOSES ~10% (1.31 -> 1.45 s, 3/3 reps) — the centroid pass
      // is one 65-row aggregation; the exchange costs more than the
      // single-task scan it parallelizes. ScanSpread stays where it
      // measured a win (the blocked posting families).
      graft.ops.DomainClassifier.scoreQuery(d,
        graft.ops.DomainClassifier.trainCentroids(d))
        .orderBy("doc_id")
    },
    domainTrainSql),
    // ... centroids MANAGED (the qualweights precedent): a warm call
    // reads 4x65 parquet rows and trains nothing before the map-only
    // score; deterministic integer training => same oracle.
    QueryDef("text_domain_trained_managed", (s, dir) => {
      val d = docs(s, dir)
      graft.ops.DomainClassifier.scoreQuery(d,
        graft.ops.DomainClassifier.centroidStore(s, d,
          s"$dir/documents.parquet"))
        .orderBy("doc_id")
    },
    // stored centroids round-trip exactly — identical replay
    domainTrainSql),
    // C4/Gopher rule-bundle filter: one boolean per cleaning rule + the
    // composite keep, verified per-document by the oracle.
    QueryDef("text_c4_filters", (s, dir) =>
      TextAnalysis.c4FilterQuery(docs(s, dir)).orderBy("doc_id"),
    // every flag coalesced to false: degenerate (empty-text) rows hit 0/0
    // divisions that are NaN->false in Spark but NULL in DuckDB
    T +
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
    QueryDef("text_lang_id", (s, dir) =>
      TextAnalysis.langIdQuery(docs(s, dir)).orderBy("doc_id"),
    T +
      """SELECT doc_id,
        |  CAST(len(list_filter(t, x -> list_contains(['the','and','of'], x))) AS BIGINT) AS en_score,
        |  CAST(len(list_filter(t, x -> list_contains(['der','und','die'], x))) AS BIGINT) AS de_score,
        |  CAST(len(list_filter(t, x -> list_contains(['el','los','las'], x))) AS BIGINT) AS es_score,
        |  CAST(len(list_filter(t, x -> list_contains(['le','les','des'], x))) AS BIGINT) AS fr_score,
        |  CASE
        |    WHEN de_score > en_score AND de_score >= es_score AND de_score >= fr_score THEN 'de'
        |    WHEN es_score > en_score AND es_score > de_score AND es_score >= fr_score THEN 'es'
        |    WHEN fr_score > en_score AND fr_score > de_score AND fr_score > es_score THEN 'fr'
        |    ELSE 'en' END AS lang_pred
        |FROM toks ORDER BY doc_id""".stripMargin),
    // Vocabulary statistics: top document-frequency tokens (corpus-level
    // inverted-index aggregation; at scale this is the df-cut input that
    // guards the shingle postings join — see SCALING.md).
    QueryDef("text_vocab_top", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))
        .select(col("doc_id"), explode(array_distinct(col("_t"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok"))
        .limit(20)
    },
    T +
      """SELECT tok, count(*) AS df FROM (
        |  SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks) u
        |GROUP BY tok ORDER BY df DESC, tok LIMIT 20""".stripMargin),

    QueryDef("text_fingerprint", (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.md5Fingerprint(col("text")).as("fp_md5"),
          TextAnalysis.rollingFingerprint(toks).as("fp_roll"))
        .orderBy("doc_id")
    },
    T +
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(t, x -> CAST(('0x' || substr(md5(x), 1, 4)) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll
        |FROM toks ORDER BY doc_id""".stripMargin),

    // Benchmark decontamination: corpus docs sharing a 3-token shingle with
    // the eval split (doc_id % 17 == 0 stands in for a benchmark table).
    // The eval gram set is broadcast — map-side probe against the corpus.
    QueryDef("text_decontaminate", (s, dir) =>
      Curation.decontaminate(docs(s, dir)).orderBy("doc_id"),
    "WITH " + ShChain +
      """, dsh AS (
        |  SELECT DISTINCT doc_id, sh FROM sh
        |), ev AS (
        |  SELECT DISTINCT sh FROM dsh WHERE doc_id % 17 = 0
        |), hits AS (
        |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_overlap
        |  FROM dsh d LEFT JOIN ev e ON d.sh = e.sh
        |  WHERE d.doc_id % 17 <> 0
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_grams, n_overlap,
        |  floor((n_overlap * 1.0 / n_grams) * 1000000 + 0.5) / 1000000
        |    AS contam_frac
        |FROM hits WHERE n_overlap > 0 ORDER BY doc_id""".stripMargin),

    // Cross-snapshot contamination screen: the reference side is
    // corpus-sized (odd docs screened against the EVEN half's grams), so
    // broadcast is illegal — a one-row Bloom filter prunes the probe
    // map-side and an exact merge-join verifies survivors. Result is
    // exactly the plain semi-join's (the Bloom is pure topology), so the
    // oracle asserts cell-exact with no sketch tolerance.
    QueryDef("text_decontaminate_bloom", (s, dir) =>
      Curation.decontaminateCross(docs(s, dir)).orderBy("doc_id"),
    // The Bloom prefilter is pure topology (exact verify removes its
    // false positives), so the oracle is the PLAIN semi-join — no sketch
    // tolerance anywhere.
    "WITH " + ShChain +
      """, dsh AS (
        |  SELECT DISTINCT doc_id, sh FROM sh
        |), refg AS (
        |  SELECT DISTINCT sh FROM dsh WHERE doc_id % 2 = 0
        |), hits AS (
        |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN r.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_overlap
        |  FROM dsh d LEFT JOIN refg r ON d.sh = r.sh
        |  WHERE d.doc_id % 2 <> 0
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_grams, n_overlap,
        |  floor((n_overlap * 1.0 / n_grams) * 1000000 + 0.5) / 1000000
        |    AS contam_frac
        |FROM hits WHERE n_overlap > 0 ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition filters: top-2-gram coverage and duplicate-
    // 3-gram fraction per document.
    QueryDef("text_repetition", (s, dir) =>
      Curation.repetitionStats(docs(s, dir)).orderBy("doc_id"),
    T +
      """, g2 AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) x
        |), a2 AS (
        |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top2_cnt,
        |         CAST(sum(cnt) AS BIGINT) AS n2
        |  FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g)
        |  GROUP BY doc_id
        |), r AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
        |    CAST(len(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |      AS BIGINT) AS n3,
        |    CAST(len(list_distinct(
        |        list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
        |      AS BIGINT) AS n3d
        |  FROM toks)
        |SELECT r.doc_id, r.n_tok, a2.top2_cnt,
        |  floor((a2.top2_cnt * 1.0 / a2.n2) * 1000000 + 0.5) / 1000000
        |    AS top2_frac,
        |  floor(((r.n3 - r.n3d) * 1.0 / r.n3) * 1000000 + 0.5) / 1000000
        |    AS dup3_frac
        |FROM r JOIN a2 ON r.doc_id = a2.doc_id
        |ORDER BY r.doc_id""".stripMargin),

    // CCNet/RefinedWeb line-level boilerplate removal: lines repeated in
    // >= 3 documents (nav chrome, footers — injected deterministically by
    // the line lake) are removed line-by-line; the cleaned text itself is
    // the verified output, reassembled in original line order.
    QueryDef("dedup_lines", (s, dir) =>
      Curation.lineDedup(Curation.lineified(docs(s, dir)), 3)
        .orderBy("doc_id"),
    // Line lake replay (header on %3, 12-token body chunks, footer on %2)
    // + df-per-line + removal + in-order reassembly; clean_text is
    // verified verbatim. Parallel unnest() calls zip in DuckDB, giving
    // the (line, pos) pairs posexplode gives Spark.
    s"WITH $LineLakeChain, bo AS (\n" +
      """  SELECT line, count(DISTINCT doc_id) AS df
        |  FROM ex GROUP BY line HAVING count(DISTINCT doc_id) >= 3
        |)
        |SELECT e.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN b.df IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  coalesce(array_to_string(
        |    list(e.line ORDER BY e.pos) FILTER (WHERE b.df IS NULL),
        |    chr(10)), '') AS clean_text
        |FROM ex e LEFT JOIN bo b ON e.line = b.line
        |GROUP BY e.doc_id
        |ORDER BY doc_id""".stripMargin),

    // Incremental: the odd-doc batch is cleaned against the EVEN half's
    // persisted boilerplate store (built once per corpus fingerprint) —
    // the old corpus is never re-counted on a repeat batch.
    QueryDef("dedup_lines_incremental", (s, dir) => {
      val lined = Curation.lineified(docs(s, dir))
      val boiler = Curation.lineBoilerplateStore(s,
        lined.where(col("doc_id") % 2 === 0),
        s"$dir/documents.parquet", "linedf_even", 3)
      Curation.lineDedupIncremental(
        lined.where(col("doc_id") % 2 === 1), boiler)
        .orderBy("doc_id")
    },
    // Incremental variant: the df authority is the EVEN half's persisted
    // boilerplate store; the odd batch is cleaned against it without the
    // old corpus being re-counted.
    s"WITH $LineLakeChain, bo AS (\n" +
      """  SELECT line, count(DISTINCT doc_id) AS df
        |  FROM ex WHERE doc_id % 2 = 0
        |  GROUP BY line HAVING count(DISTINCT doc_id) >= 3
        |)
        |SELECT e.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN b.df IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  coalesce(array_to_string(
        |    list(e.line ORDER BY e.pos) FILTER (WHERE b.df IS NULL),
        |    chr(10)), '') AS clean_text
        |FROM ex e LEFT JOIN bo b ON e.line = b.line
        |WHERE e.doc_id % 2 = 1
        |GROUP BY e.doc_id
        |ORDER BY doc_id""".stripMargin),

    // TF-IDF keyword extraction: top-3 terms per document (linear idf so
    // the score is bit-identical across engines; see Scaladoc).
    QueryDef("text_tfidf_top", (s, dir) =>
      TextAnalysis.tfidfTopQuery(docs(s, dir), k = 3)
        .orderBy("doc_id", "rk"),
    T +
      """, tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, term),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |         tf.tf * n.n_docs / dfc.df AS score
        |  FROM tf JOIN dfc ON tf.term = dfc.term CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rk,
        |    term, tf, score
        |  FROM scored)
        |SELECT doc_id, rk, term, tf,
        |  floor(score * 1000000 + 0.5) / 1000000 AS score
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),

    // Robust per-language length-outlier detection (median + MAD).
    QueryDef("text_length_outliers", (s, dir) =>
      Curation.lengthOutliers(docs(s, dir)).orderBy("lang"),
    """WITH med AS (
        |  SELECT lang, quantile_cont(n_chars, 0.5) AS med_chars
        |  FROM documents GROUP BY lang),
        |dev AS (
        |  SELECT d.lang, d.n_chars, m.med_chars,
        |         abs(d.n_chars - m.med_chars) AS adev
        |  FROM documents d JOIN med m ON d.lang = m.lang),
        |mad AS (
        |  SELECT lang, quantile_cont(adev, 0.5) AS mad_chars
        |  FROM dev GROUP BY lang)
        |SELECT dev.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  floor(any_value(dev.med_chars) * 1000000 + 0.5) / 1000000 AS med_chars,
        |  floor(any_value(mad.mad_chars) * 1000000 + 0.5) / 1000000 AS mad_chars,
        |  CAST(sum(CASE WHEN dev.adev > 3.0 * mad.mad_chars THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad ON dev.lang = mad.lang
        |GROUP BY dev.lang ORDER BY dev.lang""".stripMargin),

    // The production dial at its NON-default setting: approx_percentile
    // with accuracy=1000 (10x looser than the 10000 default). The approx
    // median/MAD values are sketch outputs (not cross-engine
    // reproducible), so like the sketch family the row gates the
    // guarantee in-query: for each lang, the returned median's rank
    // window must straddle 0.5 (f_lt = fraction strictly below, <= 0.51;
    // f_le = fraction at-or-below, >= 0.49 — the two-sided form absorbs
    // tie mass and grants 10x the setting's 0.001 rank error for
    // discreteness), and the same for the MAD over
    // deviations-from-approx-median. accuracy=1000, not 100: measured on
    // sf0.01 (n=64-218 per lang), accuracy=100 returns values up to ~9%
    // of ranks off (es: 261 vs exact 311) — far beyond its documented
    // 1/accuracy bound — while 1000 lands on the discrete median element;
    // the dial's floor is where the GK guarantee empirically holds. The
    // oracle pins n_docs exactly and the flags symbolically TRUE: a
    // broken sketch/merge (e.g. accuracy-100-class drift, f_le ~ 0.42)
    // flips a flag and hash-mismatches the row.
    QueryDef("text_length_outliers_approx", (s, dir) => {
      val d = docs(s, dir)
      val ap = Curation.lengthOutliers(d, 3.0, Some(1000))
      val base = d.select(col("lang"), col("n_chars").cast("double").as("v"))
      base
        .join(broadcast(ap.select(col("lang"), col("med_chars"),
          col("mad_chars"))), Seq("lang"))
        .withColumn("adev", abs(col("v") - col("med_chars")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          (sum(when(col("v") < col("med_chars"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("m_lt"),
          (sum(when(col("v") <= col("med_chars"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("m_le"),
          (sum(when(col("adev") < col("mad_chars"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("a_lt"),
          (sum(when(col("adev") <= col("mad_chars"), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("a_le"))
        .select(col("lang"), col("n_docs"),
          (col("m_lt") <= 0.51 && col("m_le") >= 0.49).as("med_ok"),
          (col("a_lt") <= 0.51 && col("a_le") >= 0.49).as("mad_ok"))
        .orderBy("lang")
    },
    // The approx row's med/mad rank-window flags are THEOREMS of the
    // approx_percentile(0.5, 100) guarantee (rank error <= 1/100), so the
    // oracle pins them symbolically and the exact n_docs numerically —
    // the dedup_simhash64 / q_sketch_distinct invariant-gate pattern.
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  TRUE AS med_ok, TRUE AS mad_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Unigram-LM commonness score (log-free CCNet-perplexity cousin —
    // integer sums only, so bit-reproducible across partition orders).
    QueryDef("text_commonness", (s, dir) =>
      TextAnalysis.commonnessQuery(docs(s, dir)).orderBy("doc_id"),
    T +
      """, tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
        |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |        FROM tok GROUP BY term),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok)
        |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(cnt.cnt) AS BIGINT) AS sum_cnt,
        |  floor((CAST(sum(cnt.cnt) AS BIGINT) /
        |         count(*) / any_value(tot.total)) * 1000000 + 0.5) / 1000000
        |    AS commonness
        |FROM tok JOIN cnt ON tok.term = cnt.term CROSS JOIN tot
        |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin),

    // Bigram Stupid-Backoff LM scoring (graft.ops.LanguageModel): the
    // sequence-aware upgrade of text_commonness — per-token backoff
    // probability in per-million fixed point, integer end-to-end, so
    // the oracle replays training (unigram/bigram counts) AND scoring.
    QueryDef("text_lm_score", (s, dir) => {
      val d = docs(s, dir)
      graft.ops.LanguageModel.scoreQuery(d,
        graft.ops.LanguageModel.countsFrame(d))
        .orderBy("doc_id")
    },
    "WITH " + lmChain("TRUE", "TRUE")),
    // ... the model MANAGED (the lmcounts store family): counts trained
    // once per corpus fingerprint; a warm call runs zero training jobs
    // before the scoring joins. Deterministic integer training + exact
    // parquet round-trip => identical scores, same oracle.
    QueryDef("text_lm_score_managed", (s, dir) => {
      val d = docs(s, dir)
      graft.ops.LanguageModel.scoreQuery(d,
        graft.ops.LanguageModel.countsStore(s, d,
          s"$dir/documents.parquet"))
        .orderBy("doc_id")
    },
    "WITH " + lmChain("TRUE", "TRUE")),
    // ... and scored HELD-OUT: the eval split (doc_id % 17 == 0, the
    // decontaminate split) against a model trained on the rest — the
    // configuration where the OOV (score 0) and unseen-bigram backoff
    // paths genuinely fire, which train==score can never exercise.
    QueryDef("text_lm_holdout", (s, dir) => {
      val d = docs(s, dir)
      graft.ops.LanguageModel.scoreQuery(
        d.where(col("doc_id") % 17 === 0),
        graft.ops.LanguageModel.countsFrame(
          d.where(col("doc_id") % 17 =!= 0)))
        .orderBy("doc_id")
    },
    "WITH " +
      lmChain("doc_id % 17 <> 0", "doc_id % 17 = 0"))
  )
}
