package graft.registry

import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, Similarity, TextAnalysis}
import graft.registry.QueryDef.docs
import graft.registry.SimilarityRows.{AutoIvfChain, IvfChain, LshBucketChain}

/** Dedup rows: exact, MinHash/SimHash LSH, substring, n-gram, cluster and
  * embedding-based near-duplicate removal. */
object DedupRows {

  /** The [[Dedup.substringRuns]] CTE body (no leading WITH) — every CTE
    * `ss`-prefixed so the chain composes into other oracles (the v3
    * curation pipeline) without name collisions. */
  private[registry] def substringCtes(k: Int, maxDf: Option[Long]): String = {
    val cut = maxDf match {
      case Some(cap) =>
        s""", sswdf AS (
           |  SELECT wh, count(*) AS df FROM sswins0 GROUP BY wh
           |), sswins AS (
           |  SELECT w.* FROM sswins0 w JOIN sswdf USING (wh) WHERE sswdf.df <= $cap
           |)""".stripMargin
      case None => ", sswins AS (SELECT * FROM sswins0)"
    }
    s"""sstoks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents
       |), sswins0 AS (
       |  SELECT doc_id, g.i - 1 AS pos,
       |    CAST(('0x' || substr(md5(array_to_string(t[g.i:g.i+${k - 1}], ' ')), 1, 12)) AS BIGINT) AS wh
       |  FROM sstoks, LATERAL (
       |    SELECT unnest(generate_series(1, greatest(len(t) - ${k - 1}, 0))) AS i) g
       |)$cut, sscand AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
       |  FROM sswins a JOIN sswins b ON a.wh = b.wh AND a.doc_id < b.doc_id
       |), ssruns AS (
       |  SELECT d1, d2, p1 - p2 AS diag,
       |    p1 - row_number() OVER (PARTITION BY d1, d2, p1 - p2 ORDER BY p1) AS grp,
       |    p1, p2
       |  FROM sscand
       |), ssagg AS (
       |  SELECT d1, d2, CAST(min(p1) AS BIGINT) AS d1_pos,
       |    CAST(min(p2) AS BIGINT) AS d2_pos,
       |    CAST(count(*) + ${k - 1} AS BIGINT) AS run_tokens
       |  FROM ssruns GROUP BY d1, d2, diag, grp
       |), ssvruns AS (
       |  SELECT r.d1, r.d2, r.d1_pos, r.d2_pos, r.run_tokens
       |  FROM ssagg r
       |  JOIN sstoks a ON a.doc_id = r.d1
       |  JOIN sstoks b ON b.doc_id = r.d2
       |  WHERE array_to_string(a.t[r.d1_pos + 1 : r.d1_pos + r.run_tokens], ' ') =
       |        array_to_string(b.t[r.d2_pos + 1 : r.d2_pos + r.run_tokens], ' ')
       |)""".stripMargin
  }

  /** Exact-substring run oracle (`Dedup.substringRuns` digit-for-digit):
    * k-token window hashes (the 48-bit md5-prefix [[graft.ops.Dedup
    * .shingleHash]] mirror), optional hot-window df-cut, posting
    * self-join, per-diagonal gaps-and-islands run merge, and the
    * span-equality verification join. */
  private def substringRunsSql(k: Int, maxDf: Option[Long]): String =
    "WITH " + substringCtes(k, maxDf) +
      "\nSELECT d1, d2, d1_pos, d2_pos, run_tokens FROM ssvruns" +
      "\nORDER BY d1, d2, d1_pos, d2_pos"

  /** [[Dedup.substringRemove]]'s CTE tail over [[substringCtes]]:
    * verified runs -> d2-side cut intervals -> running-max interval
    * merge -> positional token filter -> per-doc rejoin digest, ending
    * in `ssrm(doc_id, n_removed, clean_md5)`. */
  private[registry] val SubstringRemoveCtes: String =
    """, ssiv0 AS (
      |  SELECT DISTINCT d2 AS doc_id, d2_pos AS s,
      |    d2_pos + run_tokens AS e
      |  FROM ssvruns
      |), ssisl AS (
      |  SELECT doc_id, s, e,
      |    sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
      |  FROM (
      |    SELECT doc_id, s, e,
      |      max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
      |    FROM ssiv0)
      |), sscuts AS (
      |  SELECT doc_id, min(s) AS s, max(e) AS e FROM ssisl
      |  GROUP BY doc_id, grp
      |), sspos AS (
      |  SELECT doc_id, t, g.i AS i, t[g.i] AS tok
      |  FROM sstoks, LATERAL (
      |    SELECT unnest(generate_series(1, len(t))) AS i) g
      |), sskept AS (
      |  SELECT p.doc_id, p.i, p.tok
      |  FROM sspos p
      |  WHERE NOT EXISTS (SELECT 1 FROM sscuts c
      |    WHERE c.doc_id = p.doc_id AND p.i - 1 >= c.s AND p.i - 1 < c.e)
      |), ssrm AS (
      |  SELECT d.doc_id,
      |    CAST(len(d.t) - coalesce(kc.n, 0) AS BIGINT) AS n_removed,
      |    coalesce(kc.txt, '') AS clean_text,
      |    md5(coalesce(kc.txt, '')) AS clean_md5
      |  FROM sstoks d
      |  LEFT JOIN (
      |    SELECT doc_id, count(*) AS n,
      |      string_agg(tok, ' ' ORDER BY i) AS txt
      |    FROM sskept GROUP BY doc_id) kc ON kc.doc_id = d.doc_id
      |)""".stripMargin

  private def substringRemoveSql(k: Int, maxDf: Option[Long]): String =
    "WITH " + substringCtes(k, maxDf) + SubstringRemoveCtes +
      "\nSELECT doc_id, n_removed, clean_md5 FROM ssrm ORDER BY doc_id"

  /** The cleaned-CORPUS variant: same chain, but the oracle verifies the
    * cleaned text ITSELF, not a digest of it. */
  private def substringRemoveTextSql(k: Int, maxDf: Option[Long]): String =
    "WITH " + substringCtes(k, maxDf) + SubstringRemoveCtes +
      "\nSELECT doc_id, n_removed, clean_text FROM ssrm ORDER BY doc_id"

  /** [[Dedup.substringRunsIncremental]] replayed: the even/odd batch
    * split's cross-corpus posting join over the SAME window table, then
    * the shared islands + verification tail (the unreferenced self-join
    * CTEs in [[substringCtes]] are never executed — DuckDB inlines CTEs
    * lazily). */
  private def substringIncrementalSql(k: Int): String =
    "WITH " + substringCtes(k, None) +
      s""", ssinc AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1, b.pos AS p2
         |  FROM sswins0 a JOIN sswins0 b ON a.wh = b.wh
         |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
         |), ssincr AS (
         |  SELECT d1, d2, p1 - p2 AS diag,
         |    p1 - row_number() OVER (PARTITION BY d1, d2, p1 - p2 ORDER BY p1) AS grp,
         |    p1, p2
         |  FROM ssinc
         |), ssinca AS (
         |  SELECT d1, d2, CAST(min(p1) AS BIGINT) AS d1_pos,
         |    CAST(min(p2) AS BIGINT) AS d2_pos,
         |    CAST(count(*) + ${k - 1} AS BIGINT) AS run_tokens
         |  FROM ssincr GROUP BY d1, d2, diag, grp
         |)
         |SELECT r.d1, r.d2, r.d1_pos, r.d2_pos, r.run_tokens
         |FROM ssinca r
         |JOIN sstoks a ON a.doc_id = r.d1
         |JOIN sstoks b ON b.doc_id = r.d2
         |WHERE array_to_string(a.t[r.d1_pos + 1 : r.d1_pos + r.run_tokens], ' ') =
         |      array_to_string(b.t[r.d2_pos + 1 : r.d2_pos + r.run_tokens], ' ')
         |ORDER BY d1, d2, d1_pos, d2_pos""".stripMargin

  /** Shingle CTE chain (no leading WITH) shared by the minhash oracles. */
  private[registry] val ShChain =
    """toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
      |)
      |""".stripMargin

  private val SH = "WITH " + ShChain

  /** MinHash signature → band-bucket → candidate-pair CTE chain (no leading
    * WITH), generated from the same parameters as the Scala implementation. */
  private[registry] val MinhashCandChain = ShChain +
    s""", xs AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 12)) AS BIGINT) AS x FROM sh
      |), sig AS (
      |  SELECT doc_id,
      |${(0 until graft.ops.Dedup.NumMinhashes).map { i =>
           val (a, b) = graft.ops.Dedup.minhashParams(i)
           s"    min((x * $a + $b) % ${graft.ops.Dedup.MersenneP}) AS mh$i"
         }.mkString(",\n")}
      |  FROM xs GROUP BY doc_id
      |), buckets AS (
      |${(0 until graft.ops.Dedup.NumBands).map { b =>
           s"  SELECT doc_id, $b AS band, mh${2 * b} AS h1, mh${2 * b + 1} AS h2 FROM sig"
         }.mkString("\n  UNION ALL\n")}
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM buckets a JOIN buckets b
      |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
      |)
      |""".stripMargin

  /** Folded-band-key MinHash candidate CTE chain at an arbitrary
    * (numHashes, numBands) config (no leading WITH) — generated from the
    * same [[graft.ops.Dedup.minhashParams]] constants the Scala side
    * uses, with each band's minhashes folded into a 48-bit md5-prefix
    * key exactly as `Dedup.bandBucketsAt` does. */
  private def minhashFoldedChain(numHashes: Int, numBands: Int): String = {
    val rpb = numHashes / numBands
    ShChain +
      s""", xs AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 12)) AS BIGINT) AS x FROM sh
        |), sig AS (
        |  SELECT doc_id,
        |${(0 until numHashes).map { i =>
             val (a, b) = graft.ops.Dedup.minhashParams(i)
             s"    min((x * $a + $b) % ${graft.ops.Dedup.MersenneP}) AS mh$i"
           }.mkString(",\n")}
        |  FROM xs GROUP BY doc_id
        |), buckets AS (
        |${(0 until numBands).map { b =>
             val key = (0 until rpb)
               .map(i => s"CAST(mh${b * rpb + i} AS VARCHAR)")
               .mkString(" || ',' || ")
             s"  SELECT doc_id, $b AS band, " +
               s"CAST(('0x' || substr(md5($key), 1, 12)) AS BIGINT) AS bkey FROM sig"
           }.mkString("\n  UNION ALL\n")}
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        |)
        |""".stripMargin
  }

  /** SemDeDup keep-list tail over an IvfChain's `assigned`/`nrm` CTEs:
    * a vector is dropped iff a lower-id vector in its cell scores cosine
    * >= 0.35 (shared by dedup_semantic and dedup_semantic_auto). */
  private val SemDedupTail =
    """, dup AS (
      |  SELECT DISTINCT a.vec_id
      |  FROM assigned a JOIN assigned b
      |    ON a.cell = b.cell AND a.vec_id > b.vec_id
      |  JOIN nrm ae ON ae.vec_id = a.vec_id
      |  JOIN nrm be ON be.vec_id = b.vec_id
      |  WHERE round(list_dot_product(CAST(ae.embedding AS DOUBLE[]),
      |                               CAST(be.embedding AS DOUBLE[])) /
      |              nullif(ae.n * be.n, 0), 6) >= 0.35
      |)
      |SELECT a.vec_id AS vec_id, CAST(a.cell AS BIGINT) AS cell,
      |       (d.vec_id IS NULL) AS keep
      |FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
      |ORDER BY a.vec_id""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("dedup_exact", (s, dir) =>
      Dedup.exact(docs(s, dir)).orderBy("keep_id"),
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS cnt
        |FROM documents GROUP BY h ORDER BY keep_id""".stripMargin),
    // Keep-best policy: per content key, keep the LONGEST doc (ties ->
    // lowest id) — the practical keeper choice for near-dup clusters.
    QueryDef("dedup_keep_longest", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.md5Fingerprint(col("text")).as("h"))
        .groupBy("h")
        .agg(
          max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
            .as("keep_id"),
          max(col("n_chars")).as("keep_len"),
          count(lit(1)).as("cnt"))
        .orderBy("keep_id")
    },
    """WITH k AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
        |         doc_id, n_chars FROM documents
        |), r AS (
        |  SELECT h, doc_id,
        |    row_number() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id) AS rn,
        |    max(n_chars) OVER (PARTITION BY h) AS keep_len,
        |    count(*) OVER (PARTITION BY h) AS cnt
        |  FROM k
        |)
        |SELECT h, doc_id AS keep_id, keep_len, cnt
        |FROM r WHERE rn = 1 ORDER BY keep_id""".stripMargin),

    // Normalized exact dedup: case/whitespace-insensitive content key.
    QueryDef("dedup_exact_norm", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.md5Fingerprint(col("text")).as("h"))
        .groupBy("h")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("cnt"))
        .orderBy("keep_id")
    },
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
        |       min(doc_id) AS keep_id, count(*) AS cnt
        |FROM documents GROUP BY h ORDER BY keep_id""".stripMargin),
    QueryDef("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir)).orderBy("d1", "d2"),
    "WITH " + MinhashCandChain +
      """, shs AS (
        |  SELECT doc_id, list(DISTINCT sh) AS shs FROM sh GROUP BY doc_id
        |)
        |SELECT d1, d2,
        |  floor((len(list_intersect(s1.shs, s2.shs)) * 1.0 /
        |         (len(s1.shs) + len(s2.shs) - len(list_intersect(s1.shs, s2.shs))))
        |        * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM cand JOIN shs s1 ON cand.d1 = s1.doc_id JOIN shs s2 ON cand.d2 = s2.doc_id
        |ORDER BY d1, d2""".stripMargin),
    // The production LSH dial, exercised at a NON-default configuration
    // (16 hashes, 8 bands of 2): each band's minhashes fold into one
    // 48-bit md5-prefix key, so the banding schema is config-independent —
    // the executable form of SCALING.md's "raise bands/hashes, topology
    // unchanged". The oracle regenerates the folded chain from the same
    // constants, so collisions (which only add verified candidates)
    // reproduce identically on both sides.
    QueryDef("dedup_minhash_wide", (s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), 16, 8).orderBy("d1", "d2"),
    "WITH " + minhashFoldedChain(16, 8) +
      """, shs AS (
        |  SELECT doc_id, list(DISTINCT sh) AS shs FROM sh GROUP BY doc_id
        |)
        |SELECT d1, d2,
        |  floor((len(list_intersect(s1.shs, s2.shs)) * 1.0 /
        |         (len(s1.shs) + len(s2.shs) - len(list_intersect(s1.shs, s2.shs))))
        |        * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM cand JOIN shs s1 ON cand.d1 = s1.doc_id JOIN shs s2 ON cand.d2 = s2.doc_id
        |ORDER BY d1, d2""".stripMargin),
    // Incremental dedup: new batch (odd doc_ids) vs existing corpus (even).
    // The corpus side's band buckets come from the persisted signature
    // store (built on first run, reloaded after), so repeat batches never
    // recompute the old corpus's signatures.
    QueryDef("dedup_incremental", (s, dir) => {
      val d = docs(s, dir)
      val old = d.where(col("doc_id") % 2 === 0)
      val ob = Dedup.bandBucketStore(s, old, s"$dir/documents.parquet",
        "incr_even")
      Dedup.crossCorpusPairs(d.where(col("doc_id") % 2 === 1), old, Some(ob))
        .orderBy("new_id", "old_id")
    },
    "WITH " + MinhashCandChain +
      """, icand AS (
        |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
        |   AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |), shs AS (
        |  SELECT doc_id, list(DISTINCT sh) AS shs FROM sh GROUP BY doc_id
        |)
        |SELECT new_id, old_id,
        |  floor((len(list_intersect(s1.shs, s2.shs)) * 1.0 /
        |         (len(s1.shs) + len(s2.shs) - len(list_intersect(s1.shs, s2.shs))))
        |        * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM icand JOIN shs s1 ON icand.new_id = s1.doc_id
        |           JOIN shs s2 ON icand.old_id = s2.doc_id
        |ORDER BY new_id, old_id""".stripMargin),
    QueryDef("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(docs(s, dir)).orderBy("d1", "d2"),
    """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |), cnts AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt,
        |         CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) AS h
        |  FROM tok GROUP BY doc_id, tok
        |), bits AS (
        |  SELECT doc_id, bit,
        |         CAST(sum(CASE WHEN (h >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS BIGINT) AS w
        |  FROM cnts, LATERAL (SELECT unnest(generate_series(0, 15)) AS bit) g
        |  GROUP BY doc_id, bit
        |), sig AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id
        |), chunks AS (
        |  SELECT doc_id, simhash, c, (simhash >> (c * 4)) & 15 AS ckey
        |  FROM sig, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c) g
        |)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM chunks a JOIN chunks b
        |  ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY d1, d2""".stripMargin),
    // Production-width gate: the 64-bit xxhash64 SimHash path — the width
    // a 100 TB corpus actually runs — is not SQL-expressible (DuckDB has
    // no xxhash64), so like the ANN recall gates the query emits
    // oracle-checkable INVARIANTS instead of the raw pairs: two docs with
    // the same token-count multiset have identical simhash at ANY width,
    // so every multiset-equal pair MUST appear in the 64-bit pair set at
    // hamming 0. The oracle computes the multiset-pair count from the
    // same md5 fingerprint and pins n_in64_h0 = n_multiset_pairs and
    // covered = true symbolically — a 64-bit regression (missed pair,
    // broken chunk banding, wrong re-expansion) flips the Spark side and
    // hash-mismatches the row.
    QueryDef("dedup_simhash64", (s, dir) => {
      val d = docs(s, dir)
      val pairs64 = Dedup.simhashPairs(d, bits = 64)
      // md5(tok) (fixed-width hex) rather than the raw token in the
      // multiset fingerprint: a token containing ':' or '|' would make the
      // raw encoding non-injective ('a:1|b' x1 vs {'a','b'} x1 collide),
      // turning a non-pair into a "multiset pair" and flipping covered —
      // a false gate failure. Hashing each token first makes the
      // sorted-join encoding injective (same md5 both engines).
      val fp = d
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(md5(array_join(array_sort(collect_list(
          concat_ws(":", md5(col("tok")), col("cnt")))), "|")).as("fp"))
      val mpairs = fp.as("a")
        .join(fp.as("b").hint("SHUFFLE_MERGE"), // corpus self-join: never broadcast
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      mpairs
        .join(pairs64.where(col("hamming") === 0)
          .select(col("d1"), col("d2"), lit(1L).as("_hit")),
          Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_multiset_pairs"),
          count(col("_hit")).as("n_in64_h0"))
        .select(col("n_multiset_pairs"), col("n_in64_h0"),
          (col("n_multiset_pairs") === col("n_in64_h0")).as("covered"))
    },
    // Invariant gate for the 64-bit path (see the registry comment): the
    // oracle derives the multiset-equal pair count from the identical md5
    // fingerprint and pins the containment symbolically — n_in64_h0 and
    // covered are THEOREMS (same multiset ⇒ same signature ⇒ hamming 0 ⇒
    // emitted by the banding join), so any divergence is a Spark-side bug.
    """WITH cnts AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |        FROM documents) t
        |  GROUP BY doc_id, tok
        |), fp AS (
        |  SELECT doc_id,
        |    md5(array_to_string(
        |      list_sort(list(md5(tok) || ':' || CAST(cnt AS VARCHAR))), '|')) AS fp
        |  FROM cnts GROUP BY doc_id
        |), mp AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_multiset_pairs,
        |       CAST(count(*) AS BIGINT) AS n_in64_h0,
        |       TRUE AS covered
        |FROM mp""".stripMargin),
    QueryDef("dedup_ngram_jaccard", (s, dir) =>
      Dedup.blockedNgramJaccard(docs(s, dir), 0.1).orderBy("d1", "d2"),
    SH +
      """, shsagg AS (
        |  SELECT doc_id, list(DISTINCT sh) AS shs FROM sh GROUP BY doc_id
        |), shs AS (
        |  SELECT d.doc_id, d.lang, d.source, s.shs
        |  FROM documents d JOIN shsagg s ON d.doc_id = s.doc_id
        |)
        |SELECT * FROM (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    floor((len(list_intersect(a.shs, b.shs)) * 1.0 /
        |           (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))))
        |          * 1000000 + 0.5) / 1000000 AS jaccard
        |  FROM shs a JOIN shs b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |) WHERE jaccard >= 0.1
        |ORDER BY d1, d2""".stripMargin),
    // Stop-shingle guard: drop shingles with block document-frequency > 2
    // before the posting join (boilerplate bound — worst posting group is
    // maxShingleDf, not corpus size), score the survivors at a low
    // threshold so the cut's effect is visible in the result.
    QueryDef("dedup_ngram_jaccard_dfcut", (s, dir) =>
      Dedup.blockedNgramJaccard(docs(s, dir), 0.02, Some(2L))
        .orderBy("d1", "d2"),
    // df-cut variant mirrors the Spark posting-join (inter-driven) shape:
    // distinct per-doc shingles -> block document frequency -> drop
    // stop-shingles -> sizes and shared-shingle counts over the survivors.
    """WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), dsh AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM toks, LATERAL (
        |    SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
        |), df AS (
        |  SELECT lang, source, sh, count(*) AS df FROM dsh GROUP BY 1, 2, 3
        |), kept AS (
        |  SELECT dsh.* FROM dsh JOIN df USING (lang, source, sh)
        |  WHERE df.df <= 2
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM kept a JOIN kept b
        |    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh
        |       AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT d1, d2, jaccard FROM (
        |  SELECT d1, d2,
        |    floor((i.inter * 1.0 / (x.sz + y.sz - i.inter)) * 1000000 + 0.5)
        |      / 1000000 AS jaccard
        |  FROM inter i JOIN sizes x ON i.d1 = x.doc_id
        |               JOIN sizes y ON i.d2 = y.doc_id
        |) WHERE jaccard >= 0.02
        |ORDER BY d1, d2""".stripMargin),
    // Asymmetric containment (quote/subset detection) on the same blocks.
    QueryDef("dedup_containment", (s, dir) =>
      Dedup.blockedContainment(docs(s, dir), 0.01).orderBy("d1", "d2"),
    SH +
      """, shsagg AS (
        |  SELECT doc_id, list(DISTINCT sh) AS shs FROM sh GROUP BY doc_id
        |), shs AS (
        |  SELECT d.doc_id, d.lang, d.source, s.shs
        |  FROM documents d JOIN shsagg s ON d.doc_id = s.doc_id
        |)
        |SELECT d1, d2, containment FROM (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    floor((len(list_intersect(a.shs, b.shs)) * 1.0 /
        |           least(len(a.shs), len(b.shs))) * 1000000 + 0.5) / 1000000
        |      AS containment
        |  FROM shs a JOIN shs b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id) t
        |WHERE containment >= 0.01
        |ORDER BY d1, d2""".stripMargin),
    // ... with the stop-shingle df-cut (block df > 2 dropped before the
    // posting join) — closes the one posting family that still lacked
    // the boilerplate hot-key guard.
    QueryDef("dedup_containment_dfcut", (s, dir) =>
      Dedup.blockedContainment(docs(s, dir), 0.01, Some(2L))
        .orderBy("d1", "d2"),
    // df-cut containment replays the Spark shape declaratively: distinct
    // per-doc shingles -> block document frequency -> drop stop-shingles
    // -> sizes and shared counts over the SURVIVORS, min-size denominator.
    """WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), dsh AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        |  FROM toks, LATERAL (
        |    SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) g
        |), df AS (
        |  SELECT lang, source, sh, count(*) AS df FROM dsh GROUP BY 1, 2, 3
        |), kept AS (
        |  SELECT dsh.* FROM dsh JOIN df USING (lang, source, sh)
        |  WHERE df.df <= 2
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM kept a JOIN kept b
        |    ON a.lang = b.lang AND a.source = b.source AND a.sh = b.sh
        |       AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT d1, d2, containment FROM (
        |  SELECT d1, d2,
        |    floor((i.inter * 1.0 / least(x.sz, y.sz)) * 1000000 + 0.5)
        |      / 1000000 AS containment
        |  FROM inter i JOIN sizes x ON i.d1 = x.doc_id
        |               JOIN sizes y ON i.d2 = y.doc_id
        |) WHERE containment >= 0.01
        |ORDER BY d1, d2""".stripMargin),
    // Exact-substring duplication: maximal runs of >= 8 consecutive
    // tokens shared verbatim between two documents (shingle-anchor
    // candidates -> diagonal gaps-and-islands extension -> span-equality
    // verification). The repeated-substring class document-level dedup
    // cannot see; every run row hash-compares.
    QueryDef("dedup_substring", (s, dir) =>
      Dedup.substringRuns(docs(s, dir), 8)
        .orderBy("d1", "d2", "d1_pos", "d2_pos"),
    // Exact-substring runs: window-hash anchors -> diagonal
    // gaps-and-islands extension -> span-equality verification
    // (Dedup.substringRuns digit-for-digit).
    substringRunsSql(8, None)),
    // ... with the hot-window guard (window hashes in more than 3
    // positions are dropped before the posting join — the dfcut
    // precedent; a cut window splits the runs it interrupts).
    QueryDef("dedup_substring_dfcut", (s, dir) =>
      Dedup.substringRuns(docs(s, dir), 8, Some(3L))
        .orderBy("d1", "d2", "d1_pos", "d2_pos"),
    substringRunsSql(8, Some(3L))),
    // ... and the removal ACTION on those detections (the suffix-array
    // paper's actual operation): lowest-id doc keeps each shared run,
    // every other holder has the merged spans cut from its token
    // stream. One row per doc; cleaned text digested.
    QueryDef("dedup_substring_remove", (s, dir) =>
      Dedup.substringRemove(docs(s, dir), 8).orderBy("doc_id"),
    substringRemoveSql(8, None)),
    // ... and the removal's PRODUCT: the cleaned corpus itself — one row
    // per doc with the whitespace-normalized text after every marked
    // span is cut. The oracle verifies the text verbatim, not a digest
    // (the round-17 "computes the cleaned corpus and throws it away"
    // finding, closed).
    QueryDef("dedup_substring_remove_text", (s, dir) =>
      Dedup.substringRemoveText(docs(s, dir), 8)
        .select(col("doc_id"), col("n_removed"), col("clean_text"))
        .orderBy("doc_id"),
    substringRemoveTextSql(8, None)),
    // Incremental substring detection: new batch (odd doc_ids) vs the
    // existing corpus (even), with the corpus side's window-hash
    // postings served from the persisted substringPostingStore — repeat
    // batches never re-tokenize the old corpus (the dedup_incremental
    // convention applied to the family that reads inside documents).
    QueryDef("dedup_substring_incremental", (s, dir) => {
      val d = docs(s, dir)
      val old = d.where(col("doc_id") % 2 === 0)
      val posting = Dedup.substringPostingStore(s, old,
        s"$dir/documents.parquet", "sswin_even", 8)
      Dedup.substringRunsIncremental(d.where(col("doc_id") % 2 === 1),
        old, posting, 8)
        .orderBy("d1", "d2", "d1_pos", "d2_pos")
    },
    substringIncrementalSql(8)),
    QueryDef("dedup_embedding", (s, dir) =>
      Dedup.embeddingPairs(s.read.parquet(s"$dir/embeddings.parquet"), 0.35)
        .orderBy("d1", "d2"),
    """SELECT a.vec_id AS d1, b.vec_id AS d2,
        |  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |        nullif(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |         sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 6) AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |        nullif(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |         sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 6) >= 0.35
        |ORDER BY d1, d2""".stripMargin),
    // Embedding-level benchmark decontamination (the n-gram
    // text_decontaminate's semantic twin): drop any corpus vector with
    // cosine >= 0.8 to the stand-in eval set (vec_id < 20, broadcast;
    // self-pairs excluded). One row per vector, max_cos hash-compared.
    QueryDef("decontaminate_semantic", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Dedup.semanticDecontaminate(emb, emb.where(col("vec_id") < 20), 0.8,
        excludeSelfIds = true) // in-corpus stand-in benchmark only
        .orderBy("vec_id")
    },
    // max over the broadcast benchmark scores; keep defaults true when
    // no comparable neighbor exists (all-NULL cosines)
    """WITH nrm AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS n
        |  FROM embeddings
        |), mc AS (
        |  SELECT c.vec_id,
        |    max(list_dot_product(CAST(c.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])) /
        |        nullif(c.n * b.n, 0)) AS mc
        |  FROM nrm c JOIN nrm b ON b.vec_id < 20 AND b.vec_id <> c.vec_id
        |  GROUP BY c.vec_id
        |)
        |SELECT vec_id, round(mc, 6) AS max_cos,
        |  coalesce(mc < 0.8, true) AS keep
        |FROM mc ORDER BY vec_id""".stripMargin),
    // SemDeDup: IVF-cell-blocked semantic dedup keep-list (drop vectors
    // with a lower-id in-cell neighbor at cosine >= 0.35). Shares the
    // sim_ann_ivf centroid/assignment machinery and its oracle chain.
    QueryDef("dedup_semantic", (s, dir) =>
      Dedup.semanticDedup(s.read.parquet(s"$dir/embeddings.parquet"), 0.35)
        .orderBy("vec_id"),
    // SemDeDup keep-list over the sim_ann_ivf assignment chain: the
    // `assigned` CTE is the identical deterministic cell assignment
    // (1 Lloyd iteration, nLists 16); a vector is dropped iff a lower-id
    // vector in its cell scores cosine >= 0.35.
    "WITH " + IvfChain + SemDedupTail),
    // SemDeDup with the scale-aware sqrt-n nLists dial (non-default:
    // 23 cells at sf0.01 vs the fixed 16) — the auto IvfChain oracle
    // recomputes the same nLists from count(*), so cell assignment AND
    // the keep-list at the auto dial hash-compare end-to-end.
    QueryDef("dedup_semantic_auto", (s, dir) =>
      Dedup.semanticDedupAuto(s.read.parquet(s"$dir/embeddings.parquet"),
        0.35).orderBy("vec_id"),
    // Same SemDeDup tail over the AUTO chain: nLists recomputed from
    // count(*) inside the SQL, pinning the scale-aware dial's value.
    "WITH " + AutoIvfChain + SemDedupTail),
    // Full pipeline: LSH candidates -> connected components -> keep-list.
    QueryDef("dedup_cluster_keep", (s, dir) =>
      Dedup.clusterKeepList(docs(s, dir)).orderBy("doc_id"),
    "WITH RECURSIVE " + MinhashCandChain +
      """, edges AS (
        |  SELECT d1 AS a, d2 AS b FROM cand
        |  UNION ALL SELECT d2, d1 FROM cand
        |), reach AS (
        |  SELECT doc_id AS node, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node
        |)
        |SELECT node AS doc_id, min(label) AS cluster,
        |       (node = min(label)) AS keep
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),
    // Scale path: LSH-bucket blocking instead of the label column (the
    // "at 100 TB the block key is an LSH bucket" variant); full SQL
    // oracle via the LshBucketChain CTEs. Same shape as
    // Similarity.lshTopK: the bucket self-join carries ONLY
    // (vec_id, tbl, bits) — embeddings never ride the ×NumTables explode
    // shuffle — and each candidate pair is scored once after an
    // id-distinct, with vectors joined back for the single scoring pass.
    QueryDef("dedup_embedding_lsh", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val buckets = emb
        .withColumn("_mask", graft.ops.Similarity.hyperplaneMask(col("embedding")))
        .withColumn("bb",
          explode(graft.ops.Similarity.bucketsFromMask(col("_mask"))))
        .select(col("vec_id"), col("bb.tbl").as("tbl"), col("bb.bits").as("bits"))
      // Corpus bucket SELF-join + corpus-float rerank joins: pinned to
      // shuffle joins (never a corpus-sized broadcast build — the
      // round-16 plan audit; same rule as Dedup.minhashCandidates).
      val cand = buckets.as("a")
        .join(buckets.as("b").hint("SHUFFLE_MERGE"),
          col("a.tbl") === col("b.tbl") && col("a.bits") === col("b.bits") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
        .distinct()
      val v = emb.select(col("vec_id"), col("embedding"),
        graft.ops.Similarity.norm(col("embedding")).as("_n"))
      cand
        .join(v.select(col("vec_id").as("d1"), col("embedding").as("_e1"),
          col("_n").as("_n1")).hint("SHUFFLE_MERGE"), "d1")
        .join(v.select(col("vec_id").as("d2"), col("embedding").as("_e2"),
          col("_n").as("_n2")).hint("SHUFFLE_MERGE"), "d2")
        .select(col("d1"), col("d2"),
          round(graft.ops.Similarity.cosFromDot(
            graft.ops.Similarity.dot(col("_e1"), col("_e2")),
            col("_n1"), col("_n2")), 6).as("cos"))
        .where(col("cos") >= 0.3)
        .orderBy("d1", "d2")
    },
    "WITH " + LshBucketChain +
      """SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2,
        |  round(list_dot_product(CAST(ae.embedding AS DOUBLE[]),
        |                         CAST(be.embedding AS DOUBLE[])) /
        |        nullif(an.n * bn.n, 0), 6) AS cos
        |FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bits = b.bits
        |  AND a.vec_id < b.vec_id
        |JOIN embeddings ae ON ae.vec_id = a.vec_id
        |JOIN embeddings be ON be.vec_id = b.vec_id
        |JOIN nrm an ON an.vec_id = a.vec_id
        |JOIN nrm bn ON bn.vec_id = b.vec_id
        |WHERE round(list_dot_product(CAST(ae.embedding AS DOUBLE[]),
        |                             CAST(be.embedding AS DOUBLE[])) /
        |            nullif(an.n * bn.n, 0), 6) >= 0.3
        |ORDER BY d1, d2""".stripMargin),

    // CCNet/RefinedWeb-style sub-document dedup: 10-token chunks shared
    // across documents are stripped everywhere but their first occurrence.
    QueryDef("dedup_chunks", (s, dir) =>
      Curation.chunkDedup(docs(s, dir), 10).orderBy("doc_id"),
    """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents
        |), ch AS (
        |  SELECT doc_id, i AS chunk_id,
        |         array_to_string(t[(i*10+1):(i*10+10)], ' ') AS chunk
        |  FROM toks, LATERAL (
        |    SELECT unnest(generate_series(0, (len(t) - 1) // 10)) AS i) g
        |), own AS (
        |  SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY chunk
        |), f1 AS (
        |  SELECT chunk, min(doc_id) AS fdoc FROM ch GROUP BY chunk
        |), f2 AS (
        |  SELECT c.chunk, f1.fdoc, min(c.chunk_id) AS fcid
        |  FROM ch c JOIN f1 ON c.chunk = f1.chunk AND c.doc_id = f1.fdoc
        |  GROUP BY c.chunk, f1.fdoc
        |), m AS (
        |  SELECT c.doc_id, c.chunk_id, c.chunk,
        |    (o.df = 1 OR (c.doc_id = f2.fdoc AND c.chunk_id = f2.fcid)) AS keep
        |  FROM ch c JOIN own o ON c.chunk = o.chunk JOIN f2 ON c.chunk = f2.chunk)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(
        |    string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY chunk_id),
        |    '')) AS clean_md5
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )
}
