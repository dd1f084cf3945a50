package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the FAISS-family vector-compression step
  * beyond [[Quantization int8]]: split each d-dim embedding into `m`
  * contiguous subvectors of d/m dims, train a tiny per-subspace codebook
  * (k centroids each), and store each vector as its `m` centroid ids —
  * m·log2(k) bits instead of 4·d bytes (64-dim float32 → 8 nibbles: 64×
  * smaller). Search never reconstructs the corpus: ADC (asymmetric
  * distance computation) scores a FLOAT query against the CODES through a
  * per-query lookup table of subspace dot products.
  *
  * This is the spherical-PQ variant: subspace assignment is argmax-COSINE
  * against the codebook (not argmin-L2) so it shares bit-for-bit
  * machinery — and therefore the DuckDB oracle chain — with the IVF
  * coarse quantizer ([[Similarity.seedCentroids]] deterministic seeds +
  * [[Similarity.refineCentroids]] Lloyd refinement +
  * [[graft.functions.NearestCentroid]] map-only assignment). The engine's
  * similarity metric is cosine throughout, which is exactly the regime
  * where spherical k-means codebooks are the published choice.
  *
  * Scale shape (the reason PQ exists at 100 TB):
  *   - training touches the corpus m×(lloydIters+1) times but collects
  *     only m·k centroid rows (k·d floats total — kilobytes) to the
  *     driver, the same always-collectable coarse-quantizer shape as IVF;
  *   - [[encode]] is a pure map: m [[graft.functions.NearestCentroid]]
  *     kernels over array slices, no shuffle, no join, no expansion —
  *     pinned shuffle-free in PlanInvariantSpec;
  *   - [[adcTopK]] explodes only (vec_id, sub, code) — ids and two small
  *     ints, never the vectors — and joins that against a BROADCAST
  *     per-query LUT of m·k dot products, then partial-aggregates the m
  *     parts per (query, vector). The corpus-sized side stays narrow the
  *     whole way; the float corpus is read only by `encode`, once.
  *
  * Reference surface: the reference connector has no vector ops — this is
  * part of the beyond-parity training-data engine (SURVEY §2 "LLM-data"
  * rows), mirroring the IVF/LSH families' design contract.
  */
object ProductQuantization {

  /** Trained per-subspace codebooks. `subs(i)` holds subspace i's
    * centroid ids (= seed vec_ids, ascending), vectors and norms. */
  final case class Codebooks(m: Int, subDim: Int, k: Int,
      subs: IndexedSeq[Similarity.LocalCentroids]) {
    // The flat-LUT scoring path ([[lutArray]]/[[cn2Array]] +
    // [[graft.functions.LookupSum]]) indexes slot s·k + c with NO bounds
    // check in generated code, so cell ids must be dense-range: a corpus
    // whose seed vec_ids are not in [0, k) would corrupt scores (or throw
    // ArrayIndexOutOfBounds) instead of failing fast here.
    require(subs.forall(_.cells.forall(c => c >= 0 && c < k)),
      s"PQ codebook cells must lie in [0, $k): flat-LUT slots are s*k + c")
  }

  /** Scheme version for [[pqCodeStore]] — bump on any arithmetic change
    * (seeding, metric, refinement) so stale stores rebuild by key-miss. */
  val CodeStoreVersion = "v1-pq-cos"

  /** Train `m` codebooks of `k` centroids each over contiguous subvector
    * slices. Deterministic: seeds are the first `k` corpus vectors'
    * slices (the [[Similarity.seedCentroids]] rule applied per subspace),
    * refined by `lloydIters` Lloyd iterations. `dim` must be divisible by
    * `m`.
    *
    * ALL m subspaces train in the same jobs — never m separate passes:
    * the k seed rows are collected once and sliced driver-side, and each
    * Lloyd iteration is ONE corpus pass (m map-only
    * [[graft.functions.NearestCentroid]] assignments, `inline`-stacked to
    * (sub, cell, slice) rows, one groupBy(sub, cell) through the
    * [[graft.functions.VectorMean]] primitive-buffer aggregate) followed
    * by one m·k-row collect. At 100 TB the per-iteration cost is a single
    * narrow shuffle of (two ints, subDim floats) rows — independent of m
    * in pass count.
    *
    * Means, float narrowing, and norms reproduce
    * [[Similarity.refineCentroids]] exactly (double per-dim mean → float
    * cast → in-order double norm), so the per-subspace DuckDB oracle
    * chain is the IvfChain recipe on array slices. Cells that lose every
    * member during refinement drop out, ascending cell order throughout.
    *
    * `dimHint` spares the 1-row head job that otherwise reads the
    * dimension off the first vector — pass it when the corpus is a
    * derived frame (the [[Similarity.ivfTopKAuto]] corpusRows
    * precedent). */
  def train(corpus: DataFrame, m: Int = 16, k: Int = 32, lloydIters: Int = 1,
            vecCol: String = "embedding", dimHint: Option[Int] = None): Codebooks = {
    val dim = dimHint.getOrElse(
      corpus.select(size(col(vecCol)).as("d")).head().getInt(0))
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    def sliceBook(rows: Seq[(Long, Array[Float])]): IndexedSeq[Similarity.LocalCentroids] = {
      val sorted = rows.sortBy(_._1)
      val ids = sorted.map(_._1).toArray
      (0 until m).map { i =>
        val vecs = sorted.map(_._2.slice(i * subDim, (i + 1) * subDim)).toArray
        Similarity.LocalCentroids(ids, vecs,
          vecs.map(v => math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))))
      }
    }
    val seeds = sliceBook(
      corpus.where(col("vec_id") < k).select(col("vec_id"), col(vecCol))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
    val subs = (1 to lloydIters).foldLeft(seeds) { (books, _) =>
      // All m assignments come from ONE PqEncode kernel evaluation per
      // row (computed in its own projection so the 16 element_at struct
      // references never duplicate it); the former 16 inline
      // NearestCentroid instances bloated the stage's generated code —
      // the same round-16 finding as the encode path.
      val stacked = corpus
        .withColumn("_pc", graft.functions.VectorExpressions.pqEncode(
          col(vecCol),
          Array.tabulate(m)(i => books(i).cells),
          Array.tabulate(m)(i => books(i).vecs),
          Array.tabulate(m)(i => books(i).norms), subDim))
        .select(inline(array((0 until m).map { i =>
          struct(lit(i).as("sub"),
            element_at(col("_pc"), i + 1).cast("long").as("cell"),
            slice(col(vecCol), i * subDim + 1, subDim).as("sv"))
        }: _*)))
      val means = stacked.groupBy("sub", "cell")
        .agg(graft.functions.VectorExpressions.vecMean(col("sv")).as("mv"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1),
          r.getSeq[Double](2).map(_.toFloat).toArray))
      (0 until m).map { i =>
        val rows = means.filter(_._1 == i).sortBy(_._2)
        val vecs = rows.map(_._3)
        Similarity.LocalCentroids(rows.map(_._2), vecs,
          vecs.map(v => math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))))
      }
    }
    Codebooks(m, subDim, k, subs)
  }

  /** Append `pq_code` (array<int>, length m) — subspace-wise nearest
    * codebook entry. Pure map: ONE [[graft.functions.PqEncode]] kernel
    * evaluation per row (zero-norm slice → lowest cell, the kernel's
    * documented tie rule). The former m-kernel `array(...)` construction
    * is semantically identical but its inline generated code pushed
    * downstream stages out of whole-stage codegen — see the kernel's
    * scaladoc for the measured cost. */
  def encode(df: DataFrame, cb: Codebooks,
             vecCol: String = "embedding"): DataFrame =
    df.withColumn("pq_code",
      graft.functions.VectorExpressions.pqEncode(col(vecCol),
        Array.tabulate(cb.m)(i => cb.subs(i).cells),
        Array.tabulate(cb.m)(i => cb.subs(i).vecs),
        Array.tabulate(cb.m)(i => cb.subs(i).norms),
        cb.subDim))

  /** Flat per-query LUT column: m·k doubles, slot s·k + c holding
    * dot(q_s, cb_{s,c}) — ONE [[graft.functions.AdcLut]] kernel
    * evaluation per query row (the codebooks ride as primitive float
    * references), so the LUT costs one map over Q rows, ZERO joins, and
    * a constant-size plan. Codebook cells that dropped out during
    * refinement leave 0.0 slots that no code ever references. */
  private def lutArray(cb: Codebooks, qe: Column): Column = {
    val cents: Array[Array[Array[Float]]] = Array.tabulate(cb.m) { s =>
      Array.tabulate(cb.k) { c =>
        val j = cb.subs(s).cells.indexOf(c.toLong)
        if (j < 0) null else cb.subs(s).vecs(j)
      }
    }
    graft.functions.VectorExpressions.adcLut(qe, cents, cb.subDim)
  }

  /** The matching flat |c_{s,c}|² literal array (m·k doubles — one global
    * constant, not per query). */
  private def cn2Array(cb: Codebooks): Column = typedlit((for {
    s <- 0 until cb.m
    c <- 0 until cb.k
  } yield {
    val j = cb.subs(s).cells.indexOf(c.toLong)
    if (j < 0) 0.0 else cb.subs(s).norms(j) * cb.subs(s).norms(j)
  }).toIndexedSeq)

  /** Σ_s arr[s·k + code_s] via the [[graft.functions.LookupSum]] codegen
    * kernel — ascending-subspace accumulation (deterministic order; every
    * consumer rounds to 6 decimals before ranking, so the sum-order
    * change vs the former hash-aggregate is invisible at the gates). An
    * element_at chain here pushed the scoring stage out of whole-stage
    * codegen (measured >100 µs/pair interpreted); the kernel is a tight
    * primitive loop. */
  private def sumLookup(arr: Column, code: Column, k: Int): Column =
    graft.functions.VectorExpressions.lookupSum(arr, code, k)

  /** The ADC query side: [[Similarity.queryFloats]] `qf` plus each
    * query's flat LUT — (query_id, _qe, _qn, _lut), one broadcast row per
    * query (the [[AdcMaxQueryBatch]] contract). Consumers that never read
    * `_qe` have it pruned before the broadcast. */
  private def adcQueryLut(qf: DataFrame, cb: Codebooks): DataFrame =
    qf.select(col("query_id"), col("_qe"), col("_qn"),
      lutArray(cb, col("_qe")).as("_lut"))

  /** The ADC score of a (query LUT, pq_code) pair:
    * Σ_s lut[s·k + code_s] / (|q| · |x̂|), with |x̂|² = Σ_s |c_{s,code_s}|²
    * read off the same codes — the reconstruction is never
    * materialized. Unrounded; every consumer ranks on the 6-decimal
    * rounding ([[finishAdc]]). */
  private def adcScore(cb: Codebooks): Column =
    Similarity.cosFromDot(
      sumLookup(col("_lut"), col("pq_code"), cb.k),
      sqrt(sumLookup(cn2Array(cb), col("pq_code"), cb.k)),
      col("_qn"))

  /** ADC approximate top-k by cosine: score(q, x) ≈
    * Σ_i dot(q_i, c_{i,code_i(x)}) / (|q| · |x̂|), with |x̂|² = Σ_i |c|²
    * read off the same lookup rows — the reconstruction is never
    * materialized. Corpus side: encode (map) → posexplode of the m-int
    * code (ids only) → broadcast-join the per-query LUT (queries × m·k
    * dot products) → partial-agg sum of the m parts. Self-pairs excluded;
    * ties break on neighbor id; zero norms rank last (null score).
    *
    * `rerank` > 0 switches to the production two-stage shape: take the
    * ADC top-`rerank` candidates per query, score exactly ONLY those
    * against the float corpus, return the exact top-k (column `cos`).
    * With rerank = 0 the ADC score itself is returned (column `adc`). */
  def adcTopK(corpus: DataFrame, queries: DataFrame, k: Int, cb: Codebooks,
              rerank: Int = 0, vecCol: String = "embedding"): DataFrame =
    adcSearch(
      materialized(encode(corpus, cb, vecCol)
        .select(col("vec_id"), col("pq_code"))),
      cb, queries, k, rerank,
      rerankCorpus = if (rerank > 0) Some(corpus) else None, vecCol = vecCol)

  /** Row-materialization barrier: forces every column of `df` to be
    * computed ONCE per row before whatever consumes it. Whole-stage
    * codegen evaluates stream-side columns lazily at first use — for a
    * derived column consumed inside a join's matched-row loop that means
    * once per PAIR, not once per row (measured: the in-plan encode under
    * the full-scan ADC join re-ran the encode kernel Q× per vector —
    * 21 s of the 28 s total at the 100× probe). The ser/de pair this
    * inserts is a narrow-row identity pass (~µs/row) and an optimizer
    * fence; the production path reads codes from [[pqStore]] and needs
    * no barrier (scan columns are always materialized). */
  private def materialized(df: DataFrame): DataFrame =
    df.mapPartitions(it => it)(
      org.apache.spark.sql.Encoders.row(df.schema))

  /** [[adcTopK]] over PRE-BUILT codes — the managed path: `codes` is
    * (vec_id, pq_code) (e.g. read from [[pqStore]]), so the float corpus
    * is touched only by the optional exact-rerank stage
    * (`rerankCorpus`, required when `rerank > 0` — at scale that stage
    * reads `rerank` vectors per query, not the corpus).
    *
    * CONTRACT — bounded query batch: the per-query LUT broadcast grows
    * linearly with the query count (m·k rows per query); keep batches at
    * or under [[AdcMaxQueryBatch]] (the broadcast-size arithmetic lives
    * on that constant) and route anything larger through
    * [[adcSearchChunked]]. */
  def adcSearch(codes: DataFrame, cb: Codebooks, queries: DataFrame, k: Int,
                rerank: Int = 0, rerankCorpus: Option[DataFrame] = None,
                vecCol: String = "embedding"): DataFrame = {
    require(rerank <= 0 || rerankCorpus.nonEmpty,
      "rerank > 0 needs rerankCorpus (the float vectors to rescore)")
    // Round-16 rewrite: the former shape exploded the code table to
    // (vec_id, sub, code) ROWS and hash-joined a per-query LUT relation,
    // re-assembling the m parts with a partial-agg shuffle — the phase
    // bisection at the 100× probe measured that explode→aggregate
    // pipeline at >half the total search cost. ADC is a LOOKUP, not a
    // join: each query ships one flat m·k-double LUT array (built
    // map-only from literal centroids), and each (query, vector) pair is
    // scored by m static element_at terms — the published PQ scan cost
    // as one whole-stage-codegen map, with NO explode and NO aggregation
    // shuffle. The only broadcast is Q × (m·k + 1) doubles ≈ 4 KB/query
    // at the default dials (the [[AdcMaxQueryBatch]] contract, now ~15×
    // lighter per query than the former LUT-relation rows).
    val qf = Similarity.queryFloats(queries, vecCol)
    val scored = codes
      .join(broadcast(adcQueryLut(qf, cb)), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcScore(cb).as("_adc"))
    finishAdc(scored, qf, k, rerank, rerankCorpus, vecCol)
  }

  /** Shared ADC tail: rank `scored(query_id, neighbor_id, _adc)` per
    * query (score ROUNDED to 6 decimals desc, neighbor id asc — the
    * round-before-rank convention every similarity operator uses, so
    * cross-engine float-sum-order noise on near-ties cannot flip ranks
    * between Spark's partial-agg order and the oracle's hash-agg order)
    * and emit the top-k `adc` — or, with `rerank > 0`, rescore the ADC
    * top-`rerank` candidates exactly against `rerankCorpus` (reads
    * `rerank` float vectors per query, never the corpus) and emit the
    * exact top-k `cos`, also re-ranked on the rounded cosine. */
  private def finishAdc(scored: DataFrame, qf: DataFrame, k: Int,
                        rerank: Int, rerankCorpus: Option[DataFrame],
                        vecCol: String): DataFrame = {
    val adc = round(col("_adc"), 6).desc
    if (rerank <= 0) {
      Similarity.rankTopK(scored, "query_id", adc, k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("_adc"), 6).as("adc"))
    } else {
      require(rerank >= k, s"rerank=$rerank must be >= k=$k")
      Similarity.exactRefine(Similarity.candidateCut(scored, adc, rerank),
        qf, rerankCorpus.get, k, vecCol)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
    }
  }

  /** The documented query-batch bound for one un-chunked ADC broadcast.
    *
    * Broadcast-size arithmetic (the round-16 flat-LUT shape): each query
    * broadcasts ONE row of (query_id long, _qn double, _lut
    * array<double> of m·k slots) — (16·32)·8 B ≈ 4.1 KB of LUT data,
    * ~4.2 KB/row with the scalars, roughly 2–3× that as a built
    * HashedRelation. 8192 queries ≈ 34 MB of row data (≲ 100 MB built) —
    * two orders of magnitude under Spark's 8 GB hard broadcast limit.
    * The bound is deliberately kept at the pre-rewrite value even though
    * the flat array is ~15× lighter per query than the former m·k-ROW
    * LUT relation: per-executor broadcast copies and the O(Q · n_cell)
    * scoring fan-out grow with the batch regardless of LUT encoding, and
    * [[adcSearchChunked]] makes larger batches a linear union rather
    * than a bigger broadcast. The hamming/brute-force query broadcasts
    * are far smaller per query (8 B code / one float vector). Batches
    * beyond this must go through [[adcSearchChunked]]. */
  val AdcMaxQueryBatch = 8192

  /** [[adcSearch]] with the query batch CHUNKED so no single broadcast
    * ever exceeds ~`chunkRows` × m·k LUT rows — the scale path for huge
    * query batches (an embedding-join workload, a 10^6-query offline
    * eval). Query ids are collected once (8 B/query — 8 MB at 10^6,
    * always driver-safe), split into contiguous id ranges of `chunkRows`,
    * and each range runs the standard [[adcSearch]] plan; per-query
    * top-k is independent, so the union is EXACTLY the un-chunked
    * result. Trade-off, by design: C chunks re-scan the (narrow) code
    * table C times — linear passes over 1–16 B/vector codes instead of
    * one unbounded broadcast build on the driver. */
  def adcSearchChunked(codes: DataFrame, cb: Codebooks, queries: DataFrame,
                       k: Int, chunkRows: Int = AdcMaxQueryBatch,
                       rerank: Int = 0,
                       rerankCorpus: Option[DataFrame] = None,
                       vecCol: String = "embedding"): DataFrame = {
    require(chunkRows > 0, s"chunkRows must be positive, got $chunkRows")
    // .distinct: a duplicated query vec_id straddling a chunk boundary
    // would land in two overlapping between() ranges and be searched
    // twice, duplicating its top-k rows in the union.
    val ids = queries.select(col("vec_id")).orderBy("vec_id")
      .collect().map(_.getLong(0)).distinct
    val ranges = ids.grouped(chunkRows).map(g => (g.head, g.last)).toSeq
    if (ranges.lengthCompare(1) <= 0)
      adcSearch(codes, cb, queries, k, rerank, rerankCorpus, vecCol)
    else
      ranges.map { case (lo, hi) =>
        adcSearch(codes, cb,
          queries.where(col("vec_id").between(lo, hi)), k, rerank,
          rerankCorpus, vecCol)
      }.reduce(_.unionAll(_))
  }

  /** Three-tier cascade search — the full storage ladder composed into
    * one query, reading progressively fewer bytes per surviving
    * candidate: the 1-bit sign codes ([[Quantization.binarize]],
    * 8 B/vector) rank the WHOLE corpus by Hamming distance and keep the
    * top-`r1` per query; ADC over the PQ codes (16 B/vector at the
    * default dials) rescores ONLY those `r1` and keeps the top-`r2`;
    * the float vectors (256 B/vector) are read for exactly `r2` rows
    * per query by the exact-cosine refine that emits the final top-k.
    *
    * At 100 TB (10^10 vectors, 2.5 TB of floats) the per-query byte
    * bill is 80 GB of sign codes scanned + r1×16 B of PQ codes +
    * r2×256 B of floats — the corpus-sized term is the CHEAPEST tier,
    * and each later tier's read volume is a query-bounded constant.
    * This is the published binary-prefilter + PQ-rerank + exact-refine
    * pipeline (the "sign-bit coarse ranking" shape FAISS documents as
    * IndexBinaryFlat → refine chains).
    *
    * Plan shape: stage 1 is [[Similarity.hammingScan]] cut by
    * [[Similarity.candidateCut]] (query codes broadcast at 8 B each,
    * map-side WindowGroupLimit prunes to r1);
    * stage 2 joins the candidate ids to the code table — the
    * corpus-derived side, pinned SHUFFLE_MERGE, never broadcast — and
    * scores with [[adcScore]], as [[adcSearch]] does (the LUT
    * broadcast is query-bounded, [[AdcMaxQueryBatch]] contract);
    * stage 3 is [[finishAdc]]'s exact-refine tail
    * ([[Similarity.exactRefine]]: query floats broadcast, corpus float
    * side pinned).
    *
    * `codes` supplies pre-built PQ codes (e.g. [[pqStore]]) — the
    * managed shape where the float corpus is touched only by the
    * refine stage; omitted, the corpus is encoded in-plan. Ranking is
    * deterministic at every tier: integer Hamming, round-before-rank
    * ADC, rounded exact cosine, ties by neighbor id. */
  def cascadeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  cb: Codebooks, r1: Int = 200, r2: Int = 50,
                  dim: Int = 64, codes: Option[DataFrame] = None,
                  vecCol: String = "embedding"): DataFrame = {
    require(r1 >= r2, s"cascade: r1=$r1 must be >= r2=$r2")
    require(r2 >= k, s"cascade: r2=$r2 must be >= k=$k")
    // stage 1: whole-corpus Hamming prefilter over the sign bits
    val cand1 = Similarity.candidateCut(
      Similarity.hammingScan(corpus, queries, vecCol, dim), col("hamming"), r1)
    // stage 2: ADC over the PQ codes of the stage-1 survivors only
    val pq = codes.getOrElse(materialized(encode(corpus, cb, vecCol)
      .select(col("vec_id"), col("pq_code"))))
    val qf = Similarity.queryFloats(queries, vecCol)
    val scored = cand1
      .join(pq.select(col("vec_id").as("neighbor_id"), col("pq_code"))
        .hint("SHUFFLE_MERGE"), "neighbor_id") // corpus side: never broadcast
      .join(broadcast(adcQueryLut(qf, cb)), "query_id")
      .select(col("query_id"), col("neighbor_id"), adcScore(cb).as("_adc"))
    // stage 3: exact refine of the ADC top-r2 (the shared rerank tail)
    finishAdc(scored, qf, k, r2, Some(corpus), vecCol)
  }

  /** Scale-aware cascade dials from a corpus count — the
    * [[Similarity.autoNLists]] convention applied to the cascade's two
    * keep budgets: `r1 = max(200, 4·⌈√n⌉)` (Hamming survivors),
    * `r2 = max(50, ⌈√n⌉)` (ADC survivors). Fixed budgets keep a
    * SHRINKING fraction of a growing corpus — at 10^10 vectors a
    * 200-candidate Hamming cut is 2·10^-8 of the corpus and recall
    * collapses; √n keeps per-tier read volume sub-corpus while recall
    * holds. Both `ceil`/`sqrt` are IEEE-exact on integer counts, so
    * DuckDB's `greatest(200, 4 * ceil(sqrt(count(*))))` reproduces the
    * dials bit-for-bit and the auto cascade stays oracle-gated
    * end-to-end. At the sf0.01 gate both maxima degenerate to the fixed
    * defaults (the [[Similarity.coarseTrainStride]] precedent); sf0.1
    * exercises the √n arm under the hash gate. */
  def cascadeAutoDials(corpusRows: Long): (Int, Int) = {
    val s = math.ceil(math.sqrt(corpusRows.toDouble)).toInt
    (math.max(200, 4 * s), math.max(50, s))
  }

  /** [[cascadeTopK]] at the [[cascadeAutoDials]] √n budgets — the auto
    * entry every other ANN family has (`ivfPqTopKAuto`,
    * `ivfHammingTopKAuto`); same `corpusRows` hint contract. */
  def cascadeTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                      cb: Codebooks, dim: Int = 64,
                      codes: Option[DataFrame] = None,
                      vecCol: String = "embedding",
                      corpusRows: Option[Long] = None): DataFrame = {
    val n = corpusRows.getOrElse(corpus.count())
    val (r1, r2) = cascadeAutoDials(n)
    cascadeTopK(corpus, queries, k, cb, r1, r2, dim, codes, vecCol)
  }

  /** IVF-PQ — the composed FAISS shape: the IVF coarse quantizer
    * ([[Similarity.trainCentroids]], the trainer of every IVF path)
    * bounds each query's candidate set to its
    * `nProbe` nearest cells, and ADC over the PQ codes scores ONLY those
    * candidates — per query O(n·nProbe/nLists · m) int-keyed lookups
    * instead of an exhaustive code scan, reading 16 B/vector instead of
    * 256 B. `rerank > 0` adds the exact-refine stage on the float
    * vectors of the surviving candidates (the IVFPQ+refine production
    * pipeline).
    *
    * Plan shape: corpus assigned and encoded in one map (the
    * NearestCentroid and PqEncode kernels), the candidate join is
    * cell-equi (broadcast probes × assigned — the standard IVF join), and
    * scoring is the flat-LUT lookup ([[adcScore]]) against the broadcast
    * per-query LUT; the only exchange is the top-k window. Never
    * all-pairs, never a corpus-side cartesian. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                cb: Codebooks, nLists: Int = 16, nProbe: Int = 4,
                lloydIters: Int = 1, rerank: Int = 0): DataFrame =
    ivfPqOver(corpus, queries, k, cb,
      Similarity.trainCentroids(corpus, nLists, lloydIters), nProbe, rerank)

  /** [[ivfPqSearch]] over `corpus` assigned to the trained coarse
    * centroids `local` and PQ-encoded in the same map — the in-plan index
    * build of [[ivfPqTopK]] and [[ivfPqTopKAuto]]. */
  private def ivfPqOver(corpus: DataFrame, queries: DataFrame, k: Int,
                        cb: Codebooks, local: Similarity.LocalCentroids,
                        nProbe: Int, rerank: Int): DataFrame = {
    // Round-16 rewrite: cell AND pq_code both derive MAP-ONLY from the
    // same corpus scan, so the search plan needs zero corpus shuffles —
    // scan → assign+encode → broadcast probes (the Q × nProbe small
    // side) → broadcast per-query LUT arrays → static-lookup score →
    // top-k window (the plan's only exchange). The former shape exploded
    // the codes and re-assembled them through a partial-agg shuffle; the
    // phase bisection at the 100× probe measured that pipeline at more
    // than half the search cost (and pre-pin, Catalyst broadcast the
    // corpus-sized sides outright — the audit finding).
    val corpusSide = materialized(encode(
      Similarity.assignCells(corpus, local), cb)
      .select(col("vec_id"), col("cell"), col("pq_code")))
    ivfPqSearch(corpusSide, cb, local, queries, k, nProbe, rerank,
      if (rerank > 0) Some(corpus) else None)
  }

  /** The IVF-PQ search plan over a PRE-BUILT (vec_id, cell, pq_code)
    * side — shared by [[ivfPqTopK]] (in-plan assign+encode) and the
    * managed [[ivfPqStore]] path (stored codes, zero construction).
    * Probes rank the Q×nLists centroid broadcast per query; candidates
    * come from the cell-equi join; scoring is the flat-LUT static
    * lookup. The only exchange downstream of `coded` is the top-k
    * window. */
  def ivfPqSearch(coded: DataFrame, cb: Codebooks,
                  local: Similarity.LocalCentroids, queries: DataFrame,
                  k: Int, nProbe: Int, rerank: Int = 0,
                  rerankCorpus: Option[DataFrame] = None): DataFrame = {
    require(rerank <= 0 || rerankCorpus.nonEmpty,
      "rerank > 0 needs rerankCorpus (the float vectors to rescore)")
    val qf = Similarity.queryFloats(queries)
    val scored = coded
      .join(broadcast(Similarity.probeCells(qf, local, nProbe)), "cell")
      .where(col("query_id") =!= col("vec_id"))
      .join(broadcast(adcQueryLut(qf, cb)), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcScore(cb).as("_adc"))
    finishAdc(scored, qf, k, rerank, rerankCorpus, "embedding")
  }

  /** Each corpus vector's coarse cell plus its RESIDUAL
    * `resid = embedding − centroid(cell)` — per-dim double subtract
    * narrowed back to float (the [[Similarity.refineCentroids]]
    * narrowing convention), so the oracle's CAST(... AS REAL) chain
    * reproduces every residual bit-exactly. Map + one nLists-row
    * broadcast join; the corpus never shuffles. */
  private def residuals(corpus: DataFrame,
                        local: Similarity.LocalCentroids): DataFrame = {
    val cent = Similarity.centroidsDf(corpus.sparkSession, local)
    Similarity.assignCells(corpus, local)
      .join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cvec"),
          (x, c) => (x.cast("double") - c.cast("double")).cast("float"))
          .as("resid"))
  }

  /** Residual-encoded IVF-PQ — the published FAISS IVFPQ shape
    * (`by_residual`): instead of one global codebook over RAW vectors
    * ([[ivfPqTopK]]), encode each vector's residual against its coarse
    * centroid. Residuals concentrate around zero, so the same m·log2(k)
    * bits spend their capacity on the informative within-cell offsets —
    * the standard recall lift at identical code size.
    *
    * ADC reconstructs nothing: with x̂ = c_cell + r̂ (r̂ the decoded
    * residual), dot(q, x̂) = dot(q, c) + Σ_i dot(q_i, cb_{i,code_i}),
    * and |x̂|² = |c|² + Σ_i (2·dot(c_i, cb_{i,code_i}) + |cb_{i,code_i}|²)
    * — the cross terms come from a precomputed (cell, sub, code) lookup
    * of nLists·m·k rows (8k rows at the default dials; kilobytes,
    * always broadcastable). The query is NOT residualized (the
    * inner-product/cosine formulation scores q against x̂ directly).
    *
    * Plan shape: coarse assign is the map-only kernel; residual adds one
    * nLists-row broadcast join; PQ train/encode run on the residual
    * frame (re-executing its narrow subplan per training pass — a
    * construction cost, not a search cost; [[pqStore]]-style persistence
    * applies at scale); candidate generation and the per-query LUT joins
    * are [[ivfPqTopK]]'s, plus the broadcast cross-term lookup. Same
    * bounded-query-batch contract as [[adcSearch]]
    * ([[AdcMaxQueryBatch]]). */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        m: Int = 16, kCodes: Int = 32, nLists: Int = 16,
                        nProbe: Int = 4, lloydIters: Int = 1,
                        rerank: Int = 0,
                        dimHint: Option[Int] = None,
                        coarseStride: Long = 1L): DataFrame = {
    // stride 1 ≡ the full-corpus Lloyd refine, bit for bit; the auto
    // entry point passes Similarity.coarseTrainStride's bounded sample.
    val local =
      Similarity.trainCentroids(corpus, nLists, lloydIters, coarseStride)
    val res = residuals(corpus, local)
    val cb = train(res, m, kCodes, vecCol = "resid", dimHint = dimHint)
    val corpusSide = materialized(encode(res, cb, vecCol = "resid")
      .select(col("vec_id"), col("cell"), col("pq_code")))
    ivfPqResidualSearch(corpusSide, cb, local,
      residualCellSide(corpus.sparkSession, local, cb), queries, k, nProbe,
      rerank, if (rerank > 0) Some(corpus) else None)
  }

  /** The per-cell side table of the residual-ADC plan: (cell, cvec,
    * |c|², flat m·k cross-term array Σ-slot 2·dot(c_s, cb_{s,c}) +
    * |cb_{s,c}|²) — computed DRIVER-side from the collected coarse
    * centroids + codebooks (nLists rows, kilobytes, always
    * broadcastable). Driver arithmetic mirrors the VectorDot kernel's
    * in-order accumulation, so every slot is bit-identical to an
    * expression-computed value and the oracle chain is unchanged. Also
    * the persisted `$tag-resxterm` artifact of [[ivfPqResidualStore]]
    * (doubles round-trip parquet bit-exactly). */
  private def residualCellSide(spark: SparkSession,
                               local: Similarity.LocalCentroids,
                               cb: Codebooks): DataFrame = {
    import spark.implicits._
    local.cells.indices.map { ci =>
      val cvec = local.vecs(ci)
      val xt = (for { s <- 0 until cb.m; c <- 0 until cb.k } yield {
        val j = cb.subs(s).cells.indexOf(c.toLong)
        if (j < 0) 0.0
        else {
          val bv = cb.subs(s).vecs(j)
          var acc = 0.0
          var i = 0
          while (i < cb.subDim) {
            acc += cvec(s * cb.subDim + i).toDouble * bv(i).toDouble
            i += 1
          }
          2.0 * acc + cb.subs(s).norms(j) * cb.subs(s).norms(j)
        }
      }).toIndexedSeq
      (local.cells(ci), cvec.toSeq,
        local.norms(ci) * local.norms(ci), xt)
    }.toDF("cell", "cvec", "_cn2c", "_xt")
  }

  /** The residual-ADC search plan over PRE-BUILT state — shared by
    * [[ivfPqResidualTopK]] (in-plan residual/train/encode) and the
    * managed [[ivfPqResidualStore]] path (stored coarse + books +
    * cross-terms + codes; zero construction, zero float-corpus reads).
    * `coded` is (vec_id, cell, pq_code) with codes over RESIDUALS;
    * `cellSide` is [[residualCellSide]]'s shape. The corpus side carries
    * (cell, residual code) map-only; probes, the per-query LUT arrays,
    * and the per-cell cross-term table all broadcast (each
    * query-bounded or nLists-bounded); the only exchange downstream of
    * `coded` is the top-k window. Same bounded-query-batch contract as
    * [[adcSearch]] ([[AdcMaxQueryBatch]]). */
  def ivfPqResidualSearch(coded: DataFrame, cb: Codebooks,
                          local: Similarity.LocalCentroids,
                          cellSide: DataFrame, queries: DataFrame, k: Int,
                          nProbe: Int, rerank: Int = 0,
                          rerankCorpus: Option[DataFrame] = None): DataFrame = {
    require(rerank <= 0 || rerankCorpus.nonEmpty,
      "rerank > 0 needs rerankCorpus (the float vectors to rescore)")
    val qf = Similarity.queryFloats(queries)
    val scored = coded
      .join(broadcast(Similarity.probeCells(qf, local, nProbe)), "cell")
      .where(col("query_id") =!= col("vec_id"))
      .join(broadcast(adcQueryLut(qf, cb)), "query_id")
      .join(broadcast(
        cellSide.select(col("cell"), col("cvec"), col("_cn2c"), col("_xt"))),
        "cell")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Similarity.cosFromDot(
          Similarity.dot(col("_qe"), col("cvec")) +
            sumLookup(col("_lut"), col("pq_code"), cb.k),
          sqrt(col("_cn2c") + sumLookup(col("_xt"), col("pq_code"), cb.k)),
          col("_qn")).as("_adc"))
    finishAdc(scored, qf, k, rerank, rerankCorpus, "embedding")
  }

  /** [[ivfPqResidualTopK]] at the scale-aware dials
    * (nLists = √n, nProbe = √nLists — the [[ivfPqTopKAuto]] rule), same
    * `corpusRows` hint contract.
    *
    * The coarse quantizer trains on the [[Similarity.coarseTrainStride]]
    * sample BY DEFAULT (the round-17 flip — see [[ivfPqTopKAuto]]'s
    * rationale); `fullRefine = true` opts back into the full-corpus
    * Lloyd refine. */
  def ivfPqResidualTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                            m: Int = 16, kCodes: Int = 32,
                            lloydIters: Int = 1, rerank: Int = 0,
                            corpusRows: Option[Long] = None,
                            dimHint: Option[Int] = None,
                            fullRefine: Boolean = false): DataFrame = {
    val n = corpusRows.getOrElse(corpus.count())
    val nLists = Similarity.autoNLists(n)
    val nProbe = math.max(4, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val stride =
      if (fullRefine) 1L else Similarity.coarseTrainStride(n, nLists)
    ivfPqResidualTopK(corpus, queries, k, m, kCodes, nLists, nProbe,
      lloydIters, rerank, dimHint, coarseStride = stride)
  }

  /** [[ivfPqTopK]] with scale-aware dials: nLists = [[Similarity.autoNLists]]
    * (≈ √n — the round-11 lesson: a FIXED nLists makes in-cell candidate
    * work grow super-linearly, and the 100× IVFPQ probe repeats it: fixed
    * 16/4 ran 84 s at n=200k, SLOWER than the 71 s full ADC scan, while
    * √n cells ran 50 s at recall@5 = 1.0) and nProbe = max(4, ⌈√nLists⌉)
    * (keeps the probed-candidate fraction ≈ 1/√nLists as both dials
    * grow). Same `corpusRows` hint contract as [[Similarity.ivfTopKAuto]]:
    * pass it for a derived corpus so construction doesn't execute the
    * subplan once extra.
    *
    * The coarse quantizer trains on the [[Similarity.coarseTrainStride]]
    * sample BY DEFAULT — the round-17 flip: the round-16 phase bisection
    * measured the full-corpus Lloyd refine at the √n dial as the
    * DOMINANT term of every auto row at the 100× probe (O(n·√n·d) map
    * work, ~11 s of 11.07), while sampling caps the refine's voters at
    * ~16·nLists rows (the published FAISS practice) at recall 0.92 vs
    * the 0.8 bar. The corpus-wide ASSIGNMENT to the trained centroids —
    * which decides correctness — still covers every row, and stride,
    * dials, and every downstream bit stay oracle-computable.
    * `fullRefine = true` opts back into the full-corpus refine (the
    * pre-17 behavior) when construction cost is irrelevant and the last
    * few recall points matter. */
  def ivfPqTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                    cb: Codebooks, lloydIters: Int = 1, rerank: Int = 0,
                    corpusRows: Option[Long] = None,
                    fullRefine: Boolean = false): DataFrame = {
    val n = corpusRows.getOrElse(corpus.count())
    val nLists = Similarity.autoNLists(n)
    val nProbe = math.max(4, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val stride =
      if (fullRefine) 1L else Similarity.coarseTrainStride(n, nLists)
    ivfPqOver(corpus, queries, k, cb,
      Similarity.trainCentroids(corpus, nLists, lloydIters, stride), nProbe,
      rerank)
  }

  /** Persistent PQ store: train + encode ONCE, persist TWO artifacts
    * under the [[FingerprintStore]] contract (version-keyed by scheme +
    * dials, staleness by source listing, atomic publish) — the codebooks
    * as long-form (sub, cell, cvec) rows and the codes as
    * (id, pq_code). Returns (codes, codebooks) so a caller can run
    * [[adcSearch]] without ever re-reading the float corpus: on a warm
    * store this costs one m·k-row collect plus the codes scan.
    *
    * Build order matters: books first (one [[train]]), then codes encode
    * with THOSE books — a cold store trains exactly once. Norms are
    * recomputed on read with the same in-order driver fold [[train]]
    * uses; float parquet round-trips bit-exactly, so a stored codebook is
    * indistinguishable from a fresh one. */
  def pqStore(spark: SparkSession, embeddings: DataFrame,
              sourcePath: String, tag: String,
              storeRoot: Option[String] = None, m: Int = 16, k: Int = 32,
              vecCol: String = "embedding",
              idCols: Seq[String] = Seq("vec_id")): (DataFrame, Codebooks) = {
    val version = s"$CodeStoreVersion-m$m-k$k"
    val cb = booksArtifact(spark, embeddings, sourcePath, tag, storeRoot,
      m, k, vecCol, version)
    val codes = FingerprintStore.getOrBuild(spark, sourcePath, tag, version,
      storeRoot)(
      encode(embeddings, cb, vecCol).select((idCols :+ "pq_code").map(col): _*))
    (codes, cb)
  }

  /** The persisted-codebooks half of [[pqStore]]: train-once under
    * `$tag-books`, read back as [[Codebooks]] (norms recomputed with
    * [[train]]'s in-order driver fold — float parquet round-trips
    * bit-exactly, so a stored book is indistinguishable from a fresh
    * one). Shared by [[pqStore]] and [[ivfPqStore]] so both entry points
    * hit the SAME artifact for matching dials. */
  private def booksArtifact(spark: SparkSession, embeddings: DataFrame,
                            sourcePath: String, tag: String,
                            storeRoot: Option[String], m: Int, k: Int,
                            vecCol: String, version: String): Codebooks = {
    import spark.implicits._
    val booksDf = FingerprintStore.getOrBuild(spark, sourcePath,
      s"$tag-books", version, storeRoot) {
      val cb = train(embeddings, m, k, vecCol = vecCol)
      (for {
        i <- 0 until m
        j <- cb.subs(i).cells.indices
      } yield (i, cb.subs(i).cells(j), cb.subs(i).vecs(j).toSeq))
        .toDF("sub", "cell", "cvec")
    }
    codebooksFromDf(booksDf, m, k)
  }

  /** Read a long-form (sub, cell, cvec) codebook table back as
    * [[Codebooks]] — norms recomputed with [[train]]'s in-order driver
    * fold; float parquet round-trips bit-exactly. */
  private def codebooksFromDf(booksDf: DataFrame, m: Int, k: Int): Codebooks = {
    val rows = booksDf.select(col("sub"), col("cell"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val subDim = rows.head._3.length
    Codebooks(m, subDim, k, (0 until m).map { i =>
      val sub = rows.filter(_._1 == i).sortBy(_._2)
      val vecs = sub.map(_._3)
      Similarity.LocalCentroids(sub.map(_._2), vecs,
        vecs.map(v => math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))))
    })
  }

  /** Read a (cell, cvec) coarse-centroid table back as LocalCentroids
    * (cells ascending, norms recomputed with the in-order driver fold). */
  private[ops] def localFromCoarseDf(coarseDf: DataFrame): Similarity.LocalCentroids = {
    val crows = coarseDf.select(col("cell"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    Similarity.LocalCentroids(crows.map(_._1), crows.map(_._2),
      crows.map(c => math.sqrt(
        c._2.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))))
  }

  /** Persistent IVF-PQ index — the full managed production shape: ONE
    * build pass trains the sampled-√n coarse quantizer
    * ([[Similarity.trainCentroids]] at the
    * [[Similarity.coarseTrainStride]] stride) and the PQ codebooks, then
    * persists THREE fingerprinted artifacts: the codebooks (`$tag-books`,
    * SHARED with [[pqStore]] at matching dials), the coarse centroids
    * (`$tag-coarse`: (cell, cvec) — nLists ≈ √n rows), and the combined
    * index rows (`$tag-ivf`: (id…, cell, pq_code) — 8+16 B/vector, the
    * inverted file and the codes in one scan). A warm read costs two
    * kilobyte-scale collects plus the index scan; NO training, NO float
    * corpus read — [[ivfPqSearch]] over the returned state is the
    * write-once/search-many FAISS index made of parquet.
    *
    * Returns (index rows, codebooks, coarse centroids, nProbe) with
    * nProbe = max(4, ⌈√nLists⌉) — the [[ivfPqTopKAuto]] dial, derived
    * from the same count the build used. */
  def ivfPqStore(spark: SparkSession, embeddings: DataFrame,
                 sourcePath: String, tag: String,
                 storeRoot: Option[String] = None, m: Int = 16, k: Int = 32,
                 corpusRows: Option[Long] = None,
                 vecCol: String = "embedding",
                 idCols: Seq[String] = Seq("vec_id")):
      (DataFrame, Codebooks, Similarity.LocalCentroids, Int) = {
    import spark.implicits._
    val n = corpusRows.getOrElse(embeddings.count())
    val nLists = Similarity.autoNLists(n)
    val nProbe = math.max(4, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val stride = Similarity.coarseTrainStride(n, nLists)
    val cb = booksArtifact(spark, embeddings, sourcePath, tag, storeRoot,
      m, k, vecCol, s"$CodeStoreVersion-m$m-k$k")
    val coarseDf = FingerprintStore.getOrBuild(spark, sourcePath,
      s"$tag-coarse", s"$CodeStoreVersion-L$nLists-s$stride", storeRoot) {
      val local = Similarity.trainCentroids(
        embeddings.select(col("vec_id"), col(vecCol).as("embedding")),
        nLists, lloydIters = 1, stride = stride)
      local.cells.indices
        .map(i => (local.cells(i), local.vecs(i).toSeq))
        .toDF("cell", "cvec")
    }
    val local = localFromCoarseDf(coarseDf)
    val coded = FingerprintStore.getOrBuild(spark, sourcePath, s"$tag-ivf",
      s"$CodeStoreVersion-m$m-k$k-L$nLists-s$stride", storeRoot)(
      encode(
        Similarity.assignCells(embeddings, local, idCols, vecCol), cb,
        "embedding")
        .select((idCols.map(col) :+ col("cell") :+ col("pq_code")): _*))
    (coded, cb, local, nProbe)
  }

  /** Persistent RESIDUAL IVF-PQ index — the managed form of the
    * best-recall configuration ([[ivfPqResidualTopK]], the FAISS
    * `by_residual` scheme), which is the index a 100 TB deployment
    * would actually build write-once. ONE build pass trains the
    * sampled-√n coarse quantizer and the residual codebooks, then
    * persists FOUR fingerprinted artifacts under the
    * [[FingerprintStore]] contract:
    *
    *   - `$tag-rescoarse`: (cell, cvec) sampled-trained coarse
    *     centroids — nLists ≈ √n rows;
    *   - `$tag-resbooks`: long-form (sub, cell, cvec) codebooks trained
    *     on RESIDUALS (kept separate from [[pqStore]]'s raw-vector
    *     `$tag-books` — different training frame, different scheme key);
    *   - `$tag-resxterm`: the per-cell cross-term side
    *     ([[residualCellSide]] — cell, cvec, |c|², flat m·k array of
    *     2·dot(c_s, cb) + |cb|²; nLists rows, kilobytes);
    *   - `$tag-resivf`: (vec_id, cell, pq_code) residual index rows —
    *     8+16 B/vector.
    *
    * A warm read costs three kilobyte-scale collects/scans plus the
    * index scan; NO training, NO residual computation, NO float-corpus
    * read — [[ivfPqResidualSearch]] over the returned state touches
    * only stored codes and the query floats (plus `rerank` float rows
    * per query if an exact refine is requested). Version keys embed
    * scheme + m/k + nLists + stride, so any dial change rebuilds by
    * key-miss; doubles and floats round-trip parquet bit-exactly, so a
    * warm index is indistinguishable from a fresh build (the
    * [[pqStore]] precedent).
    *
    * Returns (index rows, codebooks, coarse centroids, cell side,
    * nProbe) with nProbe = max(4, ⌈√nLists⌉) — the
    * [[ivfPqResidualTopKAuto]] dials, derived from the same count the
    * build used. */
  def ivfPqResidualStore(spark: SparkSession, embeddings: DataFrame,
                         sourcePath: String, tag: String,
                         storeRoot: Option[String] = None, m: Int = 16,
                         k: Int = 32, corpusRows: Option[Long] = None,
                         vecCol: String = "embedding"):
      (DataFrame, Codebooks, Similarity.LocalCentroids, DataFrame, Int) = {
    import spark.implicits._
    val n = corpusRows.getOrElse(embeddings.count())
    val nLists = Similarity.autoNLists(n)
    val nProbe = math.max(4, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val stride = Similarity.coarseTrainStride(n, nLists)
    val corpus = embeddings.select(col("vec_id"), col(vecCol).as("embedding"))
    val coarseDf = FingerprintStore.getOrBuild(spark, sourcePath,
      s"$tag-rescoarse", s"$CodeStoreVersion-res-L$nLists-s$stride",
      storeRoot) {
      val local = Similarity.trainCentroids(corpus, nLists,
        lloydIters = 1, stride = stride)
      local.cells.indices
        .map(i => (local.cells(i), local.vecs(i).toSeq))
        .toDF("cell", "cvec")
    }
    val local = localFromCoarseDf(coarseDf)
    val schemeVer = s"$CodeStoreVersion-res-m$m-k$k-L$nLists-s$stride"
    // Build order: books train on the residual frame exactly once on a
    // cold store; the codes and cross-terms derive from THOSE books.
    val booksDf = FingerprintStore.getOrBuild(spark, sourcePath,
      s"$tag-resbooks", schemeVer, storeRoot) {
      val cbF = train(residuals(corpus, local), m, k, vecCol = "resid")
      (for {
        i <- 0 until m
        j <- cbF.subs(i).cells.indices
      } yield (i, cbF.subs(i).cells(j), cbF.subs(i).vecs(j).toSeq))
        .toDF("sub", "cell", "cvec")
    }
    val cb = codebooksFromDf(booksDf, m, k)
    val cellSide = FingerprintStore.getOrBuild(spark, sourcePath,
      s"$tag-resxterm", schemeVer, storeRoot)(
      residualCellSide(spark, local, cb))
    val coded = FingerprintStore.getOrBuild(spark, sourcePath, s"$tag-resivf",
      schemeVer, storeRoot)(
      encode(residuals(corpus, local), cb, vecCol = "resid")
        .select(col("vec_id"), col("cell"), col("pq_code")))
    (coded, cb, local, cellSide, nProbe)
  }

  /** Code-only view of [[pqStore]] (the [[Quantization.int8CodeStore]]
    * signature twin). Default dials are [[pqStore]]'s own (m=16, k=32)
    * so switching between the two entry points trains the SAME scheme
    * and hits the same store keys. */
  def pqCodeStore(spark: SparkSession, embeddings: DataFrame,
                  sourcePath: String, tag: String,
                  storeRoot: Option[String] = None, m: Int = 16, k: Int = 32,
                  vecCol: String = "embedding",
                  idCols: Seq[String] = Seq("vec_id")): DataFrame =
    pqStore(spark, embeddings, sourcePath, tag, storeRoot, m, k, vecCol,
      idCols)._1
}
