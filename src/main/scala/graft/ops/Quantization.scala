package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding storage quantization — the int8 compression step a
  * 100 TB-scale embedding pipeline runs before persisting vectors (4×
  * smaller than float32; FAISS/SCaNN-style symmetric per-vector scheme).
  *
  * Per vector: `scale = max(|x|) / 127`, `q_i = clamp(round(x_i / scale),
  * -127, 127)` — symmetric, zero-preserving (0.0 quantizes to 0 exactly),
  * reconstruction `x̂_i = q_i · scale` with per-element error ≤ scale/2.
  * An all-zero vector (a plausible empty-doc embedding) gets scale 0 and
  * an all-zero code, round-tripping to exactly itself.
  *
  * Scale shape: pure map — two `transform` passes and an `array_max` per
  * row, all inside whole-stage codegen; no shuffle, no UDF, no state. The
  * arithmetic is plain double ops mirrored digit-for-digit by the DuckDB
  * oracle (round-half-away-from-zero agrees between engines; the clamped
  * value is integral before the int cast, so cast semantics never differ).
  */
object Quantization {

  /** Append (scale, qvec) to a frame with a float-vector column. */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df
      .withColumn("_amax",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .withColumn("scale", col("_amax") / 127.0)
      .withColumn("qvec",
        when(col("_amax") > 0,
          transform(col(vecCol), x =>
            greatest(lit(-127), least(lit(127),
              round(x.cast("double") / col("scale")))).cast("int")))
          .otherwise(transform(col(vecCol), _ => lit(0))))
      .drop("_amax")

  /** Reconstruct an approximate float vector from (scale, qvec). */
  def dequantizeInt8(df: DataFrame, outCol: String = "embedding"): DataFrame =
    df.withColumn(outCol,
      transform(col("qvec"), q => (q.cast("double") * col("scale")).cast("float")))

  /** Per-dimension sign-bit masks: bit i set ⟺ dimension i+1 strictly
    * positive. Bit 63 is Long.MinValue — embedded as a literal on both
    * engines so no shift ever overflows. */
  private[graft] def signMasks(dim: Int): Seq[Long] = {
    require(dim <= 64, s"binarize packs into one long: dim $dim > 64")
    (0 until dim).map(1L << _)
  }

  /** 1-bit sign quantization: pack `sign(x_i) > 0` into ONE long (64-dim
    * float32 → 8 bytes, 32× smaller; 256× vs the raw doubles a naive
    * pipeline carries). The roughest tier of the storage ladder
    * (float → int8 → PQ → binary); search over it is pure integer
    * Hamming — see [[hammingTopK]]. Map-only: a zip_with against a
    * literal mask array folded with bit-or, inside whole-stage codegen;
    * zero-or-negative dimensions (and the all-zero vector) get 0 bits,
    * deterministically.
    *
    * Query-batch contract (shared with [[hammingTopK]]): the query side
    * broadcasts at ~16 B/query (id + one long code) — 16 MB even at a
    * 10^6-query batch, orders of magnitude under the ADC LUT's bound
    * ([[ProductQuantization.AdcMaxQueryBatch]]); the float-vector
    * broadcasts in the rerank stage cost ~0.3 KB/query, still MBs at
    * 10^6. Hamming batches need no chunking at any realistic size. */
  def binarize(df: DataFrame, vecCol: String = "embedding", dim: Int = 64,
               outCol: String = "bcode"): DataFrame = {
    val masks = org.apache.spark.sql.functions.typedLit(signMasks(dim))
    df.withColumn(outCol,
      aggregate(
        zip_with(col(vecCol), masks,
          (x, m) => when(x > lit(0f), m).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc.bitwiseOR(x)))
  }

  /** Hamming top-k over the 1-bit codes: per pair ONE xor + popcount —
    * integers end to end, so ranking is bit-deterministic (distance asc,
    * neighbor id asc; no float ties, no sum-order noise). The query side
    * broadcasts; the corpus side is a map over (id, one long). With
    * `rerank > 0`, the Hamming top-`rerank` candidates are rescored with
    * exact cosine on the float vectors (the binary-prefilter + refine
    * production shape) and the exact top-k is returned (column `cos`
    * instead of `hamming`). */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  rerank: Int = 0, vecCol: String = "embedding",
                  dim: Int = 64): DataFrame = {
    val scored = Similarity.hammingScan(corpus, queries, vecCol, dim)
    if (rerank <= 0) {
      Similarity.rankTopK(scored, "query_id", col("hamming"), k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("hamming"))
    } else {
      require(rerank >= k, s"rerank=$rerank must be >= k=$k")
      Similarity.exactRefine(
        Similarity.candidateCut(scored, col("hamming"), rerank),
        Similarity.queryFloats(queries, vecCol), corpus, k, vecCol)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
    }
  }

  /** IVF-cell-bounded Hamming search — the composed bottom tier: the IVF
    * coarse quantizer bounds each query's candidates to its `nProbe`
    * nearest cells ([[Similarity.trainCentroids]] +
    * [[Similarity.probeCells]], the stages every IVF path shares), the
    * 1-bit sign codes rank those candidates by Hamming distance, the
    * Hamming top-`rerank` get ONE exact cosine each, and the exact top-k
    * comes out. [[hammingTopK]] scans the whole code table per query
    * batch — O(n·Q) xors; this is O(n·nProbe/nLists · Q), which makes
    * the cheapest tier sub-corpus like every other search path.
    *
    * Per-query cost at 100 TB (√n auto dials, fixed refine budget): ~√n
    * 8-byte code xors + `rerank` float-vector reads — both independent
    * of corpus size per probed cell.
    *
    * Plan shape: assignment + binarize are map-only; the candidate join
    * is the standard cell-equi probes × assigned; query codes broadcast
    * (8 B each); the per-query windows pre-prune map-side
    * (WindowGroupLimit). */
  def ivfHammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     rerank: Int = 200, nLists: Int = 16, nProbe: Int = 4,
                     lloydIters: Int = 1, dim: Int = 64,
                     vecCol: String = "embedding",
                     coarseStride: Long = 1L): DataFrame = {
    // stride 1 ≡ the full-corpus Lloyd refine, bit for bit; the auto
    // entry point passes Similarity.coarseTrainStride's bounded sample.
    val local = Similarity.trainCentroids(corpus, nLists, lloydIters,
      coarseStride)
    val ccodes = binarize(
      Similarity.assignCells(corpus, local, vec = vecCol),
      "embedding", dim)
      .select(col("vec_id"), col("cell"), col("bcode"))
    ivfHammingSearch(ccodes, local, corpus, queries, k, rerank, nProbe,
      dim, vecCol)
  }

  /** [[ivfHammingTopK]]'s search plan over PRE-BUILT state — the
    * warm-store half ([[ProductQuantization.ivfPqResidualSearch]]'s
    * twin): probe assignment, in-cell Hamming ranking, and the exact
    * top-k refine, given an existing (vec_id, cell, bcode) index and its
    * coarse centroids. Touches stored codes and query floats through the
    * Hamming ranking; the refine joins the float corpus for the
    * `rerank`-bounded exact pass (every rerank row's contract — the
    * pinned corpus-float join below). */
  def ivfHammingSearch(ccodes: DataFrame, local: Similarity.LocalCentroids,
                       corpus: DataFrame, queries: DataFrame, k: Int,
                       rerank: Int, nProbe: Int, dim: Int = 64,
                       vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val qf = Similarity.queryFloats(queries, vecCol)
    val qcodes = binarize(queries, vecCol, dim)
      .select(col("vec_id").as("query_id"), col("bcode").as("_qc"))
    // Probes are Q × nProbe id pairs — the broadcast build side by
    // construction; the corpus code table streams map-side (unpinned,
    // Catalyst broadcast the CODE TABLE — the round-16 audit finding).
    val scored = ccodes
      .join(broadcast(Similarity.probeCells(qf, local, nProbe)), "cell")
      .where(col("query_id") =!= col("vec_id"))
      .join(broadcast(qcodes), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        bit_count(col("bcode").bitwiseXOR(col("_qc"))).cast("long")
          .as("hamming"))
    Similarity.exactRefine(
      Similarity.candidateCut(scored, col("hamming"), rerank), qf, corpus, k,
      vecCol)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** [[ivfHammingTopK]] at the scale-aware dials (nLists = √n,
    * nProbe = √nLists — the [[ProductQuantization.ivfPqTopKAuto]] rule),
    * same `corpusRows` hint contract as [[Similarity.ivfTopKAuto]].
    *
    * The coarse quantizer trains on the [[Similarity.coarseTrainStride]]
    * sample BY DEFAULT (the round-17 flip — the full-corpus Lloyd refine
    * was the measured dominant term of every auto row at the 100× probe;
    * see [[ProductQuantization.ivfPqTopKAuto]]); `fullRefine = true`
    * opts back into the full-corpus refine. */
  def ivfHammingTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                         rerank: Int = 200, lloydIters: Int = 1,
                         dim: Int = 64, corpusRows: Option[Long] = None,
                         vecCol: String = "embedding",
                         fullRefine: Boolean = false): DataFrame = {
    val n = corpusRows.getOrElse(corpus.count())
    val nLists = Similarity.autoNLists(n)
    val nProbe = math.max(4, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val stride =
      if (fullRefine) 1L else Similarity.coarseTrainStride(n, nLists)
    ivfHammingTopK(corpus, queries, k, rerank, nLists, nProbe, lloydIters,
      dim, vecCol, coarseStride = stride)
  }

  /** Persistent IVF-Hamming index — the managed form of the binary tier
    * composed with IVF, completing the storage ladder's
    * write-once/search-many story (float → int8 → PQ → binary, every
    * tier now persisted AND searchable). ONE build pass trains the
    * sampled-√n coarse quantizer and persists TWO fingerprinted
    * artifacts under the [[FingerprintStore]] contract:
    *
    *   - `$tag-hcoarse`: (cell, cvec) sampled-trained coarse centroids —
    *     nLists ≈ √n rows (the `ivfPqStore` coarse shape);
    *   - `$tag-hivf`: (vec_id, cell, bcode) — 8+8 B/vector, the
    *     inverted file and the 1-bit sign codes in one scan (the
    *     cheapest index artifact of the ladder: 16 B/vector total).
    *
    * A warm read costs one kilobyte-scale collect plus the index scan;
    * NO training, NO assignment, NO binarize — [[ivfHammingSearch]] over
    * the returned state runs probe assignment + in-cell Hamming from
    * stored codes (the exact refine still joins `rerank` float rows per
    * query — the contract of every rerank row). Version keys embed
    * dim + nLists + stride, so a dial change rebuilds by key-miss;
    * training is deterministic and floats round-trip parquet bit-exactly,
    * so a warm index searches identically to a fresh sampled-auto build.
    *
    * Returns (index rows, coarse centroids, nProbe) at the
    * [[ivfHammingTopKAuto]] dials, derived from the same count the
    * build used. */
  def ivfHammingStore(spark: org.apache.spark.sql.SparkSession,
                      embeddings: DataFrame, sourcePath: String, tag: String,
                      storeRoot: Option[String] = None,
                      corpusRows: Option[Long] = None, dim: Int = 64,
                      vecCol: String = "embedding"):
      (DataFrame, Similarity.LocalCentroids, Int) = {
    import spark.implicits._
    val n = corpusRows.getOrElse(embeddings.count())
    val nLists = Similarity.autoNLists(n)
    val nProbe = math.max(4, math.ceil(math.sqrt(nLists.toDouble)).toInt)
    val stride = Similarity.coarseTrainStride(n, nLists)
    val corpus = embeddings.select(col("vec_id"), col(vecCol).as("embedding"))
    val coarseDf = FingerprintStore.getOrBuild(spark, sourcePath,
      s"$tag-hcoarse", s"$CodeStoreVersion-ham-L$nLists-s$stride",
      storeRoot) {
      val local = Similarity.trainCentroids(corpus, nLists,
        lloydIters = 1, stride = stride)
      local.cells.indices
        .map(i => (local.cells(i), local.vecs(i).toSeq))
        .toDF("cell", "cvec")
    }
    val local = ProductQuantization.localFromCoarseDf(coarseDf)
    val coded = FingerprintStore.getOrBuild(spark, sourcePath, s"$tag-hivf",
      s"$CodeStoreVersion-ham-d$dim-L$nLists-s$stride", storeRoot)(
      binarize(
        Similarity.assignCells(corpus, local),
        "embedding", dim)
        .select(col("vec_id"), col("cell"), col("bcode")))
    (coded, local, nProbe)
  }

  /** Code-scheme version baked into every store directory name. Bump
    * whenever [[quantizeInt8]]'s arithmetic changes (symmetric range,
    * clamp bounds, rounding) — an on-disk store written by an older scheme
    * then simply misses the new name and is rebuilt, instead of silently
    * serving incompatible codes. */
  val CodeStoreVersion = "v1-int8-sym127"

  /** Persistent int8 code store — the write-once/read-many shape a 100 TB
    * deployment actually runs: quantize the float corpus ONCE, persist
    * only `(id, scale, qvec)` (4× smaller than float32), and serve every
    * later search from the stored codes; the float embeddings are never
    * re-read. Keying, staleness invalidation, atomic publish, and the
    * concurrency contract are [[FingerprintStore]]'s (store key =
    * [[CodeStoreVersion]] + md5 of the source listing).
    *
    * `idCols` names the identity columns carried alongside the code
    * (default `vec_id`); everything else — the float vector above all —
    * is dropped from the stored artifact. */
  def int8CodeStore(spark: org.apache.spark.sql.SparkSession,
                    embeddings: DataFrame, sourcePath: String, tag: String,
                    storeRoot: Option[String] = None,
                    vecCol: String = "embedding",
                    idCols: Seq[String] = Seq("vec_id")): DataFrame =
    FingerprintStore.getOrBuild(spark, sourcePath, tag, CodeStoreVersion,
      storeRoot)(
      quantizeInt8(embeddings, vecCol)
        .select((idCols :+ "scale" :+ "qvec").map(col): _*))
}
