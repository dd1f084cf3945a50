package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths:
  *   - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small) query
  *     set against the full corpus, one pass, no shuffle of the corpus. The
  *     correctness baseline.
  *   - [[lshTopK]] — the scale path: random-hyperplane LSH buckets both
  *     sides, joins co-partitioned on bucket, reranks exactly within
  *     buckets. Candidate work is O(corpus × probes), not O(corpus ×
  *     queries); at 100 TB the bucket join replaces the broadcast.
  *
  * Cosine is an in-order double fold (`aggregate` over `zip_with`) so the
  * DuckDB oracle (`list_dot_product` et al.) can be validated digit-for-
  * digit; outputs are pre-rounded.
  */
object Similarity {

  /** In-order double dot product of two float vectors — a native codegen'd
    * Catalyst expression ([[graft.functions.VectorDot]]); bit-identical to
    * the equivalent `aggregate`/`zip_with` fold but stays inside
    * whole-stage codegen instead of the interpreted HOF path. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** dot/(n1·n2) guarded against a zero norm product: NULL instead of an
    * ANSI DIVIDE_BY_ZERO crash on an all-zero embedding (an empty doc's
    * vector, a plausible production input). Mirrors DuckDB's x/0 → NULL,
    * so oracle parity is automatic; a NULL similarity ranks below every
    * real score (desc ordering puts nulls last in both engines) and
    * passes no threshold — a zero vector matches nothing either way. */
  def cosFromDot(d: Column, n1: Column, n2: Column): Column =
    when(n1 * n2 > 0, d / (n1 * n2))

  /** Cosine similarity rounded to 6 decimals. */
  def cosine(a: Column, b: Column): Column =
    round(cosFromDot(dot(a, b), norm(a), norm(b)), 6)

  /** Exact top-k neighbors for each query vector (query set must be small —
    * it is broadcast). Self-pairs excluded. Ties broken by neighbor id.
    *
    * Norms are precomputed once per vector (map-side, before the join) so
    * the per-pair work is a single dot-product fold instead of three —
    * bit-identical result, 3× less of the non-codegen higher-order-function
    * cost that dominates this operator. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.withColumn("_n", norm(col("embedding")))
    val q = queries.withColumn("_n", norm(col("embedding")))
    val scored = c.as("c")
      .join(broadcast(q.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosFromDot(dot(col("q.embedding"), col("c.embedding")),
          col("q._n"), col("c._n")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  val NumHyperplanes = 32 // 8 tables x 4 planes
  val PlanesPerTable = 4
  val NumTables = 8
  val MaxDim = 512
  val MaxHyperplanes = 64 // sign bits share one Long mask

  /** Deterministic pseudo-random hyperplanes, precomputed ONCE on the driver
    * (component j of plane p = md5("hp|p|j") first 6 hex nibbles mapped into
    * [-0.5, 0.5)) and shipped as array literals — zero per-row hashing on
    * executors, reruns identical everywhere. Plane p's values depend only
    * on p, so every configuration's plane list is a PREFIX of the full
    * [[MaxHyperplanes]]-plane family — a wider config reuses the default's
    * planes verbatim and appends, which is what makes its candidate set a
    * superset of the default's (see [[lshTopK]]'s 6-arg overload). */
  private[graft] lazy val allPlanes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(MaxHyperplanes) { p =>
      Array.tabulate(MaxDim) { j =>
        val hex = md.digest(s"hp|$p|$j".getBytes("UTF-8"))
          .take(3).map(b => f"${b & 0xff}%02x").mkString
        java.lang.Long.parseLong(hex, 16).toDouble / 16777216.0 - 0.5
      }
    }
  }

  private[graft] def planesFor(n: Int): Array[Array[Double]] = {
    require(n > 0 && n <= MaxHyperplanes,
      s"hyperplane count must be in 1..$MaxHyperplanes, got $n")
    allPlanes.take(n)
  }

  private[graft] lazy val planes: Array[Array[Double]] =
    planesFor(NumHyperplanes)

  /** All 32 hyperplane sign bits of a vector as one long bitmask, via the
    * batched codegen kernel [[graft.functions.HyperplaneSignBits]] (one
    * expression, primitive `double[][]` planes — replaces 32 per-plane
    * [[graft.functions.VectorDot]] evaluations whose `typedLit` planes
    * cost one unbox per element per row). Per-plane accumulation order is
    * unchanged, so every downstream bucket value is bit-identical. */
  def hyperplaneMask(vec: Column): Column =
    graft.functions.VectorExpressions.hyperplaneSignBits(vec, planes)

  /** [[hyperplaneMask]] over the first `numPlanes` planes of the shared
    * family — bit p of the wider mask equals bit p of the default mask
    * for every shared plane (prefix property above). */
  def hyperplaneMaskAt(vec: Column, numPlanes: Int): Column =
    graft.functions.VectorExpressions.hyperplaneSignBits(vec, planesFor(numPlanes))

  /** Banded multi-table LSH buckets from a precomputed sign-bit mask:
    * NumTables entries of (table_id, PlanesPerTable sign bits). AND within
    * a table, OR across tables — the standard recall/precision dial
    * (all-16-bits-AND would give ~zero recall on weakly-similar vectors).
    *
    * Callers MUST materialize the mask in its own projection (a `_mask`
    * withColumn) rather than passing `hyperplaneMask(vec)` directly: the 8
    * table structs each reference the mask, and handing the kernel
    * expression itself here would rely on codegen subexpression
    * elimination to avoid 8 re-evaluations. */
  def bucketsFromMask(mask: Column): Column =
    bucketsFromMask(mask, NumTables, PlanesPerTable)

  /** Banded buckets at an explicit (numTables, planesPerTable) — the LSH
    * recall dial as a parameter (more tables = more OR-chances = higher
    * recall at ×tables corpus explode cost). */
  def bucketsFromMask(mask: Column, numTables: Int,
                      planesPerTable: Int): Column = {
    val tables = (0 until numTables).map { t =>
      struct(lit(t).as("tbl"),
        shiftright(mask, t * planesPerTable)
          .bitwiseAND(lit((1L << planesPerTable) - 1)).as("bits"))
    }
    array(tables: _*)
  }

  /** One-shot convenience for tests / small inputs: mask + buckets in a
    * single column expression (the mask is re-evaluated per table — use
    * the two-step [[hyperplaneMask]] → [[bucketsFromMask]] form on hot
    * paths). */
  def hyperplaneBuckets(vec: Column): Column =
    bucketsFromMask(hyperplaneMask(vec))

  /** Multi-probe buckets: for each table, the exact bucket PLUS every
    * 1-bit flip of its PlanesPerTable sign bits — the standard LSH recall
    * lift (a near neighbor that lands one hyperplane away is still
    * probed). Applied to the QUERY side only, so the corpus explode
    * factor — the side that matters at scale — stays NumTables; probe
    * cost grows only with the (small) query set. */
  def probeBucketsFromMask(mask: Column): Column =
    probeBucketsFromMask(mask, NumTables, PlanesPerTable)

  /** Multi-probe buckets at an explicit configuration (see above). */
  def probeBucketsFromMask(mask: Column, numTables: Int,
                           planesPerTable: Int): Column = {
    val entries = for {
      t <- 0 until numTables
      f <- -1 until planesPerTable // -1 = the exact (unflipped) bucket
    } yield {
      val bits = shiftright(mask, t * planesPerTable)
        .bitwiseAND(lit((1L << planesPerTable) - 1))
      val probed = if (f < 0) bits else bits.bitwiseXOR(lit(1L << f))
      struct(lit(t).as("tbl"), probed.as("bits"))
    }
    array(entries: _*)
  }

  /** Approximate top-k: candidates are vectors sharing ANY table bucket
    * with the query (multi-probe: or any 1-bit-flipped query bucket),
    * exact cosine rerank, distinct pairs. The bucket join is
    * co-partitioned on (table, bits) — at 100 TB this replaces the
    * broadcast with a shuffle proportional to matching buckets only.
    *
    * The bucket join carries ONLY (vec_id, tbl, bits): embeddings never
    * ride the ×NumTables explode shuffle, candidate pairs are
    * id-distinct'd BEFORE the rerank (a pair colliding in several
    * tables/probes is scored once, not per collision), and the vectors
    * are joined back just for the one scoring pass. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              multiProbe: Boolean = true): DataFrame =
    lshTopK(corpus, queries, k, multiProbe, NumTables, PlanesPerTable)

  /** [[lshTopK]] at an explicit (numTables, planesPerTable) — the
    * production recall dial. Because every configuration's planes are a
    * prefix of one shared family, a run with MORE tables (same
    * planesPerTable) generates a candidate SUPERSET of the default's:
    * its first NumTables tables produce bit-identical buckets, the extra
    * tables only add collisions — so recall@k is monotone in the table
    * count (property-tested; exercised oracle-gated at 12×4 by
    * `sim_ann_lsh_wide`). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              multiProbe: Boolean, numTables: Int,
              planesPerTable: Int): DataFrame = {
    val numPlanes = numTables * planesPerTable
    def bucketed(df: DataFrame, probe: Boolean) = df
      .withColumn("_mask", hyperplaneMaskAt(col("embedding"), numPlanes))
      .withColumn("bb", explode(
        if (probe) probeBucketsFromMask(col("_mask"), numTables, planesPerTable)
        else bucketsFromMask(col("_mask"), numTables, planesPerTable)))
      .select(col("vec_id"), col("bb.tbl").as("tbl"), col("bb.bits").as("bits"))
    // The query side is the bounded-batch side — pin it as the broadcast
    // build so the ×numTables corpus explode streams map-side.
    val cand = bucketed(corpus, probe = false).as("c")
      .join(broadcast(bucketed(queries, probe = multiProbe).as("q")),
        col("q.tbl") === col("c.tbl") && col("q.bits") === col("c.bits") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"))
      .distinct()
    def vecs(df: DataFrame, idCol: String, e: String, n: String) = df
      .select(col("vec_id").as(idCol), col("embedding").as(e),
        norm(col("embedding")).as(n))
    // Rerank: query vectors broadcast (Q rows); the CORPUS float side is
    // pinned to a shuffle join — unpinned it was the broadcast build side
    // (the whole float corpus), the round-16 audit's OOM-at-scale finding.
    // AQE's exact post-shuffle stats may still localize the corpus read
    // when the candidate side is genuinely small.
    val scored = cand
      .join(broadcast(vecs(queries, "query_id", "_qe", "_qn")), "query_id")
      .join(vecs(corpus, "neighbor_id", "_ce", "_cn").hint("SHUFFLE_MERGE"),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosFromDot(dot(col("_qe"), col("_ce")),
          col("_qn"), col("_cn")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Scale-aware IVF list count: `max(16, ceil(sqrt(n)))` — the classic
    * occupancy rule. With nLists ∝ √n, expected cell size is ~√n and the
    * in-cell pair work Σ cell² stays LINEAR in the corpus instead of
    * quadratic-per-cell; a fixed nLists makes cells grow with the corpus
    * (the 10× probe measured 3.9–4.8× wall growth for the fixed dial).
    * Both `ceil` and `sqrt` are IEEE-exact on the integer counts involved
    * (perfect squares included), so DuckDB's
    * `greatest(16, ceil(sqrt(count(*))))` reproduces the value bit-for-bit
    * — which is what lets the auto dial be oracle-gated end-to-end. */
  def autoNLists(corpusRows: Long): Int =
    math.max(16, math.ceil(math.sqrt(corpusRows.toDouble)).toInt)

  /** Deterministic stride for SAMPLED coarse training: refine the coarse
    * quantizer on every `stride`-th vector id so the Lloyd pass touches
    * ~16·nLists rows (the FAISS practice — the coarse quantizer trains on
    * a bounded sample, never the corpus) instead of all n. With the √n
    * auto dial the refine pass drops from O(n·√n·d) to O(√n·√n·d) =
    * O(n·d) — the construction term the round-16 100× probes measured as
    * the auto rows' dominant cost. Pure integer arithmetic
    * (`max(1, n ÷ (16·nLists))`), so DuckDB's
    * `greatest(1, n // (16 * nLists))` reproduces it bit-for-bit and the
    * sampled chain stays oracle-gated end-to-end. At the sf0.01 gate the
    * stride degenerates to 1 (sample ⊇ corpus — sampled ≡ full, also
    * asserted in PqSpec); sf0.1 runs stride 2, exercising the sampling
    * arithmetic under the hash gate. */
  def coarseTrainStride(corpusRows: Long, nLists: Int): Long =
    math.max(1L, corpusRows / (16L * nLists))

  /** Coarse centroids with the Lloyd refinement restricted to the
    * [[coarseTrainStride]] sample: seeds are the usual first-nLists rows,
    * each refine iteration assigns ONLY `vec_id % stride == 0` rows and
    * re-means over those. Stride 1 is bit-identical to the full trainer.
    * The final corpus-wide cell assignment (which every IVF consumer does
    * against the RETURNED centroids) is unchanged — sampling bounds who
    * VOTES on centroid positions, never who gets assigned. */
  private[graft] def trainCentroidsSampled(corpus: DataFrame, nLists: Int,
                                           lloydIters: Int,
                                           stride: Long): LocalCentroids = {
    val sample =
      if (stride <= 1L) corpus
      else corpus.where(col("vec_id") % lit(stride) === 0)
    collectCentroids(
      (1 to lloydIters).foldLeft(seedCentroids(corpus, nLists)) {
        (c, _) => refineCentroids(sample, c)
      })
  }

  /** [[ivfTopK]] with nLists set by [[autoNLists]] from a corpus count —
    * one cheap count action (parquet metadata for file sources), then the
    * identical plan. The dial that must grow with the corpus now does.
    *
    * CAVEAT — without `corpusRows`, `corpus.count()` runs at CONSTRUCTION
    * time. On a raw file source it is a metadata-only job, but on a
    * DERIVED corpus (filters, joins, a cleaning pipeline upstream) it
    * executes that whole subplan once here and again in the main query —
    * Catalyst does not share subtrees across actions. For a derived
    * corpus pass `corpusRows = Some(n)` from a count you already have (or
    * a `.cache()`d DataFrame); the skipped-count shape is pinned in
    * PlanInvariantSpec. */
  def ivfTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                  nProbe: Int = 4, lloydIters: Int = 1,
                  corpusRows: Option[Long] = None): DataFrame =
    ivfTopK(corpus, queries, k,
      autoNLists(corpusRows.getOrElse(corpus.count())), nProbe, lloydIters)

  /** Corpus-wide k-nearest-neighbor graph, IVF-cell-blocked: every vector
    * is a query (the k-NN-graph build a SemDeDup-style pipeline runs for
    * diversity filtering / graph-based dedup), with candidates restricted
    * to the vector's own cell. One row per (vector, rank≤k):
    * (vec_id, rank, neighbor_id, cos), vectors whose cell is a singleton
    * emit nothing.
    *
    * Scale: assignment is the map-only [[assignCells]] kernel; the only
    * joins are the cell-equi self-join (co-partitioned on cell — with
    * the √n dial, per-cell pair work is bounded near-linearly, see
    * SCALING.md round 11) and the per-vector top-k window, which Spark
    * pre-prunes map-side via WindowGroupLimit. No all-pairs anywhere.
    *
    * CAVEAT — singleton-cell silence: a vector alone in its cell has no
    * in-cell candidates and emits NO rows (it simply doesn't appear as a
    * `vec_id` in the output), rather than appearing with null neighbors.
    * With the √n dial, expected cell occupancy is ~√n, so singletons are
    * rare outliers — but a consumer that requires every vector present
    * should left-join the output back to the corpus ids (or lower
    * nLists). The oracle mirrors the emit-nothing semantics. */
  def knnGraph(corpus: DataFrame, k: Int, nLists: Int = 16,
               lloydIters: Int = 1): DataFrame = {
    val local = collectCentroids(
      (1 to lloydIters).foldLeft(seedCentroids(corpus, nLists)) {
        (c, _) => refineCentroids(corpus, c)
      })
    val assigned = assignCells(
      corpus.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("_n")), local)
    // Corpus × corpus cell self-join: co-partitioned shuffle, pinned —
    // Catalyst's post-assignCells estimate otherwise judged the build side
    // broadcastable (= the whole corpus with embeddings).
    val scored = assigned.as("a")
      .join(assigned.as("b").hint("SHUFFLE_MERGE"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        round(cosFromDot(dot(col("a.embedding"), col("b.embedding")),
          col("a._n"), col("b._n")), 6).as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy("vec_id", "rank")
  }

  /** [[knnGraph]] at the scale-aware √n dial ([[autoNLists]]) — the
    * configuration a corpus-sized graph build actually wants: cell size
    * ≈ √n bounds both the per-vector candidate list and the largest
    * join group.
    *
    * Same construction-time `corpus.count()` caveat as [[ivfTopKAuto]]:
    * metadata-cheap on a file source, a full extra subplan execution on a
    * derived corpus — pass `corpusRows = Some(n)` from a count you
    * already have (or cache the corpus). */
  def knnGraphAuto(corpus: DataFrame, k: Int, lloydIters: Int = 1,
                   corpusRows: Option[Long] = None): DataFrame =
    knnGraph(corpus, k, autoNLists(corpusRows.getOrElse(corpus.count())),
      lloydIters)

  /** Deterministic seed centroids: the first `nLists` corpus vectors. */
  def seedCentroids(corpus: DataFrame, nLists: Int): DataFrame =
    corpus.where(col("vec_id") < nLists)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"),
        norm(col("embedding")).as("cn"))

  /** Driver-side centroid set, cells ascending — the state the
    * [[graft.functions.NearestCentroid]] kernel ships to executors as
    * primitive reference objects. Centroids are nLists ≈ √n rows: ~25 MB
    * at 10^10 vectors, always driver-collectable (the FAISS shape: the
    * coarse quantizer is small shared state, the corpus never is). */
  private[graft] final case class LocalCentroids(
      cells: Array[Long], vecs: Array[Array[Float]], norms: Array[Double])

  /** Materialize a centroid DataFrame — (cell, cvec, cn) — onto the
    * driver, cells ascending. Runs the centroid subplan ONCE, at operator
    * construction (the CC loop sets the precedent for construction-time
    * jobs); every downstream consumer then reads the collected arrays
    * instead of re-executing the Lloyd chain — Catalyst does not reuse
    * subtrees across consumers, and the measured alternatives re-ran the
    * whole chain per reference. */
  private[graft] def collectCentroids(cent: DataFrame): LocalCentroids = {
    val rows = cent.select(col("cell").cast("long"), col("cvec"), col("cn"))
      .collect().sortBy(_.getLong(0))
    LocalCentroids(rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray),
      rows.map(_.getDouble(2)))
  }

  /** The collected centroids as a literal local-relation DataFrame —
    * for the one consumer (query-side nProbe ranking) that needs
    * centroids as ROWS; scanning a literal table re-executes nothing. */
  private[graft] def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                                 local: LocalCentroids): DataFrame = {
    import spark.implicits._
    local.cells.indices
      .map(k => (local.cells(k), local.vecs(k).toSeq, local.norms(k)))
      .toDF("cell", "cvec", "cn")
  }

  /** Append the argmax-cosine `cell` to (…, embedding, _n) rows via the
    * [[graft.functions.NearestCentroid]] codegen kernel: a map-only pass,
    * no ×nLists expansion, no aggregation, no join, no shuffle. Same
    * argmax semantics as `max_by(cell, struct(_sim, -cell))` over a
    * broadcast crossJoin (highest cosine, lowest cell on float ties,
    * zero-norm → lowest cell), bit-identical assignments — the measured
    * declarative shapes all degraded super-linearly (SortAggregate from
    * the struct aggregation buffer: 33 s at 10×; Lloyd-chain re-execution
    * from multi-reference subplans: 97 s at 100×) while the kernel holds
    * the whole assignment inside whole-stage codegen. */
  private[graft] def assignCells(df: DataFrame,
                                 local: LocalCentroids): DataFrame =
    df.withColumn("cell",
      graft.functions.VectorExpressions.nearestCentroid(
        col("embedding"), col("_n"), local.cells, local.vecs, local.norms))

  /** One Lloyd (k-means) iteration: assign every corpus vector to its
    * nearest seed cell ([[assignCells]] — the map-only kernel over the
    * collected seed centroids), recompute each cell's centroid as the
    * element-wise mean of its members via the
    * [[graft.functions.VectorMean]] primitive-buffer aggregate — one
    * groupBy(cell) whose partials are a compact `(double[], long[])` blob
    * per (cell, partition), instead of the previous posexplode chain that
    * pushed n×dim rows through a per-(cell, dim) hash aggregate (the named
    * residual in SCALING.md's 100× gap). Same per-dimension mean semantics
    * (each dim divides by ITS observation count, so a ragged corpus
    * averages identically). One iteration fixes the worst seed imbalance;
    * more iterations drop in by chaining. Deterministic — no RNG. */
  def refineCentroids(corpus: DataFrame, cent: DataFrame): DataFrame = {
    val local = collectCentroids(cent)
    val base = corpus
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("_n"))
    assignCells(base, local)
      .groupBy("cell")
      .agg(graft.functions.VectorExpressions.vecMean(col("embedding")).as("m"))
      .select(col("cell"),
        transform(col("m"), x => x.cast("float")).as("cvec"))
      .withColumn("cn", norm(col("cvec")))
  }

  /** IVF (inverted-file) approximate top-k — the second scale path next to
    * LSH: partition the corpus into `nLists` cells around centroids, search
    * only the `nProbe` cells nearest each query.
    *
    * Centroids are k-means-refined (`lloydIters` Lloyd iterations over
    * deterministic seeds — see [[refineCentroids]]). The
    * corpus is assigned once (map + broadcast argmax over centroids — the
    * cell id becomes a partition key); queries explode to their nProbe
    * cells and join co-partitioned on cell id. Probe cost is
    * O(corpus × nProbe / nLists) per query instead of O(corpus).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 4,
              lloydIters: Int = 1): DataFrame = {
    val local = collectCentroids(
      (1 to lloydIters).foldLeft(seedCentroids(corpus, nLists)) {
        (c, _) => refineCentroids(corpus, c)
      })
    // nearest cell per corpus vector: the map-only assignCells kernel —
    // the corpus-sized side never expands, aggregates, or joins
    def cellOf(df: DataFrame): DataFrame =
      assignCells(df.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("_n")), local)
    val assigned = cellOf(corpus)
    // queries keep their nProbe best cells: top-nProbe needs centroid
    // ROWS, so the (small) query side expands against the literal
    // centroid table — id-only through the window, embedding joined back
    val cent = centroidsDf(corpus.sparkSession, local)
    val qbase = queries.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("_n"))
    val qw = Window.partitionBy(col("vec_id"))
      .orderBy(col("_sim").desc, col("cell"))
    val probes = qbase
      .join(
        qbase.crossJoin(broadcast(cent))
          .select(col("vec_id"),
            cosFromDot(dot(col("embedding"), col("cvec")),
              col("_n"), col("cn")).as("_sim"),
            col("cell"))
          .withColumn("_pr", row_number().over(qw))
          .where(col("_pr") <= nProbe)
          .select(col("vec_id"), col("cell")),
        "vec_id")
      .select(col("vec_id"), col("embedding"), col("_n"), col("cell"))
    // exact rerank inside probed cells. The probe side is structurally
    // small (Q × nProbe rows under the bounded-query-batch contract), so
    // it is the broadcast build side BY CONSTRUCTION: the corpus streams
    // map-side. Unpinned, Catalyst's estimate (which does not survive the
    // assignCells projection) broadcast the ASSIGNED CORPUS WITH
    // EMBEDDINGS — fine at test scale, an OOM at 10^10 vectors (the
    // round-16 plan-audit finding, pinned in PlanInvariantSpec).
    val scored = assigned.as("c")
      .join(broadcast(probes.as("q")),
        col("q.cell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosFromDot(dot(col("q.embedding"), col("c.embedding")),
          col("q._n"), col("c._n")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy("query_id", "rank")
  }
}
