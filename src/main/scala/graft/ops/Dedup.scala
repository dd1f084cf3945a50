package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.CacheScope

/** Deduplication operators for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, and blocked n-gram-Jaccard near-dup detection.
  *
  * Every near-dup operator is composed from a few shared stages, each
  * written once here: [[shingleSets]] (distinct 3-shingle sets, the
  * two-select tokenize-then-shingle shape), [[bandSelfJoin]] (the
  * same-corpus LSH bucket self-join), [[verifyJaccard]] (exact Jaccard
  * over candidate pairs), [[bandedSigPairs]] (the chunk-banded Hamming
  * join behind [[hammingPairsFromSig]] and [[crossHammingPairs]]) and
  * [[blockedPostings]] (the df-cut inverted-index join behind
  * [[blockedNgramJaccard]] and [[blockedContainment]]). An operator adds
  * only its own score, threshold and orientation.
  *
  * Scale design (the point of each shape):
  *   - exact dedup: one hash-groupBy — a single shuffle on a 32-byte key,
  *     partial-aggregated map-side; works at any scale.
  *   - MinHash+LSH: per-doc signatures (map-only) → explode into `bands`
  *     rows/doc → self-join co-partitioned on (band, bucket). Never a cross
  *     join: candidate generation is O(docs × bands), pair verification only
  *     touches colliding buckets.
  *   - SimHash: 16- or 64-bit signature (map-only) → 4-chunk banding join
  *     (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 of 4 chunks equal; chunk width
  *     scales with signature width) → exact hamming filter via
  *     bit_count(xor). 16-bit for the oracle, 64-bit for production
  *     corpora where 65k signature values would saturate.
  *   - n-gram Jaccard: blocked on (lang, source) — the classic "block on
  *     cheap metadata, verify expensively inside blocks" pattern; at 100 TB
  *     the block key becomes any low-cardinality partition column.
  *
  * All hashes derive from md5 so the DuckDB oracle can mirror every step
  * bit-exactly; at production scale you'd swap in xxhash64 (also a plain
  * Catalyst expression) — the topology is unchanged.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc_id per content hash. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("cnt"))

  val NumMinhashes = 8
  val NumBands = 4 // 2 minhashes per band
  val MersenneP: Long = (1L << 61) - 1 // prime modulus for universal hashing

  /** Universal-hash parameters for the i-th minhash: h_i(x) = (A_i x + B_i)
    * mod (2^61-1). One md5 per shingle total; the k hash functions are
    * cheap integer affine maps of its 48-bit prefix — the classic minwise
    * universal-hashing construction. */
  def minhashParams(i: Int): (Long, Long) = (2L * i + 3L, 1000003L * (i + 1))

  /** 48-bit integer base hash of a shingle (md5 so the oracle can mirror). */
  def shingleHash(sh: Column): Column =
    conv(substring(md5(sh), 1, 12), 16, 10).cast(LongType)

  /** Per-doc MinHash signature columns mh0..mh{k-1} over 3-token shingles.
    * One map-side codegen kernel per row ([[graft.functions.MinhashSig]],
    * round 21) — the signature is a pure per-document function, so the
    * declarative explode + corpus-token-scale min aggregation
    * (kept test-side and pinned value-identical by MinhashKernelSpec)
    * was removable outright.
    *
    * `numHashes` is the production recall/precision
    * knob (more hashes = finer jaccard resolution; pair with more bands
    * in [[minhashCandidates(docs:DataFrame,numHashes:Int,numBands:Int)*]]).
    * Still one md5 per shingle regardless of k: every extra hash is one
    * more integer affine map over the same base hash.
    *
    * The `_mh` array is projected to the mh0..mh{k-1} columns through
    * `element_at`s over ONE kernel call in ONE Project — whole-stage
    * codegen's intra-operator subexpression elimination evaluates the
    * duplicated deterministic kernel once per row. The sub-3-token drop
    * (the declarative explode's row semantics) is a SEPARATE cheap
    * early-exit predicate ([[graft.functions.HasMinTokens]]), NOT
    * `_mh IS NOT NULL`: Catalyst pushes that filter below the projection
    * by alias substitution, which would run the md5-heavy kernel twice
    * per row (once in the Filter, once in the Project). */
  def minhashSignature(docs: DataFrame,
                       numHashes: Int = NumMinhashes): DataFrame = {
    val sig = graft.functions.MinhashExpressions
      .minhashSig(col("text"), numHashes)
    docs
      .where(graft.functions.MinhashExpressions
        .hasMinTokens(col("text"), 3))
      .select(col("doc_id") +: (0 until numHashes).map(i =>
        element_at(sig, i + 1).as(s"mh$i")): _*)
  }

  /** (doc_id, band, h1, h2) band-bucket rows from a signature table — the
    * LSH join key shared by same-corpus and cross-corpus candidate
    * generation. */
  private def bandBuckets(sig: DataFrame): DataFrame = {
    val bands = (0 until NumBands).map(b =>
      struct(lit(b).as("band"), col(s"mh${2 * b}").as("h1"),
        col(s"mh${2 * b + 1}").as("h2")))
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.h1").as("h1"), col("bb.h2").as("h2"))
  }

  /** LSH candidate pairs only (no verification): docs sharing any band
    * (band b joins on the raw minhash pair (mh_{2b}, mh_{2b+1})), distinct,
    * d1 < d2. The cheap first stage shared by pair-scoring and clustering. */
  def minhashCandidates(docs: DataFrame): DataFrame =
    bandSelfJoin(bandBuckets(minhashSignature(docs)), Seq("band", "h1", "h2"))

  /** Same-corpus band-bucket SELF-join on the bucket key columns `keys`:
    * distinct (d1, d2) doc pairs, d1 < d2, sharing any bucket. Both sides
    * are the same corpus-sized table, and Catalyst's size estimate does
    * not survive the signature/band projection — left unpinned it
    * broadcast the build side (the round-15 posting-join failure mode,
    * found again by the round-16 plan audit), so the join is pinned
    * SHUFFLE_MERGE. */
  private def bandSelfJoin(buckets: DataFrame, keys: Seq[String]): DataFrame =
    buckets.as("a")
      .join(buckets.as("b").hint("SHUFFLE_MERGE"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()

  /** (doc_id, band, bkey) band-bucket rows at an arbitrary
    * (numHashes, numBands) configuration — the production LSH dial
    * SCALING.md argues ("8→128 hashes, 16 bands of 8": more hashes per
    * band = higher precision per collision, more bands = recall back).
    * Each band's `numHashes / numBands` minhashes fold into ONE 48-bit
    * key (the [[shingleHash]] md5-prefix of their comma-join — the same
    * oracle-mirrorable construction the base hash uses), so the bucket
    * schema — and therefore the join, the store layout, and every
    * downstream consumer — is identical at every configuration. A fold
    * collision only ever ADDS a candidate pair, which the exact-Jaccard
    * verification stage scores like any other candidate. */
  private def bandBucketsAt(sig: DataFrame, numHashes: Int,
                            numBands: Int): DataFrame = {
    require(numBands > 0 && numHashes % numBands == 0,
      s"minhash banding: $numBands bands must evenly divide $numHashes hashes")
    val rpb = numHashes / numBands
    val bands = (0 until numBands).map { b =>
      val key = shingleHash(concat_ws(",",
        (0 until rpb).map(i => col(s"mh${b * rpb + i}").cast("string")): _*))
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"))
  }

  /** [[minhashCandidates]] at an explicit (numHashes, numBands)
    * configuration via the folded band key. At the default (8, 4) the
    * candidate set equals the legacy (h1, h2) path's (fold collisions
    * aside) — property-tested; at production configs the same topology
    * scales bands/hashes with zero schema change. */
  def minhashCandidates(docs: DataFrame, numHashes: Int,
                        numBands: Int): DataFrame =
    bandSelfJoin(bandBucketsAt(minhashSignature(docs, numHashes),
      numHashes, numBands), Seq("band", "bkey"))

  /** LSH candidate pairs verified with exact Jaccard over distinct
    * shingles. Returns (d1, d2, jaccard), d1 < d2.
    *
    * The verification joins are candidate-keyed inner joins, so only
    * candidate docs' shingle sets ever cross the wire. A further
    * left-semi prune that skips even COMPUTING shingles for
    * non-candidate docs (the [[crossCorpusPairs]] shape) was measured at
    * sf0.1 and rejected for this same-corpus operator: without a cached
    * candidate table the semi-join re-derives the bucket self-join, and
    * the duplicated candidate generation (+0.7 s) costs more than the
    * skipped shingle maps. In the incremental operator the old corpus's
    * buckets come from the signature store, so the prune is free there
    * and stays. */
  def minhashLshPairs(docs: DataFrame): DataFrame =
    verifySameCorpus(docs, minhashCandidates(docs))

  /** [[minhashLshPairs]] at an explicit (numHashes, numBands)
    * configuration — candidates from the folded-key banding, identical
    * exact-Jaccard verification. */
  def minhashLshPairs(docs: DataFrame, numHashes: Int,
                      numBands: Int): DataFrame =
    verifySameCorpus(docs, minhashCandidates(docs, numHashes, numBands))

  /** Same-corpus exact-Jaccard verification of a (d1, d2) candidate
    * table: both sides read one shingle-set table. */
  private def verifySameCorpus(docs: DataFrame, cand: DataFrame): DataFrame = {
    val sets = shingleSets(docs, Seq("doc_id"))
    verifyJaccard(cand, "d1" -> sets, "d2" -> sets)
  }

  /** Per-doc distinct 3-token shingle sets, keeping the `keep` columns:
    * (keep…, shs) arrays, or (keep…, sh) rows when `exploded`. Two selects,
    * with the `explode` inside the second: the tokenizer is materialized
    * before the shingle lambda reads it. Moving that projection boundary
    * lets CollapseProject inline the tokenizer into the lambda and
    * re-tokenize per element (the round-6 10-20x regression noted at
    * [[blockedNgramJaccard]]). */
  private[ops] def shingleSets(docs: DataFrame, keep: Seq[String],
                               exploded: Boolean = false): DataFrame = {
    val sets = array_distinct(TextAnalysis.shingles3(col("_t")))
    docs.select(keep.map(col) :+ TextAnalysis.tokens(col("text")).as("_t"): _*)
      .select(keep.map(col) :+
        (if (exploded) explode(sets).as("sh") else sets.as("shs")): _*)
  }

  /** Exact-Jaccard verification of a candidate-pair table: candidate-keyed
    * inner joins of each id column against a [[shingleSets]] table
    * (doc_id, shs), so only candidate docs' sets ever cross the wire.
    * Emits (id1, id2, jaccard). The shingle-set sides are corpus-sized
    * (one array row per doc) and must never be the broadcast build side;
    * SHUFFLE_MERGE keeps the verification candidate-keyed, and AQE's
    * exact post-shuffle stats can still localize the read when the
    * candidate side is truly small. */
  private def verifyJaccard(cand: DataFrame, side1: (String, DataFrame),
                            side2: (String, DataFrame)): DataFrame = {
    val ((id1, sets1), (id2, sets2)) = (side1, side2)
    cand
      .join(sets1.as("s1").hint("SHUFFLE_MERGE"), col(id1) === col("s1.doc_id"))
      .join(sets2.as("s2").hint("SHUFFLE_MERGE"), col(id2) === col("s2.doc_id"))
      .select(col(id1), col(id2),
        jaccard(col("s1.shs"), col("s2.shs")).as("jaccard"))
  }

  /** Incremental (cross-corpus) near-dup detection: MinHash-LSH candidates
    * between a new batch and an existing corpus, verified with exact
    * Jaccard. Returns (new_id, old_id, jaccard) — the "dedupe
    * this crawl snapshot against everything already ingested" operator.
    *
    * MinHash signatures are a pure per-doc map, so the old corpus's
    * band buckets are computed once and persisted ([[bandBucketStore]]);
    * each new batch only maps its own signatures and joins co-partitioned
    * on the (band, h1, h2) bucket key against the stored table. Candidates
    * are bucket collisions only — never new × old. Shingle-set
    * verification touches ONLY docs that appear in a candidate pair (a
    * left-semi prune on each side), so the exact-Jaccard pass costs
    * O(candidates), not O(corpus). */
  def crossCorpusPairs(newDocs: DataFrame, oldDocs: DataFrame,
                       oldBuckets: Option[DataFrame] = None): DataFrame = {
    val ob = oldBuckets.getOrElse(bandBuckets(minhashSignature(oldDocs)))
    val cand = bandBuckets(minhashSignature(newDocs)).as("a")
      .join(ob.as("b").hint("SHUFFLE_MERGE"), // old corpus side: never broadcast
        col("a.band") === col("b.band") && col("a.h1") === col("b.h1") &&
          col("a.h2") === col("b.h2"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    // The left-semi compute-prune references `cand` once more per side —
    // worth it exactly when the candidate subtree is cheap to re-derive
    // (stored buckets + a SMALL new batch's signatures). Without a store,
    // each extra reference re-mines the old corpus's signatures too, the
    // measured regression documented at [[minhashLshPairs]] — so the
    // prune is applied only on the stored path.
    def sets(d: DataFrame, ids: String) = shingleSets(
      if (oldBuckets.isDefined)
        d.join(cand.select(col(ids).as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      else d, Seq("doc_id"))
    verifyJaccard(cand, "new_id" -> sets(newDocs, "new_id"),
      "old_id" -> sets(oldDocs, "old_id"))
  }

  /** Signature-algorithm version baked into every store directory name.
    * Bump whenever [[minhashSignature]] / [[bandBuckets]] change shape
    * (hash count, band layout, shingle size, seeds) — an on-disk store
    * written by an older algorithm then simply misses the new name and is
    * rebuilt, instead of silently serving incompatible buckets. */
  val SigStoreVersion = "v2-mh8-b4-sh3"

  /** The fingerprinted store directory for (source, tag) under `root` —
    * exposed so callers (and tests) can locate a store without globbing. */
  def sigStorePath(spark: org.apache.spark.sql.SparkSession,
                   sourcePath: String, tag: String,
                   storeRoot: String): org.apache.hadoop.fs.Path =
    FingerprintStore.storePath(spark, sourcePath, tag, SigStoreVersion,
      storeRoot)

  /** Persistent band-bucket store for the incremental-dedup corpus side:
    * build the (doc_id, band, h1, h2) table once, write it to parquet, and
    * serve every later batch from the stored copy — the executable form of
    * "signatures are computed once and stored". Keying, staleness
    * invalidation, atomic publish, and the concurrency contract are
    * [[FingerprintStore]]'s (store key = [[SigStoreVersion]] + md5 of the
    * source listing). */
  def bandBucketStore(spark: org.apache.spark.sql.SparkSession,
                      corpus: DataFrame, sourcePath: String, tag: String,
                      storeRoot: Option[String] = None): DataFrame =
    FingerprintStore.getOrBuild(spark, sourcePath, tag, SigStoreVersion,
      storeRoot)(bandBuckets(minhashSignature(corpus)))

  /** Jaccard similarity of two distinct-element arrays, rounded to 6 with
    * the boundary-safe [[TextAnalysis.round6]] (int ratios hit exact .5
    * decimal boundaries where HALF_UP differs across engines). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(LongType)
    TextAnalysis.round6(inter.cast("double") /
      (size(a).cast(LongType) + size(b).cast(LongType) - inter))
  }

  /** Default SimHash width — 16-bit so the DuckDB oracle can mirror the
    * md5-prefix token hash bit-exactly. Production scale uses `bits = 64`
    * ([[simhash]]): 16 bits means at most 65,536
    * distinct signatures, so at billions of docs every bucket collides and
    * the distinct-signature join optimization inverts. */
  val SimhashBits = 16

  /** Chunk count for the banding join — fixed at 4, which by pigeonhole
    * guarantees candidate recall for hamming distance ≤ 3 at ANY width
    * (chunk size scales with the width: 4-bit chunks at 16 bits, 16-bit
    * chunks at 64). */
  val SimhashChunks = 4

  /** SimHash per doc at the given width (16 or 64): per distinct token,
    * weight = occurrence count; bit j of the signature is 1 iff the
    * count-weighted sum of (±1 per token's hash bit j) is positive. One
    * groupBy with `bits` conditional-sum columns — no bit explosion (a
    * per-bit explode would shuffle `bits`× the rows for the same answer).
    *
    * Width picks the token hash: 16-bit uses the md5-prefix hash the
    * oracle mirrors; 64-bit uses the codegen'd `xxhash64` — the production
    * hash, not oracle-expressible, same topology. The 64-bit signature
    * occupies the full Long (bit 63 = sign bit); all downstream arithmetic
    * (xor, bit_count, chunk masks) is bit-pattern arithmetic, so
    * signedness never matters. */
  def simhash(docs: DataFrame, bits: Int = SimhashBits): DataFrame = {
    require(bits == 16 || bits == 64,
      s"simhash: width must be 16 (oracle) or 64 (production), got $bits")
    // One map-side kernel per document ([[graft.functions.SimhashSig]])
    // instead of explode → groupBy(doc_id, tok) → groupBy(doc_id): the
    // per-bit weights are additive per token OCCURRENCE, so the whole
    // signature is a pure per-row function and the two corpus-token-
    // scale exchanges the declarative aggregation paid are gone (the
    // round-21 change; SimhashKernelSpec keeps the declared formulation
    // and pins the two bit-equal). The
    // null filter mirrors the declarative explode, which DROPS a
    // null-text doc's row rather than emitting a null signature. The
    // kernel is null exactly when text is null, so the filter tests
    // TEXT, not the signature: `simhash IS NOT NULL` would be pushed
    // below the projection by alias substitution and evaluate the
    // kernel twice per row (pushed Filter + Project), while
    // `text IS NOT NULL` reaches the parquet scan as a pushed filter.
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.SimhashExpressions.simhashSig(col("text"), bits)
          .as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, generated by
    * 4-bit chunk banding (pigeonhole guarantee for maxDist ≤ 3) and verified
    * with bit_count(xor).
    *
    * The pair join runs at the DISTINCT-SIGNATURE level, not the doc level:
    * signature values chunk-join among themselves (a set orders of
    * magnitude smaller than docs when signatures repeat), and doc pairs are
    * re-expanded only for signature pairs that pass the hamming filter —
    * plus the intra-signature pairs (hamming 0). Same output as the
    * doc-level join, minus millions of per-doc-pair hamming evaluations.
    *
    * Re-expansion is a pair of shuffled joins on the signature — NOT a
    * `collect_list` of doc-ids per signature — so a degenerate corpus
    * (millions of identical docs collapsing to one signature) streams
    * through sort-merge joins with O(1) executor memory per group instead
    * of materializing one giant array on a single task. The quadratic pair
    * OUTPUT for such a cluster is inherent to "emit all pairs" semantics;
    * the guard is that no single buffer ever holds a whole cluster.
    *
    * The doc-level signature table is cached ([[graft.CacheScope]])
    * because five downstream scans (distinct, two re-expansion joins, two
    * intra joins) would otherwise each recompute the tokenize+groupBy.
    * `bits` is the signature width: 16 by default ([[SimhashBits]]), 64
    * for a real corpus (16-bit saturates). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
                   bits: Int = SimhashBits): DataFrame =
    hammingPairsFromSig(simhash(docs, bits), bits, maxDist)

  /** The banded Hamming pairing over an ARBITRARY per-row signature —
    * the topology [[simhashPairs]] runs, factored out so any
    * 64-bit-or-narrower fingerprint can reuse it (the perceptual image
    * hash [[Multimodal.dedupPhash]] pairs dHashes through exactly this).
    * `sig0` must carry (`keys`…, doc_id, simhash); `keys` (e.g. a
    * modality column) ride every join, so ONE call pairs a
    * heterogeneous print table — three per-modality invocations would
    * rebuild the distinct-signature level and its interior cache three
    * times over. Emits (keys…, d1, d2, hamming) with d1 < d2 and
    * hamming <= maxDist (keys omitted when Nil — the historical
    * shape). Plan shape, scale notes, and the distinct-signature
    * optimization are [[simhashPairs]]'s. */
  private[graft] def hammingPairsFromSig(sig0: DataFrame, bits: Int,
                                         maxDist: Int,
                                         keys: Seq[String] = Nil): DataFrame = {
    requireBandable(maxDist) // before caching: a refused call caches nothing
    // Cache the doc-level signature table PRE-PARTITIONED on the
    // signature — the key every downstream consumer joins or
    // distincts on: the distinct-signature derivation, the two
    // re-expansion joins (s1/s2) and the intra self-join all reuse the
    // cached hashpartitioning(simhash) instead of re-shuffling the
    // corpus-sized table once per consumer (the CC edge-cache
    // precedent; round-17 interleaved fresh-JVM QBench A/B on
    // dedup_simhash at sf0.1: 3.33 -> 2.46 s median under identical
    // ambient load — most of the round-16 merge-pin cost reclaimed
    // with every pin kept; caching the chunk table too measured as
    // noise, so only the doc-level table is pinned to a partitioning).
    val sig = CacheScope.cached(sig0.repartition(col("simhash")))
    val kc = keys.map(col)
    val cross = bandedSigPairs(sig, sig, bits, maxDist, keys, "da", "db")
      .select(kc ++ Seq(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming")): _*)
    val intraCond = (keys :+ "simhash")
      .map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val intra = sig.as("a")
      .join(sig.as("b").hint("SHUFFLE_MERGE"), // corpus self-join: never broadcast
        intraCond && col("a.doc_id") < col("b.doc_id"))
      .select(keys.map(k => col(s"a.$k")) ++
        Seq(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          lit(0L).as("hamming")): _*)
    cross.unionByName(intra)
  }

  /** Cross-corpus banded Hamming pairing — [[hammingPairsFromSig]]'s
    * topology with the self-join replaced by an old×new join: every
    * (old, new) pair within `maxDist`, orientation FIXED d1 = old id,
    * d2 = new id (the [[crossCorpusPairs]] incremental convention; no
    * old-old or new-new pairs). Both sides carry (`keys`…, doc_id,
    * simhash) — `keys` (e.g. a modality column) ride every join, so one
    * call pairs a heterogeneous print table per family. Same scale
    * shape: distinct-signature chunk banding (pigeonhole-complete at
    * maxDist < chunks), both corpus-bound sides merge-pinned, sig
    * tables cached pre-partitioned on the join key. */
  private[graft] def crossHammingPairs(oldSig0: DataFrame,
      newSig0: DataFrame, bits: Int, maxDist: Int,
      keys: Seq[String] = Nil): DataFrame = {
    requireBandable(maxDist)
    val oldSig = CacheScope.cached(oldSig0.repartition(col("simhash")))
    val newSig = CacheScope.cached(newSig0.repartition(col("simhash")))
    bandedSigPairs(oldSig, newSig, bits, maxDist, keys, "d1", "d2")
      .select(keys.map(col) ++ Seq(col("d1"), col("d2"), col("hamming")): _*)
  }

  /** The 4-chunk banding finds every pair within `maxDist` only below
    * [[SimhashChunks]] (pigeonhole). */
  private def requireBandable(maxDist: Int): Unit =
    require(maxDist < SimhashChunks,
      s"banded Hamming pairing: maxDist must be < $SimhashChunks chunks, " +
        s"got $maxDist")

  /** The chunk-banded Hamming join shared by [[hammingPairsFromSig]] and
    * [[crossHammingPairs]] (shape and rationale at [[simhashPairs]]):
    * every distinct-signature pair within `maxDist` and equal `keys`
    * between sides `a` and `b`, each (`keys`…, doc_id, simhash),
    * re-expanded to doc ids. Rows carry `keys`, `idA` (a doc of `a`),
    * `idB` (a doc of `b`) and `hamming`; the caller selects from them.
    * Every join is pinned SHUFFLE_MERGE: the distinct-signature sides are
    * corpus-bound in the worst case. When `b` is `a` the join is a
    * self-join over one chunk table that keeps a.simhash < b.simhash, so
    * equal-signature (hamming 0) pairs are the caller's. */
  private def bandedSigPairs(a: DataFrame, b: DataFrame, bits: Int,
                             maxDist: Int, keys: Seq[String], idA: String,
                             idB: String): DataFrame = {
    val chunkBits = bits / SimhashChunks // 4 at width 16, 16 at width 64
    val chunkMask = (1L << chunkBits) - 1
    val kc = keys.map(col)
    def chunksOf(sig: DataFrame) =
      sig.select(kc :+ col("simhash"): _*).distinct()
        .select(kc ++ Seq(col("simhash"),
          explode(sequence(lit(0), lit(SimhashChunks - 1))).as("chunk")): _*)
        .withColumn("ckey",
          expr(s"shiftright(simhash, chunk * $chunkBits) & $chunkMask"))
    val self = a eq b
    val chunksA = chunksOf(a)
    val bandCond = (keys ++ Seq("chunk", "ckey"))
      .map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val sigPairs = chunksA.as("a")
      .join((if (self) chunksA else chunksOf(b)).as("b").hint("SHUFFLE_MERGE"),
        if (self) bandCond && col("a.simhash") < col("b.simhash") else bandCond)
      .select(keys.map(k => col(s"a.$k")) ++
        Seq(col("a.simhash").as("s1"), col("b.simhash").as("s2")): _*)
      .distinct()
      .withColumn("hamming",
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast(LongType))
      .where(col("hamming") <= maxDist)
    sigPairs
      .join(a.select(kc ++ Seq(col("simhash").as("s1"),
        col("doc_id").as(idA)): _*).hint("SHUFFLE_MERGE"), keys :+ "s1")
      .join(b.select(kc ++ Seq(col("simhash").as("s2"),
        col("doc_id").as(idB)): _*).hint("SHUFFLE_MERGE"), keys :+ "s2")
  }

  /** Connected components over a near-dup pair graph — the final step of a
    * dedup pipeline: transitively-linked docs form one cluster; the keeper
    * is the cluster's minimum doc_id.
    *
    * Iterative min-label propagation: each round joins current labels
    * across edges and takes the min — a driver loop over DataFrame rounds
    * (the data never visits the driver; each round is one shuffled join +
    * aggregate, converging in O(cluster diameter) rounds). This is how
    * large-scale dedup closes clusters at 100 TB; GraphX does the same
    * thing with more machinery. Labels still changing after `maxIters`
    * rounds throw: min-label propagation moves one hop per round, so an
    * unconverged result is not a clustering. */
  def connectedComponents(pairs: DataFrame, allIds: DataFrame,
                          maxIters: Int = 20): DataFrame = {
    // cache the symmetric edge list pre-partitioned on `b` — the key every
    // round's propagation join probes. The cached InMemoryRelation keeps
    // reporting hashpartitioning(b), so each round's join shuffles only the
    // node-sized label table; without this the (larger) edge table
    // re-shuffles out of the cache every single round.
    val edges = CacheScope.cached(
      pairs.select(col("d1").as("a"), col("d2").as("b"))
        .unionByName(pairs.select(col("d2").as("a"), col("d1").as("b")))
        .repartition(col("b")))
    // only nodes that appear in an edge can ever change label — iterate on
    // that (much smaller) set and union the isolated rest back at the end.
    // No separate init action: round 1's single count materializes edges
    // AND labels, and the final labels table carries the same doc_id set
    // the old edgeNodes cache held, so the isolated anti-join probes it
    // instead (one fewer job + one fewer table per CC call — measured on
    // the r21 session-3 A/B; the labels row set is loop-invariant because
    // every round's left join preserves rows).
    //
    // Each labels table is a local checkpoint, cut from the rounds that
    // produced it: a cached round table nests the previous round's plan
    // twice (edge join and left join), and every plan description Spark
    // builds per action doubles that again (AQE's initial and final
    // plans), so the description grew 4x per round: 6 MB after 4 rounds,
    // 100 MB after 6, out of heap soon after. The checkpoint's rows
    // stay until the enclosing CacheScope ends (the returned plan reads
    // the last one); each earlier round's rows are freed once the next
    // round has materialized.
    def free(df: DataFrame): Unit = df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster"))
      .localCheckpoint(eager = false)
    // by name: frees whichever labels table is current when the scope ends
    CacheScope.onRelease(free(labels))
    // NOTE (measured, round 5): folding TWO propagation steps into one
    // materialized round to halve the driver-loop's job count is a trap —
    // the unmaterialized intermediate labels feed two consumers (the edge
    // join AND the left join of the second step), so their lineage
    // re-executes and the round costs ~3 steps, not 2 (bench: 1.5 s → 4.8 s
    // on dedup_cluster_keep, 1.7 s → 10.8 s on the composed pipeline).
    // One materialized step per round is the fast shape.
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // one action per round: next labels carry the old label, so
      // materializing `next` also yields the convergence count
      val minNbr = edges
        .join(labels.withColumnRenamed("doc_id", "_b"), col("b") === col("_b"))
        .groupBy(col("a").as("doc_id")).agg(min("cluster").as("_nbr"))
      val next = labels
        .join(minNbr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("_nbr"), col("cluster"))).as("cluster"),
          col("cluster").as("_old"))
        .localCheckpoint(eager = false)
      changed = next.where(col("cluster") =!= col("_old")).count()
      free(labels)
      labels = next
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $iter: $changed changed " +
          s"(${(System.nanoTime() / 1e9)})")
    }
    // Opt-in convergence guard (the graft.cc.assert.rounds system
    // property): fail loudly if the loop needed more rounds than the
    // bound — near-dup graphs have tiny diameters (≤ 4 rounds at sf0.1),
    // so a jump in round count means a propagation regression (broken
    // edge cache, wrong join key), which would otherwise surface only as
    // silent slowness. Both checks
    // release FIRST: a failed check must not leak the edge table or the
    // labels into a session that catches the error.
    edges.unpersist()
    val bound = sys.props.get("graft.cc.assert.rounds").map(_.toInt)
    if (changed > 0 || bound.exists(iter > _)) free(labels)
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds: " +
        s"$changed labels still changing")
    bound.foreach(b => require(iter <= b,
      s"connectedComponents took $iter rounds, bound is $b"))
    val isolated = allIds.select(col("doc_id"))
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster"))
    labels.select("doc_id", "cluster").unionByName(isolated)
  }

  /** Full dedup keep-list: LSH candidate pairs → connected components →
    * per-doc (cluster, keep) assignment. Uses unverified candidates — the
    * Jaccard-verify joins don't change connectivity for clustering-by-
    * collision semantics and cost two extra shingle-array joins.
    *
    * Candidate edges are STAR edges, not the all-pairs bucket self-join
    * [[minhashCandidates]] emits: within a band bucket, connecting every
    * member to the bucket's min doc_id (one window min — a single
    * exchange on the bucket key, no join) has the same transitive
    * closure as the full clique, so connected components — and therefore
    * every (cluster, keep) row — are identical, while a k-member bucket
    * contributes k−1 edges instead of k(k−1)/2 pairs. At 100 TB this is
    * the difference between a boilerplate bucket of 10⁶ members costing
    * 10⁶ edges or 5·10¹¹ join pairs (the round-21 change; pair-emitting
    * consumers like [[minhashLshPairs]] keep the self-join because their
    * OUTPUT is the pairs). */
  def clusterKeepList(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "h1", "h2")
    val star = bandBuckets(minhashSignature(docs))
      .withColumn("hub", min("doc_id").over(w))
      .where(col("doc_id") =!= col("hub"))
      .select(col("hub").as("d1"), col("doc_id").as("d2"))
      .distinct()
    connectedComponents(star, docs.select("doc_id"))
      .withColumn("keep", (col("doc_id") === col("cluster")).cast("boolean"))
  }

  /** Blocked n-gram Jaccard near-dup scoring: pairs within a
    * (lang, source) block, scored with exact Jaccard over distinct
    * 3-shingles, keeping pairs above `minJaccard`.
    *
    * Implemented as an inverted-index join — explode shingles, count common
    * shingles per pair via a co-partitioned join on (block, shingle), then
    * attach per-doc set sizes — instead of a per-pair `array_intersect`:
    * per-pair set intersection does O(|A|+|B|) work for every one of the
    * O(block²) pairs; the posting join only touches pairs that actually
    * share a shingle and is a plain shuffled equi-join at any scale.
    *
    * For `minJaccard > 0` (the production setting) the plan is fully
    * inter-driven: only pairs that share at least one shingle ever exist,
    * so cost scales with actual overlap, never with block size. Only a
    * `minJaccard <= 0` request — "score EVERY pair, including disjoint
    * ones at 0.0" — takes the all-pairs `sizes × sizes` block join, which
    * is O(block²) by its own semantics; it is kept for completeness but is
    * not the scale path.
    *
    * NOTE (measured, round 6): leave this plan's projection boundaries and
    * join strategy alone. Two "obvious" refactors each regressed ~10-20× at
    * sf0.1 (1.6 s → 19-36 s median, QBench): (a) hoisting the shingle array
    * into a shared projection so `sizes` becomes a map-only `size(shs)` —
    * the moved boundary lets CollapseProject inline the tokenizer into the
    * shingle lambda and re-tokenize per element (the trap [[shingleSets]]'
    * two selects avoid); (b) an explicit `repartition` of the posting table on
    * the join keys to force one reused Exchange — the full-posting-list
    * sort plus hot-shingle sort-merge groups dwarf the duplicated
    * tokenize+shingle pass it saves, and at real scale Catalyst already
    * picks the shuffled join on its own once size estimates grow.
    *
    * `maxShingleDf` is the optional stop-shingle document-frequency cut:
    * shingles appearing in more than `maxShingleDf` documents of a block
    * are dropped BEFORE the posting self-join — the standard guard against
    * a boilerplate shingle (license header, navigation chrome) whose
    * posting list of length L contributes L² join pairs. Jaccard is then
    * computed over each doc's surviving (non-stop) shingles on both the
    * numerator and the denominator, so scores stay in [0,1]; docs whose
    * every shingle is stop-cut drop out entirely (nothing left to
    * compare). At 100 TB this bounds the largest posting group by the
    * cutoff instead of by corpus size, making Σ postings² insensitive to
    * boilerplate: worst-case pairs per (block, shingle) fall from L² to
    * maxShingleDf². The df aggregation shuffles on the same
    * (lang, source, sh) key the posting join uses, so the guard adds one
    * reusable exchange, not a new partitioning. The plan is
    * [[blockedPostings]]'s; this operator adds only the Jaccard score. */
  def blockedNgramJaccard(docs: DataFrame, minJaccard: Double,
                          maxShingleDf: Option[Long] = None): DataFrame =
    blockedPostings(docs, maxShingleDf, allPairs = minJaccard <= 0)
      .select(col("d1"), col("d2"),
        TextAnalysis.round6(col("inter").cast("double") /
          (col("sx") + col("sy") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)

  /** The blocked inverted-index stage shared by [[blockedNgramJaccard]]
    * and [[blockedContainment]]: (d1, d2, inter, sx, sy) for same-block
    * doc pairs d1 < d2, where `inter` counts their shared distinct
    * 3-shingles and sx / sy are each doc's distinct-shingle count, all
    * after the optional `maxShingleDf` stop-shingle cut. With `allPairs`
    * off only pairs sharing a shingle exist (the scale path: cost follows
    * actual overlap); with it on, every same-block pair is emitted, a
    * disjoint one with inter 0 — the O(block²) all-pairs `sizes × sizes`
    * join a score threshold of 0 asks for. */
  private def blockedPostings(docs: DataFrame, maxShingleDf: Option[Long],
                              allPairs: Boolean): DataFrame = {
    // parallelism floor for the tokenize+shingle+aggregate map stages —
    // this subtree is instantiated 3-4x in the plan, and on a narrow
    // scan each instance runs single-task (ScanSpread scaladoc; measured
    // -21% on dedup_ngram_jaccard_dfcut and -32% on
    // dedup_containment_dfcut at sf0.1, no-op at scale)
    val shAll = shingleSets(ScanSpread.spreadForCpu(docs),
      Seq("doc_id", "lang", "source"), exploded = true)
    val sh = maxShingleDf match {
      case Some(k) =>
        // anti-join against the STOP set, not semi-join against the rare
        // set: the stop set (df > cutoff) is boilerplate-sized — a handful
        // of keys by construction, vs the rare set which is the whole
        // vocabulary — so it hash-joins cheaply and the guard costs one df
        // aggregation plus an anti probe. NO explicit broadcast() hint:
        // a low cutoff on a repetitive corpus can make the stop set
        // vocabulary-sized, and an unconditional hint would then OOM the
        // driver instead of degrading. The optimizer decides — small stop
        // sets broadcast via autoBroadcastJoinThreshold / AQE's runtime
        // size (post-shuffle stage stats are exact), oversized ones fall
        // back to a shuffled anti join that is merely slower, reusing the
        // (lang, source, sh) partitioning the posting join needs anyway.
        val stop = shAll.groupBy("lang", "source", "sh")
          .agg(count(lit(1)).as("_df")).where(col("_df") > k)
          .select("lang", "source", "sh")
        shAll.join(stop, Seq("lang", "source", "sh"), "left_anti")
      case None => shAll
    }
    val sizes = sh.groupBy("doc_id", "lang", "source")
      .agg(count(lit(1)).as("sz"))
    // The posting SELF-join must never broadcast: both sides are the
    // corpus-sized exploded shingle table, but Catalyst's size estimate
    // does not scale through Generate (explode), so at 10× the gate
    // corpus the optimizer still judged the build side "small" and
    // broadcast ~2.5M posting rows — 90–170 s/rep with wild variance,
    // and an OOM at 100×. SHUFFLE_MERGE pins the corpus-safe strategy;
    // AQE's runtime stats (exact, post-shuffle) still own everything
    // downstream. Measured: sf0.1 unchanged (~2.2 s), 10× fresh-vocab
    // drops 91 s → stable ~linear (see SCALING.md round 15).
    val inter = sh.as("a")
      .join(sh.as("b").hint("SHUFFLE_MERGE"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    if (!allPairs)
      // Inter-driven inner path: a pair with zero shared shingles is never
      // enumerated, so a positive score threshold pays only for overlap.
      inter
        .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sx"))
          .hint("SHUFFLE_MERGE"), "d1") // per-doc size table: corpus-sized
        .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sy"))
          .hint("SHUFFLE_MERGE"), "d2")
    else
      sizes.as("x")
        .join(sizes.as("y").hint("SHUFFLE_MERGE"), // corpus self-join
          col("x.lang") === col("y.lang") && col("x.source") === col("y.source") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.sz").as("sx"), col("y.sz").as("sy"))
        .join(inter, Seq("d1", "d2"), "left")
        .select(col("d1"), col("d2"),
          coalesce(col("inter"), lit(0L)).as("inter"), col("sx"), col("sy"))
  }

  /** Exact-substring duplication: every maximal run of >= `kTokens`
    * consecutive tokens shared verbatim between two documents — the
    * published repeated-substring removal target (suffix-array-style
    * dedup a la "Deduplicating Training Data Makes Language Models
    * Better") re-expressed relationally: cross-document boilerplate
    * INSIDE otherwise-unique documents is the residual duplication class
    * document-level dedup (exact/MinHash/SimHash) cannot see.
    *
    * Shape, never all-pairs (the suffix array is replaced by the
    * family's standard bucketed posting join):
    *   1. shingle-anchor candidates — hash every k-token window
    *      ([[docWindows]], one 48-bit [[shingleHash]] per
    *      position; the window table is LINEAR in corpus tokens) and
    *      self-join on the window hash: only positions sharing a window
    *      ever pair up;
    *   2. extension — matching positions on one (d1, d2) DIAGONAL
    *      (p1 − p2 constant) are consecutive exactly where the shared
    *      run extends, so a gaps-and-islands pass (row_number per
    *      diagonal, group by pos − rn) merges each anchor chain into
    *      ONE maximal run of `count + k − 1` tokens — the
    *      longest-common-extension step as a window aggregate instead
    *      of per-pair character scanning;
    *   3. verification — each run re-reads BOTH documents' token
    *      slices and requires string equality, so a 48-bit hash
    *      collision can never emit a FALSE pair (runs are bounded by
    *      candidate count — a linear tail). One asymmetric residual:
    *      a collision anchor landing ADJACENT to a genuine run on the
    *      same (pair, diagonal) merges into one island whose whole-span
    *      verification fails, dropping the genuine run too — a false
    *      NEGATIVE, astronomically rare at 48 bits (needs a collision
    *      at the exact neighboring diagonal position). Re-verifying
    *      failed islands split at the collision boundary would recover
    *      it if exactness ever matters.
    *
    * `maxWindowDf` is the boilerplate guard ([[blockedNgramJaccard]]'s
    * df-cut precedent): window hashes occurring more than the cap are
    * dropped BEFORE the posting join, bounding the largest posting
    * group by the cap instead of corpus size (a license-header window
    * of posting length L otherwise contributes L² join pairs). A cut
    * window splits a run it interrupts into two shorter verified runs
    * (each still >= k) — the documented trade.
    *
    * Output: (d1, d2, d1_pos, d2_pos, run_tokens), 0-based token
    * positions, d1 < d2, one row per maximal verified run. At 100 TB:
    * the window table shuffles (8 B hash + ids), the posting self-join
    * is pinned SHUFFLE_MERGE (both sides corpus-derived — the Generate
    * size-estimate trap), the islands window partitions by (d1, d2,
    * diag) — bounded by per-pair overlap — and verification joins are
    * pinned on the corpus-sized token table. */
  def substringRuns(docs: DataFrame, kTokens: Int = 8,
                    maxWindowDf: Option[Long] = None): DataFrame =
    substringRunsRaw(docs, kTokens, maxWindowDf)._1

  /** Tokenized corpus (doc_id, _t) — the substring family's shared
    * tokenization. */
  private def docToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_t"))

  /** The (doc_id, pos, wh) k-token window-hash table over a tokenized
    * corpus — LINEAR in corpus tokens, 8 B hash + ids per row. The
    * hashes come from ONE codegen kernel per doc
    * ([[graft.functions.WindowHashes]], round 21): the declarative
    * shinglesK → md5-hex → conv chain materialized every window string
    * and round-tripped each digest through hex; the kernel feeds token
    * byte slices straight into the digest (same md5 per window, no
    * string building — value-identical, pinned by WindowHashKernelSpec
    * against the declarative chain). */
  private[graft] def docWindows(toks: DataFrame, kTokens: Int): DataFrame = {
    require(kTokens >= 2, s"substring ops: kTokens must be >= 2, got $kTokens")
    toks
      .select(col("doc_id"), posexplode(
        graft.functions.WindowHashExpressions
          .windowHashes(col("_t"), kTokens)))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        col("col").as("wh"))
  }

  /** The diagonal gaps-and-islands extension + span-equality
    * verification shared by [[substringRuns]] (self-join candidates)
    * and [[substringRunsIncremental]] (store-vs-batch candidates):
    * merge matching positions per (d1, d2, diagonal) into one maximal
    * run, then re-read both token slices and require string equality
    * (a hash collision drops a candidate, never emits a false pair;
    * see [[substringRuns]] step 3 for the rare collision-adjacent-to-run
    * false-negative mode). */
  private def extendVerify(cand: DataFrame, toksA: DataFrame,
                           toksB: DataFrame, kTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iw = Window.partitionBy(col("d1"), col("d2"), col("diag"))
      .orderBy(col("p1"))
    val runs = cand
      .withColumn("diag", col("p1") - col("p2"))
      .withColumn("grp", col("p1") - row_number().over(iw))
      .groupBy("d1", "d2", "diag", "grp")
      .agg(min("p1").as("d1_pos"), min("p2").as("d2_pos"),
        (count(lit(1)) + (kTokens - 1)).cast(LongType).as("run_tokens"))
    runs
      .join(toksA.select(col("doc_id").as("d1"), col("_t").as("_ta"))
        .hint("SHUFFLE_MERGE"), "d1") // token table: corpus-sized side
      .join(toksB.select(col("doc_id").as("d2"), col("_t").as("_tb"))
        .hint("SHUFFLE_MERGE"), "d2")
      .where(
        array_join(slice(col("_ta"), (col("d1_pos") + 1).cast("int"),
          col("run_tokens").cast("int")), " ") ===
        array_join(slice(col("_tb"), (col("d2_pos") + 1).cast("int"),
          col("run_tokens").cast("int")), " "))
      .select(col("d1"), col("d2"), col("d1_pos"), col("d2_pos"),
        col("run_tokens"))
  }

  /** [[substringRuns]]'s body, plus the tokenized corpus it was computed
    * from — so [[substringRemoveText]] cuts spans out of the same token
    * table instead of tokenizing the corpus a second time. */
  private def substringRunsRaw(docs: DataFrame, kTokens: Int,
                               maxWindowDf: Option[Long])
      : (DataFrame, DataFrame) = {
    val toks = docToks(docs)
    val wins0 = docWindows(toks, kTokens)
    // Cache the window table pre-partitioned on the window hash — the
    // key every consumer groups or joins on: the df-cut aggregate, the
    // stop-set anti-join, and BOTH posting self-join sides. Catalyst
    // does not reuse a self-join's duplicated exchanges here, so
    // without the pin the tokenize+shingle+hash pass runs once per
    // consumer and each consumer re-shuffles the corpus-sized table
    // (the round-17 fresh-vocab probe measured the df-cut guard
    // costing ~2x the UNcut run at 10x/100x from exactly those
    // re-computations — the simhash sig-cache precedent, applied to
    // the posting table). Everything downstream of the ONE exchange is
    // partition-local. Skew note: a corpus-hot window's postings land
    // in one cache partition before the cut drops them — a LINEAR
    // single-task count of the hottest key, accepted in exchange for
    // never re-shuffling the corpus per consumer; the cut still
    // removes the L^2 pairing the cap exists to prevent.
    val winsP = CacheScope.cached(wins0.repartition(col("wh")))
    val wins = maxWindowDf match {
      case Some(cap) =>
        // Anti-join against the hot-window stop set — boilerplate-sized
        // by construction; no broadcast hint (the blockedNgramJaccard
        // rationale: an oversized stop set must degrade, not OOM).
        // Derived FROM the cache, so the aggregate and the anti-join's
        // corpus side add zero exchanges.
        val stop = winsP.groupBy("wh").agg(count(lit(1)).as("_df"))
          .where(col("_df") > cap).select("wh")
        winsP.join(stop, Seq("wh"), "left_anti")
      case None => winsP
    }
    // Posting self-join: both sides the corpus-sized window table —
    // pinned SHUFFLE_MERGE, never broadcast (round-15/16 audit rule).
    val cand = wins.as("a")
      .join(wins.as("b").hint("SHUFFLE_MERGE"),
        col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.pos").as("p1"), col("b.pos").as("p2"))
    (extendVerify(cand, toks, toks, kTokens), toks)
  }

  /** Persisted window-hash posting table of an EXISTING corpus — the
    * [[bandBucketStore]] precedent applied to the substring family: the
    * old corpus is tokenized, shingled, and hashed ONCE per (corpus
    * fingerprint, k) and every later batch joins the stored (doc_id,
    * pos, wh) rows instead of recomputing them. 8 B hash + ids per
    * token — the posting artifact is ~linear in corpus tokens. */
  def substringPostingStore(spark: org.apache.spark.sql.SparkSession,
                            docs: DataFrame, sourcePath: String,
                            tag: String, kTokens: Int = 8,
                            storeRoot: Option[String] = None): DataFrame =
    FingerprintStore.getOrBuild(spark, sourcePath, tag,
      s"v1-sswin-k$kTokens", storeRoot)(
      docWindows(docToks(docs), kTokens))

  /** Incremental exact-substring detection: every maximal >= k-token
    * run shared verbatim between a NEW batch and an EXISTING corpus,
    * with the corpus side's window table served from
    * [[substringPostingStore]] — repeat batches never re-tokenize or
    * re-hash the old corpus (the [[crossCorpusPairs]] topology, applied
    * to the family that reads inside documents). The batch is windowed
    * fresh; candidates come from ONE pinned cross-corpus posting join
    * (store × batch — both corpus-derived, never broadcast); extension
    * and verification are [[substringRuns]]'s shared machinery, with
    * verification reading old-corpus tokens from `oldDocs` (text stays
    * in the corpus parquet — the store holds postings, not text).
    *
    * Output: (d1, d2, d1_pos, d2_pos, run_tokens) with d1 an OLD doc
    * and d2 a NEW doc, one row per maximal verified run. */
  def substringRunsIncremental(newDocs: DataFrame, oldDocs: DataFrame,
                               oldPostings: DataFrame,
                               kTokens: Int = 8): DataFrame = {
    val newToks = docToks(newDocs)
    val cand = oldPostings.as("a")
      .join(docWindows(newToks, kTokens).as("b").hint("SHUFFLE_MERGE"),
        col("a.wh") === col("b.wh"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.pos").as("p1"), col("b.pos").as("p2"))
    extendVerify(cand, docToks(oldDocs), newToks, kTokens)
  }

  /** The removal ACTION on [[substringRuns]]'s detections — the actual
    * operation of suffix-array dedup ("Deduplicating Training Data Makes
    * Language Models Better" removes all but one occurrence of every
    * duplicated >= k-token substring; detection alone just reports it).
    * Keep policy is deterministic lowest-id-keeps: every verified run
    * (d1 < d2) marks its d2-side span for removal, so of N documents
    * sharing a span only the lowest doc_id retains it (doc 5 loses its
    * copy to doc 3 as the pair (3,5), and doc 7 to both 3 and 5 — one
    * surviving occurrence, no coordination step).
    *
    * Per document the marked spans are merged with a running-max
    * gaps-and-islands pass (overlapping/adjacent spans from different
    * partners collapse into one cut), then the cut list — DISJOINT
    * intervals in [0, len), so at most len/2 of them, bounded by the
    * document's OWN length, never by its partner count — is collected
    * per doc and applied map-side with a positional higher-order filter
    * over the token array. No token ever shuffles attached to a pair.
    *
    * Output: one row per document, (doc_id, n_removed, clean_md5) where
    * `clean_md5` digests the cleaned NORMALIZED text (lowercased,
    * whitespace-collapsed token rejoin — the family's tokenization; a
    * raw-text splice would misattribute inter-token whitespace). At
    * 100 TB: detection is [[substringRuns]]'s pinned shape; the interval
    * table is duplication-bounded; the final corpus join is pinned
    * SHUFFLE_MERGE (interval side corpus-derived — never broadcast);
    * removal itself is a map. */
  def substringRemove(docs: DataFrame, kTokens: Int = 8,
                      maxWindowDf: Option[Long] = None): DataFrame =
    substringRemoveText(docs, kTokens, maxWindowDf)
      .select(col("doc_id"), col("n_removed"), col("clean_md5"))

  /** The removal operator's PRODUCT — the cleaned corpus itself, one row
    * per document: (doc_id, n_removed, clean_text, clean_md5), where
    * `clean_text` is the whitespace-normalized text with every marked
    * span cut (the family's tokenization rejoined — what a curation
    * pipeline writes out as the next corpus snapshot) and `clean_md5`
    * digests it. This is the variant whose output feeds the sink
    * writers / the next pipeline stage; [[substringRemove]] is its
    * stats-about-cleaning projection. */
  def substringRemoveText(docs: DataFrame, kTokens: Int = 8,
                          maxWindowDf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (runs, toks) = substringRunsRaw(docs, kTokens, maxWindowDf)
    // Distinct: two partners sharing the SAME d2 span emit identical
    // intervals; drop them before the window pass so tie ordering is
    // immaterial (the rows are identical either way).
    val iv0 = runs.select(col("d2").as("doc_id"), col("d2_pos").as("s"),
      (col("d2_pos") + col("run_tokens")).as("e")).distinct()
    val w = Window.partitionBy("doc_id").orderBy("s", "e")
    val islands = iv0
      .withColumn("maxe",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(
        when(col("maxe").isNull || col("s") > col("maxe"), 1L).otherwise(0L))
        .over(w))
      .groupBy("doc_id", "isl").agg(min("s").as("s"), max("e").as("e"))
    // Disjoint merged cuts per doc: <= len/2 entries (see scaladoc), so
    // the collect_list is bounded by the doc's own token length.
    val perDoc = islands.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("iv"))
    toks.join(perDoc.hint("SHUFFLE_MERGE"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        filter(col("_t"), (_: Column, i: Column) =>
          // null iv (nothing removed) => exists is null => keep
          !coalesce(exists(col("iv"), v =>
            i >= v.getField("s") && i < v.getField("e")), lit(false)))
          .as("_kept"),
        col("_t"))
      .select(col("doc_id"),
        (size(col("_t")) - size(col("_kept"))).cast(LongType)
          .as("n_removed"),
        array_join(col("_kept"), " ").as("clean_text"))
      .withColumn("clean_md5", md5(col("clean_text")))
  }

  /** Containment score |A∩B| / min(|A|,|B|) over distinct 3-shingles —
    * the asymmetric near-dup metric for quote/subset detection (a short
    * document fully contained in a long one scores 1.0 where Jaccard is
    * tiny). Same inverted-index plan ([[blockedPostings]]) and the same
    * optional `maxShingleDf` stop-shingle cut as [[blockedNgramJaccard]]:
    * containment is scored over each doc's SURVIVING shingles on both the
    * intersection and the min-size denominator, so scores stay in [0,1],
    * and docs whose every shingle is stop-cut drop out — the semantics
    * the oracle replays. A `minScore <= 0` scores every same-block pair,
    * a disjoint one at 0.0. */
  def blockedContainment(docs: DataFrame, minScore: Double,
                         maxShingleDf: Option[Long] = None): DataFrame =
    blockedPostings(docs, maxShingleDf, allPairs = minScore <= 0)
      .select(col("d1"), col("d2"),
        TextAnalysis.round6(col("inter").cast("double") /
          least(col("sx"), col("sy"))).as("containment"))
      .where(col("containment") >= minScore)

  /** SemDeDup-style semantic dedup over an embedding corpus: assign every
    * vector to an IVF cell (deterministic k-means-refined centroids — the
    * same [[Similarity.trainCentroids]] trainer the ANN path uses),
    * compare pairs only WITHIN a cell, and
    * drop any vector that has a lower-id in-cell neighbor with cosine ≥
    * `threshold`. Returns one row per vector: (vec_id, cell, keep).
    *
    * This is the curation operator from the SemDeDup recipe (cluster the
    * embedding space, prune semantic duplicates inside each cluster):
    * pairwise keep semantics — one representative survives per duplicate
    * NEIGHBORHOOD, no transitive closure (for transitive-cluster keep
    * lists see [[clusterKeepList]]'s CC loop; SemDeDup deliberately avoids
    * the iterative step because within-cell neighborhoods are tiny).
    *
    * Scale: cell assignment is a map + broadcast argmax over an
    * nLists-row side; the pair join is co-partitioned on cell id — never
    * all-pairs across the corpus. Σ cell² is the cost knob, controlled by
    * nLists (≈ √n, the measured IvfSweep guidance) and Lloyd balancing —
    * at production scale raise nLists so cells stay ~constant-sized and
    * pair work grows linearly with the corpus (or call
    * [[semanticDedupAuto]], which sets the dial from a corpus count).
    *
    * The `assigned` subtree feeds THREE consumers (both sides of the
    * in-cell pair join and the final keep join), and Catalyst does not
    * dedupe the copies. Since round 11 the subtree is cheap to rebuild —
    * the Lloyd chain is collected to the driver at construction and
    * assignment is the map-only [[graft.ops.Similarity.assignCells]]
    * kernel — so the cache now saves two corpus SCANS (plus kernel
    * re-evaluation), not two Lloyd chains; at sf0.1 the cached shape
    * measures at parity (~0.55 s) with the uncached one. It stays
    * because at the 100 TB design point two extra full-corpus scans
    * dwarf one spill-safe (MEMORY_AND_DISK) write of
    * (id, embedding, norm, cell) rows. */
  def semanticDedup(emb: DataFrame, threshold: Double, nLists: Int = 16,
                    lloydIters: Int = 1): DataFrame = {
    // Centroids collected once at construction, assignment via the
    // map-only NearestCentroid codegen kernel (see Similarity.assignCells
    // — every declarative argmax shape measured super-linear at the
    // 10×/100× probes: struct-buffer SortAggregate, or Lloyd-chain
    // re-execution per consumer).
    val local = Similarity.trainCentroids(emb, nLists, lloydIters)
    val assigned = CacheScope.cached(Similarity.assignCells(emb, local))
    val dup = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
      .where(round(Similarity.cosFromDot(
        Similarity.dot(col("a.embedding"), col("b.embedding")),
        col("a._n"), col("b._n")), 6) >= threshold)
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("_dup", lit(true))
    assigned.select(col("vec_id"), col("cell"))
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("_dup").isNull.as("keep"))
  }

  /** [[semanticDedup]] with the nLists dial set by the √n occupancy rule
    * ([[Similarity.autoNLists]]) from a cheap parquet-metadata count of
    * the corpus — the 10× scale probe's only super-linear growth was
    * FIXED-nLists cell occupancy (Σ cell² pair work), and this variant
    * turns that knob automatically. Same construction-time count caveat
    * as [[Similarity.ivfTopKAuto]]: on a DERIVED corpus pass
    * `corpusRows = Some(n)` so the upstream subplan is not executed an
    * extra time just to size the dial. */
  def semanticDedupAuto(emb: DataFrame, threshold: Double,
                        lloydIters: Int = 1,
                        corpusRows: Option[Long] = None): DataFrame =
    semanticDedup(emb, threshold,
      Similarity.autoNLists(corpusRows.getOrElse(emb.count())), lloydIters)

  /** Semantic decontamination: drop corpus vectors whose cosine to ANY
    * benchmark/eval-set vector reaches `threshold` — the embedding-level
    * twin of the n-gram [[Curation.decontaminate]] (catches paraphrased
    * benchmark leakage that shingle overlap misses). One row per corpus
    * vector: (vec_id, max_cos, keep); a vector with no comparable
    * benchmark neighbor (zero-norm cosines are NULL) keeps.
    *
    * Scale shape: the benchmark set is SMALL by definition (an eval
    * suite) — broadcast it, score map-side, and take a partial-agg max
    * per corpus vector; one narrow shuffle of (id, double), never a
    * corpus×corpus join.
    *
    * `excludeSelfIds` (default OFF) skips pairs whose ids are equal —
    * ONLY for an in-corpus stand-in benchmark (the oracle gate's setup),
    * where a vector would otherwise "contaminate" against itself. With a
    * real external benchmark the id spaces are unrelated: leave it off,
    * or a corpus vector that happens to share a numeric id with a
    * benchmark vector silently skips that comparison. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double,
                            excludeSelfIds: Boolean = false): DataFrame = {
    val c = Similarity.normed(corpus)
    val b = benchmark.select(col("vec_id").as("_bid"),
      col("embedding").as("_be"), Similarity.norm(col("embedding")).as("_bn"))
    c.join(broadcast(b),
        if (excludeSelfIds) col("vec_id") =!= col("_bid") else lit(true))
      .groupBy("vec_id")
      .agg(max(Similarity.cosFromDot(
        Similarity.dot(col("embedding"), col("_be")),
        col("_n"), col("_bn"))).as("_mc"))
      .select(col("vec_id"), round(col("_mc"), 6).as("max_cos"),
        coalesce(col("_mc") < threshold, lit(true)).as("keep"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold between vectors sharing a
    * `label` block (at scale the block key is an LSH bucket — see
    * [[Similarity.bucketsFromMask]]). Cosine is computed as an in-order
    * double fold so the oracle can reproduce it bit-exactly. */
  def embeddingPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = Similarity.normed(emb, Seq("vec_id", "label"))
    e.as("a")
      .join(e.as("b").hint("SHUFFLE_MERGE"), // corpus self-join: never broadcast
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        round(Similarity.cosFromDot(
          Similarity.dot(col("a.embedding"), col("b.embedding")),
          col("a._n"), col("b._n")), 6).as("cos"))
      .where(col("cos") >= threshold)
  }
}
