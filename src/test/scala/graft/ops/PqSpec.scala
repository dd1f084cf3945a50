package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Product quantization: codebook shape/determinism, encode semantics,
  * ADC + rerank behavior, and the persisted code store round-trip. The
  * cross-engine arithmetic parity is gated by the embed_pq_encode /
  * sim_pq_* oracle rows; these tests pin the operator-level contract. */
class PqSpec extends SparkSuite {
  import spark.implicits._

  // dim 8, m=4 → subDim 2; two tight clusters per subspace so one Lloyd
  // iteration is stable
  private def corpus = Seq(
    (0L, Array(1.0f, 0.1f, 0.9f, 0.0f, 1.0f, 0.0f, 0.5f, 0.5f)),
    (1L, Array(0.1f, 1.0f, 0.0f, 0.9f, 0.0f, 1.0f, 0.5f, 0.4f)),
    (2L, Array(0.9f, 0.2f, 1.0f, 0.1f, 0.9f, 0.1f, 0.6f, 0.5f)),
    (3L, Array(0.2f, 0.9f, 0.1f, 1.0f, 0.1f, 0.9f, 0.4f, 0.5f)),
    (4L, Array(1.0f, 0.1f, 0.9f, 0.0f, 1.0f, 0.0f, 0.5f, 0.5f)), // dup of 0
    (5L, Array(0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f))) // zero vec
    .toDF("vec_id", "embedding")

  test("train: m codebooks of subDim-wide centroids, cells ascending, " +
    "deterministic across runs") {
    val cb = ProductQuantization.train(corpus, m = 4, k = 2)
    assert(cb.m == 4 && cb.subDim == 2 && cb.subs.length == 4)
    for (b <- cb.subs) {
      assert(b.cells.sameElements(b.cells.sorted))
      assert(b.cells.forall(c => c >= 0 && c < 2)) // seed ids survive Lloyd
      assert(b.vecs.forall(_.length == 2))
      assert(b.cells.length == b.vecs.length && b.cells.length == b.norms.length)
    }
    val cb2 = ProductQuantization.train(corpus, m = 4, k = 2)
    for ((a, b) <- cb.subs.zip(cb2.subs)) {
      assert(a.cells.sameElements(b.cells))
      assert(a.vecs.zip(b.vecs).forall { case (x, y) => x.sameElements(y) })
    }
  }

  test("encode: m codes per row, codes come from the codebook cells, " +
    "identical vectors get identical codes") {
    val cb = ProductQuantization.train(corpus, m = 4, k = 2)
    val codes = ProductQuantization.encode(corpus, cb)
      .select(col("vec_id"), col("pq_code")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size == 6 && codes.values.forall(_.length == 4))
    for ((sub, i) <- cb.subs.zipWithIndex; c <- codes.values)
      assert(sub.cells.contains(c(i).toLong), s"code ${c(i)} not a cell of subspace $i")
    assert(codes(0L) == codes(4L)) // bitwise-identical vectors
  }

  test("adcTopK(rerank): the cosines it reports are the exact brute-force " +
    "cosines for those pairs; rerank < k rejected") {
    val cb = ProductQuantization.train(corpus, m = 4, k = 2)
    val nonzero = corpus.where(col("vec_id") < 5)
    val q = nonzero.where(col("vec_id") < 2)
    val rr = ProductQuantization.adcTopK(nonzero, q, 2, cb, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // bruteForceTopK emits (query_id, neighbor_id, cos, rank)
    val exact = Similarity.bruteForceTopK(nonzero, q, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rr.nonEmpty)
    for ((pair, cos) <- rr) assert(exact(pair) == cos, s"rerank cos drifted on $pair")
    intercept[IllegalArgumentException] {
      ProductQuantization.adcTopK(nonzero, q, 5, cb, rerank = 2)
    }
  }

  test("adcTopK: duplicate pair ranks top-1 for raw ADC; a zero-norm " +
    "query emits rows with null score instead of crashing") {
    val cb = ProductQuantization.train(corpus, m = 4, k = 2)
    val adc = ProductQuantization.adcTopK(
      corpus, corpus.where(col("vec_id") === 0L || col("vec_id") === 5L),
      2, cb).collect()
    val top0 = adc.filter(r => r.getLong(0) == 0L && r.getLong(1) == 1L).head
    assert(top0.getLong(2) == 4L, "duplicate of query 0 is not ADC top-1")
    val zeroRows = adc.filter(_.getLong(0) == 5L)
    assert(zeroRows.nonEmpty && zeroRows.forall(_.isNullAt(3)))
  }

  test("ivfPqTopK: probing every cell with full rerank IS exact search; " +
    "fewer probes yield a subset of the candidate pairs") {
    val cb = ProductQuantization.train(corpus, m = 4, k = 2)
    val nonzero = corpus.where(col("vec_id") < 5)
    val q = nonzero.where(col("vec_id") < 2)
    def pairsOf(nProbe: Int) = ProductQuantization
      .ivfPqTopK(nonzero, q, 4, cb, nLists = 2, nProbe = nProbe, rerank = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1), r.getDouble(3)))
    val full = pairsOf(2)
    val one = pairsOf(1)
    assert(one.map(_._1).toSet.subsetOf(full.map(_._1).toSet),
      "nProbe=1 found a pair nProbe=2 did not")
    // bruteForceTopK emits (query_id, neighbor_id, cos, rank)
    val bf = Similarity.bruteForceTopK(nonzero, q, 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3), r.getDouble(2)))
    assert(full.sortBy(_._1) sameElements bf.sortBy(_._1),
      "all-cells + full-rerank IVFPQ must equal exact brute force")
  }

  test("ivfPqResidualTopK: probing every cell with full rerank IS exact " +
    "search, and the raw residual-ADC scores a duplicate vector as its " +
    "query's top-1 (reconstruction x = c + r-hat is exact for a vector " +
    "whose residual is a codebook entry)") {
    val nonzero = corpus.where(col("vec_id") < 5)
    val q = nonzero.where(col("vec_id") < 2)
    val full = ProductQuantization
      .ivfPqResidualTopK(nonzero, q, 4, m = 4, kCodes = 2, nLists = 2,
        nProbe = 2, rerank = 4, dimHint = Some(8))
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1), r.getDouble(3)))
    val bf = Similarity.bruteForceTopK(nonzero, q, 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3), r.getDouble(2)))
    assert(full.sortBy(_._1) sameElements bf.sortBy(_._1),
      "all-cells + full-rerank residual IVFPQ must equal exact brute force")
    // raw ADC: vectors 0 and 4 are bitwise identical, so they share a
    // cell and a code; 4 must be query 0's top raw-ADC neighbor
    val raw = ProductQuantization
      .ivfPqResidualTopK(nonzero, q, 4, m = 4, kCodes = 2, nLists = 2,
        nProbe = 2, dimHint = Some(8))
      .collect().filter(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(raw.nonEmpty && raw.head.getLong(2) == 4L,
      "duplicate of query 0 is not residual-ADC top-1")
  }

  test("cascadeTopK: keeping every candidate at both tiers (r1 = r2 = n) " +
    "IS exact search; r1 < r2 and r2 < k rejected") {
    val cb = ProductQuantization.train(corpus, m = 4, k = 2)
    val nonzero = corpus.where(col("vec_id") < 5)
    val q = nonzero.where(col("vec_id") < 2)
    val casc = ProductQuantization
      .cascadeTopK(nonzero, q, 4, cb, r1 = 5, r2 = 5, dim = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1), r.getDouble(3)))
    // bruteForceTopK emits (query_id, neighbor_id, cos, rank)
    val bf = Similarity.bruteForceTopK(nonzero, q, 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3), r.getDouble(2)))
    assert(casc.sortBy(_._1) sameElements bf.sortBy(_._1),
      "keep-everything cascade must equal exact brute force")
    intercept[IllegalArgumentException] {
      ProductQuantization.cascadeTopK(nonzero, q, 4, cb, r1 = 2, r2 = 5, dim = 8)
    }
    intercept[IllegalArgumentException] {
      ProductQuantization.cascadeTopK(nonzero, q, 4, cb, r1 = 5, r2 = 2, dim = 8)
    }
  }

  test("cascadeAutoDials: degenerate to the fixed budgets at gate scale, " +
    "follow the sqrt-n arm past it; auto == fixed where they coincide") {
    assert(ProductQuantization.cascadeAutoDials(600) == ((200, 50)))
    assert(ProductQuantization.cascadeAutoDials(2500) == ((200, 50)))
    // 5041 = 71^2: r2 takes the sqrt arm, r1 = 4*71 = 284
    assert(ProductQuantization.cascadeAutoDials(5041) == ((284, 71)))
    assert(ProductQuantization.cascadeAutoDials(1000000) == ((4000, 1000)))
    val cb = ProductQuantization.train(corpus, m = 4, k = 2)
    val nonzero = corpus.where(col("vec_id") < 5)
    val q = nonzero.where(col("vec_id") < 2)
    // n = 5 -> dials (200, 50) -> keep-everything -> identical to the
    // fixed keep-everything cascade of the test above
    val auto = ProductQuantization
      .cascadeTopKAuto(nonzero, q, 4, cb, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val fixed = ProductQuantization
      .cascadeTopK(nonzero, q, 4, cb, r1 = 200, r2 = 50, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(auto.sortBy(identity) sameElements fixed.sortBy(identity))
  }

  test("NaN embeddings: every storage tier degrades deterministically " +
    "and identically to the oracle's NaN ordering — no crash, no " +
    "engine divergence") {
    val withNaN = Seq(
      (0L, Array(1.0f, 0.1f, 0.9f, 0.0f, 1.0f, 0.0f, 0.5f, 0.5f)),
      (1L, Array(0.1f, 1.0f, 0.0f, 0.9f, 0.0f, 1.0f, 0.5f, 0.4f)),
      (9L, Array(Float.NaN, 1.0f, 0.0f, 0.9f, 0.0f, 1.0f, 0.5f, 0.4f)))
      .toDF("vec_id", "embedding")
    // binarize: Spark SQL (and DuckDB) order NaN GREATER than every
    // value — unlike Java — so NaN > 0 is true and the bit is SET,
    // identically on both engines; pure map, no failure
    val b = Quantization.binarize(withNaN, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((b(9L) & 1L) == 1L)
    // PQ encode: NaN norms poison every cosine → NULL → kernel's
    // zero-norm rule (lowest cell); deterministic, no crash
    val cb = ProductQuantization.train(
      withNaN.where(col("vec_id") < 2), m = 4, k = 2)
    val codes = ProductQuantization.encode(withNaN, cb)
      .select(col("vec_id"), col("pq_code")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(9L).head == 0, "NaN subvector must take the lowest cell")
    // ADC ranking with a NaN QUERY: Spark compares NaN GREATER than any
    // value (NOT Java expression semantics — `NaN > 0` is TRUE in Spark
    // SQL), so cosFromDot's `n1*n2 > 0` guard passes and the NaN
    // PROPAGATES to every adc score; under DESC ordering Spark puts NaN
    // first with NaN == NaN ties broken by neighbor id — exactly
    // DuckDB's NaN-is-greatest ordering, so the engines agree without
    // any isnan normalization in the oracle. No crash, deterministic.
    val adc = ProductQuantization.adcTopK(
      withNaN.where(col("vec_id") < 2), withNaN.where(col("vec_id") === 9),
      2, cb).collect()
    assert(adc.length == 2 && adc.forall(r => r.getDouble(3).isNaN),
      "NaN query must propagate NaN adc (Spark's NaN > 0 is true)")
    assert(adc.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq == Seq(0L, 1L),
      "all-NaN scores are equal in Spark ordering: tie-break on neighbor id")
    // int8: one NaN dimension poisons the whole vector DETERMINISTICALLY
    // — amax = NaN (NaN orders greatest), every x/scale is NaN, and
    // least(127, NaN) clamps to 127 on Spark AND DuckDB (both order NaN
    // above every value), so the code is all-127 with scale NaN on both
    // engines: ugly but bit-agreeing and loud in the output (scale NaN),
    // never an engine divergence. Callers clean NaNs upstream.
    val q = Quantization.quantizeInt8(withNaN)
      .select(col("vec_id"), col("scale"), col("qvec")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    assert(q(9L)._1.isNaN, "NaN vector must carry a NaN scale (loud)")
    assert(q(9L)._2.forall(_ == 127), "NaN poisons every code to the clamp")
    assert(!q(0L)._1.isNaN && q(0L)._2.exists(_ != 127),
      "clean vectors must be unaffected")
  }

  test("train rejects a dimension not divisible by m") {
    intercept[IllegalArgumentException] {
      ProductQuantization.train(corpus, m = 3, k = 2)
    }
  }

  test("pqStore + adcSearch: stored codebooks/codes search identically " +
    "to a fresh train+encode, without re-reading the float corpus") {
    val src = tmpDir("pq-managed-src") + "/embeddings.parquet"
    corpus.write.parquet(src)
    val emb = spark.read.parquet(src)
    val root = tmpDir("pq-managed-store")
    val q = emb.where(col("vec_id") < 2)
    val fresh = ProductQuantization
      .adcTopK(emb, q, 2, ProductQuantization.train(emb, m = 4, k = 2))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    // second call serves both artifacts from the published store
    for (_ <- 1 to 2) {
      val (codes, cb) = ProductQuantization.pqStore(
        spark, emb, src, "t", Some(root), m = 4, k = 2)
      val managed = ProductQuantization.adcSearch(codes, cb, q, 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(managed == fresh)
    }
    val names = new java.io.File(root).listFiles().map(_.getName)
    assert(names.count(_.startsWith("graft_sigstore_t")) == 2,
      s"expected the books + codes artifact pair, got ${names.mkString(", ")}")
    intercept[IllegalArgumentException] {
      ProductQuantization.adcSearch(
        ProductQuantization.encode(emb,
          ProductQuantization.train(emb, m = 4, k = 2)),
        ProductQuantization.train(emb, m = 4, k = 2), q, 2, rerank = 3)
    }
  }

  test("trainCentroids: stride 1 is bit-identical to the full " +
    "trainer; stride s trains on exactly the vec_id % s == 0 voters") {
    val full = Similarity.collectCentroids(
      Similarity.refineCentroids(corpus, Similarity.seedCentroids(corpus, 2)))
    val s1 = Similarity.trainCentroids(corpus, 2, 1, stride = 1)
    assert(s1.cells.sameElements(full.cells))
    assert(s1.vecs.zip(full.vecs).forall { case (a, b) => a.sameElements(b) })
    val s2 = Similarity.trainCentroids(corpus, 2, 1, stride = 2)
    val manual = Similarity.collectCentroids(
      Similarity.refineCentroids(corpus.where(col("vec_id") % 2 === 0),
        Similarity.seedCentroids(corpus, 2)))
    assert(s2.cells.sameElements(manual.cells))
    assert(s2.vecs.zip(manual.vecs).forall { case (a, b) => a.sameElements(b) })
    // the sampled set actually differs from the full one on this corpus
    assert(!s2.vecs.zip(full.vecs).forall { case (a, b) => a.sameElements(b) })
  }

  test("ivfPqStore + ivfPqSearch: the managed index searches identically " +
    "to the fresh sampled-auto build and publishes three artifacts") {
    val src = tmpDir("ivfpq-src") + "/embeddings.parquet"
    corpus.write.parquet(src)
    val emb = spark.read.parquet(src)
    val root = tmpDir("ivfpq-store")
    val q = emb.where(col("vec_id") < 2)
    val fresh = ProductQuantization
      .ivfPqTopKAuto(emb, q, 2,
        ProductQuantization.train(emb, m = 4, k = 2))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    for (_ <- 1 to 2) { // second pass serves everything from the store
      val (coded, cb, local, nProbe) = ProductQuantization.ivfPqStore(
        spark, emb, src, "t", Some(root), m = 4, k = 2)
      val managed = ProductQuantization
        .ivfPqSearch(coded, cb, local, q, 2, nProbe)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(managed == fresh)
    }
    val names = new java.io.File(root).listFiles().map(_.getName)
    for (part <- Seq("t-books", "t-coarse", "t-ivf"))
      assert(names.exists(_.startsWith(s"graft_sigstore_$part")),
        s"missing $part artifact in ${names.mkString(", ")}")
  }

  test("ivfPqResidualStore + ivfPqResidualSearch: the managed residual " +
    "index searches identically to the fresh sampled-auto build and " +
    "publishes four artifacts") {
    val src = tmpDir("resivfpq-src") + "/embeddings.parquet"
    corpus.write.parquet(src)
    val emb = spark.read.parquet(src)
    val root = tmpDir("resivfpq-store")
    val q = emb.where(col("vec_id") < 2)
    val fresh = ProductQuantization
      .ivfPqResidualTopKAuto(emb, q, 2, m = 4, kCodes = 2,
        dimHint = Some(8))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    for (_ <- 1 to 2) { // second pass serves everything from the store
      val (coded, cb, local, cellSide, nProbe) =
        ProductQuantization.ivfPqResidualStore(
          spark, emb, src, "t", Some(root), m = 4, k = 2)
      val managed = ProductQuantization
        .ivfPqResidualSearch(coded, cb, local, cellSide, q, 2, nProbe)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(managed == fresh)
      // the rerank shape over the same warm state matches brute force
      // on the pairs it keeps (exact cosines, the adcTopK contract)
      val rr = ProductQuantization
        .ivfPqResidualSearch(coded, cb, local, cellSide, q, 2, nProbe,
          rerank = 4, rerankCorpus = Some(emb))
        .collect().filter(!_.isNullAt(3)) // zero-vector neighbor: null cos
        .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
      val exact = Similarity.bruteForceTopK(emb, q, 5)
        .collect().filter(!_.isNullAt(2))
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      for ((pair, cos) <- rr)
        assert(exact(pair) == cos, s"managed rerank cos drifted on $pair")
    }
    val names = new java.io.File(root).listFiles().map(_.getName)
    for (part <- Seq("t-rescoarse", "t-resbooks", "t-resxterm", "t-resivf"))
      assert(names.exists(_.startsWith(s"graft_sigstore_$part")),
        s"missing $part artifact in ${names.mkString(", ")}")
  }

  test("pqCodeStore: build-once/read-many round trip is stable and " +
    "reuses the published store") {
    val src = tmpDir("pq-src") + "/embeddings.parquet"
    corpus.write.parquet(src)
    val emb = spark.read.parquet(src)
    val root = tmpDir("pq-store")
    def read() = ProductQuantization
      .pqCodeStore(spark, emb, src, "t", Some(root), m = 4, k = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val first = read()
    val again = read()
    assert(first == again && first.size == 6)
    val stores = new java.io.File(root).listFiles()
    assert(stores != null && stores.exists(_.getName.contains("v1-pq-cos")))
  }
}
