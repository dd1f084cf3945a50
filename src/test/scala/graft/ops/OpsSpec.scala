package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Semantics tests for the training-data operators, with planted duplicates
  * (the driver tables contain none, so these fixtures prove the detectors
  * actually detect). */
class OpsSpec extends SparkSuite {

  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "while the cat sleeps near the warm fire in the old house"
  private val nearDup = base.replace("cat", "kitten") // 1-token mutation
  private val unrelated = "completely different content about spark query engines " +
    "processing massive distributed datasets with columnar storage formats"

  private def docsDf = Seq(
    (0L, base, "en", "src0", base.length.toLong),
    (1L, base, "en", "src0", base.length.toLong),          // exact dup of 0
    (2L, nearDup, "en", "src0", nearDup.length.toLong),    // near dup of 0
    (3L, unrelated, "en", "src0", unrelated.length.toLong))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup groups identical texts, keeps lowest id") {
    val r = Dedup.exact(docsDf).collect()
    val dupGroup = r.find(_.getAs[Long]("cnt") == 2)
    assert(dupGroup.isDefined && dupGroup.get.getAs[Long]("keep_id") == 0L)
    assert(r.length == 3) // 4 docs, one pair collapsed
  }

  test("minhash LSH surfaces the near-dup pair with high jaccard") {
    val pairs = Dedup.minhashLshPairs(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toList
    // exact dup pair (0,1) must collide in every band with jaccard 1.0
    assert(pairs.exists { case (a, b, j) => a == 0 && b == 1 && j == 1.0 })
    // near-dup (0,2) very likely shares a band; unrelated (x,3) must not
    assert(!pairs.exists { case (_, b, _) => b == 3 })
  }

  test("simhash of near-dups is close, far docs differ") {
    val sig = Dedup.simhash(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(1L)) // identical text -> identical simhash
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(0L), sig(2L)) <= 4)
    assert(ham(sig(0L), sig(3L)) > 4)
  }

  test("simhash pairs survive a degenerate corpus (10k identical docs) " +
    "without driver/executor OOM — re-expansion is join-streamed, " +
    "not collect_list-buffered") {
    // Every doc collapses to ONE signature. The 10k*9999/2 output pairs
    // are inherent to pair semantics; the guard under test is that no
    // single buffer ever holds the whole cluster (sort-merge join spills).
    val n = 10000
    val df = spark.range(n)
      .select(col("id").as("doc_id"), lit(base).as("text"), lit("en").as("lang"),
        lit("s").as("source"), lit(base.length.toLong).as("n_chars"))
    val pairs = Dedup.simhashPairs(df)
    assert(pairs.agg(count(lit(1)), max("hamming")).collect()(0)
      .toSeq == Seq(n.toLong * (n - 1) / 2, 0L))
  }

  test("simhashPairsManaged cleanup unpersists the interior signature " +
    "cache and the result stays recomputable afterwards") {
    spark.catalog.clearCache()
    val (pairs, cleanup) = Dedup.simhashPairsManaged(docsDf)
    val before = pairs.count()
    assert(!spark.sharedState.cacheManager.isEmpty) // sig cache is live
    cleanup()
    assert(spark.sharedState.cacheManager.isEmpty)
    cleanup() // idempotent
    assert(pairs.count() == before) // plan recomputes without the cache
  }

  test("cross-corpus incremental dedup finds new-vs-old duplicates only") {
    // new batch = odd doc_ids (1=exact dup of 0, 3=unrelated); old = even
    val pairs = Dedup.crossCorpusPairs(
      docsDf.where(col("doc_id") % 2 === 1),
      docsDf.where(col("doc_id") % 2 === 0)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toList
    assert(pairs.exists { case (n, o, j) => n == 1 && o == 0 && j == 1.0 })
    assert(pairs.forall { case (n, o, _) => n % 2 == 1 && o % 2 == 0 })
    assert(!pairs.exists { case (n, _, _) => n == 3 }) // unrelated new doc clean
  }

  test("persisted band-bucket store round-trips and serves repeat batches") {
    val src = java.nio.file.Files.createTempDirectory("sigsrc").toFile
    // a real file to fingerprint (content is irrelevant to the store key)
    java.nio.file.Files.write(new java.io.File(src, "marker").toPath,
      "x".getBytes("UTF-8"))
    val rootDir = java.nio.file.Files.createTempDirectory("sigroot").toFile
    val root = rootDir.toURI.toString // exercises the file:// URI path
    val old = docsDf.where(col("doc_id") % 2 === 0)
    val stored = Dedup.bandBucketStore(spark, old, src.getPath, "spec",
      Some(root))
    val fresh = Dedup.crossCorpusPairs(
      docsDf.where(col("doc_id") % 2 === 1), old).collect().toSeq
    val viaStore = Dedup.crossCorpusPairs(
      docsDf.where(col("doc_id") % 2 === 1), old, Some(stored)).collect().toSeq
    assert(viaStore == fresh && viaStore.nonEmpty)
    // second call must reload the same store, not rebuild: the parquet
    // files on disk are byte-identical before and after. The store path
    // is computed, not globbed — sigStorePath is the public locator.
    def listing(d: java.io.File): Seq[(String, Long, Long)] = {
      def all(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(all) else Seq(f)
      all(d).map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1)
    }
    val storeDir = new java.io.File(
      Dedup.sigStorePath(spark, src.getPath, "spec", root).toUri)
    assert(storeDir.getName.contains(Dedup.SigStoreVersion)) // algo-keyed
    val before = listing(storeDir)
    Dedup.bandBucketStore(spark, old, src.getPath, "spec", Some(root)).count()
    assert(listing(storeDir) == before) // untouched → reloaded, not rebuilt
    // a source change (here: length) must key a DIFFERENT store directory —
    // per-file tuples are md5'd, so no two edits can cancel additively
    java.nio.file.Files.write(new java.io.File(src, "marker").toPath,
      "xy".getBytes("UTF-8"))
    val storeDir2 = new java.io.File(
      Dedup.sigStorePath(spark, src.getPath, "spec", root).toUri)
    assert(storeDir2.getPath != storeDir.getPath)
    Dedup.bandBucketStore(spark, old, src.getPath, "spec", Some(root)).count()
    assert(new java.io.File(storeDir2, "_SUCCESS").exists()) // rebuilt fresh
    // no temp dirs left behind by the rename-publish protocol
    assert(!rootDir.listFiles().exists(_.getName.contains(".tmp-")))
  }

  test("decontamination flags corpus docs overlapping the eval split") {
    // evalMod=17 makes doc 0 the eval set; 1 is its exact dup (fully
    // contaminated), 2 a near dup (partially), 3 unrelated (clean).
    val r = Curation.decontaminate(docsDf).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_overlap"), x.getAs[Double]("contam_frac"))).toMap
    assert(r.contains(1L) && r(1L)._2 == 1.0)
    assert(r.contains(2L) && r(2L)._1 > 0 && r(2L)._2 < 1.0)
    assert(!r.contains(3L))
    assert(!r.contains(0L)) // eval doc itself is not a corpus row
  }

  test("decontaminate against a file-backed external eval-gram table " +
    "probes every doc, including the eval docs themselves") {
    // production signature: the eval set arrives as a parquet table of
    // distinct n-grams, not as a doc_id partition of the corpus
    val evalPath = tmpDir("evalgrams") + "/grams.parquet"
    docsDf.where(col("doc_id") === 0)
      .select(TextAnalysis.tokens(col("text")).as("_t"))
      .select(explode(array_distinct(TextAnalysis.shingles3(col("_t"))))
        .as("sh"))
      .write.parquet(evalPath)
    val r = Curation.decontaminate(docsDf, spark.read.parquet(evalPath))
      .collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_overlap"), x.getAs[Double]("contam_frac"))).toMap
    // doc 0 wrote the eval set (full self-overlap), 1 is its exact dup,
    // 2 a near dup (partial), 3 unrelated (no row)
    assert(r(0L)._2 == 1.0 && r(1L)._2 == 1.0)
    assert(r.contains(2L) && r(2L)._1 > 0 && r(2L)._2 < 1.0)
    assert(!r.contains(3L))
  }

  test("repetition stats match hand-computed Gopher fractions") {
    val df = Seq(
      (0L, "a b a b a b", "en", "s", 11L),       // (a b)x3 of 5 2-grams
      (1L, "one two three four", "en", "s", 18L)) // no repetition
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Curation.repetitionStats(df).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Long]("n_tok") == 6L)
    assert(r(0L).getAs[Long]("top2_cnt") == 3L)
    assert(r(0L).getAs[Double]("top2_frac") == 0.6)  // 3 / 5
    assert(r(0L).getAs[Double]("dup3_frac") == 0.5)  // 4 3-grams, 2 distinct
    assert(r(1L).getAs[Long]("top2_cnt") == 1L)
    assert(r(1L).getAs[Double]("dup3_frac") == 0.0)
  }

  test("quality and repetition queries survive degenerate docs under " +
    "ANSI mode (NULL, never DIVIDE_BY_ZERO)") {
    // empty text: length(text) = 0 is a zero divisor in the punct term
    val q = TextAnalysis.qualityQuery(
      Seq((0L, ""), (1L, "plain ordinary words here"))
        .toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(0L).isNullAt(q(0L).fieldIndex("quality"))) // NULL, not a crash
    assert(!q(1L).isNullAt(q(1L).fieldIndex("quality")))
    // a 2-token doc has one 2-gram but zero 3-grams: n3 = 0 divisor
    val rep = Curation.repetitionStats(
      Seq((0L, "two tokens"), (1L, "three token doc here now"))
        .toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rep(0L).isNullAt(rep(0L).fieldIndex("dup3_frac")))
    assert(rep(0L).getAs[Double]("top2_frac") == 1.0)
    assert(!rep(1L).isNullAt(rep(1L).fieldIndex("dup3_frac")))
  }

  test("zorder key matches a bit-by-bit reference interleave") {
    import graft.functions.ZOrder
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 31) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val rnd = new scala.util.Random(42)
    val cases = Seq((0L, 0L), (3L, 1L), (0x7FFFFFFFL, 0L), (0L, 0x7FFFFFFFL),
      (0x7FFFFFFFL, 0x7FFFFFFFL)) ++
      Seq.fill(200)((rnd.nextInt(Int.MaxValue).toLong,
        rnd.nextInt(Int.MaxValue).toLong))
    val rows = cases.toDF("a", "b")
      .withColumn("z", ZOrder.zorderKey(col("a"), col("b"))).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("z") == ref(r.getLong(0), r.getLong(1)))
    }
    assert(ref(3L, 1L) == 7L) // sanity: a bits->even, b bits->odd
  }

  test("containment detects a quoted subset where jaccard stays small") {
    val long = base + " " + unrelated // B's shingles are a strict subset of A's
    val subset = base
    val df = Seq(
      (0L, long, "en", "s", long.length.toLong),
      (1L, subset, "en", "s", subset.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val c = Dedup.blockedContainment(df, 0.0).collect()(0)
    assert(c.getAs[Double]("containment") == 1.0) // fully contained
    val j = Dedup.blockedNgramJaccard(df, 0.0).collect()(0)
    assert(j.getAs[Double]("jaccard") < 0.8) // jaccard diluted by A's extra
  }

  test("blocked ngram jaccard ranks near-dup far above unrelated") {
    val r = Dedup.blockedNgramJaccard(docsDf, 0.0).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getAs[Double]("jaccard")).toMap
    assert(r((0L, 1L)) == 1.0)
    assert(r((0L, 2L)) > 0.6)
    assert(r((0L, 3L)) == 0.0)
  }

  test("positive-threshold jaccard (inter-driven path) = all-pairs path filtered") {
    val filtered = Dedup.blockedNgramJaccard(docsDf, 0.0).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getAs[Double]("jaccard")))
      .filter(_._3 >= 0.5).toSet
    val inner = Dedup.blockedNgramJaccard(docsDf, 0.5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getAs[Double]("jaccard"))).toSet
    assert(inner == filtered && inner.nonEmpty)
    assert(!inner.exists { case (a, b, _) => (a, b) == (0L, 3L) }) // disjoint pair never enumerated
  }

  test("embedding pairs finds planted near-identical vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.05f, 0.0f), 0), // near dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f), 0),   // orthogonal
      (3L, Array(1.0f, 0.0f, 0.0f), 1))   // same direction, other block
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingPairs(vecs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(pairs == List((0L, 1L))) // blocked: (0,3) not compared despite cos=1
  }

  test("semantic decontamination drops near-benchmark vectors, keeps " +
    "orthogonal ones, and a zero vector keeps (no comparable neighbor)") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // benchmark
      (1L, Array(0.0f, 1.0f, 0.0f)),   // benchmark
      (10L, Array(0.99f, 0.05f, 0.0f)), // contaminated (near 0)
      (11L, Array(0.0f, 0.0f, 1.0f)),   // clean
      (12L, Array(0.0f, 0.0f, 0.0f)))   // zero vec: all cosines null
      .toDF("vec_id", "embedding")
    // in-corpus stand-in benchmark -> excludeSelfIds keeps a benchmark
    // row from "contaminating" against itself
    val r = Dedup.semanticDecontaminate(
      vecs, vecs.where(col("vec_id") < 2), 0.9,
      excludeSelfIds = true).collect()
      .map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(r.size == 5) // benchmark rows score against each other too
    assert(!r(10L), "near-benchmark vector must be dropped")
    assert(r(11L), "orthogonal vector must keep")
    assert(r(12L), "zero vector has no comparable neighbor and keeps")
    assert(r(0L) && r(1L), "orthogonal benchmark vectors keep each other")
    // default (external-benchmark semantics): ids are NOT compared, so a
    // corpus row sharing an id with a benchmark row still scores against
    // it — here rows 0/1 ARE the benchmark rows and drop at cos 1.0
    val ext = Dedup.semanticDecontaminate(
      vecs, vecs.where(col("vec_id") < 2), 0.9).collect()
      .map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(!ext(0L) && !ext(1L),
      "without the flag, id equality must not skip comparisons")
    assert(!ext(10L) && ext(11L) && ext(12L),
      "non-self rows are unaffected by the flag")
  }

  test("semantic dedup drops the higher-id in-cell near-duplicate only") {
    // 4 seeds (nLists = 4) spanning three directions; 2 is a near-dup of
    // 1, 4 of 0; 5 sits between clusters below the 0.95 threshold
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.98f, 0.2f)), // near dup of 1
      (3L, Array(0.0f, 0.0f, 1.0f)),
      (4L, Array(0.99f, 0.05f, 0.0f)), // near dup of 0
      (5L, Array(0.7f, 0.7f, 0.14f)))  // between clusters, below threshold
      .toDF("vec_id", "embedding")
    val r = Dedup.semanticDedup(vecs, 0.95, nLists = 4).collect()
      .map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(r(0L) && r(1L) && r(3L)) // lowest ids always survive
    assert(!r(2L) && !r(4L)) // near-dups of a lower id are dropped
    assert(r.size == 6 && r(5L)) // everyone gets a row; 5 below threshold
  }

  test("knnGraph ranks a planted near-dup pair as mutual top-1 neighbors " +
    "and never emits more than k rows per vector") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.98f, 0.2f)), // near dup of 1 (same cell)
      (3L, Array(0.0f, 0.0f, 1.0f)),
      (4L, Array(0.99f, 0.05f, 0.0f)), // near dup of 0
      (5L, Array(0.7f, 0.7f, 0.14f)))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(vecs, 2, nLists = 4).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1))) // (vec, rank, nbr)
    val top1 = g.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    assert(top1(1L) == 2L && top1(2L) == 1L) // mutual nearest
    assert(g.groupBy(_._1).forall(_._2.length <= 2)) // k bound holds
  }

  test("autoNLists follows the sqrt-n occupancy rule with a floor of 16") {
    assert(Similarity.autoNLists(0L) == 16)
    assert(Similarity.autoNLists(256L) == 16)   // sqrt = 16 exactly
    assert(Similarity.autoNLists(257L) == 17)   // first step past the floor
    assert(Similarity.autoNLists(500L) == 23)   // the sf0.01 embeddings count
    assert(Similarity.autoNLists(2000L) == 45)  // the sf0.1 embeddings count
    assert(Similarity.autoNLists(20000L) == 142) // the 10x probe corpus
    assert(Similarity.autoNLists(10000L) == 100) // perfect square stays exact
  }

  test("semanticDedupAuto at n <= 256 equals the fixed dial at its floor") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.98f, 0.2f)),
      (3L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val auto = Dedup.semanticDedupAuto(vecs, 0.95).collect().map(_.toSeq)
    val fixed = Dedup.semanticDedup(vecs, 0.95, nLists = 16)
      .collect().map(_.toSeq)
    assert(auto.toSeq == fixed.toSeq)
  }

  test("semanticDedupManaged cleanup unpersists the interior assignment " +
    "cache and the result stays recomputable afterwards") {
    spark.catalog.clearCache()
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.98f, 0.2f)),
      (3L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val (res, cleanup) = Dedup.semanticDedupManaged(vecs, 0.95, nLists = 4)
    val before = res.collect().map(_.toSeq).toList
    assert(!spark.sharedState.cacheManager.isEmpty) // assignment cache live
    cleanup()
    assert(spark.sharedState.cacheManager.isEmpty)
    cleanup() // idempotent
    assert(res.collect().map(_.toSeq).toList == before) // recomputes fine
  }

  test("dedup_simhash64 gate holds on real data: every multiset-equal " +
    "pair appears in the 64-bit pair set at hamming 0 (sf0.001)") {
    val row = graft.SparkEntry.queries("dedup_simhash64")(
      spark, "/root/testdata/sf0.001").collect()(0)
    assert(row.getAs[Boolean]("covered"))
    assert(row.getAs[Long]("n_in64_h0") == row.getAs[Long]("n_multiset_pairs"))
  }

  test("C4/Gopher rule bundle flags each pathology and keeps clean text") {
    val clean = base // 24 alphabetic tokens, normal word lengths
    val tooShort = "just five small clean words"           // < 10 tokens
    val symbolHeavy = ("w@rd$ " * 12).trim                 // symbol ratio high
    val blob = base + " " + "a" * 40                       // 40-char token
    val lorem = base + " lorem ipsum dolor"                // placeholder text
    val repeated = ("spam " * 30).trim                     // 1 distinct / 30
    val df = Seq(
      (0L, clean), (1L, tooShort), (2L, symbolHeavy),
      (3L, blob), (4L, lorem), (5L, repeated))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.c4FilterQuery(df).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Boolean]("keep"))
    assert(!r(1L).getAs[Boolean]("len_ok") && !r(1L).getAs[Boolean]("keep"))
    assert(!r(2L).getAs[Boolean]("symbol_ok") && !r(2L).getAs[Boolean]("alpha_ok"))
    assert(!r(3L).getAs[Boolean]("toklen_ok"))
    assert(!r(4L).getAs[Boolean]("lorem_ok"))
    assert(!r(5L).getAs[Boolean]("distinct_ok"))
  }

  test("C4 flags on degenerate rows are non-null false, never NULL") {
    // empty / whitespace-only text hits 0/0 divisions (NaN in Spark,
    // NULL in DuckDB) and a NULL array_max — the coalesce guard must
    // turn every flag into a hard false so keep can never be NULL
    val df = Seq((0L, ""), (1L, "   "), (2L, "\t\n"))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.c4FilterQuery(df).collect()
    assert(rows.length == 3)
    val flags = Seq("len_ok", "wordlen_ok", "symbol_ok", "alpha_ok",
      "toklen_ok", "lorem_ok", "distinct_ok", "keep")
    rows.foreach { r =>
      flags.foreach { f =>
        assert(!r.isNullAt(r.fieldIndex(f)), s"doc ${r.getLong(0)}: $f is NULL")
      }
      assert(!r.getAs[Boolean]("keep"), s"doc ${r.getLong(0)} kept")
    }
  }

  test("connected components close transitive near-dup clusters") {
    import spark.implicits._
    // edges 1-2, 2-3 (one cluster) and 5-6; 4 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("d1", "d2")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val r = Dedup.connectedComponents(pairs, ids).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components round-count guard trips on a too-low bound " +
    "and passes on a sane one") {
    import spark.implicits._
    // a 5-node path needs ceil(log2(diameter))-ish rounds — more than 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("d1", "d2")
    val ids = (1L to 5L).toDF("doc_id")
    sys.props("graft.cc.assert.rounds") = "1"
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.connectedComponents(pairs, ids).collect()
      }
      assert(e.getMessage.contains("rounds"))
      sys.props("graft.cc.assert.rounds") = "8"
      assert(Dedup.connectedComponents(pairs, ids).collect().length == 5)
    } finally sys.props.remove("graft.cc.assert.rounds")
  }

  test("brute-force topk returns exact neighbors in cosine order") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.5f, 0.5f), 0),
      (3L, Array(0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), 3)
      .select("neighbor_id").as[Long].collect().toList
    assert(r == List(1L, 2L, 3L))
  }

  test("zero-norm embeddings rank last with NULL cosine instead of " +
    "crashing under ANSI mode") {
    // an all-zero vector (empty doc's embedding) has norm 0 - every
    // cosine against it is a guarded NULL, never a DIVIDE_BY_ZERO
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 0.0f), 0)) // zero vector
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" === 0), 3)
      .collect()
    // zero vector is last (NULL cos sorts after real scores) with NULL cos
    assert(rows.map(_.getLong(1)).toList == List(1L, 2L))
    assert(rows.last.isNullAt(rows.last.fieldIndex("cos")))
    // threshold ops: the zero vector matches nothing, and nothing crashes
    val pairs = Dedup.embeddingPairs(vecs, 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(pairs == List((0L, 1L)))
    val sem = Dedup.semanticDedup(vecs, 0.5, nLists = 2).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(sem.size == 3 && sem(2L)) // zero vector survives as its own item
  }

  test("lsh topk results are a subset of brute-force ranking, same scoring") {
    val vecs = (0L until 50L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 31 + j * 7).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val brute = Similarity.bruteForceTopK(vecs, vecs.where($"vec_id" < 3), 5)
      .select("query_id", "neighbor_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(vecs, vecs.where($"vec_id" < 3), 5)
      .select("query_id", "neighbor_id", "cos").collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      // every LSH pair's score matches the exact score when present in brute's topk
      brute.get(k).foreach(exact => assert(exact == r.getDouble(2)))
    }
  }

  test("token count handles empty and multi-space text") {
    val df = Seq((0L, "a  b   c"), (1L, "  x  "), (2L, "one"))
      .toDF("doc_id", "text")
    val r = df.select($"doc_id", TextAnalysis.tokenCount($"text").as("n"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) == 3 && r(1L) == 1 && r(2L) == 1)
  }

  test("rolling fingerprint is order-sensitive, md5 fingerprint is " +
    "whitespace-normalizing") {
    val df = Seq(
      (0L, "alpha beta gamma"), (1L, "gamma beta alpha"),
      (2L, "alpha  beta \t gamma"))
      .toDF("doc_id", "text")
    val r = df.select($"doc_id",
      TextAnalysis.rollingFingerprint(TextAnalysis.tokens($"text")).as("roll"),
      TextAnalysis.md5Fingerprint($"text").as("fp"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    assert(r(0L)._1 != r(1L)._1) // reorder changes rolling hash
    assert(r(0L)._1 == r(2L)._1) // whitespace does not
    assert(r(0L)._2 == r(2L)._2)
  }

  test("language id picks the marker-dense language") {
    val df = Seq(
      (0L, "der hund und die katze und der vogel"),
      (1L, "the cat and the dog of the house"),
      (2L, "el gato los perros las casas el sol"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.langIdQuery(df).collect()
      .map(x => x.getLong(0) -> x.getAs[String]("lang_pred")).toMap
    assert(r == Map(0L -> "de", 1L -> "en", 2L -> "es"))
  }

  test("LSH and IVF ANN recall vs brute force on real embeddings (sf0.001)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" < 10)
    def topkSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = topkSet(Similarity.bruteForceTopK(emb, queries, 10))
    val lsh = topkSet(Similarity.lshTopK(emb, queries, 10))
    val ivf = topkSet(Similarity.ivfTopK(emb, queries, 10))
    val lshRecall = (lsh & brute).size.toDouble / brute.size
    val ivfRecall = (ivf & brute).size.toDouble / brute.size
    info(f"LSH recall: $lshRecall%.2f, IVF recall: $ivfRecall%.2f")
    // approximate paths must return a meaningful fraction of true neighbors
    assert(lshRecall > 0.1, s"LSH recall $lshRecall")
    assert(ivfRecall > 0.3, s"IVF recall $ivfRecall")
    // recall@5 with refined centroids (2 Lloyd iterations) — the quality
    // gate that makes centroid-refinement changes measurable
    val brute5 = topkSet(Similarity.bruteForceTopK(emb, queries, 5))
    val ivf5 = topkSet(Similarity.ivfTopK(emb, queries, 5, lloydIters = 2))
    val recall5 = (ivf5 & brute5).size.toDouble / brute5.size
    info(f"IVF recall@5 (lloydIters=2): $recall5%.2f")
    assert(recall5 >= 0.6, s"IVF recall@5 $recall5")
  }

  test("range join boundaries are inclusive and bucketing loses nothing") {
    import graft.operators.RangeJoin
    val pts = Seq((1L, 100L), (2L, 150L), (3L, 200L), (4L, 201L), (5L, 99L))
      .toDF("id", "ts")
    // window exactly [100, 200]; bucket width 7 (doesn't divide anything)
    val wins = Seq((9L, 100L, 200L)).toDF("wid", "s", "e")
    val r = RangeJoin.bucketed(pts, "ts", wins, "s", "e", Seq("wid"), 7L)
      .select("id").as[Long].collect().sorted.toList
    assert(r == List(1L, 2L, 3L)) // 100 and 200 inclusive, 99/201 out
  }

  test("property: bucketized range join == naive filter join on randomized " +
    "points/intervals across bucket widths") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(7)
    for (bucketMs <- Seq(1L, 7L, 64L, 1000L)) {
      // ts domain 0..199; intervals may be empty-ish (s==e), overlapping,
      // or wider than the whole domain; width 1000 puts everything in one
      // bucket (degenerates to the naive join but must stay exact)
      val pts = (0 until 300).map(i => (i.toLong, rnd.nextInt(200).toLong))
      val wins = (0 until 40).map { i =>
        val s = rnd.nextInt(220).toLong - 10
        (i.toLong, s, s + rnd.nextInt(30))
      }
      val expected = (for {
        (id, ts) <- pts
        (wid, s, e) <- wins
        if ts >= s && ts <= e
      } yield (id, wid)).toSet
      val ptsDf = pts.toDF("id", "ts")
      val winsDf = wins.toDF("wid", "s", "e")
      val got = RangeJoin
        .bucketed(ptsDf, "ts", winsDf, "s", "e", Seq("wid"), bucketMs)
        .select("id", "range_wid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"bucketMs=$bucketMs")
    }
  }

  test("k-means centroid refinement is deterministic across runs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def centroids() = Similarity.refineCentroids(
      emb, Similarity.seedCentroids(emb, 8))
      .orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toList
    val a = centroids()
    val b = centroids()
    assert(a == b && a.nonEmpty)
    // refined centroids are means, not corpus vectors
    val seeds = emb.where($"vec_id" < 8).collect()
      .map(_.getSeq[Float](1).toList).toSet
    assert(a.exists(c => !seeds.contains(c._2)))
  }

  test("VectorMean aggregate matches the posexplode+avg formulation, " +
    "including ragged vectors and all-null groups") {
    import graft.functions.VectorExpressions.vecMean
    // real embeddings, grouped into 7 synthetic cells
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("cell", ($"vec_id" % 7).cast("long"))
    def viaKernel(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("cell").agg(vecMean($"embedding").as("m"))
      .orderBy("cell").collect()
      .map(r => (r.getLong(0),
        Option(r.getSeq[Double](1)).map(_.toList).orNull)).toList
    def viaExplode(df: org.apache.spark.sql.DataFrame) = df
      .select($"cell", posexplode($"embedding").as(Seq("i", "x")))
      .groupBy("cell", "i").agg(avg($"x").as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct($"i", $"m"))).as("pairs"))
      .select($"cell", transform($"pairs", p => p.getField("m")).as("m"))
      .orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toList
    assert(viaKernel(emb) == viaExplode(emb))
    // ragged + null vectors: per-dim divisor is that dim's observation
    // count (posexplode semantics), null vectors contribute nothing, and
    // an all-null group yields a NULL mean (not an empty array)
    val ragged = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f)), (0L, Seq(5.0f)), (0L, null),
      (1L, null), (1L, null)
    ).toDF("cell", "embedding")
    assert(viaKernel(ragged) ==
      List((0L, List(3.0, 2.0, 3.0)), (1L, null)))
  }

  test("sign-bit binarization: bit i set iff dim i+1 strictly positive; " +
    "Hamming search is exact on the codes and rerank returns exact cosines") {
    import graft.ops.Quantization
    import org.apache.spark.sql.functions.col
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)),
      (1L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)), // dup of 0
      (2L, Array.tabulate(64)(i => if (i % 2 == 1) 1.0f else -1.0f)), // complement
      (3L, Array.tabulate(64)(i => if (i == 63) 2.0f else 0.0f)),     // only bit 63
      (4L, Array.fill(64)(0.0f)))                                     // zero vec
      .toDF("vec_id", "embedding")
    val codes = Quantization.binarize(vecs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val evenBits = (0 until 64 by 2).map(1L << _).reduce(_ | _)
    assert(codes(0L) == evenBits && codes(1L) == evenBits)
    assert(codes(2L) == ~evenBits) // odd dims = complement mask
    assert(codes(3L) == Long.MinValue) // bit 63 alone
    assert(codes(4L) == 0L)
    val top = Quantization.hammingTopK(vecs, vecs.where(col("vec_id") === 0L), 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(top.toList == List((1L, 1L, 0L), (2L, 4L, 32L)),
      s"expected dup at distance 0 then zero-vec at 32, got ${top.toList}")
    val rr = Quantization.hammingTopK(vecs, vecs.where(col("vec_id") === 0L),
      1, rerank = 2).collect()
    assert(rr.head.getLong(2) == 1L && rr.head.getDouble(3) == 1.0,
      "rerank must surface the exact-cosine duplicate at cos 1.0")
  }

  test("ivfHammingTopK: probing every cell with a full refine budget IS " +
    "exact search (the cell-bounded binary tier degrades gracefully to " +
    "brute force at the open dials)") {
    import graft.ops.{Quantization, Similarity}
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 3)
    val n = emb.count().toInt
    val full = Quantization.ivfHammingTopK(emb, q, 5, rerank = n,
      nLists = 2, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val bf = Similarity.bruteForceTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2)))
    assert(full.sortBy(x => (x._1, x._2)) sameElements bf.sortBy(x => (x._1, x._2)),
      "all-cells + full-refine ivfHamming must equal exact brute force")
  }

  test("ivfHammingStore: warm-store search equals a fresh sampled-auto " +
    "build; both artifacts publish; dim keys the code artifact") {
    import graft.ops.Quantization
    import org.apache.spark.sql.functions.col
    val srcDir = "/root/testdata/sf0.001/embeddings.parquet"
    val emb = spark.read.parquet(srcDir)
    val root = tmpDir("ivfham-store")
    val q = emb.where(col("vec_id") < 3)
    val fresh = Quantization.ivfHammingTopKAuto(emb, q, 5)
      .collect().map(_.toSeq).toSeq
    for (_ <- 1 to 2) { // second pass serves everything from the store
      val (codes, local, nProbe) = Quantization.ivfHammingStore(
        spark, emb, srcDir, "ht", Some(root))
      val managed = Quantization.ivfHammingSearch(
        codes, local, emb, q, 5, rerank = 200, nProbe = nProbe)
        .collect().map(_.toSeq).toSeq
      assert(managed == fresh,
        "warm IVF-Hamming store must search identically to a fresh build")
    }
    val names = new java.io.File(root).listFiles().map(_.getName)
    assert(names.exists(_.startsWith("graft_sigstore_ht-hcoarse")) &&
      names.exists(_.startsWith("graft_sigstore_ht-hivf")),
      s"expected coarse + code artifacts, got ${names.mkString(", ")}")
    // a different dim is a different code-artifact key
    Quantization.ivfHammingStore(spark, emb, srcDir, "ht", Some(root),
      dim = 32)
    assert(new java.io.File(root).listFiles().map(_.getName)
      .count(_.startsWith("graft_sigstore_ht-hivf")) == 2)
  }

  test("int8 quantization: codes within [-127,127], per-element " +
    "reconstruction error <= scale/2, zero vectors round-trip exactly") {
    import graft.ops.Quantization
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
      .unionByName(Seq((-1L, Seq.fill(8)(0.0f)))
        .toDF("vec_id", "embedding")) // adversarial all-zero vector
    val q = Quantization.quantizeInt8(emb)
    val back = Quantization.dequantizeInt8(q, "recon")
      .select($"vec_id", $"embedding", $"scale", $"qvec", $"recon")
      .collect()
    assert(back.nonEmpty)
    for (r <- back) {
      val orig = r.getSeq[Float](1)
      val scale = r.getDouble(2)
      val codes = r.getSeq[Int](3)
      val recon = r.getSeq[Float](4)
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec ${r.getLong(0)}")
      assert(orig.length == recon.length)
      orig.zip(recon).foreach { case (o, c) =>
        assert(math.abs(o - c) <= scale / 2 + 1e-6,
          s"vec ${r.getLong(0)}: |$o - $c| > scale/2 ($scale)")
      }
      if (r.getLong(0) == -1L) {
        assert(scale == 0.0 && codes.forall(_ == 0) && recon.forall(_ == 0f))
      }
    }
  }

  test("salted join equals the plain join exactly") {
    import graft.operators.SaltedJoin
    val big = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4)).toDF("k", "v")
    val small = Seq(("a", 10), ("b", 20)).toDF("k", "w")
    val salted = SaltedJoin.join(big, small, "k", buckets = 4)
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    val plain = big.join(small, "k")
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    assert(salted == plain && salted.size == 4)
  }

  test("BloomSemiJoin equals the plain semi-join, even with a saturated " +
    "filter (false positives removed by the exact join)") {
    import graft.operators.BloomSemiJoin
    val big = (0L until 500L).map(i => (i, s"row$i")).toDF("k", "v")
    val small = Seq(3L, 77L, 205L, 444L, 444L).toDF("sk")
    val expected = big.join(small.distinct(), $"k" === $"sk", "left_semi")
      .select("k", "v").collect().map(_.toSeq).toSet
    // well-sized filter
    val sized = BloomSemiJoin.semiJoin(big, small, "k", "sk", 4L)
      .select("k", "v").collect().map(_.toSeq).toSet
    assert(sized == expected)
    // pathologically tiny filter: 64 bits for 4 keys -> heavy false-positive
    // rate at might_contain, yet the exact semi-join must still win
    val tiny = BloomSemiJoin.semiJoin(big, small, "k", "sk", 4L, numBits = 64L)
      .select("k", "v").collect().map(_.toSeq).toSet
    assert(tiny == expected)
  }

  test("BloomSemiJoin with non-integral keys still equals the plain " +
    "semi-join (prefilter skipped, not silently wrong)") {
    import graft.operators.BloomSemiJoin
    // string keys: cast('long') would yield null -> might_contain(null) is
    // null -> the old prefilter dropped every matching row
    val big = Seq(("alpha", 1), ("beta", 2), ("gamma", 3), ("delta", 4))
      .toDF("k", "v")
    val small = Seq("beta", "delta", "delta").toDF("sk")
    val expected = big.join(small.distinct(), $"k" === $"sk", "left_semi")
      .select("k", "v").collect().map(_.toSeq).toSet
    assert(expected.nonEmpty) // the regression would have made this empty
    val got = BloomSemiJoin.semiJoin(big, small, "k", "sk", 2L)
      .select("k", "v").collect().map(_.toSeq).toSet
    assert(got == expected)
  }

  test("vector kernels reject non-float-array inputs at analysis time") {
    import graft.functions.VectorExpressions
    val df = Seq((Array(1, 2, 3), Array(1.0f, 2.0f, 3.0f)))
      .toDF("ints", "floats")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorExpressions.vecDot($"ints", $"floats")).collect()
    }
    assert(e1.getMessage.contains("vector_dot"))
    val planes = Array(Array(1.0, 0.0, 0.0))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorExpressions.hyperplaneSignBits($"ints", planes))
        .collect()
    }
    assert(e2.getMessage.contains("hyperplane_sign_bits"))
    // the valid float column still evaluates
    val ok = df.select(
      VectorExpressions.vecDot($"floats", $"floats").as("d")).head.getDouble(0)
    assert(ok == 14.0)
  }

  test("vec_dot is bit-identical to an in-order double fold " +
    "(interpreted and codegen)") {
    import graft.functions.VectorExpressions
    val rnd = new scala.util.Random(17)
    // magnitudes spread over six decades, so a reordered or float-width
    // sum differs from the in-order double fold in the low bits
    def vec(n: Int): Array[Float] = Array.fill(n)(
      (rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)).toFloat)
    val cases = Seq(0, 1, 64, 257).flatMap(n => Seq.fill(3)((vec(n), vec(n))))
    val expected = cases.map { case (a, b) =>
      var acc = 0.0
      a.indices.foreach(i => acc += a(i).toDouble * b(i).toDouble)
      acc
    }
    val df = cases.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b")
    // a local relation folds the projection with the interpreted eval;
    // after an exchange it runs as whole-stage generated code
    for (input <- Seq(df, df.repartition(2))) {
      val got = input.select($"i", VectorExpressions.vecDot($"a", $"b"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      expected.zipWithIndex.foreach { case (e, i) =>
        assert(java.lang.Double.doubleToRawLongBits(got(i)) ==
          java.lang.Double.doubleToRawLongBits(e),
          s"case $i (length ${cases(i)._1.length}): ${got(i)} vs $e")
      }
    }
  }

  test("HyperplaneSignBits mask matches a per-plane driver-side dot fold") {
    val vecs = Seq.tabulate(40) { i =>
      (i.toLong, Array.tabulate(64)(j =>
        (math.sin(i * 131 + j * 7) * 2).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = df.select($"vec_id",
        Similarity.hyperplaneMask($"embedding").as("mask"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: same in-order double fold per plane, on the driver
    for ((id, v) <- vecs) {
      var mask = 0L
      for (p <- Similarity.planes.indices) {
        val w = Similarity.planes(p)
        var acc = 0.0
        for (i <- 0 until math.min(v.length, w.length))
          acc += v(i).toDouble * w(i)
        if (acc >= 0) mask |= 1L << p
      }
      assert(got(id) == mask, s"vec $id")
    }
    // and bucketsFromMask slices the mask into 8 tables of 4 bits
    val bb = df.where($"vec_id" === 0L)
      .select(explode(Similarity.bucketsFromMask(
        Similarity.hyperplaneMask($"embedding"))).as("bb"))
      .select($"bb.tbl", $"bb.bits").collect()
    assert(bb.length == Similarity.NumTables)
    for (r <- bb)
      assert(r.getAs[Long]("bits") ==
        ((got(0L) >> (r.getAs[Int]("tbl") * Similarity.PlanesPerTable)) & 15L))
  }

  test("NearestCentroid kernel matches a driver-side argmax fold, keeps " +
    "the lowest cell on exact ties, and sends zero-norm vectors to the " +
    "lowest cell") {
    val dim = 16
    val cents = Seq.tabulate(8) { k =>
      // cells 3 and 5 get IDENTICAL centroids -> exact float tie on every
      // vector; the lower cell (3) must win
      val kk = if (k == 5) 3 else k
      Array.tabulate(dim)(j => (math.cos(kk * 17 + j * 3) * 2).toFloat)
    }
    val vecs = Seq.tabulate(40) { i =>
      (i.toLong, Array.tabulate(dim)(j =>
        (math.sin(i * 131 + j * 7) * 2).toFloat))
    } :+ (98L, cents(3).map(x => x * 2f)) :+ // colinear with the tied pair
      (99L, Array.fill(dim)(0.0f))           // zero-norm vector
    val local = Similarity.LocalCentroids(
      cells = Array.tabulate(8)(_.toLong),
      vecs = cents.toArray,
      norms = cents.map(c =>
        math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)).toArray)
    val df = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding",
        Similarity.norm($"embedding").as("_n"))
    val got = Similarity.assignCells(df, local)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side reference: same in-order double fold, strict >, cells asc
    for ((id, v) <- vecs) {
      val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      var bestCell = 0L
      var best = Double.NegativeInfinity
      for (k <- 0 until 8) {
        var acc = 0.0
        for (i <- 0 until dim) acc += v(i).toDouble * local.vecs(k)(i).toDouble
        val den = n * local.norms(k)
        if (den > 0) {
          val sim = acc / den
          if (sim > best) { best = sim; bestCell = k.toLong }
        }
      }
      assert(got(id) == bestCell, s"vec $id")
    }
    assert(got(99L) == 0L) // zero norm: no valid sim, falls to lowest cell
    assert(got(98L) == 3L) // sim 1.0 with BOTH 3 and 5 -> lowest cell wins
    assert(!got.values.exists(_ == 5L)) // the tied higher cell never wins
  }

  test("BPE-ish token count segments punctuation and digits separately") {
    val df = Seq((0L, "hello world"), (1L, "a1b2!"), (2L, "price: $4.99"))
      .toDF("doc_id", "text")
    val r = df.select($"doc_id", TextAnalysis.bpeTokenCount($"text").as("n"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) == 2) // "hello", " world"
    assert(r(1L) == 5) // a / 1 / b / 2 / !
    assert(r(2L) == 6) // price / : / " $" / 4 / . / 99
  }

  test("multimodal resize and frame-sample stubs keep the batch contract") {
    import graft.ops.Multimodal._
    val media = Seq(
      MediaRecord(0L, "image", "raw", Array.tabulate(10)(_.toByte), 10L),
      MediaRecord(1L, "video", "raw", Array.tabulate(64)(_.toByte), 64L)).toDS()
    val resized = resizeStub(media, 4, 4).collect().sortBy(_.media_id)
    assert(resized.forall(r => r.payload.length == 16))
    assert(resized(0).payload.toSeq == resized(0).payload.toSeq) // deterministic
    val frames = frameSampleStub(media, frameBytes = 16, stride = 2).collect()
    assert(frames.map(_.media_id).distinct.toSeq == Seq(1L)) // video only
    assert(frames.map(_.frame_no).sorted.toSeq == Seq(0, 2)) // every 2nd of 4
  }

  test("multimodal feature extraction is deterministic and batch-shaped") {
    import graft.ops.Multimodal._
    val media = Seq(
      MediaRecord(0L, "image", "raw", Array[Byte](10, 20, 30), 3L),
      MediaRecord(1L, "audio", "raw", Array[Byte](10, 20, 30), 3L),
      MediaRecord(2L, "video", "raw", null, 0L)).toDS()
    val feats = extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats(0).feature.toSeq == feats(1).feature.toSeq) // same bytes
    assert(feats(0).feature.length == FeatureDim)
    assert(!feats(2).ok && feats(2).feature.forall(_ == 0f)) // null payload
  }

  test("real image codec: BMP encode -> ImageIO decode round-trips pixels " +
    "exactly; corrupt payloads survive as ok=false") {
    import graft.ops.Multimodal._
    val w = 7; val h = 5 // odd width exercises BMP row padding (21 -> 24)
    val gray = Array.tabulate(w * h)(i => (i * 37 + 11) % 256)
    val bmp = ImageCodec.encodeGrayBmp(w, h, gray)
    // a real decoder, not our own parser, reads the bytes back
    val Some((dw, dh, dg)) = ImageCodec.decodeGray(bmp)
    assert((dw, dh) == (w, h))
    assert(dg.toSeq == gray.toSeq, "decoded pixels differ from encoded")
    // undecodable payloads: None, never a throw
    assert(ImageCodec.decodeGray(Array[Byte](1, 2, 3)).isEmpty)
    assert(ImageCodec.decodeGray(null).isEmpty)
    // dataset path: decode + ok flag through mapPartitions
    val media = Seq(
      MediaRecord(0L, "image", "bmp", bmp, bmp.length.toLong),
      MediaRecord(1L, "image", "bmp", Array[Byte](9, 9), 2L)).toDS()
    val dec = decodeImages(media).collect().sortBy(_.media_id)
    assert(dec(0).ok && dec(0).gray.toSeq == gray.toSeq)
    assert(!dec(1).ok && dec(1).gray.isEmpty)
  }

  test("nearest-neighbor resize matches the index formula and is exact on " +
    "integer downscale") {
    import graft.ops.Multimodal._
    val gray = Array.tabulate(12 * 8)(i => i % 256)
    // 2x downscale: out(x,y) = in(2x, 2y)
    val half = ImageCodec.resizeNearest(12, 8, gray, 6, 4)
    for (y <- 0 until 4; x <- 0 until 6)
      assert(half(y * 6 + x) == gray(2 * y * 12 + 2 * x))
    // non-integer ratios follow the floor formula
    val odd = ImageCodec.resizeNearest(12, 8, gray, 5, 3)
    for (y <- 0 until 3; x <- 0 until 5)
      assert(odd(y * 5 + x) == gray((y * 8 / 3) * 12 + x * 12 / 5))
    // upscale replicates source pixels, never reads out of bounds
    val up = ImageCodec.resizeNearest(2, 2, Array(1, 2, 3, 4), 5, 5)
    assert(up.length == 25 && up.forall(Set(1, 2, 3, 4)))
  }

  test("dedupPhash: a 2x-upscaled copy pairs with its base at hamming 0 " +
    "(the resized-duplicate class byte dedup misses); an unrelated image " +
    "does not pair; a one-pixel edit stays within 2 bits") {
    import graft.ops.Multimodal._
    def bmpOf(base: Int, scale: Int, perturbAt: Int = -1): Array[Byte] = {
      val g = Array.tabulate(ImageW * ImageH)(i =>
        ((base * 37 * i + i * i * 11) % 256).toInt)
      if (perturbAt >= 0) g(perturbAt) = (g(perturbAt) + 128) % 256
      if (scale == 2) {
        val up = Array.tabulate(ImageW * 2 * ImageH * 2) { j =>
          val x = j % (ImageW * 2); val y = j / (ImageW * 2)
          g((y / 2) * ImageW + x / 2)
        }
        ImageCodec.encodeGrayBmp(ImageW * 2, ImageH * 2, up)
      } else ImageCodec.encodeGrayBmp(ImageW, ImageH, g)
    }
    val media = Seq(
      MediaRecord(0L, "image", "bmp", bmpOf(1, 1), 0L),       // base 1
      MediaRecord(1L, "image", "bmp", bmpOf(1, 2), 0L),       // 2x copy
      MediaRecord(2L, "image", "bmp", bmpOf(2, 1), 0L),       // other base
      MediaRecord(3L, "image", "bmp", bmpOf(1, 1, 30), 0L))   // edited copy
      .toDS()
    // byte-level dedup sees four DISTINCT assets — the blind spot
    assert(dedupBinary(media).count() == 4)
    // the managed facade: same pairs, plus a cleanup thunk that must
    // unpersist the interior signature cache (the dedupAudioManaged
    // contract — with this, all three modalities expose the form)
    spark.catalog.clearCache()
    val (pairsDf, cleanup) = dedupPhashManaged(media, maxDist = 3)
    val pairs = pairsDf.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!spark.sharedState.cacheManager.isEmpty,
      "signature cache should be live while pairs are consumed")
    cleanup()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cleanup thunk must unpersist the interior signature cache")
    assert(pairs.get((0L, 1L)).contains(0L),
      s"upscaled copy must pair at hamming 0: $pairs")
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) <= 2L,
      s"one-pixel edit must pair within 2 bits: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated base must not pair: $pairs")
  }

  test("real audio codec: WAV encode -> javax.sound decode round-trips " +
    "samples exactly; corrupt payloads survive as ok=false") {
    import graft.ops.Multimodal._
    val s = Array.tabulate(100)(i => ((i * 31 + 7) % 4096 - 2048).toShort)
    val wav = AudioCodec.encodePcmWav(8000, s)
    val Some((rate, ds)) = AudioCodec.decodePcm16(wav)
    assert(rate == 8000)
    assert(ds.toSeq == s.toSeq, "decoded samples differ from encoded")
    // cross-validation: the JDK's own codec must read the SAME bytes to
    // the SAME samples as the lock-free canonical parser the hot path
    // uses (if the two ever drift, the encoder or the parser is wrong)
    val Some((jrate, jds)) = AudioCodec.decodePcm16Jdk(wav)
    assert(jrate == 8000 && jds.toSeq == ds.toSeq,
      "hand parser and JDK codec disagree on identical bytes")
    assert(AudioCodec.decodePcm16(Array[Byte](1, 2, 3)).isEmpty)
    assert(AudioCodec.decodePcm16(null).isEmpty)
    val media = Seq(
      MediaRecord(0L, "audio", "wav", wav, wav.length.toLong),
      MediaRecord(1L, "audio", "wav", Array[Byte](9, 9), 2L)).toDS()
    val dec = decodeAudio(media).collect().sortBy(_.media_id)
    assert(dec(0).ok && dec(0).sample_rate == 8000 &&
      dec(0).samples.toSeq == s.map(_.toInt).toSeq)
    assert(!dec(1).ok && dec(1).samples.isEmpty)
    // non-multiple sample rate (12 kHz over the 8 kHz base): fingerprint
    // must SKIP the clip (rate % base != 0 — truncating step division
    // would silently print it un-normalized), same fractional-ratio
    // out-of-scope contract as resampleAudio
    val longEnough = Array.tabulate(AudioLen * 2)(i =>
      ((i * 31 + 7) % 4096 - 2048).toShort)
    val odd = Seq(MediaRecord(7L, "audio", "wav",
      AudioCodec.encodePcmWav(12000, longEnough), 0L)).toDS()
    assert(audioFingerprints(odd).count() == 0L,
      "12 kHz clip must be excluded from fingerprints, not mis-normalized")
  }

  test("dedupAudio: a 2x-upsampled copy pairs with its base at hamming 0 " +
    "(the re-encoded-duplicate class byte dedup misses); a one-sample " +
    "edit stays within 2 bits; an unrelated clip does not pair") {
    import graft.ops.Multimodal._
    def clip(base: Long, up: Boolean, perturbAt: Int = -1): Array[Byte] = {
      val lin = (base % 4096) * 7 + 3; val quad = 13 + base / 4096
      val s = Array.tabulate(AudioLen)(i =>
        ((lin * i + quad * i.toLong * i) % 4096 - 2048).toShort)
      if (perturbAt >= 0) s(perturbAt) = (s(perturbAt) + 512).toShort
      if (up) AudioCodec.encodePcmWav(AudioRate * 2,
        Array.tabulate(AudioLen * 2)(j => s(j / 2)))
      else AudioCodec.encodePcmWav(AudioRate, s)
    }
    val media = Seq(
      MediaRecord(0L, "audio", "wav", clip(1, up = false), 0L),
      MediaRecord(1L, "audio", "wav", clip(1, up = true), 0L),
      MediaRecord(2L, "audio", "wav", clip(2, up = false), 0L),
      MediaRecord(3L, "audio", "wav", clip(1, up = false, perturbAt = 40),
        0L)).toDS()
    // byte-level dedup sees four DISTINCT assets — the blind spot
    assert(dedupBinary(media).count() == 4)
    // the managed facade: same pairs, plus a cleanup thunk that must
    // unpersist the interior signature cache (cache-lifetime contract).
    // Start from a clean cache: earlier tests in the shared session may
    // have live entries, which would mask the isEmpty assertions.
    spark.catalog.clearCache()
    val (pairsDf, cleanup) = dedupAudioManaged(media, maxDist = 3)
    val pairs = pairsDf.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!spark.sharedState.cacheManager.isEmpty,
      "signature cache should be live while pairs are consumed")
    cleanup()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cleanup thunk must unpersist the interior signature cache")
    assert(pairs.get((0L, 1L)).contains(0L),
      s"upsampled copy must pair at hamming 0: $pairs")
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) <= 2L,
      s"one-sample edit must pair within 2 bits: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated clip must not pair: $pairs")
  }

  test("real video codec: AVI DIB encode -> chunk-walk decode round-trips " +
    "frames exactly; MJPEG decodes through the JDK JPEG codec; corrupt " +
    "payloads survive as ok=false") {
    import graft.ops.Multimodal._
    val w = 12; val h = 8
    val frames = Array.tabulate(5)(f =>
      Array.tabulate(w * h)(i => (f * 37 + i * 11) % 256))
    val avi = VideoCodec.encodeAviDib(w, h, 10, frames)
    val Some((dw, dh, fps, df)) = VideoCodec.parseAvi(avi)
    assert(dw == w && dh == h && fps == 10 && df.length == 5)
    (0 until 5).foreach(f => assert(df(f).toSeq == frames(f).toSeq,
      s"frame $f pixels differ after AVI round-trip"))
    // MJPEG: real JPEG bytes in '00dc' chunks through ImageIO — lossy,
    // so assert dims/count exactly and pixels approximately (the same
    // image content, not the same bytes)
    val mj = VideoCodec.encodeAviMjpeg(w, h, 10, frames)
    val Some((mw, mh, mfps, mf)) = VideoCodec.parseAvi(mj)
    assert(mw == w && mh == h && mfps == 10 && mf.length == 5)
    (0 until 5).foreach { f =>
      val err = frames(f).zip(mf(f)).map { case (a, b) =>
        math.abs(a - b) }.sum.toDouble / (w * h)
      assert(err < 24.0, s"MJPEG frame $f mean abs pixel error $err")
    }
    assert(VideoCodec.parseAvi(Array[Byte](1, 2, 3)).isEmpty)
    assert(VideoCodec.parseAvi(null).isEmpty)
    // truncated container: header intact, movi cut mid-frame
    assert(VideoCodec.parseAvi(avi.take(avi.length - 10)).isEmpty)
    // declared chunk size near Int.MaxValue: the bounds check must not
    // overflow (a wrapped sum would walk the parser out of the buffer)
    val huge = java.util.Arrays.copyOf(avi, avi.length)
    val hb = java.nio.ByteBuffer.wrap(huge)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hb.putInt(16, 0x7ffffff0) // LIST hdrl size field
    assert(VideoCodec.parseAvi(huge).isEmpty,
      "huge declared chunk size must parse as None, not throw")
    val media = Seq(
      MediaRecord(0L, "video", "avi", avi, avi.length.toLong),
      MediaRecord(1L, "video", "avi", Array[Byte](9, 9), 2L)).toDS()
    val dec = decodeVideo(media).collect().sortBy(_.media_id)
    assert(dec(0).ok && dec(0).n_frames == 5 && dec(0).fps == 10 &&
      dec(0).gray.length == 5 * w * h)
    assert(dec(0).gray.toSeq == frames.flatten.toSeq)
    assert(!dec(1).ok && dec(1).gray.isEmpty)
    // real frame sampling: every 2nd frame, genuine pixels
    val sampled = frameSampleReal(media, 2).collect().sortBy(_.frame_no)
    assert(sampled.map(_.frame_no).toSeq == Seq(0L, 2L, 4L))
    assert(sampled(1).gray.toSeq == frames(2).toSeq)
  }

  test("dedupVideo: a frame-rate-doubled copy pairs with its base at " +
    "hamming 0 (the re-timed-duplicate class byte dedup misses); a " +
    "per-frame watermark stays within 2 bits; an unrelated clip does " +
    "not pair; the managed cleanup unpersists the signature cache") {
    import graft.ops.Multimodal._
    def clip(base: Long, up: Boolean, perturbAt: Int = -1): Array[Byte] = {
      val lin = (base % 256) * 37; val quad = 11 + base / 256
      val fs = Array.tabulate(VideoFrames)(f =>
        Array.tabulate(ImageW * ImageH) { i =>
          val v = ((lin * i + quad * i.toLong * i + 29L * f) % 256).toInt
          if (i == perturbAt) (v + 128) % 256 else v
        })
      if (up) VideoCodec.encodeAviDib(ImageW, ImageH, VideoFps * 2,
        Array.tabulate(VideoFrames * 2)(q => fs(q / 2)))
      else VideoCodec.encodeAviDib(ImageW, ImageH, VideoFps, fs)
    }
    val media = Seq(
      MediaRecord(0L, "video", "avi", clip(1, up = false), 0L),
      MediaRecord(1L, "video", "avi", clip(1, up = true), 0L),
      MediaRecord(2L, "video", "avi", clip(2, up = false), 0L),
      MediaRecord(3L, "video", "avi", clip(1, up = false, perturbAt = 40),
        0L)).toDS()
    // byte-level dedup sees four DISTINCT assets — the blind spot
    assert(dedupBinary(media).count() == 4)
    spark.catalog.clearCache() // clean slate for the isEmpty assertions
    val (pairsDf, cleanup) = dedupVideoManaged(media, maxDist = 3)
    val pairs = pairsDf.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!spark.sharedState.cacheManager.isEmpty,
      "signature cache should be live while pairs are consumed")
    cleanup()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cleanup thunk must unpersist the interior signature cache")
    assert(pairs.get((0L, 1L)).contains(0L),
      s"re-timed copy must pair at hamming 0: $pairs")
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) <= 2L,
      s"watermark edit must pair within 2 bits: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated clip must not pair: $pairs")
  }

  test("dedupMediaIncremental: new-batch assets pair against the stored " +
    "old-corpus prints with fixed old->new orientation across all three " +
    "modalities (image dHash, audio, video); warm store == cold run") {
    import graft.ops.Multimodal._
    val src = java.nio.file.Files
      .createTempDirectory("media-incr").toString
    // 130 docs with the ODD dial 63: ids c and c+63 share a class with
    // OPPOSITE parity, so every odd/new asset has an even/old classmate
    // (the re-uploaded-asset structure); evens are "old", odds "new"
    spark.range(0, 130).select(col("id").as("doc_id"))
      .write.mode("overwrite").parquet(s"$src/documents.parquet")
    val root = Some(s"$src/store")
    val cold = dedupMediaIncremental(spark, src, 63L, 3, root).collect()
    // warm pass through the MANAGED form: same pairs, and the cleanup
    // thunk unpersists both interior signature caches (the long-lived-
    // session contract the one-shot facade documents)
    spark.catalog.clearCache()
    val (warmDf, cleanup) =
      dedupMediaIncrementalManaged(spark, src, 63L, 3, root)
    val warm = warmDf.collect()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "signature caches should be live while pairs are consumed")
    cleanup()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cleanup thunk must unpersist the interior signature caches")
    assert(cold.map(_.toString).sorted.toSeq ==
      warm.map(_.toString).sorted.toSeq,
      "warm store must reproduce the cold run")
    assert(cold.nonEmpty, "class-sharing ids must produce cross pairs")
    cold.foreach { r =>
      assert(r.getLong(1) % 2 == 0 && r.getLong(2) % 2 == 1,
        s"orientation must be d1=old(even), d2=new(odd): $r")
      assert(r.getLong(3) <= 3)
      assert(Set("image", "audio", "video")(r.getString(0)))
    }
    // all three modalities represented (same doc ids print in each lake)
    assert(cold.map(_.getString(0)).toSet ==
      Set("image", "audio", "video"))
  }

  test("extractFeaturesReal dispatches by payload sniffing (RIFF/WAVE -> " +
    "energies, RIFF/AVI -> brightness, BMP -> histogram) and survives " +
    "corrupt payloads as ok=false") {
    import graft.ops.Multimodal._
    val gray = Array.tabulate(ImageW * ImageH)(i => (i * 7) % 256)
    val bmp = ImageCodec.encodeGrayBmp(ImageW, ImageH, gray)
    val wav = AudioCodec.encodePcmWav(8000,
      Array.tabulate(FrameLen * 8)(i => ((i * 31) % 4096 - 2048).toShort))
    val avi = VideoCodec.encodeAviDib(ImageW, ImageH, 10,
      Array.tabulate(8)(f => Array.tabulate(ImageW * ImageH)(i =>
        (f + i) % 256)))
    val media = Seq(
      MediaRecord(0L, "image", "bmp", bmp, 0L),
      MediaRecord(1L, "audio", "wav", wav, 0L),
      MediaRecord(2L, "video", "avi", avi, 0L),
      MediaRecord(3L, "image", "bmp", Array[Byte](1, 2, 3), 0L)).toDS()
    val f = extractFeaturesReal(media).collect().sortBy(_.media_id)
    // image: 8-bin histogram sums to the pixel count
    assert(f(0).ok && f(0).feature.sum == ImageW * ImageH)
    assert(f(0).feature.toSeq ==
      gray.groupBy(_ / 32).toSeq.sortBy(_._1).map(_._2.length.toLong))
    // audio: 8 frame energies, each the sum of 32 squares
    val s0 = Array.tabulate(FrameLen * 8)(i => ((i * 31) % 4096 - 2048).toLong)
    assert(f(1).ok && f(1).feature.toSeq ==
      (0 until 8).map(fr =>
        (0 until FrameLen).map(k => s0(fr * FrameLen + k) *
          s0(fr * FrameLen + k)).sum))
    // video: per-frame brightness
    assert(f(2).ok && f(2).feature.toSeq ==
      (0 until 8).map(fr =>
        (0 until ImageW * ImageH).map(i => ((fr + i) % 256).toLong).sum))
    assert(!f(3).ok && f(3).feature.isEmpty)
  }

  test("substringRuns: merges anchor windows into ONE maximal run with " +
    "exact positions/length; short docs emit nothing; k bound enforced") {
    val run = "a b c d e f g h i j" // 10 shared tokens
    val d = Seq(
      (0L, s"$run x y z"),          // run at pos 0
      (1L, s"p q $run w"),          // run at pos 2
      (2L, "too short"))            // 2 tokens < k
      .toDF("doc_id", "text")
    val r = Dedup.substringRuns(d, kTokens = 8).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4)) == (0L, 1L, 0L, 2L, 10L))
    intercept[IllegalArgumentException] {
      Dedup.substringRuns(d, kTokens = 1)
    }
  }

  test("substringRuns: identical docs yield one whole-doc run; the " +
    "hot-window df-cut drops over-cap windows and SPLITS the runs they " +
    "interrupt") {
    val text = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 t15"
    val d = Seq((0L, text), (1L, text), (2L, text)).toDF("doc_id", "text")
    val full = Dedup.substringRuns(d, kTokens = 8).collect()
    // 3 doc pairs, each one maximal 16-token run
    assert(full.length == 3 && full.forall(_.getLong(4) == 16L))
    assert(full.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // every window occurs 3 times (once per doc): cap 2 cuts them ALL —
    // no candidates survive
    val cut = Dedup.substringRuns(d, kTokens = 8, maxWindowDf = Some(2L))
    assert(cut.count() == 0L)
    // cap 3 keeps everything
    assert(Dedup.substringRuns(d, kTokens = 8, maxWindowDf = Some(3L))
      .count() == 3L)
  }

  test("substringRemove: lowest id keeps every shared run; identical docs " +
    "empty all but the first; untouched docs digest their normalized text") {
    val text = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    val d = Seq((0L, text), (1L, text), (2L, text), (3L, "all alone here"))
      .toDF("doc_id", "text")
    val r = Dedup.substringRemove(d, kTokens = 8).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    val emptyMd5 = org.apache.commons.codec.digest.DigestUtils.md5Hex("")
    assert(r(0L) == ((0L,
      org.apache.commons.codec.digest.DigestUtils.md5Hex(text))))
    assert(r(1L) == ((10L, emptyMd5)) && r(2L) == ((10L, emptyMd5)))
    assert(r(3L) == ((0L,
      org.apache.commons.codec.digest.DigestUtils.md5Hex("all alone here"))))
  }

  test("substringRunsIncremental: store-vs-batch detection equals the " +
    "full run's even->odd pairs; the posting store publishes and is " +
    "reused warm") {
    val run = "r0 r1 r2 r3 r4 r5 r6 r7 r8 r9"
    val src = tmpDir("ssinc-src") + "/documents.parquet"
    // doc 4 (OLD, id > every new id) shares a run with doc 1 (NEW): the
    // full run emits that pair as (1, 4) but the incremental as
    // d1=old=4, d2=new=1 — the orientation difference the unordered
    // normalization below must absorb (a naive d1-even/d2-odd filter
    // would silently never compare it).
    Seq((0L, s"$run tail_a"), (2L, "nothing shared here at all"),
      (1L, s"head_b $run"), (3L, s"also $run yes"),
      (4L, s"x0 x1 x2 $run"))
      .toDF("doc_id", "text").write.parquet(src)
    val d = spark.read.parquet(src)
    val root = tmpDir("ssinc-store")
    val old = d.where(col("doc_id") % 2 === 0)
    // Normalize both sets to an unordered pair key: (min_id, max_id,
    // pos_of_min, pos_of_max, run_tokens).
    def norm(d1: Long, d2: Long, p1: Long, p2: Long, n: Long) =
      if (d1 <= d2) (d1, d2, p1, p2, n) else (d2, d1, p2, p1, n)
    val full = Dedup.substringRuns(d, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .filter { case (d1, d2, _, _, _) => d1 % 2 != d2 % 2 }
      .map((norm _).tupled)
      .toSet
    for (_ <- 1 to 2) { // second pass serves postings from the store
      val posting = Dedup.substringPostingStore(spark, old, src,
        "ssinc", 8, Some(root))
      val inc = Dedup.substringRunsIncremental(
        d.where(col("doc_id") % 2 === 1), old, posting, 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
      inc.foreach { case (d1, d2, _, _, _) =>
        assert(d1 % 2 == 0 && d2 % 2 == 1,
          s"incremental orientation must be d1=old, d2=new: ($d1, $d2)") }
      val incN = inc.map((norm _).tupled).toSet
      assert(incN == full,
        s"incremental must equal the full run's old<->new pairs: $incN vs $full")
      assert(incN.contains((0L, 1L, 0L, 1L, 10L)) &&
        incN.contains((0L, 3L, 0L, 1L, 10L)) &&
        incN.contains((1L, 4L, 1L, 3L, 10L)))
    }
    assert(new java.io.File(root).listFiles().map(_.getName)
      .exists(_.startsWith("graft_sigstore_ssinc_v1-sswin-k8")))
  }

  test("substringRemove: overlapping cuts from DIFFERENT partners merge " +
    "into one interval before removal") {
    // doc 2 shares tokens 0..9 with doc 0 and tokens 4..13 with doc 1:
    // merged cut [0, 14) — 14 tokens removed, 2 survive.
    val shared = (0 until 14).map(i => s"s$i").mkString(" ") // s0..s13
    val d = Seq(
      (0L, (0 until 10).map(i => s"s$i").mkString(" ")),  // s0..s9
      (1L, (4 until 14).map(i => s"s$i").mkString(" ")),  // s4..s13
      (2L, s"$shared tail1 tail2"))
      .toDF("doc_id", "text")
    val r = Dedup.substringRemove(d, kTokens = 8).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    assert(r(0L)._1 == 0L && r(1L)._1 == 0L)
    assert(r(2L) == ((14L,
      org.apache.commons.codec.digest.DigestUtils.md5Hex("tail1 tail2"))))
  }
}
