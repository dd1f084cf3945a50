package graft.plans

import graft.SparkSuite

/** Mechanical assertions over physical plans of registry queries — the
  * scale properties SCALING.md argues, pinned so a refactor that silently
  * breaks one (a lost pushdown, a surprise cartesian, a global window
  * sneaking back in) fails a test instead of a future bench.
  *
  * Uses sf0.001 so plan CONSTRUCTION is cheap; none of these queries is
  * executed (the CC-loop queries, which run jobs during construction, are
  * deliberately not asserted here). The sink case writes one 12-record
  * batch: the writer's plan exists only inside its action.
  */
class PlanInvariantSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("map-only text/sampling queries have no hash exchange and no " +
    "single-partition step (only the output sort's range partitioning)") {
    for (q <- Seq("sample_split", "sample_epochs", "text_c4_filters",
      "text_token_count", "text_token_count_bpe", "text_quality_score",
      "text_redact_numbers", "text_redact_pii", "text_extract_markup",
      "pipeline_clean_corpus_v5")) {
      val p = planOf(q)
      assert(!p.contains("hashpartitioning"), s"$q shuffles: unexpected hash exchange")
      assert(!p.contains("SinglePartition"), s"$q has a single-partition step")
    }
  }

  test("pipeline_clean_corpus_v6: keeper election + kernel stages plan " +
    "with pinned joins — no cartesian, no nested loop, no broadcast of " +
    "a corpus-derived side") {
    val p = planOf("pipeline_clean_corpus_v6")
    assert(!p.contains("CartesianProduct"), "v6 plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "v6 plans a nested loop")
    // keeper set and md5 side are aggregation-bounded but corpus-scale:
    // both ride SHUFFLE_MERGE pins
    assert(p.contains("SortMergeJoin"), "v6 lost its join pins")
    assert(!p.contains("BroadcastExchange"),
      "v6 broadcasts a corpus-derived side")
  }

  test("q_zorder_cluster: no window operator; the only single-partition " +
    "exchange is the 1-row min/max scalar agg") {
    val p = planOf("q_zorder_cluster")
    assert(!p.contains("Window"), "global window crept back into the z audit")
    assert(p.split("SinglePartition").length - 1 == 1,
      "expected exactly one SinglePartition exchange (the scalar agg)")
  }

  test("positive-threshold ngram jaccard and containment never plan a " +
    "cartesian or broadcast nested loop, and the posting SELF-join is " +
    "pinned to a shuffle join (never broadcast)") {
    for (q <- Seq("dedup_ngram_jaccard", "dedup_ngram_jaccard_dfcut",
      "dedup_containment", "dedup_containment_dfcut", "dedup_substring",
      "dedup_substring_dfcut",
      "dedup_substring_remove", "dedup_substring_incremental")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
      // Catalyst's size estimate doesn't scale through Generate, so
      // without the SHUFFLE_MERGE pin the corpus-sized exploded shingle
      // table gets broadcast (the round-15 10x-probe finding: 90-170 s
      // and an OOM path at 100x). The pin must survive refactors.
      assert(p.contains("SortMergeJoin"),
        s"$q lost the SHUFFLE_MERGE pin on the posting self-join")
    }
    // the substring family additionally pins the verification joins on
    // the corpus-sized token table: zero BroadcastExchange in the
    // uncut plan (window + token tables are both corpus-sized); the
    // dfcut variant may broadcast ONLY the aggregation-bounded
    // stop-window set (its LeftAnti guard — the blockedNgramJaccard
    // optimizer-decides rationale), nothing else
    assert(!planOf("dedup_substring").contains("BroadcastExchange"),
      "dedup_substring broadcasts a corpus-derived side")
    // ... and the removal action inherits them, PLUS its final
    // corpus-tokens <- merged-cuts join (both sides corpus-derived)
    assert(!planOf("dedup_substring_remove").contains("BroadcastExchange"),
      "dedup_substring_remove broadcasts a corpus-derived side")
    // ... and the incremental path: store x batch posting join plus
    // both verification joins, all corpus-derived — zero broadcast
    assert(!planOf("dedup_substring_incremental")
        .contains("BroadcastExchange"),
      "dedup_substring_incremental broadcasts a corpus-derived side")
    val pc = planOf("dedup_substring_dfcut")
    val nBroadcast = pc.linesIterator.count(_.contains("BroadcastExchange"))
    val nAnti = pc.linesIterator.count(
      l => l.contains("LeftAnti") && l.contains("Broadcast"))
    assert(nBroadcast <= nAnti,
      s"dedup_substring_dfcut broadcasts beyond the stop-set anti-join " +
        s"($nBroadcast broadcasts, $nAnti anti-join builds)")
  }

  test("dedup_simhash64: equi-joins only (no cartesian / nested loop), " +
    "and the signature pair join still runs at the distinct-signature " +
    "level") {
    val p = planOf("dedup_simhash64")
    assert(!p.contains("CartesianProduct"), "simhash64 plans a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "simhash64 plans a nested loop")
    // the production width pin: the signature must come from the
    // 64-bit (xxhash64-hash) kernel, not the 16-bit oracle width
    // (the round-21 map-side kernel carries the width as its second
    // argument — the formatted explain shows it verbatim)
    val full = graft.SparkEntry.queries("dedup_simhash64")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(full.contains("simhash_sig") && full.contains(", 64)"),
      "production width lost the 64-bit signature kernel")
  }

  test("dedup_semantic, sim_ann_ivf (fixed + auto-nLists), " +
    "sample_importance: broadcast-only nested loops (1-row/nLists-row " +
    "sides), no unplanned cartesian") {
    for (q <- Seq("dedup_semantic", "sim_ann_ivf", "sample_importance",
      "dedup_semantic_auto", "sim_ann_ivf_auto")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a raw cartesian")
      // the only nested-loop joins are the nLists-row broadcast centroid
      // assignments - every BroadcastNestedLoopJoin must be BuildRight
      // (the broadcast() side), never an unbroadcast fallback
      p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
        .foreach(l => assert(l.contains("BuildRight"),
          s"$q has a non-broadcast nested loop: $l"))
    }
  }

  test("text_lm_score: count-table joins are merge-pinned (vocabulary " +
    "is corpus-derived — never broadcast); the only broadcast is the " +
    "1-row corpus total") {
    for (q <- Seq("text_lm_score", "text_lm_holdout")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      assert(p.contains("SortMergeJoin"),
        s"$q lost the SHUFFLE_MERGE pin on the count-table joins")
      // crossJoin(broadcast(N)) is the single legal broadcast: a 1-row
      // aggregate. Any second broadcast means a vocabulary-sized count
      // table slipped onto the build side (the classic scale-killer).
      val nB = p.linesIterator.count(_.contains("BroadcastExchange"))
      assert(nB <= 1, s"$q broadcasts a corpus-derived count table " +
        s"($nB BroadcastExchange nodes)")
    }
  }

  test("text_decontaminate_bloom: Bloom prefilter reaches the probe scan " +
    "(might_contain present), the verify joins are merge-pinned, and no " +
    "corpus-derived side is broadcast") {
    val p = planOf("text_decontaminate_bloom")
    assert(p.contains("might_contain"),
      "the Bloom prefilter fell out of the probe-side plan")
    assert(p.contains("SortMergeJoin"),
      "the exact verify lost its SHUFFLE_MERGE pin")
    assert(!p.contains("BroadcastExchange"),
      "a corpus-derived gram side is broadcast (the reference side is " +
        "corpus-sized by construction here)")
    assert(!p.contains("CartesianProduct"))
  }

  test("sample_shuffle's rank window is sharded - no single-partition " +
    "window anywhere in the plan") {
    assert(!planOf("sample_shuffle").contains("SinglePartition"),
      "the training shuffle's rank window collapsed to one partition")
  }

  test("per-group top-k queries get the WindowGroupLimit map-side pre-prune") {
    // sim_knn_graph runs two small construction jobs (corpus count +
    // centroid collect) before its plan exists — cheap at sf0.001, and the
    // assert matters: losing the prune there pushes the full n×√n candidate
    // rows through the window sort instead of per-group top-k heaps
    for (q <- Seq("sample_quota", "text_tfidf_top", "sim_knn_graph"))
      assert(planOf(q).contains("WindowGroupLimit"),
        s"$q lost the InferWindowGroupLimit pushdown")
  }

  test("q1 filter reaches the parquet scan as a pushed filter") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull") || p.contains("PushedFilters: [Less"),
      "q1's shipdate predicate is not pushed to the scan")
  }

  test("star join broadcasts its dimensions") {
    assert(planOf("q5_region_revenue").contains("BroadcastHashJoin"),
      "q5 does not broadcast dimension tables")
  }

  test("int8 quantize/dequantize is map-only: no Exchange of any kind in " +
    "the storage path") {
    // asserted on the ops directly (the registry query appends an output
    // orderBy whose range exchange is presentation, not operator cost)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = graft.ops.Quantization.quantizeInt8(emb)
    val rt = graft.ops.Quantization.dequantizeInt8(q.drop("embedding"))
    val bin = graft.ops.Quantization.binarize(emb)
    for ((df, name) <- Seq((q, "quantizeInt8"), (rt, "round-trip"),
        (bin, "binarize"))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"$name shuffles: the int8 storage path must stay map-only")
    }
  }

  test("text, curation and substring operators do not sort their output: " +
    "no range exchange in the operator's plan, exactly one (the output " +
    "sort) in its registry row's") {
    // The table covers every operator family: an operator sorts only
    // when its contract needs order (a window or a `limit`), and each
    // registry row ends in one total sort of its own.
    import org.apache.spark.sql.functions.col
    import graft.CacheScope
    import graft.ops._
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val lined = Curation.lineified(d)
    val old = d.where(col("doc_id") % 2 === 0)
    val odd = d.where(col("doc_id") % 2 === 1)
    // the incremental and store rows publish stores: keep them out of the
    // shared root
    val storeRoot = tmpDir("order-store")
    spark.conf.set("graft.sigstore.dir", storeRoot)
    def ranges(p: String) = "rangepartitioning".r.findAllIn(p).size
    try CacheScope.run {
      val cb = ProductQuantization.train(emb, 16, 32, dimHint = Some(64))
      val ops = Seq(
        "text_quality_score" -> TextAnalysis.qualityQuery(d),
        "text_lang_id" -> TextAnalysis.langIdQuery(d),
        "text_commonness" -> TextAnalysis.commonnessQuery(d),
        "text_c4_filters" -> TextAnalysis.c4FilterQuery(d),
        "text_tfidf_top" -> TextAnalysis.tfidfTopQuery(d, 3),
        "text_decontaminate" -> Curation.decontaminate(d),
        "text_decontaminate_bloom" -> Curation.decontaminateCross(d),
        "text_repetition" -> Curation.repetitionStats(d),
        "dedup_chunks" -> Curation.chunkDedup(d, 10),
        "text_length_outliers" -> Curation.lengthOutliers(d),
        "dedup_lines" -> Curation.lineDedup(lined, 3),
        "dedup_lines_incremental" -> Curation.lineDedupIncremental(
          lined.where(col("doc_id") % 2 === 1),
          Curation.lineDf(lined.where(col("doc_id") % 2 === 0))
            .where(col("df") >= 3)),
        "dedup_substring" -> Dedup.substringRuns(d, 8),
        "dedup_substring_incremental" -> Dedup.substringRunsIncremental(
          odd, old, Dedup.docWindows(old.select(col("doc_id"),
            TextAnalysis.tokens(col("text")).as("_t")), 8), 8),
        "dedup_substring_remove" -> Dedup.substringRemove(d, 8),
        "dedup_substring_remove_text" -> Dedup.substringRemoveText(d, 8),
        "dedup_exact" -> Dedup.exact(d),
        "dedup_minhash_lsh" -> Dedup.minhashLshPairs(d),
        "dedup_incremental" -> Dedup.crossCorpusPairs(odd, old),
        "dedup_simhash" -> Dedup.simhashPairs(d),
        "dedup_cluster_keep" -> Dedup.clusterKeepList(d),
        "dedup_ngram_jaccard" -> Dedup.blockedNgramJaccard(d, 0.1),
        "dedup_containment" -> Dedup.blockedContainment(d, 0.01),
        "dedup_semantic" -> Dedup.semanticDedup(emb, 0.35),
        "decontaminate_semantic" -> Dedup.semanticDecontaminate(emb, q, 0.8,
          excludeSelfIds = true),
        "dedup_embedding" -> Dedup.embeddingPairs(emb, 0.35),
        "sim_topk_bruteforce" -> Similarity.bruteForceTopK(emb, q, 5),
        "sim_ann_lsh" -> Similarity.lshTopK(emb, q, 5),
        "sim_knn_graph" -> Similarity.knnGraph(emb, 3),
        "sim_ann_ivf" -> Similarity.ivfTopK(emb, q, 5),
        "sim_hamming_topk" -> Quantization.hammingTopK(emb, q, 5),
        "sim_hamming_topk" -> Quantization.hammingTopK(emb, q, 5,
          rerank = 200),
        "sim_ann_ivf_hamming" -> Quantization.ivfHammingTopK(emb, q, 5),
        "sim_pq_adc" -> ProductQuantization.adcTopK(emb, q, 5, cb),
        "sim_cascade_topk" -> ProductQuantization.cascadeTopK(emb, q, 5, cb),
        "sample_split" -> Sampling.assignSplit(d),
        "sample_shuffle" -> Sampling.shuffleOrder(d, 1),
        "sample_mix" -> Sampling.mixToWeights(d,
          Map("en" -> 0.5, "zh" -> 0.3), 0.2),
        "sample_stratified" -> Sampling.stratifiedSample(d,
          Map("en" -> 50, "zh" -> 30), 20),
        "pack_token_budget" -> Sampling.packByTokenBudget(d, 2000L),
        "sample_quota" -> Sampling.quotaCap(d, 40),
        "sample_epochs" -> Sampling.epochRepeat(d),
        "sample_importance" -> Sampling.importanceSelect(d),
        "mm_binary_meta" -> Multimodal.metaQuery(spark, sfDir),
        "mm_dedup_binary" -> Multimodal.dedupBinary(
          Multimodal.mediaFromEvents(spark, sfDir)),
        "mm_dedup_phash" -> Multimodal.dedupPhash(
          Multimodal.phashLake(spark, sfDir), 3),
        "mm_dedup_audio_auto" -> Multimodal.dedupAudio(
          Multimodal.audioLake(spark, sfDir), 3),
        "mm_dedup_video_auto" -> Multimodal.dedupVideo(
          Multimodal.videoLake(spark, sfDir), 3),
        "mm_dedup_media_incremental" -> Multimodal.dedupMediaIncremental(
          spark, sfDir, storeRoot = Some(storeRoot)),
        "pipeline_media_report" -> Multimodal.mediaReport(spark, sfDir),
        "text_domain_trained" -> DomainClassifier.scoreQuery(d,
          DomainClassifier.trainCentroids(d)),
        "text_quality_trained" -> QualityClassifier.scoreQuery(d,
          QualityClassifier.train(d)),
        "text_lm_score" -> LanguageModel.scoreQuery(d,
          LanguageModel.countsFrame(d)),
        "pipeline_store_report" -> FingerprintStore.report(spark,
          Some(storeRoot), ""))
      for ((row, df) <- ops)
        assert(ranges(df.queryExecution.executedPlan.toString) == 0,
          s"the operator behind $row sorts its output")
      for (row <- ops.map(_._1).distinct)
        assert(ranges(planOf(row)) == 1,
          s"$row must end in exactly one total sort")
    } finally spark.conf.unset("graft.sigstore.dir")
  }

  test("PQ encode is map-only (no Exchange) and ADC scoring is the " +
    "round-16 lookup shape: no explode, no aggregation shuffle — the only " +
    "exchanges are query-side broadcasts and the top-k window") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cb = graft.ops.ProductQuantization.train(emb, 16, 32, dimHint = Some(64))
    val enc = graft.ops.ProductQuantization.encode(emb, cb)
      .queryExecution.executedPlan.toString
    assert(!enc.contains("Exchange"),
      "PQ encode shuffles: the storage path must stay map-only")
    // Full-scan ADC: corpus map + broadcast of the per-query LUT arrays
    // + window. The former explode→LUT-hash-join→partial-agg pipeline
    // (measured at >half the 100× search cost) must not come back.
    val adc = graft.ops.ProductQuantization
      .adcTopK(emb, emb.where(col("vec_id") < 5), 3, cb)
      .queryExecution.executedPlan.toString
    assert(!adc.contains("Generate"),
      "ADC re-grew the posexplode of the code table")
    assert(!adc.contains("HashAggregate") && !adc.contains("ObjectHashAggregate"),
      "ADC re-grew the per-(query, vector) partial-agg shuffle")
    assert(!adc.contains("SortMergeJoin") && !adc.contains("CartesianProduct"),
      "ADC corpus side must never sort-merge-join or cartesian")
    // IVF-PQ: cell + code from ONE map pipeline, probes + LUT broadcast —
    // zero corpus shuffles (the only Exchange is the top-k window's).
    val ivfpq = graft.ops.ProductQuantization
      .ivfPqTopK(emb, emb.where(col("vec_id") < 5), 3, cb)
      .queryExecution.executedPlan.toString
    assert(!ivfpq.contains("CartesianProduct"),
      "IVF-PQ planned a cartesian — the cell joins must stay equi")
    assert(!ivfpq.contains("Generate") && !ivfpq.contains("SortMergeJoin"),
      "IVF-PQ search lost the zero-corpus-shuffle lookup shape")
  }

  test("round-16 broadcast audit: no ANN query ever broadcasts a " +
    "corpus-derived side — every broadcast subtree is query-bounded") {
    // Catalyst's size estimates do not survive assignCells / Generate /
    // signature projections, so unpinned it judged CORPUS-sized build
    // sides broadcastable (the assigned corpus with embeddings, the n·m
    // exploded code table, the corpus float side of every rerank join) —
    // fine at test scale, an OOM at 10^10 vectors. Post-pin rule, asserted
    // mechanically: inside any BroadcastExchange subtree, every parquet
    // scan must carry a BOUNDING data filter (the vec_id < 20 query-side
    // pushdown), i.e. more than bare IsNotNull. Centroid/LUT broadcasts
    // are scan-free local relations and pass vacuously.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.catalyst.expressions.IsNotNull
    for (q <- Seq("sim_topk_bruteforce", "sim_hamming_topk", "sim_ann_lsh",
        "sim_ann_ivf", "sim_ann_ivf_quantized", "sim_ann_ivf_hamming",
        "sim_ann_ivf_pq", "sim_ann_ivf_pq_residual", "sim_pq_adc",
        "sim_ann_ivf_pq_auto", "sim_cascade_topk", "sim_knn_graph")) {
      val plan = graft.SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan
      plan.foreach {
        case b: BroadcastExchangeExec =>
          b.collect { case s: FileSourceScanExec => s }.foreach { s =>
            assert(s.dataFilters.exists(!_.isInstanceOf[IsNotNull]),
              s"$q broadcasts a corpus-derived side: unbounded scan " +
                s"${s.tableIdentifier.getOrElse(s.relation.location)} " +
                "inside a BroadcastExchange")
          }
        case _ =>
      }
    }
  }

  test("round-16 broadcast audit: pair-dedup candidate generation is " +
    "shuffle-pinned — SortMergeJoin present, zero BroadcastExchange") {
    // The band/bucket/signature SELF-joins and the per-doc join-backs are
    // corpus × corpus; the SHUFFLE_MERGE pins must survive refactors
    // (round-15 ngram precedent, extended by the round-16 audit to the
    // whole family).
    for (q <- Seq("dedup_minhash_lsh", "dedup_minhash_wide",
        "dedup_embedding", "dedup_embedding_lsh", "dedup_simhash",
        "dedup_simhash64", "sim_knn_graph",
        // the perceptual-hash pairing rides the same banding topology —
        // same pins (media-derived sides are corpus-sized too)
        "mm_dedup_phash", "mm_dedup_phash_auto",
        // ... and the acoustic twin
        "mm_dedup_audio_auto",
        // line-boilerplate removal: the over-threshold line set is
        // corpus-derived (millions of lines in a real crawl) — never
        // the broadcast side
        "dedup_lines", "dedup_lines_incremental",
        // v4's keep-list and quality sides are corpus-derived aggregates
        "pipeline_clean_corpus_v4")) {
      val p = planOf(q)
      assert(p.contains("SortMergeJoin"),
        s"$q lost its SHUFFLE_MERGE candidate-join pin")
      assert(!p.contains("BroadcastExchange"),
        s"$q broadcasts — a corpus-derived side slipped back in")
    }
  }

  test("ADC query-batch contract: adcSearchChunked splits an over-bound " +
    "batch into a Union of per-range plans, each with its own bounded " +
    "broadcast LUT — no single broadcast grows with the full batch") {
    // The un-chunked LUT broadcast grows queries x m.k rows (the
    // documented AdcMaxQueryBatch arithmetic); the chunked path is the
    // no-silent-OOM guarantee for 10^6-query batches. chunkRows=4 over
    // 10 queries must plan >= 3 unioned subplans, each broadcasting.
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cb = graft.ops.ProductQuantization.train(emb, 16, 32, dimHint = Some(64))
    val codes = graft.ops.ProductQuantization.encode(emb, cb)
      .select(col("vec_id"), col("pq_code"))
    val chunked = graft.ops.ProductQuantization.adcSearchChunked(
      codes, cb, emb.where(col("vec_id") < 10), 3, chunkRows = 4)
    val p = chunked.queryExecution.executedPlan.toString
    assert(p.contains("Union"), "chunked ADC lost the per-range Union")
    assert(p.split("BroadcastNestedLoopJoin").length - 1 >= 3,
      "expected one bounded per-chunk broadcast of the query LUT arrays")
    // exactness: per-query top-k is chunk-independent
    val full = graft.ops.ProductQuantization.adcSearch(
      codes, cb, emb.where(col("vec_id") < 10), 3)
      .collect().map(_.toSeq).toSet
    assert(chunked.collect().map(_.toSeq).toSet == full,
      "chunked union must equal the un-chunked result exactly")
  }

  test("vecMean plans as ObjectHashAggregate (TypedImperativeAggregate " +
    "buffer), not a SortAggregate fallback") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = emb.groupBy(col("vec_id") % 7)
      .agg(graft.functions.VectorExpressions.vecMean(col("embedding")))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"),
      "vecMean lost the ObjectHashAggregate plan shape")
    assert(!p.contains("SortAggregate"),
      "vecMean fell back to SortAggregate")
  }

  test("ivfTopKAuto with a corpusRows hint runs no more construction jobs " +
    "than explicit-nLists construction (derived-corpus count trap closed)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 5)
    // count jobs started while constructing the operator (centroid
    // collects are construction-time jobs; the auto count must not add
    // one when the hint is given). Listener delivery is async — settle
    // until the count is stable.
    def jobsDuring(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        f
        var last = -1
        var settle = 0
        while (settle < 20 && n.get() != last) {
          last = n.get(); Thread.sleep(100); settle += 1
        }
      } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    val rows = emb.count()
    val nLists = graft.ops.Similarity.autoNLists(rows)
    val explicit = jobsDuring {
      graft.ops.Similarity.ivfTopK(emb, q, 5, nLists) }
    val hinted = jobsDuring {
      graft.ops.Similarity.ivfTopKAuto(emb, q, 5, corpusRows = Some(rows)) }
    assert(hinted == explicit,
      s"corpusRows hint still pays a construction count job " +
        s"($hinted vs $explicit explicit)")
  }

  test("LSH bucket joins carry ids only - embeddings do not ride the " +
    "bucket explode") {
    for (q <- Seq("sim_ann_lsh", "dedup_embedding_lsh")) {
      val p = planOf(q)
      // the Generate (explode) outputs must not include the embedding column
      val gen = p.linesIterator.filter(_.contains("Generate explode")).toList
      assert(gen.nonEmpty, s"$q: expected explode of bucket arrays")
      gen.foreach(l => assert(!l.contains("embedding#"),
        s"$q bucket explode carries embeddings: $l"))
    }
  }

  test("a topic-partition sink batch plans no Window, one Sort and one " +
    "Exchange, and carries no _filename column (JSONL with " +
    "file.max.records and a fingerprint; Parquet)") {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions.{col, substring}
    import org.apache.spark.sql.util.QueryExecutionListener
    val rows = (0 until 12).map { i =>
      Row("t", i % 3, i.toLong, new java.sql.Timestamp(1000L), s"k$i".getBytes,
        s"${if (i < 6) "a" else "b"}$i".getBytes, null)
    }
    val batch = spark.createDataFrame(rows.asJava, graft.connector.Records.schema)
    // the executed plan of the batch's write, as the listener bus reports
    // it once the write's action finishes
    def writePlan(props: Map[String, String], fp: Option[org.apache.spark.sql.Column]): SparkPlan = {
      val cfg = graft.config.SinkConfig.parse(Map("aws.s3.bucket.name" -> "b") ++ props)
        .fold(e => fail(e.mkString("; ")), identity)
      val seen = new LinkedBlockingQueue[QueryExecution]
      val l = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.add(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        graft.streaming.S3SinkPipeline.writeBatch(batch, cfg, tmpDir("plan-sink"),
          java.time.ZonedDateTime.now(java.time.ZoneId.of("Z")), fp)
        val qe = seen.poll(60, TimeUnit.SECONDS)
        assert(qe != null, "no write action reported")
        qe.executedPlan
      } finally spark.listenerManager.unregister(l)
    }
    val helper = new AdaptiveSparkPlanHelper {}
    for ((what, props, fp) <- Seq(
        ("jsonl", Map("format.output.type" -> "jsonl", "file.max.records" -> "2"),
          Some(substring(col("value").cast("string"), 1, 1))),
        ("parquet", Map("format.output.type" -> "parquet"), None))) {
      val plan = writePlan(props, fp)
      val nodes = helper.collect(plan) { case p => p }
      assert(!nodes.exists(_.nodeName.contains("Window")), s"$what plans a Window: $plan")
      assert(nodes.count(_.isInstanceOf[SortExec]) == 1, s"$what: expected one Sort: $plan")
      assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
        s"$what: expected one Exchange: $plan")
      assert(!nodes.exists(_.output.exists(_.name == "_filename")),
        s"$what carries _filename: $plan")
    }
  }
}
