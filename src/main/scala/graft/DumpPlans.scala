package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans for headline queries —
  * the evidence that filters push down, dimensions broadcast, and custom
  * operators plan as designed. Run from the root of the checkout whose
  * PLANS.md it should rewrite: `tools/spark-run.sh graft.DumpPlans [sfDir]`.
  */
object DumpPlans {
  val Headliners = Seq(
    "q1_pricing_summary", "q3_top_orders", "q6_forecast_revenue",
    "q_asof_join", "q_range_join", "dedup_minhash_lsh",
    "sim_topk_bruteforce", "sink_group_topic_partition",
    // the bench-dominant LLM-pipeline operators: evidence the candidate
    // generation is bucketed/co-partitioned, never all-pairs
    "dedup_embedding_lsh", "sim_ann_lsh", "sim_ann_ivf",
    "dedup_ngram_jaccard",
    // sampling family: sample_split must show a zero-exchange map-only
    // plan; pack_token_budget one window exchange + partial aggregate
    "sample_split", "pack_token_budget",
    // bloom semi-join: might_contain must sit in the fact scan's filter
    // (prefilter BEFORE the join's shuffle)
    "q_bloom_semi_join",
    // round-7 curation set: dedup_chunks must show ONE exchange for the
    // ownership election (min/max, no distinct-agg expansion);
    // sample_quota must show a partial WindowGroupLimit BELOW its exchange
    "dedup_chunks", "sample_quota", "text_tfidf_top",
    // round-8: text_c4_filters must be a zero-exchange map-only plan;
    // q_zorder_cluster must show NO single-partition exchange in the data
    // path (only the 1-row min/max scalar agg); dedup_incremental must
    // scan the parquet signature store on the corpus side
    "text_c4_filters", "q_zorder_cluster", "dedup_incremental",
    // round-9: the df-cut guard must keep the cartesian-free posting-join
    // shape (df agg + left-semi on the same key, no new partitioning);
    // q_stream_dedup must be ONE hash exchange (min_by partial agg),
    // no window sort
    "dedup_ngram_jaccard_dfcut", "q_stream_dedup",
    // dedup_semantic: broadcast centroid assignment + cell-equi pair join
    // (no cartesian); sample_shuffle: sharded rank window, zero
    // single-partition steps
    "dedup_semantic", "sample_shuffle",
    // round-10: the production-width SimHash gate — distinct-signature
    // chunk-banding self-join on xxhash64 signatures + the multiset
    // fingerprint containment join, equi-joins throughout; the two wide
    // LSH dials (folded band key / 48-plane family) must keep the exact
    // default plan shapes; sample_importance must show ONE bucket-stats
    // aggregation, broadcast probes, and a single doc-keyed exchange
    "dedup_simhash64", "dedup_minhash_wide", "sim_ann_lsh_wide",
    "sample_importance", "sample_epochs",
    // round-11: the auto-dial IVF pair — assignment must be the map-only
    // nearest_centroid kernel projection (NO SortAggregate, NO cartesian,
    // no n×nLists expansion on the corpus side); the approx-percentile
    // gate must keep the exact variant's two-ObjectHashAggregate shape;
    // mm_resize is a mapPartitions + projection pipeline
    "sim_ann_ivf_auto", "dedup_semantic_auto", "text_length_outliers_approx",
    "mm_resize", "sink_avro_roundtrip",
    // the knn graph must show: kernel projection (no SortAggregate), one
    // cell-equi sort-merge/shuffle join, WindowGroupLimit under the top-k
    "sim_knn_graph",
    // round-14: the framed-Avro round-trip (mapPartitions decode chain,
    // no shuffle beyond the final 1-row agg) and the batch-mode
    // closed-session state operator (FlatMapGroupsWithState over ONE
    // user-keyed exchange — no window sort, no second shuffle)
    "sink_avro_registry", "q_stream_sessions_closed",
    // round-15: PQ — encode must be a map-only kernel projection (no
    // Exchange before the digest's output sort); ADC must show the
    // id-only posexplode Generate feeding a BroadcastHashJoin on the
    // (sub, code) LUT, then one partial-agg exchange — never a
    // sort-merge join or cartesian on the corpus side
    "embed_pq_encode", "sim_pq_adc", "sim_ann_ivf_pq_auto",
    // round-16: the lookup-rewrite family — ADC scoring must be a
    // static-lookup projection over a materialized code side (no
    // explode, no partial-agg exchange, no corpus-side broadcast);
    // residual adds the per-cell cross-term broadcast (nLists rows);
    // IVF-Hamming is the xor+popcount prefilter + bounded exact refine;
    // the managed row must plan a pure store-scan search (no VectorMean
    // training aggregate anywhere); pipeline v2 composes the
    // decontamination max-cosine into the CC keep-list plan
    "sim_ann_ivf_pq_residual", "sim_ann_ivf_hamming",
    "sim_ann_ivf_pq_auto_sampled", "sim_ann_ivf_pq_managed",
    "text_token_count_bpe", "pipeline_clean_corpus_v2",
    // round-17: the cascade must show the three tiers in ONE plan (sign
    // code scan + WindowGroupLimit prefilter, SHUFFLE_MERGE-pinned code
    // join, query-bounded broadcasts only); dedup_substring must show
    // the pinned posting self-join + islands window + pinned
    // verification joins, zero corpus-side broadcast; the managed
    // residual row must plan a pure store-scan search (no training
    // aggregate, no residual computation)
    "sim_cascade_topk", "dedup_substring",
    "sim_ann_ivf_pq_residual_managed",
    // round 17: the removal ACTION — must inherit detection's pins and
    // keep the final tokens<-cuts join shuffle-pinned with the interval
    // apply as a map (no explode of corpus tokens, no pair-attached text)
    "dedup_substring_remove",
    // ... its pipeline composition, and the warm binary-IVF index (must
    // plan a pure store-scan search: no training, no assignment, no
    // binarize of the corpus)
    "pipeline_clean_corpus_v3", "sim_ann_ivf_hamming_managed",
    // round-18: perceptual near-dup must ride the simhash64 banding
    // topology (pinned self-join over the dHash signatures, decode
    // map-side); line dedup must show ONE count-distinct df exchange,
    // the pinned removal join, and ONE per-doc reassembly aggregation
    // (no window); the incremental row must scan the line-df store
    // parquet; v4 must show the staged flow (reassembled text feeding
    // quality and the md5 keep-list, every corpus-derived side pinned);
    // the trained classifiers must score as map-only projections over
    // literal weight/centroid arrays (no label join, no training
    // aggregate in the managed rows' scoring subtree)
    "mm_dedup_phash_auto", "dedup_lines", "dedup_lines_incremental",
    "pipeline_clean_corpus_v4", "text_quality_trained_managed",
    "text_domain_trained_managed",
    // late round-18: LM scoring must show the three SHUFFLE_MERGE-pinned
    // vocabulary joins over the collapsed (doc, prev, token) pair table
    // with the 1-row total as the ONLY broadcast; the Bloom screen must
    // show might_contain in the probe scan's filter (prefilter BEFORE
    // the verify join's shuffle) and zero gram-side broadcast; acoustic
    // near-dup must ride the pinned banding with decode+print map-side
    "text_lm_score", "text_decontaminate_bloom", "mm_dedup_audio_auto",
    // round-19: video near-dup must ride the same pinned banding with
    // the AVI decode + majority-dHash print map-side (only the 8-byte
    // print shuffles); the PII scrub must be a zero-exchange map-only
    // plan beyond the output sort (one kernel projection, no regex,
    // no join); the unigram consumer must be map-only over a broadcast
    // vocab (no corpus-side join; training jobs run at construction)
    "mm_dedup_video_auto", "text_redact_pii", "text_token_count_unigram",
    // the incremental media row must show the cross-corpus banded join
    // (old side a store scan, no decode subtree on it; both sides
    // merge-pinned, modality in every join key, zero broadcast)
    "mm_dedup_media_incremental",
    // the media inventory must be ONE aggregation pass over the print
    // union (no pair join anywhere)
    "pipeline_media_report",
    // round-20: markup extraction must be a zero-exchange map-only plan
    // beyond the output sort (one kernel projection — no regex, no
    // join); v5 = extract feeding the C4 flags, still map-only; the
    // containment df-cut must keep the cartesian-free posting shape
    // (df agg + anti on the same key); the recall gate must show the
    // bounded brute-force join AND the banded pairing both merge-pinned
    "text_extract_markup", "pipeline_clean_corpus_v5",
    "dedup_containment_dfcut", "mm_dedup_recall",
    // the crawl front composed: keeper election one exchange + pinned
    // join, kernels map-side; url_dedup one map pass + one shuffle
    "pipeline_clean_corpus_v6", "url_dedup",
    // round-21: the other two URL rows (the round-19/20 late-row drift —
    // pipeline_media_report, then url_host_stats — fixed structurally
    // below: every registry key now lands in PLANS.md, headlined or
    // listed); canonicalize must be a map-only kernel projection +
    // output sort, host_stats one aggregation exchange over the
    // canonical key
    "url_canonicalize", "url_host_stats")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // Structural completeness guard (the round-20 verdict's ask, after
    // two rounds of late-row drift): every Headliners name must exist
    // in the registry — a renamed/removed query fails the dump loudly —
    // and every registry key NOT headlined is emitted into a generated
    // coverage section, so a late-added query can never be silently
    // absent from PLANS.md.
    val missing = Headliners.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"DumpPlans: headliners not in SparkEntry.queries: ${missing.mkString(", ")}")
    // fixed local[4], not the SPARK_GRAFT_CPUS contract: the committed
    // plans must not depend on the machine that regenerated them
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.DumpPlans` against `$sfDir`. Things to\n")
    sb.append("check per plan: `PushedFilters` + pruned `ReadSchema` on scans,\n")
    sb.append("`BroadcastHashJoin` for dimensions, single `Exchange` per logical\n")
    sb.append("regroup, `AsOfJoin` custom exec, no nested-loop joins anywhere.\n")
    for (name <- Headliners) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val full = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val plan = if (full.length > 20000)
        full.take(20000) + "\n… (truncated)\n" else full
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    val rest = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(Headliners.contains)
    sb.append("\n## Coverage: non-headlined queries\n\n")
    sb.append("Every other registry key, generated from `SparkEntry.queries`\n")
    sb.append("at dump time (so a late-added query appears here automatically\n")
    sb.append("rather than silently missing). These rows' plan shapes are\n")
    sb.append("covered by their family's headliner above; request a dedicated\n")
    sb.append(s"entry by adding the name to `Headliners`. ${rest.size} queries:\n\n")
    rest.foreach(n => sb.append(s"- `$n`\n"))
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars; ${Headliners.size} " +
      s"headliners + ${rest.size} listed = " +
      s"${Headliners.size + rest.size} of ${SparkEntry.queries.size} keys)")
    spark.stop()
  }
}
