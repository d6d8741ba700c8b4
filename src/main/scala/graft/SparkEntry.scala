package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the query↔operator map. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Partitioned time-bucket load — the reference's signature capability
    * (`EmbulkPartitioningMapReduce.java:39` + `TimestampPartitioning.java`).
    */
  def entry(spark: SparkSession): DataFrame = {
    // The driver may hand us a session without graft's reader contract;
    // these are all dynamic SQL confs, so set them defensively.
    GraftSession.contractConfs.foreach { case (k, v) =>
      try spark.conf.set(k, v) catch { case _: Throwable => () }
    }
    Queries.partitionHourTs(spark, "/root/testdata/sf0.001")
  }

  /** Bench classes (see [[Query]]). */
  private val Pure = "pure"
  private val WriteDemo = "write_demo"
  private val StreamHarness = "stream_harness"

  /** One registered query: the builder, its DuckDB oracle SQL, and its
    * bench class — `pure` (compute only), `write_demo` (the write IS the
    * demonstration: bucketed tables, partitioned layouts, resumable
    * sinks), or `stream_harness` (stages a landing dir and runs
    * checkpointed drains). Bench sequences pure queries first and reports
    * per-class subtotals so write/harness I/O can't masquerade as engine
    * regression — the r8 cold column showed four pure queries regress
    * 2.7–4.2× with unchanged code from sharing a run with three new
    * write-heavy neighbours.
    *
    * Every query has an oracle. Non-replayable internals are oracled
    * through their *contract*: `task_report` via observed row counts
    * recomputed from the data, `approx_distinct_users` via the sketch's
    * error bound, `dedup_simhash`/`dedup_minhash` via the exact-threshold
    * truth their LSH candidates provably cover, `ann_ivf` via a full SQL
    * replay of the deterministic index build.
    */
  final case class Query(name: String,
      build: (SparkSession, String) => DataFrame, oracleSql: String,
      cls: String = Pure)

  /** The registry: one record per implemented operator from SURVEY.md §2. */
  lazy val registry: Seq[Query] = {
    import Queries._
    Seq(
      // R1 map-only ETL
      Query("etl_map_only", etlMapOnly, etlMapOnlySql),
      Query("etl_cast_rename", etlCastRename, etlCastRenameSql),
      Query("profile_table", profileTable, profileTableSql),
      Query("zorder_key", zorderKey, zorderKeySql),
      // R2/R3 timestamp partitioning
      Query("partition_hour_ts", partitionHourTs, partitionHourTsSql),
      Query("partition_day_ts", partitionDayTs, partitionDayTsSql),
      Query("partition_day_orders", partitionDayOrders, partitionDayOrdersSql),
      // R4 long-column unix units
      Query("partition_unix_sec", partitionUnixSec, partitionUnixSecSql),
      Query("partition_unix_milli", partitionUnixMilli, partitionUnixMilliSql),
      Query("partition_unix_micro", partitionUnixMicro, partitionUnixMicroSql),
      Query("partition_unix_nano", partitionUnixNano, partitionUnixNanoSql),
      // R5 skew split
      Query("partition_skew_split", partitionSkewSplit, partitionSkewSplitSql),
      // R9 task report (rows-only)
      Query("task_report", taskReport, taskReportSql),
      Query("task_report_retry", taskReportRetry, taskReportRetrySql),
      // R11 invalid-record policy
      Query("invalid_record_drop", invalidRecordDrop, invalidRecordDropSql),
      Query("invalid_record_permissive", invalidRecordPermissive,
        invalidRecordPermissiveSql),
      // R14 config-driven pipeline
      Query("pipeline_config_run", pipelineConfigRun, pipelineConfigRunSql),
      Query("pipeline_config_out", pipelineConfigOut,
        pipelineConfigOutSql, WriteDemo),
      Query("pipeline_config_composite", pipelineConfigComposite,
        pipelineConfigCompositeSql, WriteDemo),
      Query("pipeline_config_curation", pipelineConfigCuration,
        pipelineConfigCurationSql),
      Query("pipeline_config_quota_bands", pipelineConfigQuotaBands,
        pipelineConfigQuotaBandsSql),
      Query("pipeline_config_decontaminate", pipelineConfigDecontaminate,
        pipelineConfigDecontaminateSql),
      // R10 cross-job partial-done recovery (retry_tasks resume)
      Query("pipeline_resume_partial", pipelineResumePartial,
        pipelineResumePartialSql, WriteDemo),
      // E1/E2 core joins + aggs
      Query("q1_pricing", q1Pricing, q1PricingSql),
      Query("q3_top_orders", q3TopOrders, q3TopOrdersSql),
      Query("q5_region_revenue", q5RegionRevenue, q5RegionRevenueSql),
      Query("join_broadcast_part", joinBroadcastPart, joinBroadcastPartSql),
      // as-of temporal join (+ the build-once/probe-many bucketed form)
      Query("asof_join", asofJoin, asofJoinSql),
      Query("asof_packed", asofPackedQ, asofPackedSql, WriteDemo),
      // E3-E6 windows / sessions / rollup / distinct
      Query("window_top_events", windowTopEvents, windowTopEventsSql),
      Query("topk_per_key", topkPerKey, topkPerKeySql),
      Query("sessionize", sessionize, sessionizeSql),
      Query("streaming_sessionize", streamingSessionize,
        streamingSessionizeSql, StreamHarness),
      Query("streaming_late_drop", streamingLateDrop,
        streamingLateDropSql, StreamHarness),
      Query("dedup_stream_exact", dedupStreamExact,
        dedupStreamExactSql, StreamHarness),
      Query("stream_stream_join", streamStreamJoin,
        streamStreamJoinSql, StreamHarness),
      Query("rollup_orders", rollupOrders, rollupOrdersSql),
      Query("cube_orders", cubeOrders, cubeOrdersSql),
      Query("pivot_event_values", pivotEventValues, pivotEventValuesSql),
      Query("json_extract_agg", jsonExtractAgg, jsonExtractAggSql),
      Query("semi_anti_customers", semiAntiCustomers, semiAntiCustomersSql),
      Query("value_percentiles", valuePercentiles, valuePercentilesSql),
      Query("moving_avg", movingAvg, movingAvgSql),
      Query("except_intersect", exceptIntersect, exceptIntersectSql),
      Query("join_full_outer", joinFullOuter, joinFullOuterSql),
      Query("join_bucketed", joinBucketed, joinBucketedSql, WriteDemo),
      Query("gapfill_daily", gapfillDaily, gapfillDailySql),
      Query("approx_percentiles", approxPercentiles, approxPercentilesSql),
      Query("sliding_hour_counts", slidingHourCounts, slidingHourCountsSql),
      Query("streaming_hourly_counts", streamingHourlyCounts,
        streamingHourlyCountsSql, StreamHarness),
      Query("distinct_users_daily", distinctUsersDaily, distinctUsersDailySql),
      Query("approx_distinct_users", approxDistinctUsers,
        approxDistinctUsersSql),
      // L1 exact dedup
      Query("dedup_exact", dedupExact, dedupExactSql),
      Query("dedup_exact_normalized", dedupExactNormalized,
        dedupExactNormalizedSql),
      // L2-L5 near-dup
      Query("dedup_minhash", dedupMinhash, dedupMinhashSql),
      Query("dedup_clusters", dedupClusters, dedupClustersSql),
      Query("dedup_simhash", dedupSimhash, dedupSimhashSql),
      Query("dedup_jaccard_exact", dedupJaccardExact, dedupJaccardExactSql),
      Query("dedup_levenshtein", dedupLevenshtein, dedupLevenshteinSql),
      Query("dedup_levenshtein_clusters", dedupLevenshteinClusters,
        dedupLevenshteinClustersSql),
      Query("dedup_embedding", dedupEmbedding, dedupEmbeddingSql),
      Query("dedup_embedding_lsh", dedupEmbeddingLsh, dedupEmbeddingLshSql),
      Query("dedup_embedding_clusters", dedupEmbeddingClusters,
        dedupEmbeddingClustersSql),
      // L6 similarity search
      Query("ann_topk", annTopk, annTopkSql),
      Query("ann_topk_lsh", annTopkLsh, annTopkLshSql),
      Query("ann_topk_q8", annTopkQ8, annTopkQ8Sql),
      Query("ann_ivf", annIvf, annIvfSql),
      Query("ann_ivf_refined", annIvfRefined, annIvfRefinedSql),
      Query("knn_label", knnLabel, knnLabelSql),
      Query("knn_label_ivf", knnLabelIvf, knnLabelIvfSql),
      // corpus curation (incremental dedup, compaction, sampling, chunking)
      Query("dedup_incremental", dedupIncremental, dedupIncrementalSql),
      Query("dedup_incremental_stream", dedupIncrementalStream,
        dedupIncrementalStreamSql, StreamHarness),
      Query("dedup_incremental_bucketed", dedupIncrementalBucketed,
        dedupIncrementalBucketedSql, StreamHarness),
      Query("dedup_incremental_bloom", dedupIncrementalBloom,
        dedupIncrementalBloomSql),
      Query("latest_by_key", latestByKey, latestByKeySql),
      Query("scd2_history", scd2History, scd2HistorySql),
      Query("sample_stratified", sampleStratified, sampleStratifiedSql),
      Query("shuffle_shard", shuffleShard, shuffleShardSql),
      Query("sample_exact_n", sampleExactN, sampleExactNSql),
      Query("mixture_sample", mixtureSample, mixtureSampleSql),
      Query("doc_chunking", docChunking, docChunkingSql),
      Query("doc_packing", docPacking, docPackingSql),
      Query("doc_packing_bpe", docPackingBpe, docPackingBpeSql),
      Query("doc_blocks", docBlocks, docBlocksSql),
      Query("quality_bands", qualityBands, qualityBandsSql),
      Query("tfidf_topterms", tfidfTopterms, tfidfToptermsSql),
      Query("decontaminate", decontaminate, decontaminateSql),
      Query("decontaminate_fuzzy", decontaminateFuzzy, decontaminateFuzzySql),
      Query("range_join_counts", rangeJoinCounts, rangeJoinCountsSql),
      // L7 multimodal
      Query("multimodal_meta", multimodalMeta, multimodalMetaSql),
      Query("multimodal_decode", multimodalDecode, multimodalDecodeSql),
      Query("multimodal_audio", multimodalAudio, multimodalAudioSql),
      Query("multimodal_video", multimodalVideo, multimodalVideoSql),
      Query("source_quota", sourceQuota, sourceQuotaSql),
      // L8-L11 text analysis
      Query("text_stats", textStats, textStatsSql),
      // L47 sqrt-temperature source-mixture weights
      Query("domain_mixture", domainMixture, domainMixtureSql),
      Query("text_tokens", textTokens, textTokensSql),
      Query("text_bpe_tokens", textBpeTokens, textBpeTokensSql),
      Query("text_bpe_names", textBpeNames, textBpeNamesSql),
      Query("text_bpe_encode", textBpeEncode, textBpeEncodeSql),
      Query("lang_id", langId, langIdSql),
      Query("quality_score", qualityScore, qualityScoreSql),
      Query("corpus_freq_score", corpusFreqScore, corpusFreqScoreSql),
      // L49 bigram-LM fluency score
      Query("lm_score", lmScore, lmScoreSql),
      Query("text_repetition", textRepetition, textRepetitionSql),
      Query("fingerprint", fingerprintQ, fingerprintSql),
      // L21 PII redaction
      Query("pii_redact", piiRedact, piiRedactSql),
      // L22 line-level dedup
      Query("line_dedup", lineDedup, lineDedupSql),
      Query("span_dedup", spanDedup, spanDedupSql),
      // L46 duplicated-span census (the span-family strip-list consumer)
      Query("span_census", spanCensusQ, spanCensusSql),
      // L48 cross-source span-overlap matrix
      Query("source_overlap", sourceOverlapQ, sourceOverlapSql),
      // L25 NFC canonicalization
      Query("text_nfc_clean", textNfcClean, textNfcCleanSql),
      // E23-E27 CDC merge, inverted index, histogram, winsorize, cohort
      Query("merge_upsert", mergeUpsert, mergeUpsertSql),
      Query("inverted_index", invertedIndexQ, invertedIndexSql),
      Query("histogram_values", histogramValues, histogramValuesSql),
      Query("winsorize_clip", winsorizeClip, winsorizeClipSql),
      Query("cohort_retention", cohortRetention, cohortRetentionSql),
      // E28-E31 unpivot, exact corr, funnel, integer pagerank
      Query("unpivot_values", unpivotValues, unpivotValuesSql),
      Query("corr_exact", corrExactQ, corrExactSql),
      Query("funnel_steps", funnelSteps, funnelStepsSql),
      Query("pagerank_iter", pagerankIter, pagerankIterSql),
      // E32-E35 rolling distinct, TWAP, snapshot diff, streaming CDC merge
      Query("rolling_distinct_users", rollingDistinctUsers,
        rollingDistinctUsersSql),
      Query("twap_value", twapValue, twapValueSql),
      Query("snapshot_diff", snapshotDiff, snapshotDiffSql),
      Query("snapshot_diff_bucketed", snapshotDiffBucketed,
        snapshotDiffBucketedSql, WriteDemo),
      Query("merge_upsert_stream", mergeUpsertStream,
        mergeUpsertStreamSql, StreamHarness),
      // E3b/E5b/E17b window + grouping surface completion
      Query("window_rank_stats", windowRankStats, windowRankStatsSql),
      Query("range_frame_sum", rangeFrameSum, rangeFrameSumSql),
      Query("grouping_sets_orders", groupingSetsOrders, groupingSetsOrdersSql),
      // E36 stream-static join
      Query("stream_static_join", streamStaticJoin,
        streamStaticJoinSql, StreamHarness),
      // E37-E39 checksum, heavy hitters, OLS; L26 collocations
      Query("table_checksum", tableChecksumQ, tableChecksumSql),
      Query("heavy_words", heavyWords, heavyWordsSql),
      Query("ols_exact", olsExactQ, olsExactSql),
      Query("bigram_pmi", bigramPmi, bigramPmiSql),
      // E40-E42 hierarchy, equi-depth histogram, MAD outliers
      Query("hierarchy_flatten", hierarchyFlatten, hierarchyFlattenSql),
      Query("equidepth_hist", equidepthHist, equidepthHistSql),
      Query("mad_outliers", madOutliers, madOutliersSql),
      // E43 chi-square, L27 golden record, E6d mergeable HLL rollup
      Query("chi_square", chiSquareQ, chiSquareSql),
      Query("golden_record", goldenRecord, goldenRecordSql),
      Query("hll_rollup", hllRollup, hllRollupSql),
      // E9b graft_* SQL function surface
      Query("sql_kernel_surface", sqlKernelSurface, sqlKernelSurfaceSql),
      // L7b perceptual image dedup
      Query("multimodal_phash", multimodalPhash, multimodalPhashSql),
      // E40b hierarchy rollup, E2c interpolated gapfill
      Query("hierarchy_rollup", hierarchyRollup, hierarchyRollupSql),
      Query("gapfill_interp", gapfillInterp, gapfillInterpSql),
      // E38b streaming incremental heavy hitters
      Query("stream_heavy_hitters", streamHeavyHitters,
        streamHeavyHittersSql, StreamHarness),
      // L28 leakage-free train/eval split
      Query("leakage_free_split", leakageFreeSplit, leakageFreeSplitSql),
      // L29 corpus drift
      Query("corpus_drift", corpusDrift, corpusDriftSql),
      // E44 data-quality audit, E45 last-touch attribution
      Query("dq_audit", dqAudit, dqAuditSql),
      Query("attribution_last_touch", attributionLastTouch,
        attributionLastTouchSql),
      // E46 sweep-line concurrency, E47 largest-remainder allocation,
      // E48 transition matrix, E49 basket rules, E53 incremental MV
      Query("max_concurrency", maxConcurrency, maxConcurrencySql),
      Query("allocate_rebate", allocateRebate, allocateRebateSql),
      Query("event_transitions", eventTransitions, eventTransitionsSql),
      Query("basket_rules", basketBrandRules, basketBrandRulesSql),
      Query("mv_incremental", mvIncremental, mvIncrementalSql, WriteDemo),
      // E51 pseudonymization, L30 OOV rate, E52 compaction,
      // E7c session_window, E8f dedup-within-watermark
      Query("pseudonymize_join", pseudonymizeJoin, pseudonymizeJoinSql),
      Query("oov_rate", oovRate, oovRateSql),
      Query("compact_files", compactFiles, compactFilesSql, WriteDemo),
      Query("streaming_session_window", streamingSessionWindow,
        streamingSessionWindowSql, StreamHarness),
      Query("dedup_within_watermark", dedupWithinWatermarkQ,
        dedupWithinWatermarkSql, StreamHarness),
      // E54 Gini, E55 Kaplan-Meier, E56 seasonal residuals,
      // E57 transactional publish, E58 rolling correlation
      Query("gini_concentration", giniConcentration, giniConcentrationSql),
      Query("survival_km", survivalKm, survivalKmSql),
      Query("seasonal_residuals", seasonalResidualsQ, seasonalResidualsSql),
      Query("tx_publish", txPublishQ, txPublishSql, WriteDemo),
      Query("rolling_corr", rollingCorrQ, rollingCorrSql),
      // L6b persisted ANN index, E59 Mahalanobis, E13b nearest as-of,
      // E60 2-D skyline
      Query("ann_index_persist", annIndexPersist, annIvfRefinedSql, WriteDemo),
      Query("mahalanobis_outliers", mahalanobisOutliers,
        mahalanobisOutliersSql),
      Query("asof_nearest", asofNearestQ, asofNearestSql),
      Query("skyline_parts", skylineParts, skylinePartsSql),
      // L33 weighted systematic sampling, E36b streaming temporal
      // enrichment, E6e HLL overlap
      Query("sample_weighted", sampleWeighted, sampleWeightedSql),
      Query("stream_asof_enrich", streamAsofEnrich,
        streamAsofEnrichSql, StreamHarness),
      Query("hll_overlap", hllOverlap, hllOverlapSql),
      // L34 BM25-style ranked retrieval
      Query("bm25_retrieval", bm25Retrieval, bm25RetrievalSql),
      // E61 trending rank movement
      Query("trending_brands", trendingBrands, trendingBrandsSql),
      // E54b two-level-rank Gini (the wide-group escape, same oracle)
      Query("gini_ranked", giniRanked, giniConcentrationSql),
      // E62 bitemporal reconstruction, E44b config-driven DQ rules
      Query("bitemporal_asof", bitemporalAsof, bitemporalAsofSql),
      Query("dq_rules", dqRules, dqRulesSql),
      // L35 cluster-dedup-aware sampling
      Query("sample_cluster_dedup", sampleClusterDedup, sampleClusterDedupSql),
      // E63 power-iteration PCA
      Query("pca_top_component", pcaTopComponentQ, pcaTopComponentSql),
      // E6f windowed mergeable distinct
      Query("sliding_distinct_hll", slidingDistinctHll, slidingDistinctHllSql),
      // E64 exact weighted median
      Query("weighted_median", weightedMedian, weightedMedianSql),
      // L36 hybrid retrieval (RRF), E65 Count-Min sketch,
      // L37 vocabulary growth, E6g sliding exact percentiles
      Query("retrieval_rrf", retrievalRrf, retrievalRrfSql),
      Query("cms_counts", cmsCounts, cmsCountsSql),
      Query("vocab_growth", vocabGrowth, vocabGrowthSql),
      Query("sliding_percentile", slidingPercentile, slidingPercentileSql),
      // E66 triangle census, E67 CUSUM change-point, E65b streaming CMS
      Query("triangle_parts", triangleParts, trianglePartsSql),
      Query("cusum_daily", cusumDaily, cusumDailySql),
      Query("stream_cms", streamCms, streamCmsSql, StreamHarness),
      // E45b position-based multi-touch attribution, L38 n-gram novelty
      Query("attribution_position", attributionPosition,
        attributionPositionSql),
      Query("novelty_ngrams", noveltyNgrams, noveltyNgramsSql),
      // E24b positional phrase search, E68 time-to-convert percentiles,
      // L39 cross-source calibrated quality
      Query("phrase_search", phraseSearch, phraseSearchSql),
      Query("time_to_convert", timeToConvert, timeToConvertSql),
      Query("quality_calibrated", qualityCalibrated, qualityCalibratedSql),
      // E69 sequence-pattern extraction, E67b streaming CUSUM,
      // L40 tokenizer fertility by language
      Query("seq_pattern", seqPattern, seqPatternSql),
      Query("stream_cusum", streamCusum, streamCusumSql, StreamHarness),
      Query("bpe_fertility", bpeFertility, bpeFertilitySql),
      // E70 session path census, L41 dedup telemetry,
      // E64b exact weighted percentiles
      Query("session_paths", sessionPaths, sessionPathsSql),
      Query("dedup_stats", dedupStats, dedupStatsSql),
      Query("weighted_percentiles", weightedPercentiles,
        weightedPercentilesSql),
      // L42 cross-split n-gram coverage, E71 mergeable binned quantiles
      Query("ngram_coverage", ngramCoverage, ngramCoverageSql),
      Query("quantile_mergeable", quantileMergeable, quantileMergeableSql),
      // E72 user lifecycle, E73 activity streaks, L43 prefix boilerplate
      Query("user_lifecycle", userLifecycle, userLifecycleSql),
      Query("activity_streaks", activityStreaks, activityStreaksSql),
      Query("prefix_dup", prefixDup, prefixDupSql),
      // L44 containment pairs, E74 KS drift, E75 A/B report
      Query("containment_pairs", containmentPairsQ, containmentPairsSql),
      Query("containment_stats", containmentStats, containmentStatsSql),
      Query("ks_drift", ksDrift, ksDriftSql),
      Query("ab_test_report", abTestReport, abTestReportSql),
      // L45 embedding health census, E76 RFM segmentation
      Query("embedding_health", embeddingHealth, embeddingHealthSql),
      Query("rfm_segments", rfmSegments, rfmSegmentsSql),
    )
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  lazy val queryClass: Map[String, String] =
    registry.map(q => q.name -> q.cls).toMap

  /** The STANDING decade-probe set (BASELINE.md's maintained 30×/100×/
    * 300×/1000× tables): the linear scan/sort controls, every query the
    * r12–r16 scale reworks touched, the sort-spill class, and the
    * linear star-edge dedup consumers. Bench's fork mode defaults to it.
    */
  val flagshipSet: Set[String] = Set(
    "q1_pricing", "etl_cast_rename", "ann_topk", "oov_rate",
    "asof_packed", "stream_asof_enrich", "weighted_median",
    "rfm_segments", "novelty_ngrams", "sliding_percentile", "span_dedup",
    "triangle_parts", "q5_region_revenue", "dedup_stats",
    "dedup_clusters", "dedup_levenshtein_clusters", "containment_stats")
}
