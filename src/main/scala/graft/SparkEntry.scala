package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.streaming.Events

/** Driver contract — see SURVEY.md §2 for the inventory. Every
  * implemented operator is one [[SparkEntry.Face]] row: a `(spark, sfDir)
  * => DataFrame` and the DuckDB oracle SQL that states its result.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(spark, "/root/testdata/sf0.001")

  /** The faces named by `SPARK_GRAFT_ONLY=q_a,q_b`, when set: Bench and
    * Verify run just those. A name that matches no face is named on
    * stderr, so a misspelling does not silently run nothing.
    */
  private[graft] def only: Option[Set[String]] = {
    val names = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    names.map(_.diff(queries.keySet)).filter(_.nonEmpty).foreach { unknown =>
      System.err.println(
        s"WARNING: SPARK_GRAFT_ONLY names match no registered query: ${unknown.mkString(", ")}")
    }
    names
  }

  /** One registered face: its name, its `(spark, sfDir) => DataFrame`
    * and the ANSI SQL that DuckDB runs over the same parquet tables as
    * its oracle.
    */
  private[graft] final case class Face(
      name: String, run: (SparkSession, String) => DataFrame, oracle: String)

  /** One row per implemented operator from SURVEY.md §2. */
  private[graft] val faces: Seq[Face] = Seq(
    // A: reference-derived relational operators
    Face("q_window_dedup", Staging.windowDedup, Staging.windowDedupSql),
    Face("q_surrogate_key", Staging.surrogateKeys, Staging.surrogateKeysSql),
    Face("q_case_map", Staging.caseMapDescriptions, Staging.caseMapDescriptionsSql),
    Face("q_stg_clean", Staging.stgEvents, Staging.stgEventsSql),
    Face("q_stg_dev_limit", Staging.stgDevLimit, Staging.stgDevLimitSql),
    Face("q_seed_dim", Staging.seedDim, Staging.seedDimSql),
    Face("q_fact_join", Facts.factLineitem, Facts.factLineitemSql),
    Face("q_monthly_rollup", Facts.monthlyRollup, Facts.monthlyRollupSql),
    Face("q_monthly_stats", Facts.monthlyStats, Facts.monthlyStatsSql),
    Face("q_metric_timegrain", Facts.metricMonthly, Facts.metricMonthlySql),
    Face("q_metric_grains", Facts.metricYearly, Facts.metricYearlySql),
    Face("q_metric_quarter", Facts.metricQuarterly, Facts.metricQuarterlySql),
    Face("q_check_unique", Checks.checkUnique, Checks.checkUniqueSql),
    Face("q_check_not_null", Checks.checkNotNull, Checks.checkNotNullSql),
    Face("q_check_relationships", Checks.checkRelationships, Checks.checkRelationshipsSql),
    Face("q_check_accepted_values", Checks.checkAcceptedValues, Checks.checkAcceptedValuesSql),
    Face("q_check_summary", Checks.checkSummary, Checks.checkSummarySql),
    Face("q_model_lineage", ((s, _) => Build.lineage(s)), Build.lineageSql),
    // C: LLM-training-data pipeline operators
    Face("q_dedup_exact", TextAnalysis.dedupExact, TextAnalysis.dedupExactSql),
    Face("q_dedup_minhash", Dedup.minhashLsh, Dedup.minhashLshSql),
    Face("q_lsh_recall", Dedup.lshRecall, Dedup.lshRecallSql),
    Face("q_dedup_simhash", Dedup.simhash, Dedup.simhashSql),
    Face("q_ngram_jaccard", Dedup.ngramJaccard, Dedup.ngramJaccardSql),
    Face("q_lsh_tuning", Dedup.lshTuning, Dedup.lshTuningSql),
    Face("q_setsim_prefix", Dedup.setsimPrefix, Dedup.setsimPrefixSql),
    Face("q_ngram_containment", Dedup.ngramContainment, Dedup.ngramContainmentSql),
    Face("q_dedup_embedding", Dedup.embeddingNearDup, Dedup.embeddingNearDupSql),
    Face("q_ann_topk", Ann.annTopK, Ann.annTopKSql),
    Face("q_ann_lsh", Ann.annLsh, Ann.annLshSql),
    Face("q_ann_ivf", Ann.annIvf, Ann.annIvfSql),
    Face("q_ivf_stats", Ann.ivfStats, Ann.ivfStatsSql),
    Face("q_changepoint", Extras.changepoint, Extras.changepointSql),
    Face("q_funnel_windowed", Extras.funnelWindowed, Extras.funnelWindowedSql),
    Face("q_winsorize", Extras.winsorize, Extras.winsorizeSql),
    Face("q_pack_stats", Corpus.packStats, Corpus.packStatsSql),
    Face("q_class_balance", Corpus.classBalance, Corpus.classBalanceSql),
    Face("q_dedup_incremental", Corpus.dedupIncremental, Corpus.dedupIncrementalSql),
    Face("q_dataset_card", Corpus.datasetCard, Corpus.datasetCardSql),
    Face("q_k_anonymity", Privacy.kAnonymity, Privacy.kAnonymitySql),
    Face("q_dp_counts", Privacy.dpCounts, Privacy.dpCountsSql),
    Face("q_lang_id", TextAnalysis.langId, TextAnalysis.langIdSql),
    Face("q_quality_score", TextAnalysis.qualityScore, TextAnalysis.qualityScoreSql),
    Face("q_c4_filter", TextAnalysis.c4Filter, TextAnalysis.c4FilterSql),
    Face("q_embed_centroids", Ann.embedCentroids, Ann.embedCentroidsSql),
    Face("q_jsonl_roundtrip", Interop.jsonlRoundtrip, Interop.jsonlRoundtripSql),
    Face("q_csv_roundtrip", Interop.csvRoundtrip, Interop.csvRoundtripSql),
    Face("q_token_count", TextAnalysis.tokenCount, TextAnalysis.tokenCountSql),
    Face("q_token_bpe", TextAnalysis.tokenBpe, TextAnalysis.tokenBpeSql),
    Face("q_fingerprint", TextAnalysis.fingerprint, TextAnalysis.fingerprintSql),
    Face("q_winnow", TextAnalysis.winnow, TextAnalysis.winnowSql),
    Face("q_vocab", TextAnalysis.vocab, TextAnalysis.vocabSql),
    // Misra–Gries is exact while |vocab| <= capacity (31 <= 64 here at
    // every SF) — the exact counts are the oracle in that regime.
    Face("q_vocab_approx", TextAnalysis.vocabApprox, TextAnalysis.vocabApproxSql),
    Face("q_train_test_split", TextAnalysis.trainTestSplit, TextAnalysis.trainTestSplitSql),
    Face("q_contamination", TextAnalysis.contamination, TextAnalysis.contaminationSql),
    Face("q_repetition", TextAnalysis.repetition, TextAnalysis.repetitionSql),
    Face("q_chunk", TextAnalysis.chunk, TextAnalysis.chunkSql),
    Face("q_multimodal_meta", Multimodal.multimodalMeta, Multimodal.multimodalMetaSql),
    Face("q_multimodal_dedup", Multimodal.multimodalDedup, Multimodal.multimodalDedupSql),
    // The decode stub is deterministic byte arithmetic restated in SQL.
    Face("q_multimodal_features", Multimodal.multimodalFeatures, Multimodal.multimodalFeaturesSql),
    // D: event-time operators (batch face; streaming face in tests)
    Face("q_hourly_events", Events.qHourlyEvents, Events.qHourlyEventsSql),
    // the AvailableNow streaming run computes the same transform the
    // batch face runs, so the batch oracle states it exactly
    Face("q_stream_hourly", Events.qStreamHourly, Events.qHourlyEventsSql),
    Face("q_stream_sessionize", Events.qStreamSessionize, Events.qStreamSessionizeSql),
    Face("q_stream_join", Events.qStreamJoin, Events.qStreamJoinSql),
    Face("q_stream_cdc", Events.qStreamCdc, Extras.cdcApplySql),
    // D17: recovery is only correct if it is output-invisible — the
    // restarted pipeline's oracle IS the uninterrupted batch apply
    Face("q_stream_restart", Events.qStreamRestart, Extras.cdcApplySql),
    Face("q_stream_uniques", Events.qStreamUniques, Events.qStreamUniquesSql),
    Face("q_stream_sliding", Events.qStreamSliding, Events.qSlidingWindowSql),
    Face("q_stream_left_join", Events.qStreamLeftJoin, Events.qStreamLeftJoinSql),
    Face("q_stream_late", Events.qStreamLate, Events.qStreamLateSql),
    Face("q_hard_negatives", Ann.hardNegatives, Ann.hardNegativesSql),
    Face("q_label_outliers", Ann.labelOutliers, Ann.labelOutliersSql),
    Face("q_curriculum", TextAnalysis.curriculum, TextAnalysis.curriculumSql),
    Face("q_bpe_apply", TextAnalysis.bpeApply, TextAnalysis.bpeApplySql),
    Face("q_components", Mining.components, Mining.componentsSql),
    Face("q_table_checksum", Checks.tableChecksum, Checks.tableChecksumSql),
    Face("q_audit_diff", Checks.auditDiff, Checks.auditDiffSql),
    Face("q_sessionize", Events.qSessionize, Events.qSessionizeSql),
    // sequence/distribution mining
    Face("q_cdc_apply", Extras.cdcApply, Extras.cdcApplySql),
    Face("q_sql_model", Extras.sqlModel, Extras.sqlModelSql),
    Face("q_transition_matrix", Mining.transitionMatrix, Mining.transitionMatrixSql),
    Face("q_zipf", Mining.zipfFit, Mining.zipfFitSql),
    Face("q_pmi", Mining.pmiCollocations, Mining.pmiCollocationsSql),
    Face("q_embed_cov", Mining.embedCov, Mining.embedCovSql),
    Face("q_user_paths", Mining.userPaths, Mining.userPathsSql),
    Face("q_interarrival", Mining.interarrival, Mining.interarrivalSql),
    Face("q_decay_score", Mining.decayScore, Mining.decayScoreSql),
    Face("q_copurchase", Mining.copurchase, Mining.copurchaseSql),
    Face("q_vocab_overlap", Mining.vocabOverlap, Mining.vocabOverlapSql),
    Face("q_benford", Profile.benford, Profile.benfordSql),
    Face("q_weighted_sample", Corpus.weightedSample, Corpus.weightedSampleSql),
    Face("q_zorder_scan", Interop.zorderScan, Interop.zorderScanSql),
    Face("q_bucket_join", Interop.bucketJoin, Interop.bucketJoinSql),
    Face("q_scan_manifest", Interop.scanManifest, Interop.scanManifestSql),
    Face("q_power_analysis", Mining.powerAnalysis, Mining.powerAnalysisSql),
    Face("q_cohort_ltv", Mining.cohortLtv, Mining.cohortLtvSql),
    Face("q_distinctive_terms", Mining.distinctiveTerms, Mining.distinctiveTermsSql),
    Face("q_orc_roundtrip", Interop.orcRoundtrip, Interop.orcRoundtripSql),
    Face("q_pagerank", Mining.pagerank, Mining.pagerankSql),
    Face("q_active_users", Mining.activeUsers, Mining.activeUsersSql),
    Face("q_embed_prdim", Mining.embedPrDim, Mining.embedPrDimSql),
    Face("q_seasonality", Mining.seasonality, Mining.seasonalitySql),
    Face("q_autocorr", Mining.autocorr, Mining.autocorrSql),
    Face("q_degree_dist", Mining.degreeDist, Mining.degreeDistSql),
    Face("q_growth_accounting", Mining.growthAccounting, Mining.growthAccountingSql),
    Face("q_gini", Mining.gini, Mining.giniSql),
    Face("q_trend_robust", Mining.trendRobust, Mining.trendRobustSql),
    Face("q_hhi", Mining.hhi, Mining.hhiSql),
    Face("q_burstiness", Mining.burstiness, Mining.burstinessSql),
    Face("q_cum_uniques", Mining.cumUniques, Mining.cumUniquesSql),
    Face("q_triangles", Mining.triangles, Mining.trianglesSql),
    Face("q_attribution", Mining.attribution, Mining.attributionSql),
    Face("q_ab_test", Mining.abTest, Mining.abTestSql),
    Face("q_kaplan_meier", Mining.kaplanMeier, Mining.kaplanMeierSql),
    Face("q_bitmap_distinct", Extras.bitmapDistinct, Extras.bitmapDistinctSql),
    Face("q_intransit_sweep", Extras.intransitSweep, Extras.intransitSweepSql),
    Face("q_weighted_median", Extras.weightedMedian, Extras.weightedMedianSql),
    Face("q_bm25", TextAnalysis.bm25, TextAnalysis.bm25Sql),
    Face("q_ks_drift", Profile.ksDrift, Profile.ksDriftSql),
    Face("q_chi2_drift", Profile.chi2Drift, Profile.chi2DriftSql),
    Face("q_psi_drift", Profile.psiDrift, Profile.psiDriftSql),
    Face("q_cusum", Profile.cusumDrift, Profile.cusumDriftSql),
    // E: additional relational surface
    Face("q_json_props", Extras.jsonProps, Extras.jsonPropsSql),
    Face("q_running_total", Extras.runningTotal, Extras.runningTotalSql),
    Face("q_rollup", Extras.regionRollup, Extras.regionRollupSql),
    Face("q_distinct_counts", Extras.distinctCounts, Extras.distinctCountsSql),
    Face("q_asof_join", Extras.asofJoin, Extras.asofJoinSql),
    // the native exec must reproduce the composed face's oracle exactly
    Face("q_asof_native", Extras.asofNative, Extras.asofJoinSql),
    Face("q_percentiles", Extras.percentiles, Extras.percentilesSql),
    // The sketch faces (q_approx_distinct, q_approx_percentiles,
    // q_hll_union) pin exact companion columns + in-plan error-bound
    // claims the oracle states as TRUE (out-of-budget ⇒ hash mismatch).
    Face("q_approx_distinct", Extras.approxDistinct, Extras.approxDistinctSql),
    Face("q_subqueries", Extras.subqueries, Extras.subqueriesSql),
    Face("q_pivot", Extras.pivotServiceType, Extras.pivotServiceTypeSql),
    Face("q_cube", Extras.cubeRegionStatus, Extras.cubeRegionStatusSql),
    Face("q_set_ops", Extras.setOps, Extras.setOpsSql),
    Face("q_range_join", Extras.rangeJoin, Extras.rangeJoinSql),
    Face("q_grouping_sets", Extras.groupingSetsQ, Extras.groupingSetsSql),
    Face("q_window_funcs", Extras.windowFuncs, Extras.windowFuncsSql),
    Face("q_semi_anti", Extras.semiAnti, Extras.semiAntiSql),
    Face("q_skew_agg", Extras.skewSaltedTotals, Extras.skewSaltedTotalsSql),
    Face("q_incremental", Extras.incrementalMerge, Extras.incrementalMergeSql),
    Face("q_mode", Extras.modePerUser, Extras.modePerUserSql),
    Face("q_mom_growth", Extras.momGrowth, Extras.momGrowthSql),
    Face("q_funnel", Extras.funnel, Extras.funnelSql),
    Face("q_retention", Extras.retention, Extras.retentionSql),
    Face("q_topn_group", Extras.topNPerGroup, Extras.topNPerGroupSql),
    Face("q_outliers", Extras.outliers, Extras.outliersSql),
    Face("q_first_last", Extras.firstLastPerUser, Extras.firstLastPerUserSql),
    Face("q_stratified_sample", TextAnalysis.stratifiedSample, TextAnalysis.stratifiedSampleSql),
    Face("q_quality_filter", TextAnalysis.qualityFilter, TextAnalysis.qualityFilterSql),
    Face("q_pii_scrub", TextAnalysis.piiScrub, TextAnalysis.piiScrubSql),
    Face("q_embed_norm", Ann.embedNorm, Ann.embedNormSql),
    Face("q_embed_quantize", Ann.embedQuantize, Ann.embedQuantizeSql),
    Face("q_scd2", Snapshot.qScd2, Snapshot.qScd2Sql),
    Face("q_scd2_timestamp", Snapshot.qScd2Timestamp, Snapshot.qScd2TimestampSql),
    Face("q_check_store_failures", Checks.checkStoreFailures, Checks.checkStoreFailuresSql),
    Face("q_profile", Profile.profileNumeric, Profile.profileNumericSql),
    Face("q_profile_drift", Profile.profileDrift, Profile.profileDriftSql),
    Face("q_histogram", Profile.histogram, Profile.histogramSql),
    Face("q_dedup_clusters", Dedup.dedupClusters, Dedup.dedupClustersSql),
    Face("q_corpus_shuffle", Corpus.corpusShuffle, Corpus.corpusShuffleSql),
    Face("q_seq_pack", Corpus.seqPack, Corpus.seqPackSql),
    Face("q_reservoir_sample", Corpus.reservoirSample, Corpus.reservoirSampleSql),
    Face("q_span_dedup", Corpus.spanDedup, Corpus.spanDedupSql),
    // The fast face drops its engine-specific hash key, so the md5
    // formulation's (n_docs, n_occurrences, first_doc) multiset states
    // the identical result.
    Face("q_span_dedup_fast", Corpus.spanDedupFast, Corpus.spanDedupFastSql),
    // Bloom pruning is a pure pre-filter: the verify join removes every
    // false positive, so the exact pass's SQL states the result.
    Face("q_contamination_bloom", Corpus.bloomContamination, TextAnalysis.contaminationSql),
    Face("q_unigram_logprob", Corpus.unigramLogprob, Corpus.unigramLogprobSql),
    Face("q_mixture", Corpus.mixture, Corpus.mixtureSql),
    Face("q_temperature_mix", Corpus.temperatureMix, Corpus.temperatureMixSql),
    Face("q_quantile_norm", Corpus.quantileNorm, Corpus.quantileNormSql),
    Face("q_mixture_rebalance", Corpus.mixtureRebalance, Corpus.mixtureRebalanceSql),
    Face("q_dsir_score", Corpus.dsirScore, Corpus.dsirScoreSql),
    Face("q_oov_rate", Corpus.oovRate, Corpus.oovRateSql),
    Face("q_moving_avg", Extras.movingAvg, Extras.movingAvgSql),
    Face("q_bpe_train", Corpus.bpeTrain, Corpus.bpeTrainSql),
    Face("q_training_set", Corpus.trainingSet, Corpus.trainingSetSql),
    Face("q_contamination_ngram", Corpus.ngramContamination, Corpus.ngramContaminationSql),
    Face("q_dedup_semantic", Corpus.semanticDedup, Corpus.semanticDedupSql),
    Face("q_full_outer", Extras.fullOuter, Extras.fullOuterSql),
    Face("q_hll_union", Extras.hllUnion, Extras.hllUnionSql),
    Face("q_source_freshness", Extras.sourceFreshness, Extras.sourceFreshnessSql),
    Face("q_window_rank", Extras.windowRank, Extras.windowRankSql),
    Face("q_weekday_profile", Extras.weekdayProfile, Extras.weekdayProfileSql),
    Face("q_sliding_window", Events.qSlidingWindow, Events.qSlidingWindowSql),
    Face("q_approx_percentiles", Extras.approxPercentiles, Extras.approxPercentilesSql),
    Face("q_ann_recall", Ann.annRecall, Ann.annRecallSql),
    Face("q_ann_refine", Ann.annRefine, Ann.annRefineSql),
    Face("q_ivf_rebalance", Ann.ivfRebalance, Ann.ivfRebalanceSql),
    Face("q_embed_drift", Ann.embedDrift, Ann.embedDriftSql),
    Face("q_regression", Mining.regression, Mining.regressionSql),
    Face("q_bloom_join", Extras.bloomJoin, Extras.bloomJoinSql),
    Face("q_compaction_plan", Interop.compactionPlan, Interop.compactionPlanSql),
    Face("q_calibration", TextAnalysis.calibration, TextAnalysis.calibrationSql),
    Face("q_overlap_sketch", Extras.overlapSketch, Extras.overlapSketchSql),
    Face("q_stream_backpressure", Events.qStreamBackpressure, Events.qStreamBackpressureSql),
    Face("q_check_expression", Checks.checkExpression, Checks.checkExpressionSql),
    Face("q_check_rowcount", Checks.checkRowcount, Checks.checkRowcountSql),
    Face("q_date_spine", Reshape.dateSpine, Reshape.dateSpineSql),
    Face("q_unpivot", Reshape.unpivotMetrics, Reshape.unpivotMetricsSql),
    Face("q_string_agg", Reshape.stringAgg, Reshape.stringAggSql),
    Face("q_gaps_islands", Reshape.gapsIslands, Reshape.gapsIslandsSql),
    Face("q_corr", Reshape.corrStats, Reshape.corrStatsSql),
    Face("q_dedup_keep_best", Dedup.dedupKeepBest, Dedup.dedupKeepBestSql),
    Face("q_boilerplate", Dedup.boilerplate, Dedup.boilerplateSql),
    Face("q_dedup_fuzzy", Dedup.dedupFuzzy, Dedup.dedupFuzzySql),
    Face("q_length_buckets", TextAnalysis.lengthBuckets, TextAnalysis.lengthBucketsSql),
    Face("q_heavy_hitters", TextAnalysis.heavyHitters, TextAnalysis.heavyHittersSql),
    Face("q_chunk_dedup", TextAnalysis.chunkDedup, TextAnalysis.chunkDedupSql),
    Face("q_tokenizer_fertility", TextAnalysis.tokenizerFertility, TextAnalysis.tokenizerFertilitySql),
    Face("q_lang_confusion", TextAnalysis.langConfusion, TextAnalysis.langConfusionSql),
    Face("q_entity_split", Corpus.entitySplit, Corpus.entitySplitSql),
    Face("q_join_skew_audit", Extras.joinSkewAudit, Extras.joinSkewAuditSql),
    Face("q_rolling_median", Reshape.rollingMedian, Reshape.rollingMedianSql),
    Face("q_skyline", Reshape.skyline, Reshape.skylineSql),
    Face("q_bollinger", Reshape.bollinger, Reshape.bollingerSql),
    Face("q_runs_test", Reshape.runsTest, Reshape.runsTestSql),
    Face("q_histogram_2d", Profile.histogram2d, Profile.histogram2dSql),
    Face("q_ewma", Reshape.ewma, Reshape.ewmaSql),
    Face("q_hourly_anomaly", Reshape.hourlyAnomaly, Reshape.hourlyAnomalySql),
    Face("q_source_kl", Mining.sourceKl, Mining.sourceKlSql),
    Face("q_assoc_rules", Mining.assocRules, Mining.assocRulesSql),
    Face("q_bfs", Mining.bfs, Mining.bfsSql),
    Face("q_cms_estimate", TextAnalysis.cmsEstimate, TextAnalysis.cmsEstimateSql),
    Face("q_tfidf", Corpus.tfidf, Corpus.tfidfSql),
    Face("q_bigram_logprob", Corpus.bigramLogprob, Corpus.bigramLogprobSql),
    Face("q_histogram_depth", Profile.histogramDepth, Profile.histogramDepthSql),
    Face("q_anomaly_mad", Reshape.anomalyMad, Reshape.anomalyMadSql),
    Face("q_stream_dedup", Events.qStreamDedup, Events.qStreamDedupSql),
    Face("q_abc_analysis", Reshape.abcAnalysis, Reshape.abcAnalysisSql),
    Face("q_entropy", Corpus.entropy, Corpus.entropySql),
    Face("q_multimodal_shard", Multimodal.multimodalShard, Multimodal.multimodalShardSql),
    Face("q_knn_join", Ann.knnJoin, Ann.knnJoinSql),
    Face("q_shard_roundtrip", Interop.shardRoundtrip, Interop.shardRoundtripSql),
    Face("q_jsonl_corrupt", Interop.jsonlCorrupt, Interop.jsonlCorruptSql),
    Face("q_partitioned_scan", Interop.partitionedScan, Interop.partitionedScanSql),
    Face("q_dup_rate", Dedup.dupRate, Dedup.dupRateSql),
    Face("q_ngram_novelty", TextAnalysis.ngramNovelty, TextAnalysis.ngramNoveltySql),
    Face("q_quality_ensemble", TextAnalysis.qualityEnsemble, TextAnalysis.qualityEnsembleSql),
    // stream-static enrichment computes exactly the batch join+agg
    Face("q_stream_enrich", Events.qStreamEnrich, Extras.skewJoinSql),
    Face("q_rfm", Reshape.rfm, Reshape.rfmSql),
    Face("q_skew_join", Extras.skewJoin, Extras.skewJoinSql),
    // B: headline analytics
    Face("q1_pricing", Analytics.q1Pricing, Analytics.q1PricingSql),
    Face("q3_topk", Analytics.q3TopK, Analytics.q3TopKSql),
    Face("q5_join5", Analytics.q5Join5, Analytics.q5Join5Sql),
    Face("q18_big_orders", Analytics.q18BigOrders, Analytics.q18BigOrdersSql),
    Face("q14_promo", Analytics.q14Promo, Analytics.q14PromoSql),
  )

  /** Each face's `(spark, sfDir) => DataFrame`, keyed by face name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    faces.map(f => f.name -> f.run).toMap

  /** Each face's DuckDB oracle, keyed by face name. */
  val oracleSql: Map[String, String] = faces.map(f => f.name -> f.oracle).toMap
}
