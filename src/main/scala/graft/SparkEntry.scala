package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY.md §2 (the
  * reference's surface) or a training-data-pipeline extension
  * (dedup / similarity / multimodal / text analysis). EVERY entry has
  * an exact DuckDB oracle in [[oracleSql]] — including the sketch ops:
  * q22 verifies LSH candidates with exact Jaccard (oracle = the
  * exhaustive truth), and q23/q31 use md5-derived hashes/planes chosen
  * specifically so DuckDB recomputes the identical sketch (integer
  * votes; IEEE-double plane math proven bit-portable by q24/q30).
  */
object SparkEntry {

  /** Flagship query (AMPLab 2a shape — the reference's shipped job,
    * `/root/reference/src/python/mapper.py:51-54`) on sf0.001;
    * driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    ReferenceQueries.agg2a(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference surface (SURVEY.md §2 O1-O10) ---
    "q01_scan_1a" -> (ReferenceQueries.scan1a _),
    "q02_scan_1b" -> (ReferenceQueries.scan1b _),
    "q03_project_scalar" -> (ReferenceQueries.projectScalar _),
    "q04_agg_2a" -> (ReferenceQueries.agg2a _),
    "q05_agg_multi" -> (ReferenceQueries.aggMulti _),
    "q06_global_sum" -> (ReferenceQueries.globalSum _),
    "q07_distinct" -> (ReferenceQueries.distinctKeys _),
    "q08_topk" -> (ReferenceQueries.topK _),
    "q18_mapreduce_typed" -> (MapReduceSurface.agg2aTyped _),
    "q89_topk_agg" -> (MapReduceSurface.topKPerGroup _),
    "q403_tree_reduce" -> ((s: SparkSession, d: String) => MapReduceSurface.treeReduceSum(s, d)),
    "q19_csv_lifecycle" -> (ReferenceQueries.csvLifecycle _),
    "q59_json_lifecycle" -> (ReferenceQueries.jsonLifecycle _),
    "q63_orc_lifecycle" -> (ReferenceQueries.orcLifecycle _),
    "q82_sequencefile" -> (ReferenceQueries.sequenceFileLifecycle _),
    "q106_xml_lifecycle" -> (ReferenceQueries.xmlLifecycle _),
    "q85_compaction" -> (ReferenceQueries.compactionLifecycle _),
    "q93_partition_overwrite" -> (ReferenceQueries.partitionOverwriteLifecycle _),
    "q64_partition_pruning" -> (ReferenceQueries.partitionPrunedAgg _),
    "q72_schema_evolution" -> (ReferenceQueries.schemaEvolution _),
    "q73_session_window" -> (Relational.sessionWindowAgg _),
    // --- relational completeness (ABSENT in reference) ---
    "q09_join_broadcast" -> (Relational.joinBroadcast _),
    "q10_join_large" -> (Relational.joinLarge _),
    "q11_join_star" -> (Relational.joinStar _),
    "q12_join_semi" -> (Relational.joinSemi _),
    "q13_join_anti" -> (Relational.joinAnti _),
    "q14_window_top" -> (Relational.windowTopPerKey _),
    "q15_union" -> (Relational.unionScans _),
    "q16_events_hourly" -> (Relational.eventsHourly _),
    "q17_rollup" -> (Relational.rollupAgg _),
    "q26_json_props" -> (Relational.jsonProps _),
    "q102_tpch_q5" -> (Relational.tpchQ5 _),
    "q103_json_typed" -> (Relational.jsonTyped _),
    "q27_cube" -> (Relational.cubeAgg _),
    "q28_percentiles" -> (Relational.percentiles _),
    "q29_asof" -> (Relational.asofJoin _),
    "q86_interval_join" -> (Relational.intervalJoin _),
    "q87_rolling_window" -> (Relational.rollingWindow _),
    "q104_forward_fill" -> (Relational.forwardFill _),
    "q88_table_diff" -> (Relational.tableDiff _),
    "q108_scd2_merge" -> ((s: SparkSession, d: String) => Relational.scd2Merge(s, d)),
    "q115_pit_join" -> (Relational.pointInTimeJoin _),
    "q117_cdc_replay" -> (Relational.cdcReplay _),
    "q119_histogram" -> (Relational.histogram _),
    "q121_transitions" -> (Relational.transitionMatrix _),
    "q123_interval_coalesce" -> (Relational.coalesceIntervals _),
    "q124_pagerank" -> (Graph.nationPageRank _),
    "q126_triangles" -> (Graph.nationTriangles _),
    "q127_ohlc" -> (Relational.ohlcBars _),
    "q128_dq_audit" -> (Relational.dqAudit _),
    "q129_ab_test" -> (Experiment.abTest _),
    "q130_attribution" -> (Experiment.attribution _),
    "q131_skyline" -> (Relational.skyline _),
    "q132_skew_report" -> (Relational.skewReport _),
    "q133_cooccurrence" -> (Experiment.coOccurrence _),
    "q134_cep_pattern" -> (Experiment.cepPattern _),
    "q135_bpe_pairs" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpePairCandidates(s, d)),
    "q136_sql_frontdoor" -> (Relational.sqlFrontdoor _),
    "q137_khop_reachability" -> (Graph.khopReachability _),
    "q138_variant_path" -> (Relational.variantPath _),
    "q139_mixture_resample" -> (TrainingPrep.mixtureResample _),
    "q141_perplexity" -> (TextAnalysis.perplexityScore _),
    "q142_lateral_topk" -> (Relational.lateralTopK _),
    "q144_hashed_features" -> (TrainingPrep.hashedFeatures _),
    "q145_listagg_paths" -> (Experiment.listaggPaths _),
    "q146_bucket_fingerprints" -> (Relational.bucketFingerprints _),
    "q147_try_arithmetic" -> (Relational.tryArithmetic _),
    "q148_geo_join" -> (Relational.geoJoin _),
    "q149_inverted_index" -> (TextAnalysis.invertedIndex _),
    "q150_assoc_rules" -> (Experiment.associationRules _),
    "q151_km_survival" -> (Experiment.kmSurvival _),
    "q152_densify_daily" -> (Relational.densifyDaily _),
    "q153_ann_pq" -> ((s: SparkSession, d: String) => Similarity.annPq(s, d)),
    "q154_equidepth_bins" -> (Relational.equidepthBins _),
    "q155_bpe_train" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeTrain(s, d)),
    "q156_pq_persisted" -> (Similarity.annPqPersistedServe _),
    "q157_bpe_encode" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeEncode(s, d)),
    "q160_pq_serve_stream" -> (Similarity.annPqServeStream _),
    "q161_pq_incremental" -> (Similarity.annPqIncrementalServe _),
    "q162_leakage_split" -> (TrainingPrep.leakageFreeSplit _),
    "q163_ivf_trained" -> (Similarity.annIvfTrained _),
    "q164_bpe_bytes" -> (TextAnalysis.bpeTrainBytes _),
    "q165_substr_spans" -> ((s: SparkSession, d: String) =>
      Dedup.substringSpanDedup(s, d)),
    "q166_chunking" -> ((s: SparkSession, d: String) =>
      TrainingPrep.chunkDocuments(s, d)),
    "q167_backoff_lm" -> (TextAnalysis.backoffLmScore _),
    "q168_bitext_mine" -> (Similarity.bitextMine _),
    "q169_hard_negatives" -> (Similarity.hardNegatives _),
    "q170_zipf_audit" -> (TextAnalysis.zipfAudit _),
    "q171_novelty_gate" -> (graft.streaming.EventStream.noveltyGate _),
    "q172_image_phash" -> (Multimodal.imageNearDups _),
    "q173_bpe_extend" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeExtend(s, d)),
    "q174_audio_energy" -> (Multimodal.audioEnergy _),
    "q175_embedding_drift" -> (Similarity.embeddingDrift _),
    "q176_hll_overlap" -> (Sketches.hllOverlap _),
    "q177_sla_audit" -> (Relational.slaAudit _),
    "q178_score_docs" -> (TrainingPrep.scoreDocs _),
    "q179_score_stream" -> (graft.streaming.EventStream.scoreServeStream _),
    "q180_decayed_engagement" -> (Relational.decayedEngagement _),
    "q181_pmi_collocations" -> (TextAnalysis.pmiCollocations _),
    "q182_char_entropy" -> (TextAnalysis.charEntropy _),
    "q183_mrl_recall" -> ((s: SparkSession, d: String) =>
      Similarity.mrlRecallAudit(s, d)),
    "q184_source_kl" -> (TextAnalysis.sourceKlDivergence _),
    "q185_heaps_audit" -> (TextAnalysis.heapsAudit _),
    "q186_mad_anomaly" -> (Relational.madDailyAnomaly _),
    "q187_stream_mad_gate" -> (graft.streaming.EventStream.madGateStream _),
    "q188_neg_sampling" -> ((s: SparkSession, d: String) =>
      TrainingPrep.negSamplingTable(s, d)),
    "q189_prefix_filter_join" -> (Dedup.prefixFilterJoin _),
    "q190_quality_verdict" -> (CleanPipeline.qualityVerdict _),
    "q191_chi_square" -> (Relational.chiSquareAudit _),
    "q192_interarrival" -> (Relational.interArrivalProfile _),
    "q193_wilson_ctr" -> (Relational.wilsonCtr _),
    "q194_conversion_latency" -> (Relational.conversionLatency _),
    "q195_stickiness" -> (Relational.stickiness _),
    "q196_lsh_planner" -> (Dedup.lshPlanner _),
    "q197_binary_lake" -> (Multimodal.binaryLake _),
    "q198_cuped" -> (Experiment.cupedAbTest _),
    "q199_label_prop" -> (Graph.labelPropagation _),
    "q200_watermark_planner" -> ((s: SparkSession, d: String) =>
      Relational.watermarkPlanner(s, d)),
    "q201_kanon_audit" -> (CleanPipeline.kAnonymityAudit _),
    "q202_dense_rank" -> (TrainingPrep.denseRankAssign _),
    "q203_separability" -> (Similarity.classSeparability _),
    "q204_loudness_gain" -> (Multimodal.loudnessGain _),
    "q205_bootstrap_ci" -> (Relational.bootstrapCi _),
    "q206_theil_sen" -> (Relational.theilSenTrend _),
    "q207_langid_confusion" -> (TextAnalysis.langIdConfusion _),
    "q208_churn_labels" -> (Experiment.churnLabels _),
    "q209_holt_forecast" -> (Relational.holtForecast _),
    "q210_spectral_bands" -> (Multimodal.spectralBands _),
    "q211_rendezvous_shards" -> ((s: SparkSession, d: String) =>
      TrainingPrep.rendezvousShards(s, d)),
    "q212_roc_auc" -> (Experiment.rocAuc _),
    "q213_ngram_diversity" -> (TextAnalysis.ngramDiversity _),
    "q214_dominant_eigen" -> (Similarity.dominantEigen _),
    "q215_mixture_reweight" -> (TextAnalysis.mixtureReweight _),
    "q216_perplexity_gate" -> (TextAnalysis.perplexityGate _),
    "q217_group_sample" -> ((s: SparkSession, d: String) =>
      TrainingPrep.groupSample(s, d)),
    "q218_calibration_bins" -> (Experiment.calibrationBins _),
    "q219_cusum_changepoint" -> (Relational.cusumChangepoint _),
    "q220_contrastive_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.contrastivePairs(s, d)),
    "q221_mergeable_moments" -> (TrainingPrep.mergeableMoments _),
    "q222_quality_survivors" -> (Dedup.qualitySurvivors _),
    "q223_source_scorecard" -> (CleanPipeline.sourceScorecard _),
    "q224_benford_audit" -> (Experiment.benfordAudit _),
    "q225_langid_kappa" -> (Experiment.langIdKappa _),
    "q226_padding_waste" -> (TrainingPrep.paddingWasteAudit _),
    "q227_chunk_manifest" -> (TrainingPrep.chunkManifest _),
    "q228_ann_recall_audit" -> (Similarity.annRecallAudit _),
    "q229_numeral_dedup" -> (Dedup.numeralNormalizedDedup _),
    "q230_budget_apportion" -> (TrainingPrep.budgetApportion _),
    "q231_decayed_activity" -> (Experiment.decayedActivity _),
    "q232_markov_stationary" -> (Experiment.markovStationary _),
    "q233_gains_table" -> (Experiment.gainsTable _),
    "q234_encoding_gate" -> (TextAnalysis.encodingAudit _),
    "q235_audio_fp_match" -> (Multimodal.audioFingerprintMatch _),
    "q236_hll_sketch" -> (TrainingPrep.hllDistinctSketch _),
    "q237_bloom_decontaminate" -> (Dedup.bloomDecontaminate _),
    "q238_tokenizer_fertility" -> (TextAnalysis.tokenizerFertility _),
    "q239_cdc_chunks" -> (Dedup.cdcChunkStats _),
    "q240_containment" -> (Dedup.containmentPairs _),
    "q241_dp_release" -> (CleanPipeline.dpGeometricRelease _),
    "q242_luhn_pii" -> (TextAnalysis.luhnPii _),
    "q243_join_discovery" -> (Relational.joinDiscovery _),
    "q244_scene_cuts" -> (Multimodal.sceneCuts _),
    "q245_parquet_quarantine" -> (ReferenceQueries.parquetQuarantine _),
    "q246_two_stage_rerank" -> (TextAnalysis.twoStageRerank _),
    "q247_scorer_agreement" -> (Experiment.scorerAgreement _),
    "q248_cdc_provenance" -> (Dedup.cdcProvenance _),
    "q249_stream_hll" ->
      (graft.streaming.EventStream.hllStreamToBatch _),
    "q250_kmv_sketch" -> (Sketches.kmvSketch _),
    "q251_corr_matrix" -> (Experiment.correlationMatrix _),
    "q252_rrf_fusion" -> (TextAnalysis.rrfFusion _),
    "q253_bitmap_intersect" -> (Sketches.bitmapIntersect _),
    "q254_stream_alerts" ->
      (graft.streaming.EventStream.streamAlerts _),
    "q255_activity_segments" -> (Multimodal.activitySegments _),
    "q256_patch_grid" -> (Multimodal.patchGrid _),
    "q257_epoch_order" -> (TrainingPrep.epochOrder _),
    "q258_ks_drift" -> (Experiment.ksDrift _),
    "q259_cross_source_dups" -> (Dedup.crossSourceDupMatrix _),
    "q260_winsorize" -> (TrainingPrep.winsorize _),
    "q261_greedy_encode" -> (TextAnalysis.greedyEncode _),
    "q262_coordinated_sample" -> (TrainingPrep.coordinatedSample _),
    "q263_incremental_mv" ->
      (graft.streaming.EventStream.incrementalMvToBatch _),
    "q264_pseudonymized_join" -> (CleanPipeline.pseudonymizedJoin _),
    "q265_stream_late_data" ->
      (graft.streaming.EventStream.lateDataToBatch _),
    "q266_sentence_dedup" -> (Dedup.sentenceDedup _),
    "q267_heavy_hitters" -> (Sketches.heavyHittersExact _),
    "q268_fleiss_kappa" -> (Experiment.fleissKappa _),
    "q269_preference_scores" -> (Preference.preferenceScores _),
    "q270_bradley_terry" -> ((s: SparkSession, d: String) =>
      Preference.bradleyTerry(s, d)),
    "q271_ndcg_audit" -> (Similarity.ndcgAudit _),
    "q272_prefix_rollup" -> (Relational.prefixRollup _),
    "q273_conformal" -> (Experiment.conformalCalibration _),
    "q274_chi_square" -> (Experiment.chiSquareIndependence _),
    "q275_avg_precision" -> (Experiment.averagePrecision _),
    "q276_mann_whitney" -> (Experiment.mannWhitney _),
    "q277_mad_outliers" -> (Experiment.madOutliers _),
    "q278_isotonic" -> (Experiment.isotonicCalibration _),
    "q279_histogram_median" -> (Sketches.histogramMedian _),
    "q280_lpm_join" -> (Relational.longestPrefixMatch _),
    "q281_division" -> (Relational.relationalDivision _),
    "q282_secret_scan" -> (TextAnalysis.secretScan _),
    "q283_fs_linkage" -> (Dedup.fellegiSunter _),
    "q284_ulm_train" -> (TextAnalysis.ulmTrain _),
    "q285_ulm_encode" -> (TextAnalysis.ulmEncode _),
    "q286_shapley_attribution" -> (Experiment.shapleyAttribution _),
    "q287_quantile_align" -> (Experiment.quantileAlign _),
    "q288_qte" -> (Experiment.quantileTreatmentEffects _),
    "q289_weighted_median" -> (Sketches.weightedHistogramMedian _),
    "q290_kcore" -> (Graph.kCore _),
    "q291_item_neighbors" -> (Experiment.itemNeighbors _),
    "q292_concurrency" -> (Relational.concurrencyTimeline _),
    "q293_twap" -> (Relational.twap _),
    "q294_bitemporal" -> (Relational.bitemporalAsOf _),
    "q295_forecast_backtest" -> (Relational.forecastBacktest _),
    "q296_span_corruption" -> (TrainingPrep.spanCorruption _),
    "q297_soft_dedup_weights" -> (Dedup.softDedupWeights _),
    "q298_stratified_folds" -> (Dedup.stratifiedGroupKFold _),
    "q299_binary_quant" -> (Similarity.binaryQuantAudit _),
    "q300_markov_attribution" -> (Experiment.markovAttribution _),
    "q301_rag_context" -> (TextAnalysis.ragContext _),
    "q302_topic_balanced" -> (TrainingPrep.topicBalancedSample _),
    "q303_contrastive_batches" -> (Dedup.contrastiveBatches _),
    "q304_length_batches" -> (TrainingPrep.lengthBucketedBatches _),
    "q305_packed_windows" -> (TrainingPrep.packedWindows _),
    "q306_sliding_chunks" -> (TrainingPrep.slidingChunks _),
    "q307_repetition_filter" -> (TextAnalysis.repetitionFilter _),
    "q308_domain_affinity" -> (TrainingPrep.domainAffinitySample _),
    "q309_pii_scrub" -> (CleanPipeline.piiScrubAudit _),
    "q310_epoch_shards" -> (TrainingPrep.epochShards _),
    "q311_vocab_growth" -> (TextAnalysis.vocabGrowth _),
    "q312_export_offsets" -> (TrainingPrep.exportOffsets _),
    "q313_split_contamination" -> (TrainingPrep.splitContamination _),
    "q314_interleaved_manifest" -> (TrainingPrep.interleavedManifest _),
    "q315_dataset_datasheet" -> (TrainingPrep.datasetDatasheet _),
    "q316_fim_transform" -> (TrainingPrep.fimTransform _),
    "q317_data_echo" -> (TrainingPrep.dataEchoAudit _),
    "q318_sft_loss_density" -> (TrainingPrep.sftLossDensity _),
    "q319_crawl_diff" -> (TrainingPrep.crawlDiff _),
    "q320_watermark_detect" -> (TextAnalysis.watermarkDetect _),
    "q321_preference_pairs" -> ((s: SparkSession, d: String) =>
      Preference.preferencePairs(s, d)),
    "q322_ann_hard_negatives" -> ((s: SparkSession, d: String) =>
      Similarity.annHardNegatives(s, d)),
    "q323_ann_bitext_mine" -> ((s: SparkSession, d: String) =>
      Similarity.annBitextMine(s, d)),
    "q324_prefix_cache" -> (TextAnalysis.prefixCacheAudit _),
    "q325_pass_at_k" -> ((s: SparkSession, d: String) =>
      Experiment.passAtK(s, d)),
    "q326_nucleus_audit" -> (TextAnalysis.nucleusAudit _),
    "q327_curriculum" -> (TrainingPrep.curriculumStages _),
    "q328_spec_decode" -> (TextAnalysis.specDecodeAudit _),
    "q329_ann_recall" -> (Similarity.annRecallEval _),
    "q330_index_staleness" -> (Similarity.indexStaleness _),
    "q331_feature_drift" -> (Experiment.featureDrift _),
    "q332_lsh_banding_eval" -> (Dedup.lshBandingEval _),
    "q333_watermark_planner" ->
      (graft.streaming.EventStream.watermarkDelayPlanner _),
    "q334_bm25_retrieval_eval" -> (TextAnalysis.bm25RetrievalEval _),
    "q335_packing_attention" -> (TrainingPrep.packingAttentionAudit _),
    "q336_epoch_waterfill" -> (TrainingPrep.epochWaterfill _),
    "q337_ips_policy_eval" -> (Experiment.ipsPolicyEval _),
    "q338_best_of_n" -> (Experiment.bestOfN _),
    "q339_arena_leaderboard" -> (Experiment.arenaLeaderboard _),
    "q340_rloo_advantage" -> (Experiment.rlooAdvantage _),
    "q341_dup_span_fraction" -> (Dedup.dupSpanFraction _),
    "q342_successive_halving" -> (Experiment.successiveHalving _),
    "q343_doubly_robust" -> (Experiment.doublyRobust _),
    "q344_moe_routing" -> (TrainingPrep.moeRoutingAudit _),
    "q345_bleu_overlap" -> (TextAnalysis.bleuOverlapEval _),
    "q346_kruskal_wallis" -> (Experiment.kruskalWallis _),
    "q347_token_transitions" -> (TextAnalysis.tokenClassTransitions _),
    "q348_shuffle_runs" -> (TrainingPrep.shuffleRunsTest _),
    "q349_self_consistency" -> (Experiment.selfConsistency _),
    "q350_dup_span_incremental" -> ((s: SparkSession, d: String) =>
      Dedup.dupSpanIncremental(s, d)),
    "q351_canonicalize_clusters" -> (Dedup.canonicalizeClusters _),
    "q352_instruction_scan" -> (TextAnalysis.instructionScan _),
    "q353_length_bias" -> ((s: SparkSession, d: String) =>
      Preference.lengthBiasAudit(s, d)),
    "q354_needle_manifest" -> (TrainingPrep.needleManifest _),
    "q355_t_closeness" -> (CleanPipeline.tClosenessAudit _),
    "q356_headset_drift" -> (Experiment.headSetDrift _),
    "q357_boilerplate_grams" -> (TextAnalysis.boilerplateHeadGrams _),
    "q358_truncation_loss" -> ((s: SparkSession, d: String) =>
      TrainingPrep.truncationLoss(s, d)),
    "q359_effective_waterfill" -> (TrainingPrep.effectiveWaterfill _),
    "q360_word_fertility" -> (TextAnalysis.wordFertility _),
    "q361_toxicity_gate" -> (CleanPipeline.toxicityGate _),
    "q362_sft_unroll_cost" -> (TrainingPrep.sftUnrollCost _),
    "q363_merkle_manifest" -> (TrainingPrep.merkleManifest _),
    "q364_transport_plan" -> (TrainingPrep.lengthTransportPlan _),
    "q365_license_propagation" -> (Graph.licensePropagation _),
    "q366_wilson_gate" -> (Experiment.wilsonGate _),
    "q367_takedown_impact" -> (TrainingPrep.takedownImpact _),
    "q368_krippendorff" -> (Experiment.krippendorffAlpha _),
    "q369_unseen_vocab" -> (TextAnalysis.unseenVocab _),
    "q370_early_stopping" -> (Experiment.earlyStoppingAudit _),
    "q371_negative_samples" -> (TrainingPrep.negativeSamples _),
    "q372_int8_quant" -> (Similarity.int8QuantAudit _),
    "q373_schema_drift" -> (Relational.schemaDrift _),
    "q374_permutation_test" -> (Experiment.permutationTest _),
    "q375_filter_curve" -> (CleanPipeline.filterOperatingCurve _),
    "q376_banding_planner" -> ((s: SparkSession, d: String) =>
      Dedup.lshBandingPlanner(s, d)),
    "q377_stride_efficiency" -> (TrainingPrep.strideEfficiency _),
    "q378_code_switching" -> (TextAnalysis.codeSwitchCensus _),
    "q379_funnel_significance" -> (Experiment.funnelSignificance _),
    "q380_mmr_topk" -> (Similarity.mmrTopK _),
    "q381_champion_lists" -> (TextAnalysis.championListEval _),
    "q382_bot_gate" -> (Experiment.botRegularityGate _),
    "q383_packing_policy" -> (TrainingPrep.packingPolicyCompare _),
    "q384_systematic_sample" -> (TrainingPrep.systematicSample _),
    "q385_dedup_yield" -> (Dedup.dedupYieldCurve _),
    "q386_source_gini" -> (Relational.sourceConcentration _),
    "q387_anisotropy" -> (Similarity.anisotropyAudit _),
    "q388_tokenizer_migration" -> (TextAnalysis.tokenizerMigrationDiff _),
    "q389_prefix_mass" -> (TextAnalysis.sharedPrefixMass _),
    "q390_quality_dup" -> (Experiment.qualityDupCalibration _),
    "q391_splitter_bias" -> (Experiment.splitterBias _),
    "q392_cluster_profile" -> (Dedup.clusterSizeProfile _),
    "q393_epoch_fixed_points" -> (TrainingPrep.epochFixedPoints _),
    "q394_kn_discounts" -> (TextAnalysis.knDiscounts _),
    "q395_burstiness" -> (TextAnalysis.burstinessCensus _),
    "q396_matryoshka_recall" -> ((s: SparkSession, d: String) =>
      Similarity.matryoshkaRecall(s, d)),
    "q397_bbit_minwise" -> (Dedup.bbitMinwiseEval _),
    "q398_jl_distortion" -> (Similarity.jlDistortionAudit _),
    "q399_bh_fdr" -> (Experiment.bhFdr _),
    "q400_judge_position_bias" -> (Experiment.judgePositionBias _),
    "q401_kendall_w" -> (Experiment.kendallW _),
    "q402_adaptive_ece" -> (Experiment.adaptiveEce _),
    "q109_profile" -> (Relational.profileTable _),
    "q112_funnel" -> (Relational.funnel _),
    "q113_cohort" -> (Relational.cohortRetention _),
    "q90_subqueries" -> (Relational.correlatedSubqueries _),
    "q92_array_funcs" -> (Relational.arrayFuncs _),
    "q94_regex_funcs" -> (Relational.regexFuncs _),
    "q95_map_struct" -> (Relational.mapStructFuncs _),
    "q96_unicode_strings" -> (Relational.unicodeStringFuncs _),
    "q33_sessionize" -> ((s: SparkSession, d: String) => Relational.sessionize(s, d)),
    "q34_intersect" -> (Relational.intersectScans _),
    "q35_except" -> (Relational.exceptScans _),
    "q36_string_funcs" -> (Relational.stringFuncs _),
    "q37_tpch_q3" -> (Relational.tpchQ3 _),
    "q38_pivot" -> (Relational.pivotAgg _),
    "q49_salted_join" -> (Relational.saltedJoinAgg _),
    "q53_bucketed_join" -> (Relational.bucketedJoinAgg _),
    "q54_window_funcs" -> (Relational.windowFuncs _),
    "q55_grouping_sets" -> (Relational.groupingSetsAgg _),
    "q77_null_semantics" -> (Relational.nullSemantics _),
    "q78_sorted_write" -> (ReferenceQueries.sortedWriteLifecycle _),
    "q110_zorder" -> (ReferenceQueries.zorderLayout _),
    "q79_datetime_funcs" -> (Relational.dateTimeFuncs _),
    "q80_decimal_agg" -> (Relational.decimalAgg _),
    "q97_dec_probe_minmax" -> (Relational.decimalProbeMinMax _),
    "q98_dec_probe_widesum" -> (Relational.decimalProbeWideSum _),
    "q99_dec_scale4_exact" -> (Relational.decimalProbeScale4Exact _),
    // --- dedup suite ---
    "q20_dedup_exact" -> (Dedup.exact _),
    "q21_ngram_jaccard" -> ((s: SparkSession, d: String) => Dedup.ngramJaccardPairs(s, d)),
    "q22_minhash_lsh" -> ((s: SparkSession, d: String) => Dedup.minhashLshPairsVerified(s, d)),
    "q23_simhash" -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "q24_embed_neardup" -> (Dedup.embeddingNearDupPlanted _),
    "q158_semdedup" -> ((s: SparkSession, d: String) => Dedup.semDedup(s, d)),
    "q25_clean_corpus" -> ((s: SparkSession, d: String) => CleanPipeline.cleanCorpus(s, d)),
    "q76_corpus_manifest" -> (CleanPipeline.corpusManifest _),
    "q44_neardup_clusters" -> (Dedup.nearDupSurvivors _),
    "q83_decontaminate" -> ((s: SparkSession, d: String) => Dedup.decontaminationPairs(s, d)),
    "q100_line_dedup" -> (Dedup.lineDedup _),
    "q111_fuzzy_link" -> (Dedup.fuzzyLinkage _),
    "q45_incremental_dedup" -> ((s: SparkSession, d: String) => Dedup.minhashIncrementalVerified(s, d)),
    "q46_incremental_persisted" -> ((s: SparkSession, d: String) => Dedup.minhashIncrementalPersisted(s, d)),
    // --- streaming (Structured Streaming run to completion) ---
    "q47_stream_hourly" -> (graft.streaming.EventStream.hourlyToBatch _),
    "q56_stream_sliding" -> (graft.streaming.EventStream.slidingToBatch _),
    "q57_stream_tier_join" -> (graft.streaming.EventStream.tierHourlyToBatch _),
    "q62_stream_attribution" -> (graft.streaming.EventStream.attributionToBatch _),
    "q105_stream_outer_join" -> (graft.streaming.EventStream.clickOutcomeToBatch _),
    "q107_stream_segments" -> (graft.streaming.EventStream.sessionSegmentsBatch _),
    "q159_stream_cms" -> (graft.streaming.EventStream.cmsMaintainedBatch _),
    "q120_stream_cdc" -> (graft.streaming.EventStream.cdcApplyToBatch _),
    "q125_stream_pit" -> (graft.streaming.EventStream.pitEnrichToBatch _),
    "q140_stream_session_window" ->
      (graft.streaming.EventStream.sessionWindowToBatch _),
    "q143_tws_segments" ->
      (graft.streaming.EventStream.sessionSegmentsTwsBatch _),
    "q65_stream_dedup" -> (graft.streaming.EventStream.dedupToBatch _),
    "q66_stream_sessions" -> (graft.streaming.EventStream.userSessionsBatch _),
    "q81_stream_file_sink" -> (graft.streaming.EventStream.hourlyToParquetSink _),
    // --- sketches ---
    "q39_cardinality" -> (Sketches.cardinality _),
    "q48_quantile_sketch" -> (Sketches.quantiles _),
    "q58_bloom_semi_join" -> (Sketches.bloomSemiJoin _),
    "q60_cms_frequency" -> (Sketches.cmsFrequency _),
    "q67_hll_daily_merge" -> (Sketches.hllMergeDaily _),
    // --- similarity search ---
    "q30_ann_brute" -> ((s: SparkSession, d: String) => Similarity.annBrute(s, d)),
    "q31_ann_lsh" -> ((s: SparkSession, d: String) => Similarity.annLsh(s, d)),
    "q32_ann_ivf" -> ((s: SparkSession, d: String) => Similarity.annIvf(s, d)),
    // --- text analysis ---
    "q40_lang_id" -> (TextAnalysis.langId _),
    "q41_quality" -> (TextAnalysis.quality _),
    "q42_token_stats" -> (TextAnalysis.tokenStats _),
    "q43_fingerprint" -> (TextAnalysis.fingerprint _),
    "q61_tfidf_terms" -> (TextAnalysis.tfidfTerms _),
    "q114_bm25" -> (TextAnalysis.bm25Search _),
    "q122_keyness" -> (TextAnalysis.keynessDrift _),
    "q74_repetition" -> (TextAnalysis.repetitionStats _),
    "q75_redact_pii" -> (TextAnalysis.redactPii _),
    // --- training-set preparation ---
    "q68_train_split" -> (TrainingPrep.splitAssign _),
    "q84_stratified_sample" -> (TrainingPrep.stratifiedSample _),
    "q69_quality_bins" -> (TrainingPrep.qualityBins _),
    "q70_shard_pack" -> ((s: SparkSession, d: String) => TrainingPrep.shardPack(s, d)),
    "q91_seq_blocks" -> ((s: SparkSession, d: String) => TrainingPrep.sequenceBlocks(s, d)),
    "q101_embed_pool" -> (TrainingPrep.meanPoolEmbeddings _),
    "q71_embed_quantize" -> (TrainingPrep.quantizeEmbeddings _),
    "q116_trend" -> (TrainingPrep.trendPerUser _),
    "q118_weighted_sample" -> (TrainingPrep.weightedSample _),
    // --- multimodal plumbing ---
    "q50_multimodal_meta" -> (Multimodal.mediaMeta _),
    "q51_frame_sample" -> ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)),
    "q52_media_features" -> (Multimodal.mediaFeatures _)
  )

  /** Shared q178/q179 oracle: batch inference over hashed features
    * (the streamed serve scores identically — static model, per-doc
    * independence).
    */
  private lazy val scoreDocsOracle: String = s"""WITH tok AS (
           SELECT doc_id, UNNEST(string_split($normText, ' ')) AS tok
           FROM documents),
         h AS (
           SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
           FROM tok),
         feats AS (
           SELECT doc_id, hv % 1024 AS bucket,
             CAST(SUM(CASE WHEN (hv // 1024) % 2 = 0 THEN 1 ELSE -1 END)
               AS BIGINT) AS feat
           FROM h GROUP BY 1, 2
           HAVING SUM(CASE WHEN (hv // 1024) % 2 = 0 THEN 1 ELSE -1 END)
             <> 0),
         w AS (
           SELECT CAST(b AS BIGINT) AS bucket,
             CAST(floor(1000000.0 *
               (('0x' || substr(md5('w_' || CAST(b AS VARCHAR)), 1, 15))
                  ::BIGINT / 1152921504606846976.0 - 0.5)) AS BIGINT)
               AS wq
           FROM (SELECT UNNEST(range(1024)) AS b)),
         bias AS (
           SELECT CAST(floor(1000000.0 *
             (('0x' || substr(md5('w_bias'), 1, 15))::BIGINT /
               1152921504606846976.0 - 0.5)) AS BIGINT) AS bq),
         logits AS (
           SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(f.feat * w.wq) AS BIGINT) AS dot_micro
           FROM feats f JOIN w USING (bucket) GROUP BY 1)
         SELECT d.doc_id,
           COALESCE(l.n_active, 0) AS n_active,
           COALESCE(l.dot_micro, 0) + bias.bq AS z_micro,
           CAST(floor(1000000.0 / (1.0 +
             exp(-(CAST(COALESCE(l.dot_micro, 0) + bias.bq
               AS DOUBLE) / 1000000.0)))) AS BIGINT) AS score_micro,
           COALESCE(l.dot_micro, 0) + bias.bq >= 0 AS keep
         FROM documents d
         LEFT JOIN logits l ON l.doc_id = d.doc_id
         CROSS JOIN bias"""

  /** Generated DuckDB replay of Multimodal.spectralBands (q210): the
    * q174 WAV-body device (samples are little-endian byte pairs of
    * hex(encode(text)) for doc_id % 3 == 1), non-overlapping 64-sample
    * frames, five octave bins, and the 2^15 fixed-point twiddle
    * tables interpolated VERBATIM from Multimodal.DftCos64/DftSin64 —
    * both engines compute with identical integer constants, so the
    * whole statistic is exact BIGINT arithmetic end to end.
    */
  private def spectralBandsOracleSql: String = {
    s"""WITH ${dftCtes(Multimodal.SpectralBins)},
         ${wavCte(128)},
         samples AS MATERIALIZED (
           SELECT media_id, s // 64 AS f, CAST(s % 64 AS BIGINT) AS n,
             CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
               AS BIGINT) AS v
           FROM (
             ${pcmDecodeSql()})
           WHERE s // 64 < ns // 64),
         fr AS (
           $dftFrameSql),
         e AS (
           SELECT media_id, CAST(k AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_frames,
             CAST(SUM((re // 32768) * (re // 32768) +
                      (im // 32768) * (im // 32768)) AS BIGINT)
               AS band_energy
           FROM fr GROUP BY 1, 2),
         tot AS (SELECT media_id, CAST(SUM(band_energy) AS BIGINT)
                   AS total
                 FROM e GROUP BY 1)
         SELECT e.media_id, e.bin, e.n_frames, e.band_energy,
           e.band_energy * 5 > tot.total AS above_avg
         FROM e JOIN tot USING (media_id)"""
  }

  /** Generated DuckDB replay of Multimodal.audioFingerprintMatch
    * (q235): the q210 sample/twiddle device at 32-sample frames and
    * 16 bins over the first 4 frames, Haitsma-Kalker difference bits
    * packed to one BIGINT, the q23 15-bit-chunk pigeonhole join, and
    * bit_count(xor()) verification — all-integer end to end, twins
    * planted by the same doc_id % 15 == 10 union.
    */
  private def audioFingerprintOracleSql: String = {
    val off = Multimodal.FpTwinOffset
    s"""WITH ${dftCtes(1 to Multimodal.FpBins)},
         docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + $off AS doc_id, text FROM documents
           WHERE doc_id % 15 = 10),
         wav AS MATERIALIZED (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 2 AS ns
           FROM docs2
           WHERE doc_id % 3 = 1
             AND (octet_length(encode(text)) // 2) // 32 >= 4),
         samples AS MATERIALIZED (
           SELECT media_id, s // 32 AS f, CAST(s % 32 AS BIGINT) AS n,
             CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
               AS BIGINT) AS v
           FROM (
             ${pcmDecodeSql("media_id")})
           WHERE s // 32 < 4),
         fr AS MATERIALIZED (
           $dftFrameSql),
         e AS MATERIALIZED (
           SELECT media_id, f, k,
             (re // 32768) * (re // 32768) +
               (im // 32768) * (im // 32768) AS en
           FROM fr),
         d AS (
           SELECT hi.media_id, hi.f, hi.k AS b, hi.en - lo.en AS dd
           FROM e hi JOIN e lo
             ON lo.media_id = hi.media_id AND lo.f = hi.f
               AND lo.k = hi.k + 1
           WHERE hi.k <= ${Multimodal.FpBins - 1}),
         bit AS (
           SELECT d1.media_id, d1.f - 1 AS t, d1.b - 1 AS bpos,
             CASE WHEN d1.dd - d0.dd > 0 THEN 1 ELSE 0 END AS bit
           FROM d d1 JOIN d d0
             ON d0.media_id = d1.media_id AND d0.f = d1.f - 1
               AND d0.b = d1.b
           WHERE d1.f >= 1),
         fp AS MATERIALIZED (
           SELECT media_id,
             CAST(SUM(CAST(bit AS BIGINT) *
               (CAST(1 AS BIGINT) << CAST(15 * t + bpos AS INT)))
               AS BIGINT) AS fp
           FROM bit GROUP BY 1),
         ck AS (
           SELECT media_id, fp, c,
             (fp >> CAST(15 * c AS INT)) & 32767 AS ckv
           FROM fp, UNNEST([0, 1, 2]) u(c)),
         cand AS (
           SELECT DISTINCT a.media_id AS id_a, a.fp AS fpa,
             b.media_id AS id_b, b.fp AS fpb
           FROM ck a JOIN ck b
             ON a.c = b.c AND a.ckv = b.ckv AND a.media_id < b.media_id)
         SELECT id_a, id_b,
           CAST(bit_count(xor(fpa, fpb)) AS BIGINT) AS hamming
         FROM cand
         WHERE bit_count(xor(fpa, fpb)) <= 2"""
  }

  /** Normalized-text SQL twin of TextAnalysis.normalizedText. */
  private val normText = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  // Shared oracle fragments: CTE lists written WITHOUT the leading
  // WITH, so each caller keeps its own WITH / WITH RECURSIVE keyword
  // and appends its own tail. Declared as defs / lazy vals: a plain val
  // above normText would interpolate null.

  /** The exhaustive near-dup shingle prefix (Dedup's shingle stage):
    * normText words over `from`, distinct 5-word shingles, per-doc
    * shingle counts, and shared-shingle counts per doc pair ordered by
    * `a.doc_id <order> b.doc_id`.
    */
  private def shingleCtes(from: String = "documents", order: String = "<"): String =
    s"""words AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM $from),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) - 3)) AS i) t
           WHERE len(w) >= 5),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id $order b.doc_id
           GROUP BY 1, 2)"""

  /** Exact Jaccard of a `common` row against its two `sizes` rows. */
  private val jaccardSql =
    """CAST(n_common AS DOUBLE) /
             CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)"""

  /** The `common` pairs at Jaccard >= `floor`, projected to `cols`. */
  private def jaccardPairs(cols: String, floor: String = "0.5"): String =
    s"""SELECT $cols FROM common
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE $jaccardSql >= $floor"""

  /** The near-dup components after shingleCtes (Dedup.connectedComponents'
    * twin): pairs at Jaccard >= 0.5 as CTE `pairs`, undirected edges, the
    * recursive transitive closure (the caller writes WITH RECURSIVE), and
    * the min-label component of every doc in some pair.
    */
  private def componentCtes(pairs: String = "pairs"): String =
    s"""$pairs AS (
           ${jaccardPairs("id_a, id_b")}),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM $pairs
           UNION SELECT id_b, id_a FROM $pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id),
         comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY 1)"""

  /** Every document keyed by its component (singletons by their own id). */
  private def keyedCte(extra: String = ""): String =
    s"""keyed AS (
           SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp$extra
           FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)"""

  /** q25/q76's survivor prefix, the twin of CleanPipeline.gatedSurvivors:
    * q40's language, whitespace tokens, q20's exact-dedup keepers and
    * the near-dup drop-b set of shingleCtes' pairs at Jaccard >= 0.5.
    */
  private lazy val survivorCtes: String =
    s"""lang AS ($langIdOracle),
         toks AS (
           SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_extract_all(trim(text), '\\S+')) END AS BIGINT) AS n_ws_tokens
           FROM documents),
         exact_keep AS (
           SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY MD5($normText)),
         ${shingleCtes()},
         near_drop AS (
           ${jaccardPairs("DISTINCT id_b")})"""

  /** q305's first-fit-decreasing replay: per-doc token items (ntok + 1)
    * in (ntok desc, doc_id asc) order, 256-item chunks, and the
    * recursive `step` CTE carrying each chunk's window fills list and
    * assignments (the caller writes WITH RECURSIVE). Shared by q305,
    * q335 and q383.
    */
  private val ffdStepCtes: String =
    """toks AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS ntok
           FROM documents),
         items AS (
           SELECT doc_id, ntok, ntok + 1 AS item,
             CAST(ROW_NUMBER() OVER (ORDER BY ntok DESC, doc_id ASC)
               AS BIGINT) AS rk
           FROM toks),
         ch AS (
           SELECT doc_id, ntok, item, (rk - 1) // 256 AS chunk,
             CAST(ROW_NUMBER() OVER (PARTITION BY (rk - 1) // 256
               ORDER BY rk ASC) AS BIGINT) AS pos
           FROM items),
         step AS (
           SELECT chunk, CAST(0 AS BIGINT) AS pos,
             CAST([] AS BIGINT[]) AS fills,
             CAST([] AS STRUCT(doc_id BIGINT, win BIGINT, ntok BIGINT,
               item BIGINT)[]) AS asg
           FROM (SELECT DISTINCT chunk FROM ch) c
           UNION ALL
           SELECT s.chunk, s.pos + 1,
             CASE WHEN p.p = 0 THEN list_append(s.fills, d.item)
               ELSE list_concat(list_concat(
                 list_slice(s.fills, 1, p.p - 1),
                 [s.fills[p.p] + d.item]),
                 list_slice(s.fills, p.p + 1, len(s.fills))) END,
             list_append(s.asg, CASE WHEN p.p = 0
               THEN {'doc_id': d.doc_id,
                     'win': CAST(len(s.fills) + 1 AS BIGINT),
                     'ntok': d.ntok, 'item': d.item}
               ELSE {'doc_id': d.doc_id, 'win': p.p,
                     'ntok': d.ntok, 'item': d.item} END)
           FROM step s
           JOIN ch d ON d.chunk = s.chunk AND d.pos = s.pos + 1,
           LATERAL (SELECT CAST(COALESCE(list_position(
              list_transform(s.fills, f -> f + d.item <= 4096), true), 0)
              AS BIGINT) AS p) p)"""

  /** The final `step` row per chunk, global window offsets, and the
    * exploded (doc_id, win, ntok, item) assignments — q305's and q335's
    * window tail over ffdStepCtes.
    */
  private val ffdAssignCtes: String =
    """fin AS (
           SELECT s.chunk, s.fills, s.asg FROM step s
           JOIN (SELECT chunk, MAX(pos) AS mp FROM step GROUP BY 1) m
             ON m.chunk = s.chunk AND m.mp = s.pos),
         offs AS (
           SELECT a.chunk, CAST(COALESCE(SUM(len(b.fills)), 0) AS BIGINT)
             AS woff
           FROM fin a LEFT JOIN fin b ON b.chunk < a.chunk
           GROUP BY 1),
         asg AS (
           SELECT f.chunk, o.woff, UNNEST(f.asg, recursive := true)
           FROM fin f JOIN offs o ON o.chunk = f.chunk)"""

  /** Normalized vectors with their label (the bitext / hard-negative
    * side), materialized: every q168/q169/q322/q323 join reads it.
    */
  private lazy val labeledVectorsCte: String =
    s"""un AS MATERIALIZED (
           SELECT u.vec_id, u.v, e.label
           FROM ($normalizedVectors) u
           JOIN embeddings e ON e.vec_id = u.vec_id)"""

  /** The argmax IVF cell of every vector over a (vec_id, c_id, sim)
    * CTE `sims`, ties to the lowest centroid id (q32's rule).
    */
  private def assignedCte(sims: String): String =
    s"""assigned AS (
           SELECT vec_id, c_id FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY sim DESC, c_id ASC) AS rn
             FROM $sims) WHERE rn = 1)"""

  /** q168's margin mining over a (s_id, t_id, sim_micro) CTE `sims`:
    * top-4 sums per side, one final division, forward-best rank at
    * margin >= 105 — shared by the ANN-composed q323.
    */
  private val bitextMarginSql: String =
    """tops AS (
           SELECT s_id, CAST(SUM(sim_micro) AS BIGINT) AS sk FROM (
             SELECT s_id, sim_micro, ROW_NUMBER() OVER (PARTITION BY s_id
               ORDER BY sim_micro DESC, t_id ASC) AS rn FROM sims)
           WHERE rn <= 4 GROUP BY 1),
         topt AS (
           SELECT t_id, CAST(SUM(sim_micro) AS BIGINT) AS tk FROM (
             SELECT t_id, sim_micro, ROW_NUMBER() OVER (PARTITION BY t_id
               ORDER BY sim_micro DESC, s_id ASC) AS rn FROM sims)
           WHERE rn <= 4 GROUP BY 1),
         sc AS (
           SELECT s.s_id, s.t_id, s.sim_micro,
             CAST(floor(CAST(800 * s.sim_micro AS DOUBLE) /
               CAST(a.sk + b.tk AS DOUBLE)) AS BIGINT) AS margin_pct
           FROM sims s JOIN tops a USING (s_id) JOIN topt b USING (t_id)
           WHERE a.sk + b.tk > 0)
         SELECT s_id, t_id, sim_micro, margin_pct FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY s_id
             ORDER BY margin_pct DESC, sim_micro DESC, t_id ASC) AS rn
           FROM sc)
         WHERE rn = 1 AND margin_pct >= 105"""

  /** q32's IVF serve over a (vec_id, c_id, sim) CTE `sims` of every
    * vector against the centroids: argmax cell assignment, the 4
    * nearest cells probed for the first 5 queries, exact cosine top-10
    * (the tail also of the trained-codebook replay, q163).
    */
  private def ivfServeSql(sims: String): String =
    s"""${assignedCte(sims)},
         qids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5),
         qprobes AS (
           SELECT vec_id AS q_id, c_id FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY sim DESC, c_id ASC) AS rn
             FROM $sims WHERE vec_id IN (SELECT vec_id FROM qids))
           WHERE rn <= 4),
         cand AS (
           SELECT q_id, a.vec_id FROM qprobes p
           JOIN assigned a ON a.c_id = p.c_id
           WHERE a.vec_id != p.q_id),
         $cosineTop10Sql"""

  /** q153's product-quantization prefix: 8 subspaces of 8 dims, the
    * first 16 vectors as per-subspace centroids, L2² floored to pico
    * units, argmin codes, and the integer ADC of every vector against
    * the first 5 queries. Shared by q153 (re-ranked) and the q156
    * persisted serve.
    */
  private lazy val pqAdcCtes: String =
    s"""u AS ($normalizedVectors),
         subs AS (
           SELECT vec_id, s, v[s*8+1 : s*8+8] AS sub
           FROM u, LATERAL (SELECT UNNEST(range(0, 8)) AS s) t),
         cents AS (
           SELECT vec_id AS c_id, s, sub AS cv FROM subs
           WHERE vec_id < 16),
         cdist AS (
           SELECT subs.vec_id, subs.s, c_id,
             CAST(floor(1e12 * list_sum(list_transform(
               list_zip(sub, cv),
               p -> (p[1] - p[2]) * (p[1] - p[2])))) AS BIGINT) AS d
           FROM subs JOIN cents ON cents.s = subs.s),
         codes AS (
           SELECT vec_id, s, c_id AS code FROM (
             SELECT vec_id, s, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                 ORDER BY d ASC, c_id ASC) AS rn
             FROM cdist) WHERE rn = 1),
         qids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5),
         qdist AS (
           SELECT vec_id AS q_id, s, c_id, d FROM cdist
           WHERE vec_id IN (SELECT vec_id FROM qids)),
         adc AS (
           SELECT q.q_id, c.vec_id,
             CAST(SUM(q.d) AS BIGINT) AS adc_pico
           FROM codes c JOIN qdist q
             ON q.s = c.s AND q.c_id = c.code
           WHERE c.vec_id <> q.q_id
           GROUP BY 1, 2)"""

  /** Exact cosine of every (q_id, vec_id) in CTE `cand` over the
    * normalized vectors `u`, top 10 per query by (cosine desc, vec_id).
    */
  private val cosineTop10Sql: String =
    """scored AS (
           SELECT cand.q_id, cand.vec_id,
             list_sum(list_transform(list_zip(uq.v, uc.v), p -> p[1] * p[2])) AS cosine
           FROM cand
           JOIN u uq ON uq.vec_id = cand.q_id
           JOIN u uc ON uc.vec_id = cand.vec_id)
         SELECT q_id, vec_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
           SELECT q_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rk
           FROM scored)
         WHERE rk <= 10"""

  /** The distinct 5-word shingle space as CTE `sh` (column `sh`) over
    * normText words — the q189/q332 input and q341/q350's dup-span
    * census.
    */
  private lazy val spanShingleCtes: String =
    s"""words AS (
           SELECT doc_id, string_split($normText, ' ') AS w
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) - 3)) AS i) t
           WHERE len(w) >= 5)"""

  /** q332's banding replay over `sh`: one md5 per shingle, h1 + i*h2
    * minima in 64 slots, md5 keys of 16 bands of 4, and the candidate
    * pairs sharing a band key — shared by q397.
    */
  private val bandCandCtes: String =
    """h AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 17, 14))::BIGINT AS h2
           FROM sh),
         slots AS MATERIALIZED (
           SELECT doc_id, i, MIN(h1 + i * h2) AS v
           FROM h, LATERAL (SELECT UNNEST(range(0, 64)) AS i) g
           GROUP BY 1, 2),
         bands AS (
           SELECT doc_id, i // 4 AS band,
             md5(string_agg(CAST(v AS VARCHAR), ':' ORDER BY i)) AS bh
           FROM slots GROUP BY doc_id, i // 4),
         cand AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""

  /** q336's water-fill over CTE `caps` (source, lang, avail_tokens,
    * cap_tokens): budget twice the `cells` supply, saturated prefix of
    * the cap-ascending order, the rest split level — the whole tail
    * SELECT, `extra` appended to its columns. Shared by q359.
    */
  private def waterfillSql(cells: String, extra: String = ""): String =
    s"""tot AS (
           SELECT CAST(2 * SUM(avail_tokens) AS BIGINT) AS b,
                  CAST(COUNT(*) AS BIGINT) AS m FROM $cells),
         ranked AS (
           SELECT c.*, t.b, t.m,
             CAST(ROW_NUMBER() OVER (ORDER BY cap_tokens ASC,
               source ASC, lang ASC) AS BIGINT) AS rk,
             CAST(SUM(cap_tokens) OVER (ORDER BY cap_tokens ASC,
               source ASC, lang ASC) AS BIGINT) AS pref
           FROM caps c, tot t),
         lvl AS (
           SELECT
             COALESCE(CAST(SUM(CASE WHEN pref - cap_tokens
               + cap_tokens * (m - rk + 1) <= b THEN 1 ELSE 0 END)
               AS BIGINT), 0) AS k,
             COALESCE(CAST(SUM(CASE WHEN pref - cap_tokens
               + cap_tokens * (m - rk + 1) <= b THEN cap_tokens
               ELSE 0 END) AS BIGINT), 0) AS prefk,
             MAX(b) AS b2, MAX(m) AS m2
           FROM ranked)
         SELECT r.source, r.lang, r.avail_tokens, r.cap_tokens,
           CAST(CASE WHEN r.rk <= l.k THEN r.cap_tokens
             ELSE (l.b2 - l.prefk) // (l.m2 - l.k)
               + CASE WHEN r.rk - l.k <= (l.b2 - l.prefk) % (l.m2 - l.k)
                 THEN 1 ELSE 0 END END AS BIGINT) AS alloc_tokens,
           r.rk <= l.k AS saturated,
           CAST(CASE WHEN r.rk <= l.k THEN r.cap_tokens
             ELSE (l.b2 - l.prefk) // (l.m2 - l.k)
               + CASE WHEN r.rk - l.k <= (l.b2 - l.prefk) % (l.m2 - l.k)
                 THEN 1 ELSE 0 END END * 1000000 // r.avail_tokens
             AS BIGINT) AS epochs_ppm$extra
         FROM ranked r, lvl l"""

  /** q239's content-defined chunking: the q100 boilerplate-injected
    * corpus `p0`, md5 window-hash boundaries, and per-doc (s, e]
    * spans between consecutive boundaries — shared by q248.
    */
  private lazy val cdcSpanCtes: String =
    s"""p0 AS (
           SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0
               THEN '${Dedup.boilerplateHeader} ' ELSE '' END || text ||
             CASE WHEN doc_id % 5 = 0
               THEN ' ${Dedup.boilerplateFooter}' ELSE '' END AS text
           FROM documents WHERE length(text) >= 1),
         bnd AS (
           SELECT doc_id, CAST(p AS BIGINT) AS p
           FROM p0, UNNEST(range(${Dedup.CdcWindow},
             length(text) + 1)) t(p)
           WHERE ('0x' || substr(md5(substr(text,
               CAST(p - ${Dedup.CdcWindow - 1} AS INT),
               ${Dedup.CdcWindow})), 1, 4))::BIGINT
             % ${Dedup.CdcBoundaryRate} = 0),
         ends AS (
           SELECT doc_id, p FROM bnd
           UNION
           SELECT doc_id, CAST(length(text) AS BIGINT) AS p FROM p0),
         spans AS (
           SELECT doc_id,
             COALESCE(LAG(p) OVER (PARTITION BY doc_id ORDER BY p), 0)
               AS s, p AS e
           FROM ends)"""

  /** q112's conversion chain: per user the first view (t1), the first
    * click within 48 h after it (t2) and the first purchase within
    * 48 h after that (t3) — shared by q379.
    */
  private val funnelCtes: String =
    """l1 AS (
           SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
           FROM events GROUP BY user_id),
         l2 AS (
           SELECT e.user_id,
             MIN(CASE WHEN e.event_type = 'click' AND e.ts > l1.t1
                  AND e.ts <= l1.t1 + INTERVAL 48 HOURS
                  THEN e.ts END) AS t2
           FROM events e JOIN l1 USING (user_id)
           GROUP BY e.user_id, l1.t1),
         l3 AS (
           SELECT e.user_id,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > l2.t2
                  AND e.ts <= l2.t2 + INTERVAL 48 HOURS
                  THEN e.ts END) AS t3
           FROM events e JOIN l2 USING (user_id)
           GROUP BY e.user_id, l2.t2)"""

  /** q33's gap sessionization: a new session when the gap to the
    * user's previous event is STRICTLY over 30 min (event_id breaks
    * ts ties), numbered by a running sum as column `idx`. Shared by
    * the q107 and q73 session oracles.
    */
  private def sessionCtes(idx: String = "session_idx"): String =
    s"""flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         numbered AS (
           SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $idx
           FROM flagged)"""

  /** q174's WAV device: documents with doc_id % 3 == 1 and at least
    * `minBytes` UTF-8 bytes, hex-rendered, ns = byte pairs.
    */
  private def wavCte(minBytes: Int): String =
    s"""wav AS MATERIALIZED (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 2 AS ns
           FROM documents
           WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= $minBytes)"""

  /** Every sample s of `wav` as the little-endian byte pair at hex
    * offset 4s (unsigned; callers sign it), with columns `cols` first.
    */
  private def pcmDecodeSql(cols: String = "media_id, ns"): String =
    s"""SELECT $cols, CAST(s AS BIGINT) AS s,
               ('0x' || substr(hx, CAST(4*s AS INT) + 1, 2))::INT +
                 256 * ('0x' || substr(hx, CAST(4*s AS INT) + 3, 2))::INT
                 AS v
             FROM wav, UNNEST(range(ns)) t(s)"""

  /** q174's decode into 16 windows per clip with the absolute
    * amplitude — shared by q255.
    */
  private lazy val pcmWindowCtes: String =
    s"""${wavCte(2)},
         samples AS (
           SELECT media_id, CAST(s * 16 // ns AS INT) AS win,
             abs(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS a
           FROM (
             ${pcmDecodeSql()}))"""

  /** The 64-point 2^15 fixed-point twiddle tables interpolated
    * VERBATIM from Multimodal.DftCos64/DftSin64, and the DFT bins `ks`.
    */
  private def dftCtes(ks: Seq[Int]): String = {
    def values(xs: Seq[Long]) =
      xs.zipWithIndex.map { case (c, n) => s"($n, $c)" }.mkString(", ")
    s"""costab(n, c) AS (VALUES ${values(Multimodal.DftCos64)}),
         sintab(n, sv) AS (VALUES ${values(Multimodal.DftSin64)}),
         bins(k) AS (VALUES ${ks.map(k => s"($k)").mkString(", ")})"""
  }

  /** Per (media_id, frame f, bin k) integer DFT re/im of CTE `samples`
    * (media_id, f, n, v) over dftCtes.
    */
  private val dftFrameSql: String =
    """SELECT media_id, f, k,
             CAST(SUM(v * ct.c) AS BIGINT) AS re,
             CAST(SUM(v * st.sv) AS BIGINT) AS im
           FROM samples
             CROSS JOIN bins
             JOIN costab ct ON ct.n = (k * samples.n) % 64
             JOIN sintab st ON st.n = (k * samples.n) % 64
           GROUP BY 1, 2, 3"""

  /** The customer-nation → supplier-nation shipment multigraph as
    * (a, b, w) rows, self-loops dropped unless `crossOnly` is false —
    * the q124/q126/q199/q290 graph input.
    */
  private def nationEdgesSql(
      a: String, b: String, crossOnly: Boolean = true): String =
    s"""SELECT c.c_nationkey AS $a, s.s_nationkey AS $b,
             CAST(COUNT(*) AS BIGINT) AS w
           FROM orders o
           JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           ${if (crossOnly) "WHERE c.c_nationkey <> s.s_nationkey" else ""}
           GROUP BY 1, 2"""

  /** q313's split-twin truth: normText words of docs with >= 5 words,
    * md5 80/20 train/eval split, distinct 5-gram digests, and each eval
    * doc's best train doc sharing >= `minShared` grams (CTE `truth`).
    * Shared by q334 and q345.
    */
  private def splitTwinCtes(minShared: Long): String =
    s"""docs AS (
           SELECT doc_id, string_split($normText, ' ') AS w,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 10 < 8 THEN 'train' ELSE 'eval' END AS split
           FROM documents
           WHERE len(string_split($normText, ' ')) >= 5),
         grams AS (
           SELECT DISTINCT doc_id, split,
             substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16) AS g
           FROM docs, LATERAL (SELECT UNNEST(range(1, len(w) - 3)) AS i) t),
         ov AS (
           SELECT e.doc_id AS q_id, t.doc_id AS td,
             CAST(COUNT(*) AS BIGINT) AS shared
           FROM grams e JOIN grams t
             ON e.g = t.g AND e.split = 'eval' AND t.split = 'train'
           GROUP BY 1, 2),
         truth AS MATERIALIZED (
           SELECT q_id, td AS rel FROM (
             SELECT q_id, td, shared, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY shared DESC, td ASC) AS rn FROM ov)
           WHERE rn = 1 AND shared >= $minShared)"""

  /** q126's nation edges folded to undirected (u < v) weights, with
    * the total weight `tw` and edge count `ne` its heavy-edge filter
    * (w * ne * 10 >= tw * 12) reads. Shared by the q290 k-core replay.
    */
  private def heavyEdgeCtes(materialized: Boolean): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    s"""e0 AS$m (
           ${nationEdgesSql("a", "b")}),
         ed0 AS (SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v,
                   CAST(SUM(w) AS BIGINT) AS w
                 FROM e0 GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw,
                   CAST(COUNT(*) AS BIGINT) AS ne FROM ed0)"""
  }

  /** q337's logged-policy census: cents per event, per (user, action)
    * counts and reward sums, per-user counts and the total n. Shared
    * by q343.
    */
  private val policyLogCtes: String =
    """ev AS (
           SELECT user_id, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         ua AS (
           SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_ua,
             CAST(SUM(cents) AS BIGINT) AS r_ua
           FROM ev GROUP BY 1, 2),
         u AS (SELECT user_id, CAST(SUM(n_ua) AS BIGINT) AS n_u
           FROM ua GROUP BY 1),
         n AS (SELECT CAST(SUM(n_u) AS BIGINT) AS n FROM u)"""

  /** The scored docs `sc` grouped by score (count c, positives p) with
    * the count strictly below each score (cum) — the doubled mid-rank
    * input of rocAucOracle and q276.
    */
  private val scoreRankCtes: String =
    """bysc AS (
           SELECT score, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS p
           FROM sc GROUP BY 1),
         rk AS (
           SELECT score, c, p,
             CAST(COALESCE(SUM(c) OVER (ORDER BY score ASC ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
           FROM bysc)"""

  /** Per-doc character counts of the normText of `from`'s docs. */
  private def charCountCtes(from: String): String =
    s"""nt AS (
           SELECT doc_id, $normText AS nt FROM $from),
         cc AS (
           SELECT doc_id, ch, COUNT(*) AS c FROM (
             SELECT doc_id, substr(nt, CAST(i AS INT), 1) AS ch
             FROM nt, LATERAL (
               SELECT UNNEST(range(1, length(nt) + 1)) AS i) u
             WHERE length(nt) >= 1) x
           GROUP BY 1, 2)"""

  /** Distinct (user, day, event type) units and the unit count — the
    * q133/q150 basket input.
    */
  private val userDayCtes: String =
    """ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
           FROM events),
         tot AS (
           SELECT COUNT(*) AS n_units
           FROM (SELECT DISTINCT user_id, day FROM ud))"""

  /** q268's three synthetic raters per doc: rater r keeps the true lang
    * unless an md5 draw (< r in 10) moves it to the cyclic next; with
    * `skipRater3`, q368's md5-decided 20% of rater 3's labels are left
    * out.
    */
  private def ratedCte(skipRater3: Boolean = false): String = {
    val skip = if (!skipRater3) "" else """
           WHERE NOT (r.r = 3 AND ('0x' || substr(md5('skip:' ||
             CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 2)"""
    s"""rated AS (
           SELECT d.doc_id,
             CASE WHEN ('0x' || substr(md5('rate:' ||
                 CAST(d.doc_id AS VARCHAR) || ':' ||
                 CAST(r.r AS VARCHAR)), 1, 15))::BIGINT % 10 < r.r
               THEN CASE d.lang WHEN 'de' THEN 'en' WHEN 'en' THEN 'es'
                 WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh' ELSE 'de' END
               ELSE d.lang END AS label
           FROM documents d, (SELECT UNNEST([1,2,3]) AS r) r$skip)"""
  }

  /** Per (user, day, event type) spend in exact cents — the q269
    * contest input, shared by the Bradley-Terry replay (q270).
    */
  private val spendCentsCte: String =
    """cents AS (
           SELECT user_id, CAST(ts AS DATE) AS d, event_type,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
           FROM events GROUP BY 1, 2, 3)"""

  /** normText words of every doc with at least one word, and n — the
    * q306/q377 chunking input.
    */
  private lazy val wordDocsCtes: String =
    s"""words AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM documents),
         d AS (
           SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM words
           WHERE len(w) > 0 AND w[1] <> '')"""

  /** Normalized vectors `u`, the first 16 as IVF centroids, and every
    * (vector, centroid) cosine — q32's seeded codebook, shared by
    * q158 and q302.
    */
  private lazy val centroidSimsCtes: String =
    s"""u AS ($normalizedVectors),
         cents AS (SELECT vec_id AS c_id, v AS cv FROM u WHERE vec_id < 16),
         sims AS (
           SELECT u.vec_id, c_id,
             list_sum(list_transform(list_zip(u.v, cv), p -> p[1] * p[2])) AS sim
           FROM u CROSS JOIN cents)"""

  /** Generated DuckDB twin of TextAnalysis.bm25RetrievalEval (q334):
    * splitTwinCtes (the q313 split + gram-overlap truth), q114's BM25
    * float tree verbatim per term (floored to micro BEFORE the
    * per-(q,d) sum, so the score is an order-free integer), topK
    * rank, per-k arms.
    */
  private def bm25RetrievalOracleSql(
      ks: Seq[Int], minShared: Long, topK: Int): String = {
    val arms = ks.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN rk <= $k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CASE WHEN COUNT(*) > 0 THEN
             CAST(SUM(CASE WHEN rk <= $k THEN 1 ELSE 0 END)
               * 1000000 // COUNT(*) AS BIGINT) END AS recall_ppm,
           CASE WHEN COUNT(*) > 0 THEN
             CAST(SUM(CASE WHEN rk <= $k THEN 1000000 // rk ELSE 0 END)
               // COUNT(*) AS BIGINT) END AS mrr_ppm
         FROM relrank"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH ${splitTwinCtes(minShared)},
         train AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl
           FROM docs WHERE split = 'train'),
         stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM train),
         tf AS (
           SELECT doc_id AS d_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
             MAX(dl) AS dl
           FROM (SELECT doc_id, UNNEST(w) AS term, dl FROM train)
           GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM tf GROUP BY 1),
         qterms AS (
           SELECT DISTINCT truth.q_id, term FROM truth
           JOIN (SELECT doc_id, UNNEST(w) AS term FROM docs
             WHERE split = 'eval') e ON e.doc_id = truth.q_id),
         contrib AS (
           SELECT q.q_id, tf.d_id,
             CAST(FLOOR(1000000 *
               (ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))))
               AS BIGINT) AS c
           FROM qterms q JOIN tf USING (term) JOIN dfreq USING (term)
           CROSS JOIN stats),
         ranked AS MATERIALIZED (
           SELECT q_id, d_id, rk FROM (
             SELECT q_id, d_id, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY s DESC, d_id ASC) AS rk
             FROM (SELECT q_id, d_id, CAST(SUM(c) AS BIGINT) AS s
               FROM contrib GROUP BY 1, 2))
           WHERE rk <= $topK),
         relrank AS MATERIALIZED (
           SELECT truth.q_id, CAST(r.rk AS BIGINT) AS rk
           FROM truth LEFT JOIN ranked r
             ON r.q_id = truth.q_id AND r.d_id = truth.rel)
         $arms"""
  }

  /** Generated DuckDB twin of EventStream.watermarkDelayPlanner
    * (q333): the same planted ingestion-delay model (every 17th event
    * arrives event_id%7+1 minutes late), the high-water mark as a
    * running MAX over arrival order, and one conditional-sum arm per
    * candidate delay.
    */
  private def watermarkPlannerOracleSql(delaysSec: Seq[Long]): String = {
    val arms = delaysSec.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS delay_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN lt > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(SUM(CASE WHEN lt > $d * 1000000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped,
           CASE WHEN COUNT(*) > 0 THEN
             CAST(SUM(CASE WHEN lt > $d * 1000000 THEN 1 ELSE 0 END)
               * 1000000 // COUNT(*) AS BIGINT) END AS dropped_ppm
         FROM late"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH ev AS (
           SELECT event_id, epoch_us(ts) AS t,
             epoch_us(ts) + CASE WHEN event_id % 17 = 0
               THEN (event_id % 7 + 1) * 60000000 ELSE 0 END AS arr
           FROM events),
         wm AS (
           SELECT event_id, t, MAX(t) OVER (ORDER BY arr ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS w
           FROM ev),
         late AS MATERIALIZED (
           SELECT CASE WHEN w IS NULL OR w <= t THEN 0 ELSE w - t END AS lt
           FROM wm)
         $arms"""
  }

  /** Generated DuckDB twin of Similarity.annRecallEval (q329): the
    * q322 codebook/assignment/probing replay builds the ANN shortlist,
    * an eval-set cross join builds the brute truth, both rank under
    * the identical (floored-micro sim desc, id asc) total order, and
    * the per-k arms count hits/denominators from the SAME frames.
    */
  private def annRecallOracleSql(
      ks: Seq[Int], sampleMod: Long, clusters: Int, probes: Int): String = {
    val kMax = ks.max
    val arms = ks.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k,
           (SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) FROM brute
             WHERE b_rn <= $k) AS n_queries,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM brute
             WHERE b_rn <= $k) AS denom,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM j
             WHERE b_rn <= $k AND a_rn <= $k) AS n_hits"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH un AS MATERIALIZED (SELECT vec_id, v FROM ($normalizedVectors)),
         q AS (SELECT vec_id AS q_id, v AS qv FROM un
           WHERE vec_id % $sampleMod = 0),
         bsim AS MATERIALIZED (
           SELECT q.q_id, un.vec_id AS n_id,
             CAST(floor(1000000.0 * list_sum(list_transform(
               list_zip(q.qv, un.v), z -> z[1]*z[2]))) AS BIGINT) AS sim_micro
           FROM q CROSS JOIN un WHERE un.vec_id != q.q_id),
         brute AS MATERIALIZED (
           SELECT q_id, n_id, CAST(rn AS BIGINT) AS b_rn FROM (
             SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY sim_micro DESC, n_id ASC) AS rn FROM bsim)
           WHERE rn <= $kMax),
         cents AS (SELECT vec_id AS c_id, v AS cv FROM un
           WHERE vec_id < $clusters),
         csims AS MATERIALIZED (
           SELECT un.vec_id, c_id,
             list_sum(list_transform(list_zip(un.v, cv), z -> z[1]*z[2])) AS sim
           FROM un CROSS JOIN cents),
         ${assignedCte("csims")},
         qprobes AS (
           SELECT vec_id AS q_id, c_id FROM (
             SELECT vec_id, c_id, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, c_id ASC) AS rn
             FROM csims WHERE vec_id % $sampleMod = 0) WHERE rn <= $probes),
         asim AS MATERIALIZED (
           SELECT p.q_id, a.vec_id AS n_id,
             CAST(floor(1000000.0 * list_sum(list_transform(
               list_zip(uq.v, ua.v), z -> z[1]*z[2]))) AS BIGINT) AS sim_micro
           FROM qprobes p JOIN assigned a USING (c_id)
           JOIN un uq ON uq.vec_id = p.q_id
           JOIN un ua ON ua.vec_id = a.vec_id
           WHERE a.vec_id != p.q_id),
         ann AS MATERIALIZED (
           SELECT q_id, n_id, CAST(rn AS BIGINT) AS a_rn FROM (
             SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY sim_micro DESC, n_id ASC) AS rn FROM asim)
           WHERE rn <= $kMax),
         j AS MATERIALIZED (
           SELECT brute.q_id, b_rn, a_rn
           FROM brute JOIN ann USING (q_id, n_id)),
         arms AS ($arms)
         SELECT k, n_queries, denom, n_hits,
           CAST(n_hits * 1000000 // denom AS BIGINT) AS recall_ppm
         FROM arms"""
  }

  /** Generated DuckDB twin of Experiment.passAtK (q325): the same
    * user-grain (n, c) census over events, then per k the IDENTICAL
    * fixed factor chain 1 − Π_{i=0..k−1} (n−c−i)/(n−i) — each factor
    * the same CASE-guarded double ratio, multiplied left-to-right in
    * the same literal order, floored once to ppm. Exact-integer
    * inputs + identical expression tree ⇒ bit-equal doubles in both
    * engines (the q325 identical-tree device).
    */
  private def passAtKOracleSql(ks: Seq[Int], centsThreshold: Long): String = {
    val arms = ks.map { k =>
      val prod = (0 until k).map(i =>
        s"(CASE WHEN n - c - $i <= 0 THEN 0.0 ELSE " +
          s"CAST(n - c - $i AS DOUBLE) / CAST(n - $i AS DOUBLE) END)")
        .mkString(" * ")
      s"""SELECT user_id, CAST($k AS BIGINT) AS k, n, c,
           CAST(floor(1000000.0 * (1.0 - $prod)) AS BIGINT) AS pass_ppm
         FROM per WHERE n >= $k"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH per AS MATERIALIZED (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
               >= $centsThreshold THEN 1 ELSE 0 END) AS BIGINT) AS c
           FROM events GROUP BY 1)
         $arms"""
  }

  /** Generated DuckDB replay of Experiment.markovAttribution (q300):
    * journey transitions in SQL, then `rounds` value-iteration CTEs
    * over a VARIANT-AWARE edge table — all removal variants advance
    * together, absorbing rows riding each round via UNION; per-term
    * truncating division keeps every sum order-independent.
    */
  private def markovAttributionOracleSql(rounds: Int): String = {
    val prefix =
      """fp AS (SELECT user_id, MIN(ts) AS fp FROM events
           WHERE event_type = 'purchase' GROUP BY 1),
         us AS (SELECT DISTINCT e.user_id,
             CASE WHEN fp.fp IS NOT NULL THEN 'CONV' ELSE 'NULL' END
               AS outcome
           FROM events e LEFT JOIN fp USING (user_id)),
         pre AS (
           SELECT e.user_id, e.event_type AS ch,
             LEAD(e.event_type) OVER w AS nxt,
             ROW_NUMBER() OVER w AS rn
           FROM events e LEFT JOIN fp USING (user_id)
           WHERE e.event_type <> 'purchase'
             AND (fp.fp IS NULL OR e.ts < fp.fp)
           WINDOW w AS (PARTITION BY e.user_id
             ORDER BY e.ts ASC, e.event_id ASC)),
         prew AS (SELECT p.*, us.outcome FROM pre p JOIN us USING (user_id)),
         trans AS (
           SELECT ch AS src, COALESCE(nxt, outcome) AS dst FROM prew
           UNION ALL
           SELECT 'S', ch FROM prew WHERE rn = 1
           UNION ALL
           SELECT 'S', outcome FROM us
           WHERE user_id NOT IN (SELECT user_id FROM prew)),
         cnts AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM trans GROUP BY 1, 2),
         outn AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS o
           FROM cnts GROUP BY 1),
         chs AS (SELECT DISTINCT src AS c FROM cnts WHERE src <> 'S'),
         variants AS (SELECT 'none' AS variant
           UNION ALL SELECT c FROM chs),
         edges AS MATERIALIZED (
           SELECT v.variant, c.src,
             CASE WHEN c.dst = v.variant THEN 'NULL' ELSE c.dst END
               AS dst,
             c.cnt, o.o
           FROM variants v, cnts c JOIN outn o ON o.src = c.src
           WHERE c.src <> v.variant),
         p0 AS (
           SELECT v.variant, s.state, s.p FROM variants v,
             (SELECT 'CONV' AS state, CAST(1000000 AS BIGINT) AS p
              UNION ALL SELECT 'NULL', 0) s)"""
    val steps = (1 to rounds).map { t =>
      s"""p$t AS MATERIALIZED (
           SELECT variant, state, p FROM p0
           UNION ALL
           SELECT e.variant, e.src AS state,
             CAST(SUM((e.cnt * COALESCE(pp.p, 0)) // e.o) AS BIGINT)
               AS p
           FROM edges e LEFT JOIN p${t - 1} pp
             ON pp.variant = e.variant AND pp.state = e.dst
           GROUP BY 1, 2)"""
    }
    (Seq(prefix) ++ steps).mkString("WITH ", ",\n", "\n") +
      s"""SELECT c.c AS channel, b.p AS base_p_micro,
          r.p AS removed_p_micro,
          CAST(CASE WHEN b.p = 0 THEN 0
            ELSE ((b.p - r.p) * 1000000) // b.p END AS BIGINT) AS re_ppm
          FROM chs c
          JOIN p$rounds b ON b.variant = 'none' AND b.state = 'S'
          JOIN p$rounds r ON r.variant = c.c AND r.state = 'S'"""
  }

  /** Generated DuckDB replay of Graph.kCore (q290): q126's
    * heavyEdgeCtes, then `rounds` h-index iterations — each a join + rank
    * window + max(least(rank, value)) fold, the exact recurrence the
    * Spark loop runs.
    */
  private def kCoreOracleSql(rounds: Int): String = {
    val edges =
      s"""${heavyEdgeCtes(materialized = true)},
         ed AS MATERIALIZED (
           SELECT u, v FROM ed0, tot WHERE w * ne * 10 >= tw * 12),
         adj AS MATERIALIZED (
           SELECT u AS node, v AS nb FROM ed
           UNION ALL SELECT v, u FROM ed),
         c0 AS MATERIALIZED (
           SELECT node, CAST(COUNT(*) AS BIGINT) AS c
           FROM adj GROUP BY 1)"""
    val rounds_ = (1 to rounds).map { t =>
      s"""c$t AS MATERIALIZED (
           SELECT node, CAST(MAX(LEAST(r, cv)) AS BIGINT) AS c FROM (
             SELECT a.node, p.c AS cv,
               CAST(ROW_NUMBER() OVER (PARTITION BY a.node
                 ORDER BY p.c DESC) AS BIGINT) AS r
             FROM adj a JOIN c${t - 1} p ON p.node = a.nb) t
           GROUP BY 1)"""
    }
    (Seq(edges) ++ rounds_).mkString("WITH ", ",\n", "\n") +
      s"""SELECT CAST(c0.node AS BIGINT) AS node, c0.c AS degree,
          c$rounds.c AS core
          FROM c0 JOIN c$rounds USING (node)"""
  }

  /** One chained-CTE Viterbi pass (b{r}_0..b{r}_maxLen) for words
    * under vocabulary CTE `vocab` — shared by the training rounds
    * and the q285 encode chain.
    */
  private def ulmViterbiChainCtes(
      r: Int, vocab: String, maxPiece: Int, maxLen: Int): Seq[String] = {
    val b0 =
      s"""b${r}_0 AS (
           SELECT w, c, CAST(0 AS BIGINT) AS bc,
             CAST(0 AS BIGINT) AS bn, '' AS bp FROM wd)"""
    val positions = (1 to maxLen).map { i =>
      val unionK = (1 to math.min(maxPiece, i)).map { k =>
        s"""SELECT w, c, bc, bn, bp, $k AS k
            FROM b${r}_${i - k} WHERE len(w) >= $i"""
      }.mkString(" UNION ALL ")
      val path =
        "CASE WHEN cand.bp = '' THEN v.piece ELSE cand.bp || ' ' || v.piece END"
      s"""b${r}_$i AS MATERIALIZED (
           SELECT w, c, bc, bn, bp FROM (
             SELECT cand.w, cand.c,
               cand.bc + v.cost AS bc, cand.bn + 1 AS bn,
               $path AS bp,
               ROW_NUMBER() OVER (PARTITION BY cand.w ORDER BY
                 cand.bc + v.cost ASC, cand.bn + 1 ASC, $path ASC) AS rk
             FROM ($unionK) cand
             JOIN $vocab v
               ON v.piece = substr(cand.w, $i - cand.k + 1, cand.k)
           ) q WHERE rk = 1)"""
    }
    Seq(b0) ++ positions
  }

  /** The shared CTE prefix (dictionary, seed, `rounds` hard-EM
    * rounds) behind the q284 training oracle and the q285 encode
    * oracle — final vocabulary lands in CTE v{rounds}.
    */
  private def ulmCtes(
      rounds: Int, multiK: Int, maxPiece: Int, maxLen: Int): Seq[String] = {
    val wd =
      s"""wd AS MATERIALIZED (
           SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
             SELECT UNNEST(string_split($normText, ' ')) AS w
             FROM documents) t
           WHERE w <> '' GROUP BY 1)"""
    val sub =
      s"""sub AS MATERIALIZED (
           SELECT substr(w, CAST(i AS INT), CAST(k AS INT)) AS piece,
             CAST(SUM(c) AS BIGINT) AS cnt
           FROM wd,
             LATERAL (SELECT UNNEST(range(1, len(w) + 1)) AS i) a,
             LATERAL (SELECT UNNEST(range(1, $maxPiece + 1)) AS k) b
           WHERE i + k - 1 <= len(w)
           GROUP BY 1)"""
    val v0 =
      s"""v0p AS MATERIALIZED (
           SELECT piece, cnt FROM sub WHERE len(piece) = 1
           UNION ALL
           SELECT piece, cnt FROM (
             SELECT piece, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rk
             FROM sub WHERE len(piece) >= 2) t WHERE rk <= $multiK),
         v0 AS MATERIALIZED (
           SELECT piece, cnt,
             -CAST(FLOOR(1000000.0 * ln(CAST(cnt AS DOUBLE) /
               CAST(tot AS DOUBLE))) AS BIGINT) AS cost
           FROM v0p, (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM v0p) s)"""
    val perRound = (1 to rounds).flatMap { r =>
      val eSel = (1 to maxLen).map(i =>
        s"SELECT w, c, bp FROM b${r}_$i WHERE len(w) = $i")
        .mkString(" UNION ALL ")
      val em = Seq(
        s"e$r AS MATERIALIZED ($eSel)",
        s"""u$r AS MATERIALIZED (
             SELECT piece, CAST(SUM(c) AS BIGINT) AS u FROM (
               SELECT c, UNNEST(string_split(bp, ' ')) AS piece
               FROM e$r) t
             GROUP BY 1)""",
        s"""v${r}p AS MATERIALIZED (
             SELECT v.piece,
               COALESCE(u.u, 0) +
                 CASE WHEN len(v.piece) = 1 THEN 1 ELSE 0 END AS cnt
             FROM v${r - 1} v LEFT JOIN u$r u USING (piece)
             WHERE COALESCE(u.u, 0) > 0 OR len(v.piece) = 1)""",
        s"""v$r AS MATERIALIZED (
             SELECT piece, CAST(cnt AS BIGINT) AS cnt,
               -CAST(FLOOR(1000000.0 * ln(CAST(cnt AS DOUBLE) /
                 CAST(tot AS DOUBLE))) AS BIGINT) AS cost
             FROM v${r}p, (SELECT CAST(SUM(cnt) AS BIGINT) AS tot
               FROM v${r}p) s)""")
      ulmViterbiChainCtes(r, s"v${r - 1}", maxPiece, maxLen) ++ em
    }
    Seq(wd, sub, v0) ++ perRound
  }

  /** Generated DuckDB replay of TextAnalysis.ulmTrain (q284): seed
    * substring counts over the distinct-word dictionary, then per
    * round a CHAINED-CTE Viterbi (one b-table per word position —
    * the bounded-unroll encoding of the DP the Spark side runs as a
    * row-local nested `aggregate` HOF; two independent encodings of
    * the identical recurrence) followed by the usage re-count and
    * cost re-estimation. Tie-break = ORDER BY (cost, n, path) with
    * rk=1, the oracle twin of the Spark struct total order. maxLen
    * caps the unroll: a dictionary word longer than maxLen would
    * drop from the usage count and fail the gate loudly (fixture max
    * is 8).
    */
  private def ulmTrainOracleSql(
      rounds: Int, multiK: Int, maxPiece: Int, maxLen: Int): String =
    ulmCtes(rounds, multiK, maxPiece, maxLen)
      .mkString("WITH ", ",\n", "\n") +
      s"SELECT piece, cnt AS n_uses, cost AS cost_micro FROM v$rounds"

  /** Generated DuckDB replay of TextAnalysis.ulmEncode (q285): the
    * training prefix through v{rounds}, one more Viterbi chain under
    * the final costs, then per-document word explode + dictionary
    * join + doc-grain aggregate — the identical plan shape the
    * engine runs.
    */
  private def ulmEncodeOracleSql(
      rounds: Int, multiK: Int, maxPiece: Int, maxLen: Int): String = {
    val enc = rounds + 1
    val encSel = (1 to maxLen).map(i =>
      s"SELECT w, bn FROM b${enc}_$i WHERE len(w) = $i")
      .mkString(" UNION ALL ")
    val ctes = ulmCtes(rounds, multiK, maxPiece, maxLen) ++
      ulmViterbiChainCtes(enc, s"v$rounds", maxPiece, maxLen) ++ Seq(
      s"enc AS MATERIALIZED ($encSel)",
      s"""dw AS (
           SELECT doc_id, UNNEST(string_split($normText, ' ')) AS w
           FROM documents)""")
    ctes.mkString("WITH ", ",\n", "\n") +
      s"""SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(bn) AS BIGINT) AS n_pieces,
          CAST(CAST(SUM(bn) AS BIGINT) * 1000000 //
            CAST(COUNT(*) AS BIGINT) AS BIGINT) AS ppw_micro
          FROM dw JOIN enc USING (w) WHERE w <> '' GROUP BY 1"""
  }

  /** One BPE argmax round over CTE `from`: the (count desc, left asc,
    * right asc) most frequent adjacent symbol pair of its chr(1)-
    * delimited streams, as CTE `name`.
    */
  private def bpeArgmaxCte(name: String, from: String): String =
    s"""$name AS MATERIALIZED (
         SELECT l, r, COUNT(*) AS n FROM (
           SELECT syms[i] AS l, syms[i+1] AS r FROM
             (SELECT string_split(trim(stream, chr(1)), chr(1)||chr(1))
                AS syms FROM $from) t,
             UNNEST(range(1, len(syms))) u(i))
         GROUP BY 1, 2 ORDER BY n DESC, l ASC, r ASC LIMIT 1)"""

  /** One BPE merge apply: CTE `from`'s streams with pair CTE `p`
    * merged by the sentinel replace, as CTE `name`; `carry` is a
    * column prefix kept alongside the stream (e.g. "doc_id, ").
    */
  private def bpeApplyCte(
      name: String, from: String, p: String, carry: String = ""): String =
    s"""$name AS MATERIALIZED (
         SELECT ${carry}replace($from.stream,
                        chr(1) || $p.l || chr(1) || chr(1) || $p.r || chr(1),
                        chr(1) || $p.l || $p.r || chr(1)) AS stream
         FROM $from, $p)"""

  /** Every character of `text` wrapped in chr(1) sentinels (the q155
    * s0 stream; a literal chr(1) in the text is dropped first).
    */
  private val bpeCharStream =
    """regexp_replace(replace(text, chr(1), ''), '(?s)(.)',
                                 chr(1) || '\1' || chr(1), 'g')"""

  /** Generated DuckDB replay of TextAnalysis.bpeTrain (q155): the
    * same N-round BPE loop as chained CTEs — s0 wraps every char in
    * chr(1) sentinels, then per round p_r computes the (count desc,
    * left asc, right asc) argmax pair over s_{r-1} and s_r applies
    * the merge with the identical sentinel-replace. Every CTE is
    * MATERIALIZED: each s_r is referenced twice (by p_{r+1} and
    * s_{r+1}), so DuckDB's default CTE inlining would expand the
    * chain to 2^N scans of the corpus (the N=20 plan never finishes);
    * materialization makes it N linear passes, the oracle twin of
    * the Spark side's per-round localCheckpoint.
    */
  private def bpeTrainOracleSql(rounds: Int): String = {
    val s0 =
      s"""s0 AS MATERIALIZED (
           SELECT $bpeCharStream AS stream
           FROM documents WHERE length(text) >= 2)"""
    val perRound = (1 to rounds).flatMap { r =>
      Seq(bpeArgmaxCte(s"p$r", s"s${r - 1}"),
        bpeApplyCte(s"s$r", s"s${r - 1}", s"p$r"))
    }
    val selects = (1 to rounds).map(r =>
      s"""SELECT $r AS merge_round, l AS left_sym, r AS right_sym,
          l || r AS merged, n FROM p$r""")
    (Seq(s0) ++ perRound).mkString("WITH ", ",\n", "\n") +
      selects.mkString(" UNION ALL ") + " ORDER BY merge_round"
  }

  /** Generated DuckDB replay of TextAnalysis.bpeTrainBytes (q164):
    * the q155 CTE chain over hex-pair byte symbols — s0 hexes the
    * UTF-8 encoding and wraps each two-char pair in sentinels; v0
    * counts the observed base alphabet; the final select filters the
    * per-round argmax rows to the vocab-target stop computed IN SQL
    * (least(maxRounds, greatest(0, target - v0))), the identical
    * arithmetic the Spark side applies before looping. Both engines
    * render hex uppercase, so symbols compare byte-for-byte.
    */
  private def bpeTrainBytesOracleSql(
      vocabTarget: Int, maxRounds: Int): String = {
    val s0 =
      """s0 AS MATERIALIZED (
           SELECT regexp_replace(hex(encode(text)), '(..)',
                                 chr(1) || '\1' || chr(1), 'g') AS stream
           FROM documents WHERE octet_length(encode(text)) >= 2)"""
    val v0 =
      """v0 AS MATERIALIZED (
           SELECT COUNT(DISTINCT s) AS v FROM (
             SELECT unnest(string_split(trim(stream, chr(1)),
                                        chr(1)||chr(1))) AS s FROM s0))"""
    val perRound = (1 to maxRounds).flatMap { r =>
      Seq(bpeArgmaxCte(s"p$r", s"s${r - 1}"),
        bpeApplyCte(s"s$r", s"s${r - 1}", s"p$r"))
    }
    val unions = (1 to maxRounds).map(r =>
      s"""SELECT $r AS merge_round, l AS left_sym, r AS right_sym,
          l || r AS merged, n FROM p$r""").mkString(" UNION ALL ")
    (Seq(s0, v0) ++ perRound).mkString("WITH ", ",\n", "\n") +
      s"""SELECT merge_round, left_sym, right_sym, merged, n,
          v0.v + merge_round AS vocab_size
          FROM ($unions) m, v0
          WHERE merge_round <=
            least($maxRounds, greatest(0, $vocabTarget - v0.v))
          ORDER BY merge_round"""
  }

  /** Generated DuckDB replay of TextAnalysis.bpeExtend (q173): three
    * chained stages as one MATERIALIZED CTE pipeline — (1) the q155
    * train chain over the day-1 slice (doc_id % 2 = 0), (2) the
    * frozen-merge APPLY over the full corpus (one replace per base
    * round, no argmax — the merges come from stage 1's tp CTEs), and
    * (3) the continue chain: argmax+replace rounds over the applied
    * streams, numbered after the base rounds.
    */
  private def bpeExtendOracleSql(
      baseRounds: Int, extraRounds: Int): String = {
    val ts0 =
      s"""ts0 AS MATERIALIZED (
           SELECT $bpeCharStream AS stream
           FROM documents WHERE doc_id % 2 = 0 AND length(text) >= 2)"""
    val train = (1 to baseRounds).flatMap { r =>
      Seq(bpeArgmaxCte(s"tp$r", s"ts${r - 1}"),
        bpeApplyCte(s"ts$r", s"ts${r - 1}", s"tp$r"))
    }
    val fs0 =
      s"""fs0 AS MATERIALIZED (
           SELECT $bpeCharStream AS stream
           FROM documents WHERE length(text) >= 2)"""
    val applyChain = (1 to baseRounds).map { r =>
      bpeApplyCte(s"fs$r", s"fs${r - 1}", s"tp$r")
    }
    val ext = (1 to extraRounds).flatMap { e =>
      val prev = if (e == 1) s"fs$baseRounds" else s"es${e - 1}"
      Seq(bpeArgmaxCte(s"ep$e", prev), bpeApplyCte(s"es$e", prev, s"ep$e"))
    }
    val baseSel = (1 to baseRounds).map(r =>
      s"""SELECT 'base' AS phase, $r AS merge_round, l AS left_sym,
          r AS right_sym, l || r AS merged, n FROM tp$r""")
    val extSel = (1 to extraRounds).map(e =>
      s"""SELECT 'ext' AS phase, ${baseRounds + e} AS merge_round,
          l AS left_sym, r AS right_sym, l || r AS merged, n FROM ep$e""")
    (Seq(ts0) ++ train ++ Seq(fs0) ++ applyChain ++ ext)
      .mkString("WITH ", ",\n", "\n") +
      (baseSel ++ extSel).mkString(" UNION ALL ") + " ORDER BY merge_round"
  }

  /** Generated DuckDB replay of TextAnalysis.bpeEncode (q157): the
    * q155 training chain with doc_id carried through every s_r (the
    * pair-count CTEs read only the stream column, so counts — and
    * therefore the learned merges — are identical), then the final
    * round's streams ARE the encoded corpus: one tail select derives
    * the per-doc token stats. Carrying doc_id instead of appending a
    * second apply chain keeps the oracle at N linear passes, not 2N.
    */
  private def bpeEncodeChainSql(rounds: Int): String = {
    val s0 =
      s"""s0 AS MATERIALIZED (
           SELECT doc_id, $bpeCharStream AS stream
           FROM documents WHERE length(text) >= 2)"""
    val perRound = (1 to rounds).flatMap { r =>
      Seq(bpeArgmaxCte(s"p$r", s"s${r - 1}"),
        bpeApplyCte(s"s$r", s"s${r - 1}", s"p$r", carry = "doc_id, "))
    }
    (Seq(s0) ++ perRound).mkString("WITH ", ",\n", "\n")
  }

  private def bpeEncodeOracleSql(rounds: Int, headN: Int): String =
    bpeEncodeChainSql(rounds) +
      s"""SELECT doc_id, len(syms) AS n_tokens,
          len(list_distinct(syms)) AS n_unique,
          array_to_string(syms[1:$headN], ',') AS head_toks
          FROM (SELECT doc_id,
                  string_split(trim(stream, chr(1)), chr(1)||chr(1)) AS syms
                FROM s$rounds)"""

  /** Generated replay of TextAnalysis.tokenizerFertility (q238): the
    * q157 chain, tail-aggregated to the language domain.
    */
  private def tokenizerFertilityOracleSql(rounds: Int): String =
    bpeEncodeChainSql(rounds) +
      s"""SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(length(replace(d.text, chr(1), ''))) AS BIGINT)
            AS n_chars,
          CAST(SUM(len(string_split(trim(e.stream, chr(1)),
            chr(1)||chr(1)))) AS BIGINT) AS n_tokens,
          CAST((CAST(SUM(length(replace(d.text, chr(1), ''))) AS BIGINT)
              * 1000000)
            // CAST(SUM(len(string_split(trim(e.stream, chr(1)),
              chr(1)||chr(1)))) AS BIGINT) AS BIGINT)
            AS chars_per_token_micro
          FROM s$rounds e JOIN documents d ON d.doc_id = e.doc_id
          GROUP BY 1"""

  /** SQL twin of Relational.scd2Merge with the same date parameters:
    * a WITH prefix ending in `scd2_hist` (closed / carried / opened
    * branches over the replayed snapshot mutations). Callers append
    * their SELECT.
    */
  private def scd2HistSql(epoch: String, asOf: String): String =
    s"""WITH snap AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED'
                  ELSE c_mktsegment END AS c_mktsegment,
             c_nationkey
           FROM customer WHERE c_custkey % 101 <> 0
           UNION ALL
           SELECT c_custkey + 1000000, c_mktsegment, c_nationkey
           FROM customer WHERE c_custkey % 103 = 0),
         hist AS (SELECT c_custkey, c_mktsegment, c_nationkey FROM customer),
         scd2_hist AS (
           SELECT h.c_custkey, h.c_mktsegment, h.c_nationkey,
             DATE '$epoch' AS valid_from,
             DATE '$asOf' AS valid_to, FALSE AS is_current
           FROM hist h LEFT JOIN snap s USING (c_custkey)
           WHERE s.c_custkey IS NULL
              OR s.c_mktsegment <> h.c_mktsegment
              OR s.c_nationkey <> h.c_nationkey
           UNION ALL
           SELECT h.c_custkey, h.c_mktsegment, h.c_nationkey,
             DATE '$epoch', CAST(NULL AS DATE), TRUE
           FROM hist h JOIN snap s USING (c_custkey)
           WHERE s.c_mktsegment = h.c_mktsegment
             AND s.c_nationkey = h.c_nationkey
           UNION ALL
           SELECT s.c_custkey, s.c_mktsegment, s.c_nationkey,
             DATE '$asOf', CAST(NULL AS DATE), TRUE
           FROM snap s LEFT JOIN hist h USING (c_custkey)
           WHERE h.c_custkey IS NULL
              OR h.c_mktsegment <> s.c_mktsegment
              OR h.c_nationkey <> s.c_nationkey)"""

  /** SQL twin of Vectors.l2normalize over the embeddings table. */
  private val normalizedVectors =
    """SELECT vec_id,
       list_transform(embedding,
         x -> CASE WHEN nrm > 0 THEN CAST(x AS DOUBLE)/nrm ELSE 0.0 END) AS v
       FROM (SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
         FROM embeddings)"""

  /** Generated DuckDB replay of Similarity.annIvfTrained (q163): the
    * full Lloyd's loop as chained MATERIALIZED CTEs (the q155
    * generated-replay precedent) — per iteration i: s_i scores every
    * (vector, centroid) pair, a_i takes the row_number()=1 argmax
    * assignment, m_i computes the per-(cell, position) mean with the
    * SAME fixed-point arithmetic as the Spark side (coordinates floor
    * to BIGINT pico-units, one double division Σ/(n·10¹²) — bit-equal
    * under IEEE in both engines), n_i/c_i reassemble + l2-normalize,
    * empty cells COALESCE to the previous centroid. After `iters`
    * rounds the q32 serve replay runs verbatim against c_iters.
    */
  private def ivfTrainedOracleSql(iters: Int): String = {
    val head = Seq(
      s"u AS MATERIALIZED ($normalizedVectors)",
      """c0 AS MATERIALIZED (
           SELECT vec_id AS c_id, v AS cv FROM u WHERE vec_id < 16)""")
    val perIter = (1 to iters).flatMap { i =>
      Seq(
        s"""s$i AS MATERIALIZED (
           SELECT u.vec_id, c_id,
             list_sum(list_transform(list_zip(u.v, cv), p -> p[1] * p[2])) AS sim
           FROM u CROSS JOIN c${i - 1})""",
        s"""a$i AS MATERIALIZED (
           SELECT vec_id, c_id FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY sim DESC, c_id ASC) AS rn
             FROM s$i) WHERE rn = 1)""",
        s"""m$i AS MATERIALIZED (
           SELECT c_id, pos,
             CAST(SUM(xq) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS mx
           FROM (
             SELECT a.c_id, t.pos,
               CAST(FLOOR(u.v[CAST(t.pos AS INT)] * 1e12) AS BIGINT) AS xq
             FROM a$i a JOIN u ON u.vec_id = a.vec_id,
               UNNEST(range(1, len(u.v) + 1)) t(pos))
           GROUP BY 1, 2)""",
        s"""c$i AS MATERIALIZED (
           SELECT p.c_id, COALESCE(nv.cv_new, p.cv) AS cv
           FROM c${i - 1} p LEFT JOIN (
             SELECT c_id,
               list_transform(mean,
                 x -> CASE WHEN nrm > 0 THEN x / nrm ELSE 0.0 END) AS cv_new
             FROM (
               SELECT c_id, mean,
                 sqrt(list_sum(list_transform(mean, x -> x * x))) AS nrm
               FROM (SELECT c_id, list(mx ORDER BY pos) AS mean
                     FROM m$i GROUP BY 1))) nv ON nv.c_id = p.c_id)""")
    }
    val sF =
      s"""sF AS MATERIALIZED (
         SELECT u.vec_id, c_id,
           list_sum(list_transform(list_zip(u.v, cv), p -> p[1] * p[2])) AS sim
         FROM u CROSS JOIN c$iters)"""
    (head ++ perIter :+ sF).mkString("WITH ", ",\n", ",\n") + ivfServeSql("sF")
  }

  /** DuckDB replay of the persisted-PQ serve path (q156, and the
    * q160 streaming / q161 incremental twins): full-build codes,
    * per-query ADC with integer pico distances, top-k by
    * (adc, vec_id).
    */
  private def pqPersistedServeOracle: String =
    s"""WITH $pqAdcCtes
         SELECT q_id, vec_id, adc_pico, CAST(rn AS INTEGER) AS rn FROM (
           SELECT q_id, vec_id, adc_pico,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY adc_pico ASC, vec_id ASC) AS rn
           FROM adc)
         WHERE rn <= 10"""

  def oracleSql: Map[String, String] = Map(
    "q01_scan_1a" ->
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000.0",
    "q02_scan_1b" ->
      "SELECT p_partkey, p_retailprice FROM part WHERE p_retailprice > 915.0",
    "q03_project_scalar" ->
      """SELECT c_custkey, substr(c_name, 1, 8) AS name_prefix,
         CAST(c_acctbal AS DOUBLE) AS acctbal FROM customer""",
    "q04_agg_2a" -> agg2aOracle,
    "q05_agg_multi" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         MIN(l_quantity) AS min_qty,
         MAX(l_extendedprice) AS max_price,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY 1, 2""",
    "q06_global_sum" -> globalSumOracle,
    // q403 is the O8 reduction tree (depth-3 keyed-agg chain) over the
    // same money sum — one oracle, two topologies: the tree must be
    // row-identical to the one-shuffle q06 plan
    "q403_tree_reduce" -> globalSumOracle,
    "q07_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q08_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q18_mapreduce_typed" -> agg2aOracle,
    // q19 reads the CSV/CSV.gz render of `events` (with injected bad
    // lines dropped); lossless round-trip makes the parquet-side
    // aggregate the exact oracle for the whole CSV source lifecycle.
    "q19_csv_lifecycle" -> agg2aOracle,
    // q59 reads the JSON/JSON.gz render of `events` (injected bad
    // lines dropped); the lossless round-trip makes the parquet-side
    // aggregate the exact oracle — same device as q19.
    "q59_json_lifecycle" -> agg2aOracle,
    // q106 reads the XML render of `events` (native Spark 4 XML
    // datasource; injected malformed rows dropped) — the q19 device
    // on the fifth text encoding.
    "q106_xml_lifecycle" -> agg2aOracle,
    // q63 reads the ORC render of `events` (lossless columnar
    // round-trip) — same device as q19/q59.
    "q63_orc_lifecycle" -> agg2aOracle,
    // q82 reads the SequenceFile/SequenceFile+Snappy render of
    // `events` (injected bad records dropped); the lossless text
    // round-trip of (long, string, double) makes the parquet-side
    // aggregate the exact oracle — the q19 device on the reference's
    // advertised-but-unimplemented `sequence|sequence-snappy` layouts.
    "q82_sequencefile" -> agg2aOracle,
    // q85 reads events back through the shatter-then-compact cycle;
    // the rewrite is lossless so the parquet-side aggregate is exact.
    "q85_compaction" ->
      """SELECT event_type, COUNT(*) AS n_rows,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1""",
    // q93: dynamic partition overwrite — the oracle replays the
    // day-5 correction; a STATIC overwrite (whole-table truncate)
    // would leave only one day and fail every other group's row.
    "q93_partition_overwrite" ->
      """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
         CAST(SUM(CAST(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
                            THEN value * 2 ELSE value END
                       AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1""",
    // q64 aggregates the 'click' slice of the partitionBy(event_type)
    // layout; the Spark side must get there via partition pruning
    // (plan-asserted), the oracle via a plain WHERE.
    "q64_partition_pruning" ->
      """SELECT user_id % 10 AS user_bucket, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events WHERE event_type = 'click' GROUP BY 1""",
    // q72: the mergeSchema union of v1 (no user_id) and v2 layouts —
    // n_with_user must count exactly the v2 (odd event_id) rows.
    "q72_schema_evolution" ->
      """SELECT event_type, COUNT(*) AS n_rows,
         COUNT(CASE WHEN event_id % 2 = 1 THEN user_id END) AS n_with_user,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1""",
    // q73: built-in session_window semantics — window end = last
    // event + 30 min; Spark MERGES events exactly gapDuration apart
    // (verified by direct execution), so a NEW session starts only
    // when the gap is STRICTLY greater than 30 min. event_id rides
    // the cumsum tiebreak so tied timestamps order deterministically.
    "q73_session_window" -> sessionWindowOracle,
    // q140: the STREAMING native session_window run to completion —
    // the state store's window-merge implementation must reach the
    // identical session set as batch q73, so it shares the oracle
    // verbatim.
    "q140_stream_session_window" -> sessionWindowOracle,
    // q58: Bloom pre-filter + exact semi join must be row-identical to
    // the plain semi join (no false negatives; positives cleaned by
    // the exact join) — so the oracle is the plain EXISTS.
    "q58_bloom_semi_join" ->
      """SELECT l_orderkey, l_extendedprice FROM lineitem
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_orderkey = l_orderkey AND o_totalprice > 300000.0)""",
    // q60: exact probe-user counts hash-compared; the count-min-sketch
    // estimate is folded into approx_ok via the CMS guarantee band
    // [exact, exact + eps*N] (q39/q48 bound-fold device).
    "q60_cms_frequency" -> cmsProbeOracle,
    // q159: the streaming-maintained CMS must land exactly where the
    // batch sketch does — same probe contract, same exact-count
    // oracle as q60 (register adds commute, so the micro-batch split
    // cannot change the final matrix).
    "q159_stream_cms" -> cmsProbeOracle,
    // q67: per-day HLL sketches merged across days (the daily rollup);
    // the merged estimate must land inside the q39 bound.
    "q67_hll_daily_merge" -> hllExactOracle,
    "q09_join_broadcast" ->
      """SELECT c_mktsegment,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "q10_join_large" -> joinRevenueOracle,
    "q11_join_star" ->
      """SELECT r_name,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         COUNT(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1""",
    "q12_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""",
    "q13_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""",
    "q14_window_top" -> windowTopOracle,
    // q89 computes q14's rows through the bounded-buffer TopK
    // aggregate instead of a window — SAME oracle text: row identity
    // between the two plans is driver-checked, not claimed.
    "q89_topk_agg" -> windowTopOracle,
    "q15_union" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 450000.0""",
    "q16_events_hourly" -> eventsHourlyOracle,
    // q47 is the STREAMING run of the same aggregate (file-source →
    // watermark → windowed agg via Trigger.AvailableNow); tumbling 1 h
    // windows are epoch-aligned, so window.start == date_trunc('hour')
    // and the batch oracle is exact.
    "q47_stream_hourly" -> eventsHourlyOracle,
    // q81 is q47's aggregate exiting through the PRODUCTION sink
    // (foreachBatch → parquet, checkpointed, idempotent overwrite)
    // and read back from the files — same exact oracle.
    "q81_stream_file_sink" -> eventsHourlyOracle,
    // q56: sliding 2h/1h windows — every event is in exactly two
    // hour-aligned windows, replayed by the two-element UNNEST.
    "q56_stream_sliding" ->
      """SELECT w_start, event_type, COUNT(*) AS n_events
         FROM (SELECT event_type,
                 UNNEST([date_trunc('hour', ts),
                         date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start
               FROM events)
         GROUP BY 1, 2""",
    // q57: stream-static broadcast-dimension join; the deterministic
    // tier dimension is inlined in SQL.
    "q57_stream_tier_join" ->
      """SELECT date_trunc('hour', ts) AS hour,
         'tier_' || CAST(user_id % 3 AS VARCHAR) AS tier,
         COUNT(*) AS n_events
         FROM events GROUP BY 1, 2""",
    // q62: stream-stream join (purchase x preceding-hour clicks by the
    // same user) — the streaming state machine must emit exactly the
    // batch range join.
    "q62_stream_attribution" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
         p.ts AS purchase_ts, c.ts AS click_ts, p.value
         FROM events p JOIN events c
           ON p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts""",
    // q105: stream-stream LEFT OUTER — matched rows are the plain
    // range join; unmatched clicks appear with NULLs only if their
    // match window closed before the final watermark, which
    // AvailableNow pins at min(max click ts, max purchase ts) − the
    // 1 h delay (global watermark = min over inputs). Clicks newer
    // than that never became final and are NOT emitted.
    "q105_stream_outer_join" ->
      """WITH clicks AS (
           SELECT event_id AS click_id, user_id, ts AS click_ts
           FROM events WHERE event_type = 'click'),
         purch AS (
           SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
           FROM events WHERE event_type = 'purchase'),
         wm AS (
           SELECT least(cm.m, pm.m) - INTERVAL 1 HOUR AS w
           FROM (SELECT max(click_ts) AS m FROM clicks) cm,
                (SELECT max(purchase_ts) AS m FROM purch) pm)
         SELECT c.click_id, c.user_id, c.click_ts, p.purchase_id, p.value
         FROM clicks c LEFT JOIN purch p
           ON c.user_id = p.user_id
          AND p.purchase_ts >= c.click_ts
          AND p.purchase_ts < c.click_ts + INTERVAL 1 HOUR
         CROSS JOIN wm
         WHERE p.purchase_id IS NOT NULL
            OR c.click_ts + INTERVAL 1 HOUR <= wm.w""",
    // q65: the streaming side reads the fixture TWICE and dedups on
    // event_id — exactly half the rows must survive, i.e. the table.
    "q65_stream_dedup" ->
      "SELECT event_id, event_type, value FROM events",
    // q66: final state of the keyed mapGroupsWithState sessions —
    // integer counts and cents-accumulated money (round(v*100), exact
    // for positive 2-decimal values) replayed as a plain aggregate.
    "q66_stream_sessions" ->
      """SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
           AS total_value,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
         FROM events GROUP BY 1""",
    // q107: flatMapGroupsWithState session segmentation — q33's
    // 30-min sessionize, but emitted by the STREAM: sessions closed
    // inline by a later event always emit; each user's final open
    // session emits only if its event-time timeout (last event + gap,
    // ms) fired before the final watermark (global max ts − 1 h, ms).
    "q107_stream_segments" -> sessionSegmentsOracle,
    // q143: the SAME session-segment contract reached through Spark
    // 4's transformWithState processor (ValueState + explicit
    // event-time timers on RocksDB) — the state API itself changes,
    // the emitted sessions must not.
    "q143_tws_segments" -> sessionSegmentsOracle,
    "q17_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q26_json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1""",
    // q102: TPC-H Q5 shape over the full 6-table snowflake.
    "q102_tpch_q5" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1""",
    // q104: forward fill — LAST_VALUE IGNORE NULLS over a running
    // ROWS frame, (ts, event_id) ordering for deterministic ties;
    // NULLs injected on event_id%7=0; leading rows stay NULL. The
    // filled value is an existing double (no arithmetic), so the
    // compare is exact.
    "q104_forward_fill" ->
      """WITH nulled AS (
           SELECT event_id, user_id, ts,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
           FROM events)
         SELECT event_id, user_id, ts,
           LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value
         FROM nulled""",
    // q103: typed from_json parse; corrupt injection on event_id%97=0
    // must yield NULL k (PERMISSIVE), and min_json pins Spark's
    // to_json serialization ({"k":N}, no spaces) character-exactly.
    "q103_json_typed" ->
      """WITH parsed AS (
           SELECT event_type,
             CASE WHEN event_id % 97 = 0 THEN NULL
                  ELSE CAST(json_extract_string(props, '$.k') AS BIGINT)
             END AS k
           FROM events)
         SELECT event_type, COUNT(*) AS n_events, COUNT(k) AS n_parsed,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN('{"k":' || CAST(k AS VARCHAR) || '}') AS min_json
         FROM parsed GROUP BY 1""",
    "q27_cube" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q28_percentiles" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.25) AS p25,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.75) AS p75,
         quantile_cont(l_quantity, 0.95) AS p95,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY 1""",
    "q29_asof" ->
      """SELECT event_id, user_id, ts,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
         FROM events QUALIFY event_type = 'purchase'""",
    // q86: interval join — the Spark side reaches these rows through
    // the bin-equi-join rewrite (explode windows onto hour bins, hash
    // join on bin, exact range filter); the oracle states the naive
    // theta join. Same rows by construction: binning is a superset
    // prefilter and each event has exactly one bin.
    "q86_interval_join" ->
      """WITH w AS (
           SELECT user_id AS owner_id, MIN(ts) AS w_start,
                  MIN(ts) + INTERVAL 2 HOUR AS w_end
           FROM events WHERE user_id % 13 = 0 GROUP BY 1)
         SELECT owner_id, w_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
         GROUP BY 1, 2""",
    // q87: trailing 1-hour per-user rolling aggregate — RANGE frame
    // on the time axis, peers included, so tie rows agree across
    // engines with no tiebreak column. INTERVAL bound in DuckDB ==
    // the [-3600000000, 0] micros rangeBetween on the Spark side.
    "q87_rolling_window" ->
      """SELECT event_id, user_id, ts,
         COUNT(*) OVER w AS n_1h,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""",
    // q88: snapshot diff — the oracle replays v2's deterministic
    // mutations (drop %101, bump value on %7, re-key %103 as inserts)
    // and classifies by full outer join; the Spark side must reach
    // the identical classification through its parquet render +
    // fingerprint compare.
    "q88_table_diff" ->
      """WITH v1 AS (SELECT event_id, event_type, value FROM events),
         v2 AS (
           SELECT event_id, event_type,
             value + CASE WHEN event_id % 7 = 0 THEN 1.0 ELSE 0 END AS value
           FROM events WHERE event_id % 101 <> 0
           UNION ALL
           SELECT event_id + 10000000, event_type, value
           FROM events WHERE event_id % 103 = 0)
         SELECT COALESCE(v1.event_id, v2.event_id) AS event_id,
           CASE WHEN v1.event_id IS NULL THEN 'added'
                WHEN v2.event_id IS NULL THEN 'removed'
                WHEN v1.event_type <> v2.event_type
                  OR CAST(v1.value AS DECIMAL(18,2))
                     <> CAST(v2.value AS DECIMAL(18,2)) THEN 'changed'
           END AS change
         FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id
         WHERE CASE WHEN v1.event_id IS NULL THEN 'added'
                WHEN v2.event_id IS NULL THEN 'removed'
                WHEN v1.event_type <> v2.event_type
                  OR CAST(v1.value AS DECIMAL(18,2))
                     <> CAST(v2.value AS DECIMAL(18,2)) THEN 'changed'
           END IS NOT NULL""",
    // q108: SCD2 snapshot merge — the apply step of q88's diff. The
    // oracle constructs the merged history by three-way UNION ALL
    // (closed / carried / opened) over the replayed snapshot
    // mutations; the Spark side must reach the identical history
    // through its single full-outer join + fingerprint compare.
    "q108_scd2_merge" ->
      s"""${scd2HistSql("2020-01-01", "2021-01-01")}
         SELECT * FROM scd2_hist""",
    // q115: point-in-time join — the oracle is the key + interval-
    // containment LEFT join against the replayed history (disjoint
    // validity intervals, so at most one version matches); the Spark
    // side must reach identical enrichment through its union-sort
    // change-stream formulation.
    "q115_pit_join" ->
      s"""${scd2HistSql("1995-01-01", "1998-06-01")}
         SELECT o.o_orderkey, o.o_custkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           h.c_mktsegment AS seg_at_order,
           h.c_nationkey AS nat_at_order
         FROM orders o LEFT JOIN scd2_hist h
           ON h.c_custkey = o.o_custkey
          AND CAST(o.o_orderdate AS DATE) >= h.valid_from
          AND (h.valid_to IS NULL
               OR CAST(o.o_orderdate AS DATE) < h.valid_to)""",
    // q124: PageRank — the three integer fixed-point iterations
    // unrolled as CTEs; integer sums are order-independent, so the
    // loop result is bit-identical between engines.
    "q124_pagerank" -> {
      def it(prev: String) =
        s"""SELECT nodes.node,
            (15000000 // (100 * n.nn))
              + COALESCE(SUM(($prev.r * 85 * e.w) // (100 * o2.ow)), 0) AS r
          FROM nodes CROSS JOIN n
          LEFT JOIN edges e ON e.dst = nodes.node
          LEFT JOIN $prev ON $prev.node = e.src
          LEFT JOIN outw o2 ON o2.src = e.src
          GROUP BY nodes.node, n.nn"""
      s"""WITH edges AS (
           ${nationEdgesSql("src", "dst", crossOnly = false)}),
         outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
                  FROM edges GROUP BY 1),
         nodes AS (SELECT DISTINCT c_nationkey AS node FROM customer
                   UNION SELECT DISTINCT s_nationkey FROM supplier),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM nodes),
         r0 AS (SELECT node, CAST(1000000 // nn AS BIGINT) AS r
                FROM nodes CROSS JOIN n),
         r1 AS (${it("r0")}), r2 AS (${it("r1")}), r3 AS (${it("r2")})
         SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r3"""
    },
    // q203: Fisher separability — micro-int sufficient statistics,
    // identical-tree mean/variance chains, per-dim terms micro-
    // floored so the pair sum is an exact BIGINT; 10¹² sentinel for
    // zero-variance dims.
    "q203_separability" ->
      """WITH pts AS (
           SELECT label, i - 1 AS pos,
             CAST(FLOOR(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
           FROM (SELECT label, UNNEST(embedding) AS e,
             UNNEST(range(1, len(embedding) + 1)) AS i FROM embeddings)),
         stats AS (
           SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xq) AS BIGINT) AS s,
             CAST(SUM(xq * xq) AS BIGINT) AS q
           FROM pts GROUP BY 1, 2),
         pairs AS (
           SELECT a.label AS label_a, b.label AS label_b, a.pos,
             a.n AS na, b.n AS nb,
             CASE WHEN
               (CAST(a.q AS DOUBLE) / CAST(a.n AS DOUBLE) -
                 (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)) *
                 (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))) +
               (CAST(b.q AS DOUBLE) / CAST(b.n AS DOUBLE) -
                 (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) *
                 (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))) = 0
               THEN 1000000000000
               ELSE CAST(FLOOR(1000000.0 * (
                 ((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE) -
                   CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) *
                  (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE) -
                   CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))) /
                 ((CAST(a.q AS DOUBLE) / CAST(a.n AS DOUBLE) -
                   (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)) *
                   (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE))) +
                  (CAST(b.q AS DOUBLE) / CAST(b.n AS DOUBLE) -
                   (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) *
                   (CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))))))
                 AS BIGINT) END AS term
           FROM stats a JOIN stats b
             ON a.pos = b.pos AND a.label < b.label)
         SELECT label_a, label_b, MAX(na) AS n_a, MAX(nb) AS n_b,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(term) AS BIGINT) AS fisher_micro,
           CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE) /
             (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS fisher_per_dim
         FROM pairs GROUP BY 1, 2""",
    // q201: k-anonymity/l-diversity — fixed-width integer length
    // decile as part of the quasi-identifier; exact counts; both
    // gates integer compares.
    "q201_kanon_audit" ->
      """WITH cells AS (
           SELECT source,
             LEAST(n_chars // 64, 9) AS len_bucket, lang,
             COUNT(*) AS c
           FROM documents GROUP BY 1, 2, 3)
         SELECT source, CAST(len_bucket AS BIGINT) AS len_bucket,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(SUM(c) AS BIGINT) >= 5 AS k_ok,
           CAST(COUNT(*) AS BIGINT) >= 2 AS l_ok,
           (CAST(SUM(c) AS BIGINT) < 5 OR CAST(COUNT(*) AS BIGINT) < 2)
             AS suppress
         FROM cells GROUP BY 1, 2""",
    // q202: dense rank — the oracle is the naive global window the
    // bucketed two-pass prefix device must equal exactly.
    "q202_dense_rank" ->
      """SELECT doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC)
           AS BIGINT) AS dense_id
         FROM documents""",
    // q200: watermark planner — the Spark side computes the running
    // max with the chunked two-pass prefix scan; the oracle is the
    // naive global window (same values); buckets/cum/bp all integer.
    "q200_watermark_planner" ->
      """WITH ev AS (
           SELECT event_id, epoch_us(ts) AS t_us FROM events),
         late AS (
           SELECT event_id,
             MAX(t_us) OVER (ORDER BY event_id ASC ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) - t_us AS late_us
           FROM ev),
         b AS (
           SELECT CASE WHEN late_us = 0 THEN 0
             WHEN late_us <= 60000000 THEN 1
             WHEN late_us <= 3600000000 THEN 2
             WHEN late_us <= 86400000000 THEN 3 ELSE 4 END AS bucket_id
           FROM late),
         hist AS (
           SELECT bucket_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM b GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist),
         cum AS (
           SELECT bucket_id, n,
             CAST(SUM(n) OVER (ORDER BY bucket_id ASC ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
           FROM hist),
         bp AS (
           SELECT bucket_id, n, cum_n,
             cum_n * 10000 // tot.total AS cum_bp
           FROM cum, tot)
         SELECT CAST(bucket_id AS BIGINT) AS bucket_id,
           CASE bucket_id WHEN 0 THEN 'on_time' WHEN 1 THEN 'le_1m'
             WHEN 2 THEN 'le_1h' WHEN 3 THEN 'le_1d'
             ELSE 'gt_1d' END AS bucket,
           n, cum_n, CAST(cum_bp AS BIGINT) AS cum_bp,
           cum_bp >= 9900 AND
             COALESCE(LAG(cum_bp) OVER (ORDER BY bucket_id), 0) < 9900
             AS is_watermark
         FROM bp""",
    // q199: label propagation — synchronous rounds + (weight desc,
    // label asc) tie-breaks make raw LPA deterministic; chained-CTE
    // replay (the q124 device).
    "q199_label_prop" -> {
      def it(prev: String) =
        s"""SELECT p.node, COALESCE(pick.lbl, p.lbl) AS lbl
          FROM $prev p LEFT JOIN (
            SELECT src, lbl FROM (
              SELECT e.src, p2.lbl,
                ROW_NUMBER() OVER (PARTITION BY e.src
                  ORDER BY SUM(e.w) DESC, p2.lbl ASC) AS rk
              FROM und e JOIN $prev p2 ON p2.node = e.dst
              GROUP BY e.src, p2.lbl) v
            WHERE rk = 1) pick ON pick.src = p.node"""
      s"""WITH edges AS (
           ${nationEdgesSql("src", "dst")}),
         und AS (
           SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
             SELECT src, dst, w FROM edges
             UNION ALL SELECT dst, src, w FROM edges) u
           GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT c_nationkey AS node FROM customer
                   UNION SELECT DISTINCT s_nationkey FROM supplier),
         l0 AS (SELECT node, node AS lbl FROM nodes),
         l1 AS (${it("l0")}), l2 AS (${it("l1")}), l3 AS (${it("l2")})
         SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS label,
           CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS n_members
         FROM l3"""
    },
    // q137: k-hop reachability — the ONE-TEXT recursive form (edge
    // build folded into the CTE list, free under DuckDB's CTE
    // materialization; the Spark side materializes the tiny edge
    // list first and shares only the recursion text — see
    // Graph.khopReachability). UNION ALL + the shared `d < 4` cap
    // enumerate identical walk sets; MIN collapses walks to hops.
    "q137_khop_reachability" ->
      """WITH RECURSIVE trade AS (
           SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             COUNT(*) AS n_ship
           FROM orders o
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           WHERE c.c_nationkey <> s.s_nationkey
           GROUP BY c.c_nationkey, s.s_nationkey),
         edges AS (
           SELECT src, dst FROM (
             SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                 ORDER BY n_ship DESC, dst ASC) AS rk
             FROM trade) ranked
           WHERE rk <= 3),
         hops(root, node, d) AS (
           SELECT CAST(src AS INT) AS root, CAST(src AS INT) AS node,
                  CAST(0 AS INT) AS d
           FROM (SELECT DISTINCT src FROM edges) seeds
           UNION ALL
           SELECT h.root AS root, CAST(e.dst AS INT) AS node,
                  CAST(h.d + 1 AS INT) AS d
           FROM hops h JOIN edges e ON e.src = h.node
           WHERE h.d < 4)
         SELECT root, node, MIN(d) AS min_hops
         FROM hops GROUP BY root, node""",
    // q138: VARIANT path extraction — the oracle recomputes every
    // extracted value DIRECTLY from the base columns (json_extract
    // for the real payload, plain arithmetic/concat for the
    // constructed one), so the Spark side's parse_json→variant_get
    // round-trip must be lossless; schema strings and the compact
    // to_json rendering are pinned as literals/concat.
    "q138_variant_path" ->
      """SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed,
           CAST(NULL AS BIGINT) AS k_missing,
           'OBJECT<k: BIGINT>' AS vschema,
           concat('{"k":', CAST(json_extract(props, '$.k') AS BIGINT),
                  '}') AS vtext,
           CAST(NULL AS DATE) AS k_baddate,
           event_type AS et2,
           CAST(floor(value * 100) AS BIGINT) AS amt,
           concat('u', CAST(user_id % 10 AS VARCHAR)) AS tag1,
           CAST(NULL AS BIGINT) AS et_badnum,
           'OBJECT<amt_cents: BIGINT, et: STRING, tags: ARRAY<STRING>>'
             AS v2schema
         FROM events""",
    // q126: triangle counting — same low→high edge orientation, the
    // heavy-edge filter compared by integer cross-multiplication
    // (w·ne·10 ≥ tw·12) so no float boundary can flip between
    // engines; each triangle (a<b<c) is enumerated exactly once.
    "q126_triangles" ->
      s"""WITH ${heavyEdgeCtes(materialized = false)},
         ed AS (SELECT u, v FROM ed0, tot WHERE w * ne * 10 >= tw * 12),
         tri AS (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM ed e1
           JOIN ed e2 ON e2.u = e1.v
           JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v)
         SELECT node, COUNT(*) AS n_triangles
         FROM (SELECT a AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri)
         GROUP BY node""",
    // q127: OHLC bars — the oracle's ROW_NUMBER over the total
    // (ts, event_id) order is the declarative twin of the Spark
    // side's min_by/max_by over the same lexicographic struct; both
    // engines' 5-minute tumbling buckets are epoch-aligned.
    "q127_ohlc" ->
      """WITH b AS (
           SELECT event_type,
             time_bucket(INTERVAL 5 MINUTE, ts) AS bucket,
             ts, event_id, value
           FROM events),
         r AS (
           SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, bucket
               ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, bucket
               ORDER BY ts DESC, event_id DESC) AS rn_z
           FROM b)
         SELECT event_type, bucket,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
           COUNT(*) AS n_events
         FROM r GROUP BY 1, 2""",
    // q129: two-proportion z-test — the z expression tree mirrors the
    // Spark side term for term (single IEEE divide/multiply/sqrt on
    // exact counts, no float accumulation), so the statistic is
    // bit-identical without tolerance.
    "q129_ab_test" ->
      """WITH per_unit AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
             user_id % 2 AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
           FROM events GROUP BY 1, 2, 3),
         c AS (
           SELECT
             COUNT(*) FILTER (WHERE variant = 0) AS n_a,
             COUNT(*) FILTER (WHERE variant = 1) AS n_b,
             CAST(SUM(converted) FILTER (WHERE variant = 0) AS BIGINT)
               AS conv_a,
             CAST(SUM(converted) FILTER (WHERE variant = 1) AS BIGINT)
               AS conv_b
           FROM per_unit)
         SELECT n_a, n_b, conv_a, conv_b,
           CAST(conv_a AS DOUBLE) / n_a AS rate_a,
           CAST(conv_b AS DOUBLE) / n_b AS rate_b,
           (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b)) AS z_score
         FROM c""",
    // q130: attribution detail — last-touch via the running
    // last_value IGNORE NULLS (union-stream, no self-join), 7-day
    // touch counts via the RANGE frame; output is selections and
    // integer counts only, so the compare is exact.
    "q130_attribution" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type IN ('click', 'view')
               THEN event_type END AS touch
           FROM events
           WHERE event_type IN ('click', 'view', 'purchase')),
         w AS (
           SELECT *,
             LAST_VALUE(touch IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_touch,
             COUNT(*) FILTER (WHERE touch = 'click') OVER
               (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
               AS n_clicks_7d,
             COUNT(*) FILTER (WHERE touch = 'view') OVER
               (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
               AS n_views_7d
           FROM u)
         SELECT event_id, user_id, ts, value, last_touch,
           n_clicks_7d, n_views_7d
         FROM w WHERE event_type = 'purchase'""",
    // q131: skyline — per-date max + running max over the bounded
    // date frame (ROWS ≡ strictly-prior dates: one row per date),
    // then join back; dominance comparisons on exact selections.
    "q131_skyline" ->
      """WITH dmax AS (
           SELECT CAST(o_orderdate AS DATE) AS d,
             MAX(o_totalprice) AS dp
           FROM orders GROUP BY 1),
         run AS (
           SELECT d, dp,
             MAX(dp) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_max
           FROM dmax),
         skyd AS (
           SELECT d, dp FROM run
           WHERE prior_max IS NULL OR dp > prior_max)
         SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d,
           o.o_totalprice
         FROM orders o
         JOIN skyd ON skyd.d = CAST(o.o_orderdate AS DATE)
           AND o.o_totalprice = skyd.dp""",
    // q132: key-skew report — sorted-index Gini on exact integers
    // (the only float op is the final division); ROW_NUMBER tie order
    // cannot change Σ i·cnt because ties share a cnt.
    "q132_skew_report" ->
      """WITH per_key AS (
           SELECT event_type, user_id, COUNT(*) AS cnt
           FROM events GROUP BY 1, 2),
         ranked AS (
           SELECT event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY cnt, user_id) AS i
           FROM per_key)
         SELECT event_type,
           COUNT(*) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           MAX(cnt) AS max_key_events,
           CAST(2 * SUM(i * cnt) - (COUNT(*) + 1) * SUM(cnt) AS DOUBLE)
             / CAST(COUNT(*) * SUM(cnt) AS DOUBLE) AS gini
         FROM ranked GROUP BY 1""",
    // q133: event-type co-occurrence — distinct (user, day, type)
    // units self-joined on the unit key; support is one IEEE division
    // of exact counts.
    "q133_cooccurrence" ->
      s"""WITH $userDayCtes,
         pairs AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_cooccur
           FROM ud a JOIN ud b ON a.user_id = b.user_id
             AND a.day = b.day AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, n_cooccur,
           CAST(n_cooccur AS DOUBLE) / n_units AS support
         FROM pairs, tot""",
    // q150: association rules — exact integer counts; confidence and
    // lift are pinned two-multiply/one-divide IEEE trees, identical
    // both engines.
    "q150_assoc_rules" ->
      s"""WITH $userDayCtes,
         marg AS (
           SELECT event_type, COUNT(*) AS n FROM ud GROUP BY 1),
         pairs AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_ab
           FROM ud a JOIN ud b ON a.user_id = b.user_id
             AND a.day = b.day AND a.event_type <> b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, ma.n AS n_a, mb.n AS n_b, n_ab,
           CAST(n_ab AS DOUBLE) / CAST(ma.n AS DOUBLE) AS confidence,
           (CAST(n_ab AS DOUBLE) * CAST(n_units AS DOUBLE)) /
             (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)) AS lift
         FROM pairs
         JOIN marg ma ON ma.event_type = type_a
         JOIN marg mb ON mb.event_type = type_b
         CROSS JOIN tot""",
    // q151: Kaplan–Meier in log space — per-step factors floor to
    // micro-nats (one division + one ln) so the survival product is
    // an order-independent BIGINT running sum; censored-at-t units
    // stay at risk at t (the standard convention); terminal n=d rows
    // drop on both sides.
    "q151_km_survival" ->
      """WITH units AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(epoch_us(ts)) AS t0,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN epoch_us(ts) END) AS tp,
             MAX(epoch_us(ts)) AS tl
           FROM events GROUP BY 1, 2),
         durs AS (
           SELECT (COALESCE(tp, tl) - t0) // 60000000 AS dur_min,
             tp IS NOT NULL AS died
           FROM units),
         by_dur AS (
           SELECT dur_min,
             CAST(SUM(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT)
               AS n_died,
             CAST(SUM(CASE WHEN died THEN 0 ELSE 1 END) AS BIGINT)
               AS n_censored
           FROM durs GROUP BY 1),
         risk AS (
           SELECT dur_min, n_died, n_censored,
             CAST(SUM(n_died + n_censored) OVER () -
               COALESCE(SUM(n_died + n_censored) OVER (
                 ORDER BY dur_min ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_at_risk
           FROM by_dur),
         alive AS (SELECT * FROM risk WHERE n_at_risk > n_died)
         SELECT dur_min, n_at_risk, n_died, n_censored,
           CAST(SUM(CAST(floor(1000000.0 * ln(
               CAST(n_at_risk - n_died AS DOUBLE) /
               CAST(n_at_risk AS DOUBLE))) AS BIGINT)) OVER (
             ORDER BY dur_min ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS log_surv_micro
         FROM alive""",
    // q134: CEP pattern match — the path string is built over the
    // total (ts, event_id) order in both engines, so the regex match
    // is deterministic; LENGTH/regexp semantics are in the portable
    // subset pinned by q94/q96.
    "q134_cep_pattern" ->
      """WITH seq AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
             string_agg(CASE event_type
               WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
               WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
               ELSE 'e' END, '' ORDER BY ts, event_id) AS path,
             COUNT(*) AS n_events
           FROM events GROUP BY 1, 2)
         SELECT user_id, day, path, n_events,
           regexp_matches(path, 'v+c+p') AS browse_buy,
           regexp_matches(path, 'e{2,}') AS error_burst,
           LENGTH(REGEXP_REPLACE(path, '[^p]', '', 'g')) AS n_purchases
         FROM seq
         WHERE regexp_matches(path, 'v+c+p')
            OR regexp_matches(path, 'e{2,}')""",
    // q145: LISTAGG WITHIN GROUP — DuckDB's ordered string_agg is
    // the same ordered-set aggregate; the (ts, event_id) order is
    // total, so paths are char-identical.
    "q145_listagg_paths" ->
      """SELECT user_id, CAST(ts AS DATE) AS day,
           string_agg(CASE event_type
             WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
             WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
             ELSE 'e' END, '' ORDER BY ts, event_id) AS path,
           COUNT(*) AS n_events
         FROM events GROUP BY 1, 2""",
    // q135: BPE round-1 pair counting — the (count desc, pair asc)
    // total order pins the top-50 set at ties; substr/length are
    // character-based in both engines (q96's Unicode pin).
    // q155: the full BPE merge loop — generated N-round CTE replay
    // (see bpeTrainOracleSql); rounds must equal the Spark default.
    "q155_bpe_train" -> bpeTrainOracleSql(TextAnalysis.bpeRounds),
    // q164: byte-level BPE with the vocab-size stop — the CTE chain
    // runs the maxRounds ceiling, the tail select applies the stop
    // from the in-SQL base-vocab count (params must equal the Spark
    // defaults: vocabTarget=33, maxRounds=12).
    "q164_bpe_bytes" -> bpeTrainBytesOracleSql(
      TextAnalysis.bpeBytesVocabTarget, TextAnalysis.bpeBytesMaxRounds),
    // q173: incremental vocab extension — generated train/apply/
    // continue chain (params must equal the Spark defaults 10, 5).
    "q173_bpe_extend" -> bpeExtendOracleSql(
      TextAnalysis.bpeExtendBaseRounds, TextAnalysis.bpeExtendExtraRounds),
    // q165: exact substring-span dedup — the four-stage replay
    // (rolling md5 grams, corpus-wide dup filter, gaps-and-islands
    // span merge, per-doc audit); spanLen/minCount must equal the
    // Spark defaults (50, 2). Islands SUM stays internal so the
    // HUGEINT trap never reaches the output (all output aggregates
    // CAST to BIGINT).
    "q165_substr_spans" ->
      """WITH docs AS MATERIALIZED (
           SELECT doc_id, text FROM documents WHERE length(text) >= 50),
         pos AS MATERIALIZED (
           SELECT doc_id, CAST(i AS BIGINT) AS i,
                  md5(substr(text, CAST(i AS INT), 50)) AS h
           FROM docs, UNNEST(range(1, length(text) - 50 + 2)) t(i)),
         dup AS MATERIALIZED (
           SELECT h FROM pos GROUP BY h HAVING COUNT(*) >= 2),
         dp AS (
           SELECT doc_id, i, i + 50 AS e FROM pos
           WHERE h IN (SELECT h FROM dup)),
         isl AS (
           SELECT doc_id, i, e,
             CASE WHEN prev_max_e IS NULL OR i > prev_max_e
                  THEN 1 ELSE 0 END AS brk
           FROM (SELECT doc_id, i, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_max_e
                 FROM dp)),
         isl2 AS (
           SELECT doc_id, i, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM isl),
         spans AS (
           SELECT doc_id, island, MIN(i) AS s, MAX(e) AS e
           FROM isl2 GROUP BY 1, 2),
         per_doc AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
                  CAST(SUM(e - s) AS BIGINT) AS dup_chars
           FROM spans GROUP BY 1)
         SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
           COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(p.dup_chars, 0) AS dup_chars,
           CAST(COALESCE(p.dup_chars, 0) AS DOUBLE) /
             CAST(length(d.text) AS DOUBLE) AS dup_frac
         FROM docs d LEFT JOIN per_doc p USING (doc_id)""",
    // q166: overlapping chunking — pure per-row expression replay;
    // chunkLen/stride must equal the Spark defaults (500, 400).
    // Integer // division mirrors Spark's exact double-then-cast.
    "q166_chunking" ->
      """SELECT doc_id,
           CAST((chunk_start - 1) // 400 AS BIGINT) AS chunk_idx,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(length(substr(text, CAST(chunk_start AS INT), 500))
             AS BIGINT) AS chunk_len,
           md5(CAST(doc_id AS VARCHAR) || ':' ||
             CAST(chunk_start AS VARCHAR)) AS chunk_uid,
           md5(substr(text, CAST(chunk_start AS INT), 500)) AS chunk_fp
         FROM (SELECT doc_id, text,
                 UNNEST(range(1, length(text) + 1, 400)) AS chunk_start
               FROM documents WHERE length(text) >= 1)""",
    // q167: Stupid Backoff trigram LM — count CTEs over the 'en'
    // slice, five gram lookups, the 3/2/1/0 backoff CASE with the
    // identical single-division-plus-literal-multiply branches, and
    // the q141 micro-nat floor; all output aggregates CAST to BIGINT.
    "q167_backoff_lm" ->
      s"""WITH docs AS MATERIALIZED (
           SELECT doc_id, lang, string_split($normText, ' ') AS toks
           FROM documents),
         d3 AS MATERIALIZED (SELECT * FROM docs WHERE len(toks) >= 3),
         en3 AS MATERIALIZED (SELECT toks FROM d3 WHERE lang = 'en'),
         uni AS MATERIALIZED (
           SELECT w AS g, CAST(COUNT(*) AS BIGINT) AS c FROM (
             SELECT UNNEST(toks) AS w FROM en3) GROUP BY 1),
         bi AS MATERIALIZED (
           SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM (
             SELECT array_to_string(toks[i:i+1], ' ') AS g
             FROM en3, UNNEST(range(1, len(toks))) u(i)) GROUP BY 1),
         tri AS MATERIALIZED (
           SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM (
             SELECT array_to_string(toks[i:i+2], ' ') AS g
             FROM en3, UNNEST(range(1, len(toks) - 1)) u(i)) GROUP BY 1),
         nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
         pos AS (
           SELECT doc_id, lang,
             array_to_string(toks[i:i+2], ' ') AS t3,
             array_to_string(toks[i:i+1], ' ') AS ctx2,
             array_to_string(toks[i+1:i+2], ' ') AS b2,
             toks[i+1] AS w2, toks[i+2] AS w3
           FROM d3, UNNEST(range(1, len(toks) - 1)) u(i)),
         sc AS (
           SELECT doc_id, lang,
             CASE WHEN COALESCE(t.c, 0) > 0 THEN 3
                  WHEN COALESCE(b2c.c, 0) > 0 THEN 2
                  WHEN COALESCE(u3.c, 0) > 0 THEN 1 ELSE 0 END AS lvl,
             CAST(floor(1000000.0 * ln(
               CASE WHEN COALESCE(t.c, 0) > 0
                      THEN CAST(t.c AS DOUBLE) / CAST(cx.c AS DOUBLE)
                    WHEN COALESCE(b2c.c, 0) > 0
                      THEN CAST(0.4 AS DOUBLE) *
                        (CAST(b2c.c AS DOUBLE) / CAST(u2.c AS DOUBLE))
                    WHEN COALESCE(u3.c, 0) > 0
                      THEN CAST(0.16 AS DOUBLE) *
                        (CAST(u3.c AS DOUBLE) / CAST(nt.n AS DOUBLE))
                    ELSE CAST(0.16 AS DOUBLE) / CAST(nt.n AS DOUBLE)
               END)) AS BIGINT) AS term
           FROM pos p
           LEFT JOIN tri t ON t.g = p.t3
           LEFT JOIN bi cx ON cx.g = p.ctx2
           LEFT JOIN bi b2c ON b2c.g = p.b2
           LEFT JOIN uni u2 ON u2.g = p.w2
           LEFT JOIN uni u3 ON u3.g = p.w3
           CROSS JOIN nt)
         SELECT doc_id, lang,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tri_hits,
           CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bi_backoff,
           CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_uni_backoff,
           CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(term) AS BIGINT) AS ll_micro,
           CAST(-CAST(SUM(term) AS BIGINT) AS DOUBLE) /
             (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS avg_nll
         FROM sc GROUP BY doc_id, lang""",
    // q168: margin-based bitext mining — cosines via the bit-equal
    // sequential-fold dot (q30 device) floored to micro-units ONCE,
    // then integer top-k sums and one final division per pair;
    // params must equal the Spark defaults (labels 0/1, k=4,
    // marginPct=105; 800 = 100*2*k).
    "q168_bitext_mine" ->
      s"""WITH $labeledVectorsCte,
         src AS (SELECT vec_id AS s_id, v AS sv FROM un WHERE label = 0),
         tgt AS (SELECT vec_id AS t_id, v AS tv FROM un WHERE label = 1),
         sims AS MATERIALIZED (
           SELECT s_id, t_id,
             CAST(floor(1000000.0 * list_sum(list_transform(
               list_zip(sv, tv), p -> p[1]*p[2]))) AS BIGINT) AS sim_micro
           FROM src, tgt),
         $bitextMarginSql""",
    // q169: hard-negative mining — cross-label self-join minus the
    // diagonal, micro-unit band [lo, hi), deterministic (sim desc,
    // id asc) rank capped at m; params must equal the Spark defaults
    // (m=5, lo=100000, hi=950000).
    "q169_hard_negatives" ->
      s"""WITH $labeledVectorsCte,
         sims AS (
           SELECT a.vec_id AS a_id, b.vec_id AS n_id,
             CAST(floor(1000000.0 * list_sum(list_transform(
               list_zip(a.v, b.v), p -> p[1]*p[2]))) AS BIGINT) AS sim_micro
           FROM un a JOIN un b
             ON a.vec_id != b.vec_id AND a.label != b.label)
         SELECT a_id, n_id, sim_micro, CAST(rn AS INTEGER) AS neg_rank
         FROM (
           SELECT a_id, n_id, sim_micro, ROW_NUMBER() OVER (
             PARTITION BY a_id ORDER BY sim_micro DESC, n_id ASC) AS rn
           FROM sims
           WHERE sim_micro >= 100000 AND sim_micro < 950000)
         WHERE rn <= 5""",
    // q170: Zipf rank-frequency regression — exact-integer sufficient
    // statistics (each ln is one IEEE op on an exact integer, floored
    // to micro-nats before any SUM), identical-tree double chains for
    // slope/intercept/R2; topR must equal the Spark default (100).
    "q170_zipf_audit" ->
      s"""WITH toks AS (
           SELECT t AS tok FROM (
             SELECT UNNEST(string_split($normText, ' ')) AS t
             FROM documents)
           WHERE t != ''),
         counts AS MATERIALIZED (
           SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
           FROM toks GROUP BY 1),
         ranked AS (
           SELECT CAST(floor(1000000.0 * ln(CAST(r AS DOUBLE)))
                    AS BIGINT) AS x,
                  CAST(floor(1000000.0 * ln(CAST(c AS DOUBLE)))
                    AS BIGINT) AS y
           FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC)
                   AS r FROM counts)
           WHERE r <= 100),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
                   CAST(SUM(c) AS BIGINT) AS total FROM counts),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x*y) AS BIGINT) AS sxy,
                 CAST(SUM(x*x) AS BIGINT) AS sxx,
                 CAST(SUM(y*y) AS BIGINT) AS syy FROM ranked)
         SELECT n AS n_ranked, vocab AS vocab_size, total AS total_tokens,
           CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
             AS zipf_slope,
           (CAST(sy AS DOUBLE) -
             CAST(n*sxy - sx*sy AS DOUBLE) /
               CAST(n*sxx - sx*sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
             CAST(n AS DOUBLE) AS intercept,
           (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE)) /
             (CAST(n*sxx - sx*sx AS DOUBLE) *
               CAST(n*syy - sy*sy AS DOUBLE)) AS r2
         FROM s, tot""",
    // q171: streaming novelty gate — the accepted set is batch-split-
    // invariant (each micro-batch anti-joins the STATIC history index
    // only), so the whole stream replays as one anti-join.
    "q171_novelty_gate" ->
      s"""WITH hist AS (
           SELECT DISTINCT md5($normText) AS fp
           FROM documents WHERE doc_id % 2 = 0)
         SELECT doc_id, md5($normText) AS fp
         FROM documents
         WHERE doc_id % 2 = 1
           AND md5($normText) NOT IN (SELECT fp FROM hist)""",
    // q172: perceptual image dedup — replay the planting, the BMP
    // synthesis formulas (q50 precedent), the 60-bit grid dHash over
    // hex-rendered body bytes, and the full pairwise Hamming filter
    // (the oracle can afford O(n^2) over the image subset; the Spark
    // side blocks via q23's pigeonhole, complete for dist <= 3).
    "q172_image_phash" ->
      """WITH seeds AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id % 30 = 0 AND length(text) >= 1),
         planted AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 999999, substr(text, 1, length(text) - 1) || 'Q'
           FROM seeds
           UNION ALL
           SELECT doc_id + 1999998, 'Q' || substr(text, 2) FROM seeds),
         img AS MATERIALIZED (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n,
             16 + octet_length(encode(text)) % 64 AS w,
             16 + octet_length(encode(text)) % 48 AS h
           FROM planted
           WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 1),
         bits AS (
           SELECT media_id, CAST(b AS INT) AS bit,
             CAST(b AS INT) // 10 AS r, CAST(b AS INT) % 10 AS c
           FROM img, UNNEST(range(60)) t(b)),
         vals AS (
           SELECT i.media_id, bits.bit,
             ('0x' || substr(i.hx, CAST(2 * ((((bits.r * i.h // 6) * i.w +
               ((bits.c + 1) * i.w // 11)) * 3) % i.n) AS INT) + 1, 2))::INT
               AS i1,
             ('0x' || substr(i.hx, CAST(2 * ((((bits.r * i.h // 6) * i.w +
               (bits.c * i.w // 11)) * 3) % i.n) AS INT) + 1, 2))::INT AS i0
           FROM img i JOIN bits ON bits.media_id = i.media_id),
         hashes AS MATERIALIZED (
           SELECT media_id,
             CAST(SUM(CASE WHEN i1 > i0 THEN 1::BIGINT << bit ELSE 0 END)
               AS BIGINT) AS phash
           FROM vals GROUP BY 1)
         SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         FROM hashes a JOIN hashes b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.phash, b.phash)) <= 3""",
    // q174: PCM16 energy contour — little-endian byte-pair sample
    // reconstruction over hex-rendered bytes (q164 device), exact
    // integer window sums, cross-multiply quiet flag. windows must
    // equal the Spark default (16).
    "q174_audio_energy" ->
      s"""WITH $pcmWindowCtes,
         e AS (
           SELECT media_id, win, CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(a) AS BIGINT) AS sum_abs
           FROM samples GROUP BY 1, 2),
         tot AS (SELECT media_id, CAST(SUM(sum_abs) AS BIGINT) AS total
                 FROM e GROUP BY 1)
         SELECT e.media_id, e.win, e.n_samples, e.sum_abs,
           e.sum_abs * 16 < tot.total AS is_quiet
         FROM e JOIN tot USING (media_id)""",
    // q210: spectral bands — the q174 hex byte-pair decode, 64-sample
    // frames projected on five octave bins with the SAME fixed-point
    // twiddle integers the Spark side uses (interpolated by
    // spectralBandsOracleSql, so no transcendental runs in either
    // engine); descale by TRUNCATING division (DuckDB // == Scala
    // Long /), squared, frame-summed.
    "q210_spectral_bands" -> spectralBandsOracleSql,
    // q211: rendezvous sharding — hex-prefix 60-bit weights (q84
    // device), argmax per doc via window rank (the Spark side argmaxes
    // in-row with array_max; same total order), N=8 vs N=9 audit.
    "q211_rendezvous_shards" ->
      """WITH b0 AS (
           SELECT doc_id, s AS shard, ROW_NUMBER() OVER (
             PARTITION BY doc_id
             ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':' ||
               s::VARCHAR), 1, 15))::BIGINT DESC, s ASC) AS rk
           FROM documents, range(8) t(s)),
         a0 AS (
           SELECT doc_id, s AS shard, ROW_NUMBER() OVER (
             PARTITION BY doc_id
             ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':' ||
               s::VARCHAR), 1, 15))::BIGINT DESC, s ASC) AS rk
           FROM documents, range(9) t(s)),
         asg AS (
           SELECT b.doc_id, b.shard AS shard_b, a.shard AS shard_a
           FROM (SELECT doc_id, shard FROM b0 WHERE rk = 1) b
           JOIN (SELECT doc_id, shard FROM a0 WHERE rk = 1) a
             USING (doc_id)),
         spine AS (SELECT CAST(s AS BIGINT) AS shard FROM range(9) t(s)),
         bef AS (SELECT shard_b AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_before
                 FROM asg GROUP BY 1),
         aft AS (SELECT shard_a AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_after,
                   CAST(SUM(CASE WHEN shard_a <> shard_b THEN 1
                     ELSE 0 END) AS BIGINT) AS moved_in
                 FROM asg GROUP BY 1)
         SELECT spine.shard,
           CAST(COALESCE(n_before, 0) AS BIGINT) AS n_before,
           CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
           CAST(COALESCE(moved_in, 0) AS BIGINT) AS moved_in
         FROM spine LEFT JOIN bef USING (shard)
           LEFT JOIN aft USING (shard)""",
    // q212: exact tie-corrected Mann-Whitney AUC — doubled ranks keep
    // tie-averages integral; one IEEE division micro-floored at the
    // end; rank accounting over the bounded SCORE domain.
    "q212_roc_auc" -> rocAucOracle,
    // q213: n-gram diversity — q74's shingle slices for n=1..3,
    // micro-floored int/int ratios, top-1 pinned by (c desc, gram asc).
    "q213_ngram_diversity" ->
      s"""WITH words AS (
           SELECT string_split($normText, ' ') AS w FROM documents),
         g AS (
           SELECT 1 AS n, array_to_string(w[i:i], ' ') AS gram
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) + 1)) AS i) t
           WHERE len(w) >= 1
           UNION ALL
           SELECT 2, array_to_string(w[i:i+1], ' ')
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) t
           WHERE len(w) >= 2
           UNION ALL
           SELECT 3, array_to_string(w[i:i+2], ' ')
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) - 1)) AS i) t
           WHERE len(w) >= 3),
         c AS (SELECT n, gram, CAST(COUNT(*) AS BIGINT) AS c
               FROM g GROUP BY 1, 2),
         t AS (SELECT n, CAST(SUM(c) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS dist
               FROM c GROUP BY 1),
         top AS (SELECT n, gram, c FROM (
             SELECT n, gram, c, ROW_NUMBER() OVER (
               PARTITION BY n ORDER BY c DESC, gram ASC) AS rk FROM c)
           WHERE rk = 1)
         SELECT CAST(t.n AS BIGINT) AS n, total AS total_grams,
           dist AS distinct_grams,
           CAST(FLOOR(1000000.0 * CAST(dist AS DOUBLE) /
             CAST(total AS DOUBLE)) AS BIGINT) AS diversity_micro,
           top.gram AS top_gram,
           CAST(FLOOR(1000000.0 * CAST(top.c AS DOUBLE) /
             CAST(total AS DOUBLE)) AS BIGINT) AS top_share_micro
         FROM t JOIN top USING (n)""",
    // q214: dominant eigenvector — generated 40-round power-iteration
    // CTE chain over HUGEINT, truncating renormalization; C replayed
    // as the same outer-product aggregate.
    "q214_dominant_eigen" ->
      dominantEigenOracleSql(Similarity.dominantEigenIters),
    // q215: MWU domain reweighting — generated rounds over the domain
    // table; HUGEINT // replays the driver loop's Long truncation.
    "q215_mixture_reweight" -> mixtureReweightOracleSql(
      TextAnalysis.mixtureReweightRounds),
    // q216: CCNet tercile gate over q141 scores — integer rank
    // arithmetic only.
    "q216_perplexity_gate" -> perplexityGateOracle,
    // q217: per-group exact-k sample — md5 hex priority (byte-stable
    // order both engines), rank <= k.
    "q217_group_sample" ->
      """SELECT lang, doc_id, rk FROM (
           SELECT lang, doc_id, CAST(ROW_NUMBER() OVER (
             PARTITION BY lang
             ORDER BY md5('gs:' || CAST(doc_id AS VARCHAR)) ASC,
               doc_id ASC) AS BIGINT) AS rk
           FROM documents) t
         WHERE rk <= 20""",
    // q218: reliability diagram over the q212 scored frame — decile
    // bins, truncating-DIV means/rates, exact weighted squared gap.
    "q218_calibration_bins" -> calibrationBinsOracle,
    // q219: CUSUM over exact daily cents; mean by truncating DIV;
    // argmax |cusum| pinned (abs desc, day asc).
    "q219_cusum_changepoint" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS y_cents
           FROM events GROUP BY 1),
         tot AS (SELECT CAST(SUM(y_cents) AS HUGEINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS n FROM daily),
         cm AS (SELECT day, y_cents, CAST(t // n AS BIGINT)
             AS mean_cents FROM daily, tot),
         cs AS (SELECT day, y_cents,
             CAST(SUM(y_cents - mean_cents) OVER (ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cusum_cents
           FROM cm),
         top AS (SELECT day AS cp FROM cs
           ORDER BY ABS(cusum_cents) DESC, day ASC LIMIT 1)
         SELECT cs.day, cs.y_cents, cs.cusum_cents,
           cs.day = top.cp AS is_changepoint
         FROM cs, top""",
    // q220: contrastive mining — q22's verified pairs as
    // anchor/positive, negatives drawn by 60-bit md5 position into
    // the md5-ranked corpus; collisions with the pair dropped.
    "q220_contrastive_pairs" ->
      s"""WITH pairs AS MATERIALIZED (
           SELECT id_a, id_b FROM ($minhashPairsOracle) p),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         ranked AS MATERIALIZED (
           SELECT doc_id, CAST(ROW_NUMBER() OVER (
             ORDER BY md5('rk:' || CAST(doc_id AS VARCHAR)) ASC,
               doc_id ASC) AS BIGINT) AS pos
           FROM documents),
         drawn AS (
           SELECT id_a, id_b, CAST(i AS BIGINT) AS neg_idx,
             (('0x' || substr(md5('ng:' || CAST(id_a AS VARCHAR) || ':'
               || CAST(id_b AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
               1, 15))::BIGINT % nn.n) + 1 AS pos
           FROM pairs, range(1, 4) t(i), nn)
         SELECT id_a AS anchor, id_b AS positive, neg_idx,
           r.doc_id AS negative
         FROM drawn JOIN ranked r USING (pos)
         WHERE r.doc_id <> id_a AND r.doc_id <> id_b""",
    // q221: two-level moments — shard triples then the associative
    // merge; variance via the integer identity, truncating DIV.
    "q221_mergeable_moments" ->
      s"""WITH per AS (
           SELECT doc_id % 8 AS shard,
             CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_extract_all(trim(text), '\\S+')) END AS x
           FROM documents),
         g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
           FROM per GROUP BY 1),
         allr AS (SELECT CAST(-1 AS BIGINT) AS shard,
             CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
             CAST(SUM(sxx) AS BIGINT) AS sxx
           FROM g),
         u AS (SELECT CAST(shard AS BIGINT) AS shard, n, sx, sxx FROM g
           UNION ALL SELECT shard, n, sx, sxx FROM allr)
         SELECT shard, n, sx, sxx,
           CAST((CAST(sx AS HUGEINT) * 1000000) // n AS BIGINT)
             AS mean_micro,
           CAST(((CAST(n AS HUGEINT) * sxx -
                  CAST(sx AS HUGEINT) * sx) * 1000000)
             // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_micro
         FROM u""",
    // q222: shingleCtes + componentCtes, survivor by (quality desc,
    // doc_id asc) window; quality = micro-floored stopword ratio.
    "q222_quality_survivors" ->
      s"""WITH RECURSIVE ${shingleCtes()},
         ${componentCtes()},
         q AS (
           SELECT doc_id, CAST(FLOOR(1000000.0 *
             (CAST(len(regexp_extract_all(text,
               '\\b(the|a|of|and|to|in|is|for|on|with)\\b')) AS DOUBLE) /
              CAST(GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_extract_all(trim(text), '\\S+')) END, 1)
                AS DOUBLE))) AS BIGINT) AS q_micro
           FROM documents),
         m AS (
           SELECT comp.comp AS cluster, comp.id AS doc_id, q.q_micro
           FROM comp JOIN q ON q.doc_id = comp.id),
         s AS (
           SELECT cluster, doc_id AS survivor FROM (
             SELECT cluster, doc_id, ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY q_micro DESC, doc_id ASC) AS rk FROM m)
           WHERE rk = 1)
         SELECT m.doc_id, m.cluster, m.q_micro,
           m.doc_id = s.survivor AS keep
         FROM m JOIN s USING (cluster)""",
    // q223: per-source scorecard — fp-count join marks exact dups,
    // truncating-DIV rates, corpus token share.
    "q223_source_scorecard" ->
      s"""WITH fp AS (
           SELECT source, doc_id, md5($normText) AS fp,
             CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_extract_all(trim(text), '\\S+')) END AS toks
           FROM documents),
         fc AS (SELECT fp, COUNT(*) AS nfp FROM fp GROUP BY 1),
         per AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(toks) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN nfp > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs
           FROM fp JOIN fc USING (fp) GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_tokens) AS HUGEINT) AS tt FROM per)
         SELECT source, n_docs, n_tokens, n_dup_docs,
           CAST((n_dup_docs * 1000000) // n_docs AS BIGINT)
             AS dup_rate_micro,
           CAST((n_tokens * 1000000) // tt AS BIGINT)
             AS token_share_micro
         FROM per, tot""",
    // q224: Benford — first digit of exact cents, truncating-DIV
    // share, the nine log10(1+1/d) constants micro-floored.
    "q224_benford_audit" ->
      """WITH c AS (
           SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
           FROM events),
         d AS (
           SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
             AS digit
           FROM c WHERE cents > 0),
         g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
               FROM d GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS t FROM g)
         SELECT digit, n,
           CAST((n * 1000000) // t AS BIGINT) AS share_micro,
           CAST(FLOOR(1000000.0 *
             log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) AS BIGINT)
             AS benford_micro,
           CAST((n * 1000000) // t AS BIGINT) -
             CAST(FLOOR(1000000.0 *
               log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) AS BIGINT)
             AS gap_micro
         FROM g, tot""",
    // q225: Cohen's kappa — exact integer marginals, one micro-floored
    // division, -1 sentinel at pe = 1.
    "q225_langid_kappa" -> langIdKappaOracle,
    // q226: padding-waste — bit-length log2 buckets (IEEE log2 floors
    // a hair under k on some exact powers), integer pad arithmetic.
    "q226_padding_waste" ->
      s"""WITH t AS (
           SELECT CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_extract_all(trim(text), '\\S+')) END AS t
           FROM documents),
         p AS (
           SELECT CAST(t AS BIGINT) AS t,
             CAST(length(bin(t)) - 1 AS BIGINT) AS bucket
           FROM t WHERE t > 0)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN t > 2048 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overflow_docs,
           CAST(SUM(CASE WHEN t <= 2048 THEN 2048 - t ELSE 0 END)
             AS BIGINT) AS pad_to_window_waste,
           CAST(((CAST(SUM(t) AS BIGINT) + 2047) // 2048) * 2048 -
             CAST(SUM(t) AS BIGINT) AS BIGINT) AS greedy_pack_waste
         FROM p GROUP BY 1""",
    // q227: sliding chunker — integer ceil chunk count, row-local
    // arithmetic; the last chunk reaches the doc end.
    "q227_chunk_manifest" ->
      s"""WITH t AS (
           SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_extract_all(trim(text), '\\S+')) END
               AS BIGINT) AS t
           FROM documents),
         d AS (
           SELECT doc_id, t,
             CASE WHEN t <= 256 THEN 1
               ELSE 1 + (t - 256 + 191) // 192 END AS n_chunks
           FROM t WHERE t > 0)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 192 AS BIGINT) AS start_tok,
           CAST(LEAST(i * 192 + 256, t) AS BIGINT) AS end_tok,
           CAST(LEAST(i * 192 + 256, t) - i * 192 AS BIGINT) AS n_toks
         FROM d, LATERAL (SELECT UNNEST(range(n_chunks)) AS i) u""",
    // q228: recall@10 of the LSH index vs brute force — composition
    // of the q30/q31 oracles (the q183 audit device on the index).
    "q228_ann_recall_audit" ->
      s"""WITH b AS MATERIALIZED (
           SELECT q_id, vec_id FROM ($annBruteOracle) t),
         l AS MATERIALIZED (
           SELECT q_id, vec_id FROM ($annLshOracle) t),
         ov AS (
           SELECT b.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
           FROM b JOIN l ON b.q_id = l.q_id AND b.vec_id = l.vec_id
           GROUP BY 1),
         qs AS (SELECT DISTINCT q_id FROM b)
         SELECT q_id,
           CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(n_overlap, 0) * 1000 AS BIGINT) AS recall_bp
         FROM qs LEFT JOIN ov USING (q_id)""",
    // q229: numeral-normalized dedup — digit runs collapsed to '0'
    // before the second fingerprint; the incremental catch only.
    "q229_numeral_dedup" ->
      s"""WITH fps AS (
           SELECT doc_id, md5($normText) AS fp_exact,
             md5(regexp_replace($normText, '[0-9]+', '0', 'g')) AS fp_num
           FROM documents),
         ec AS (SELECT fp_exact, CAST(COUNT(*) AS BIGINT) AS n_exact
                FROM fps GROUP BY 1),
         nc AS (SELECT fp_num, CAST(COUNT(*) AS BIGINT) AS n_num
                FROM fps GROUP BY 1)
         SELECT doc_id, fp_num, n_exact, n_num
         FROM fps JOIN ec USING (fp_exact) JOIN nc USING (fp_num)
         WHERE n_exact = 1 AND n_num > 1""",
    // q230: Hamilton apportionment over q215's final weights —
    // truncating-DIV quotas, exact mods, (rem desc, lang asc) seats.
    "q230_budget_apportion" ->
      s"""WITH w AS MATERIALIZED (
           SELECT lang, w_micro FROM (${mixtureReweightOracleSql(10)}) t),
         tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM w),
         base AS (
           SELECT lang, w_micro,
             CAST((1000000 * w_micro) // tw AS BIGINT) AS quota,
             CAST((1000000 * w_micro) % tw AS BIGINT) AS rem
           FROM w, tot),
         lo AS (SELECT CAST(1000000 - SUM(quota) AS BIGINT) AS seats
                FROM base),
         rk AS (
           SELECT lang, w_micro, quota, rem,
             CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC)
               AS BIGINT) AS rk
           FROM base)
         SELECT lang, w_micro, quota, rem, rk,
           CAST(quota + CASE WHEN rk <= lo.seats THEN 1 ELSE 0 END
             AS BIGINT) AS alloc_tokens
         FROM rk, lo""",
    // q231: recency decay — one truncating shift-divide per event
    // (2^-age weight, the q209 half-life device), order-independent.
    "q231_decayed_activity" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
           FROM events),
         a AS (SELECT MAX(d) AS anchor FROM ev),
         t AS (SELECT user_id, cents,
             LEAST(anchor - d, 40) AS age
           FROM ev, a)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS raw_cents,
           CAST(SUM(cents // (1::BIGINT << age)) AS BIGINT)
             AS decayed_cents
         FROM t GROUP BY 1""",
    // q232: stationary distribution — generated 30-round chain over
    // the bounded state domain, per-term truncating division.
    "q232_markov_stationary" -> markovStationaryOracleSql(
      Experiment.markovStationaryIters),
    // q233: gains/lift deciles over the q212 scored frame — rank
    // arithmetic deciles, truncating-DIV capture and lift.
    "q233_gains_table" ->
      s"""WITH sc AS ($scoredDocsSql),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
         rk AS (
           SELECT doc_id, score, is_en,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
               AS BIGINT) AS rk
           FROM sc),
         d AS (
           SELECT (10 * (rk - 1)) // nn.n AS decile, is_en FROM rk, nn),
         per AS (
           SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
           FROM d GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp FROM per),
         cum AS (
           SELECT decile, n_docs, n_pos,
             CAST(SUM(n_pos) OVER (ORDER BY decile ASC ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
           FROM per)
         SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos, cum_pos,
           CAST((cum_pos * 1000000) // tp AS BIGINT) AS capture_micro,
           CAST((cum_pos * 10000000) // (tp * (decile + 1)) AS BIGINT)
             AS lift_micro
         FROM cum, tot""",
    // q209: Holt forecast — α=β=½ makes each smoothing step exact
    // integer arithmetic (FLOOR(x/2.0), never truncating DIV); the
    // oracle replays the fold as a RECURSIVE CTE rank-by-rank.
    "q209_holt_forecast" ->
      """WITH RECURSIVE daily AS (
           SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS y
           FROM events GROUP BY 1),
         ranked AS (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY day ASC) AS BIGINT)
             AS rn, day, y
           FROM daily),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  MAX(day) AS last_day FROM daily),
         st AS (
           SELECT CAST(1 AS BIGINT) AS rn, r1.y AS lvl, r2.y - r1.y AS tr
           FROM ranked r1, ranked r2 WHERE r1.rn = 1 AND r2.rn = 2
           UNION ALL
           SELECT s.rn + 1,
             CAST(FLOOR(CAST(r.y + s.lvl + s.tr AS DOUBLE) / 2.0)
               AS BIGINT),
             CAST(FLOOR((CAST(FLOOR(CAST(r.y + s.lvl + s.tr AS DOUBLE)
               / 2.0) AS BIGINT) - s.lvl + s.tr) / 2.0) AS BIGINT)
           FROM st s JOIN ranked r ON r.rn = s.rn + 1),
         fin AS (
           SELECT st.lvl, st.tr FROM st, nn WHERE st.rn = nn.n)
         SELECT CAST(h AS BIGINT) AS h,
           nn.last_day + CAST(h AS INTEGER) AS forecast_day,
           nn.n AS n_days, fin.lvl AS level_cents,
           fin.tr AS trend_cents,
           fin.lvl + CAST(h AS BIGINT) * fin.tr AS forecast_cents
         FROM range(1, 8) t(h), fin, nn""",
    // q206: Theil–Sen — exact day offsets and cents, each pairwise
    // slope ONE micro-floored IEEE division, lower-median at rank
    // (m+1) DIV 2 under a (slope, i, j) total order.
    "q206_theil_sen" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS y
           FROM events GROUP BY 1),
         anchor AS (SELECT MIN(day) AS d0 FROM daily),
         pts AS (
           SELECT CAST(day - anchor.d0 AS BIGINT) AS x, y
           FROM daily CROSS JOIN anchor),
         slopes AS (
           SELECT a.x AS xi, b.x AS xj,
             CAST(FLOOR(1000000.0 *
               (CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)))
               AS BIGINT) AS slope_micro
           FROM pts a JOIN pts b ON a.x < b.x),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM slopes),
         med AS (
           SELECT slope_micro AS ts_slope_micro FROM (
             SELECT slope_micro, ROW_NUMBER() OVER (
               ORDER BY slope_micro ASC, xi ASC, xj ASC) AS rn
             FROM slopes) r, m
           WHERE rn = (m.m + 1) // 2)
         SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           (SELECT CAST(SUM(y) AS BIGINT) FROM daily) AS total_cents,
           m.m AS n_pairs, med.ts_slope_micro,
           CAST(med.ts_slope_micro AS DOUBLE) / 1000000.0
             AS ts_slope_cents_per_day
         FROM m CROSS JOIN med""",
    // q207: confusion matrix over the q40 argmax; accuracy integer bp.
    "q207_langid_confusion" ->
      s"""WITH pred AS ($langIdOracle),
         cells AS (
           SELECT d.lang AS lang_true, p.lang_pred,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM documents d JOIN pred p ON p.doc_id = d.doc_id
           GROUP BY 1, 2),
         tot AS (
           SELECT CAST(SUM(n) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN lang_true = lang_pred THEN n ELSE 0 END)
               AS BIGINT) AS correct
           FROM cells)
         SELECT lang_true, lang_pred, n,
           lang_true = lang_pred AS is_correct,
           tot.total, tot.correct * 10000 // tot.total AS acc_bp
         FROM cells CROSS JOIN tot""",
    // q208: churn labels — censoring-aware: the label is only
    // observable when first activity predates the horizon.
    "q208_churn_labels" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         anchor AS (SELECT MAX(day) AS obs_end FROM ev)
         SELECT user_id, MIN(day) AS first_day, MAX(day) AS last_day,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_active_days,
           CAST(anchor.obs_end - MAX(day) AS BIGINT) AS recency_days,
           (anchor.obs_end - MIN(day)) >= 14 AS observable,
           ((anchor.obs_end - MIN(day)) >= 14 AND
            (anchor.obs_end - MAX(day)) > 14) AS churned
         FROM ev CROSS JOIN anchor
         GROUP BY user_id, anchor.obs_end""",
    // q205: bootstrap CI — md5-device draws mod n, exact BIGINT
    // resample sums, lower order statistics at ⌈B/40⌉ / ⌈39B/40⌉.
    "q205_bootstrap_ci" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS total_cents
           FROM events GROUP BY 1),
         ranked AS (
           SELECT CAST(ROW_NUMBER() OVER (ORDER BY day ASC) - 1
             AS BIGINT) AS idx, total_cents
           FROM daily),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
         draws AS (
           SELECT rb, ('0x' || substr(md5('boot:' || CAST(rb AS VARCHAR)
             || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % nn.n
             AS idx
           FROM range(0, 200) t(rb), nn, LATERAL (
             SELECT UNNEST(range(nn.n)) AS i) u),
         sums AS (
           SELECT rb, CAST(SUM(r.total_cents) AS BIGINT) AS bsum
           FROM draws d JOIN ranked r ON r.idx = d.idx
           GROUP BY 1),
         rk AS (
           SELECT bsum, ROW_NUMBER() OVER (ORDER BY bsum ASC, rb ASC)
             AS rn
           FROM sums),
         ci AS (
           SELECT
             MAX(CASE WHEN rn = 5 THEN bsum END) AS lo_sum,
             MAX(CASE WHEN rn = 195 THEN bsum END) AS hi_sum
           FROM rk),
         obs AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(total_cents) AS BIGINT) AS obs_sum
           FROM daily)
         SELECT obs.n_days, obs.obs_sum,
           CAST(obs.obs_sum AS DOUBLE) / CAST(obs.n_days AS DOUBLE)
             AS obs_mean_cents,
           ci.lo_sum, ci.hi_sum,
           CAST(ci.lo_sum AS DOUBLE) / CAST(obs.n_days AS DOUBLE)
             AS ci_lo_mean_cents,
           CAST(ci.hi_sum AS DOUBLE) / CAST(obs.n_days AS DOUBLE)
             AS ci_hi_mean_cents
         FROM ci CROSS JOIN obs""",
    // q204: loudness gain — exact Σs² BIGINT, division + correctly-
    // rounded sqrt + division in one fixed tree, micro-floored; −1
    // sentinel for silent clips.
    "q204_loudness_gain" ->
      s"""WITH ${wavCte(2)},
         samples AS (
           SELECT media_id,
             CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
               AS BIGINT) AS sv
           FROM (
             ${pcmDecodeSql()})),
         st AS (
           SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(sv * sv) AS BIGINT) AS ssq
           FROM samples GROUP BY 1)
         SELECT media_id, n_samples, ssq,
           CASE WHEN ssq = 0 THEN -1
             ELSE CAST(FLOOR(1000000.0 * sqrt(CAST(ssq AS DOUBLE) /
               CAST(n_samples AS DOUBLE))) AS BIGINT) END AS rms_micro,
           CASE WHEN ssq = 0 THEN -1
             ELSE CAST(FLOOR(1000000.0 * (10000.0 /
               sqrt(CAST(ssq AS DOUBLE) / CAST(n_samples AS DOUBLE))))
               AS BIGINT) END AS gain_micro
         FROM st""",
    // q175: embedding drift — pico-integer centroid means (q163
    // device), position-ordered assembly, sequential-fold cosine,
    // micro-floor flag; params must equal the Spark defaults
    // (threshold 500000 micro, rotation 7, re-encoded labels >= 5).
    "q175_embedding_drift" ->
      """WITH raw2 AS (
           SELECT vec_id, label,
             CASE WHEN label < 5 THEN embedding
                  ELSE list_concat(embedding[8:64], embedding[1:7])
             END AS embedding
           FROM embeddings),
         u1 AS (
           SELECT label, list_transform(embedding,
             x -> CASE WHEN nrm > 0 THEN CAST(x AS DOUBLE)/nrm
                       ELSE 0.0 END) AS u
           FROM (SELECT label, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
             FROM embeddings)),
         u2 AS (
           SELECT label, list_transform(embedding,
             x -> CASE WHEN nrm > 0 THEN CAST(x AS DOUBLE)/nrm
                       ELSE 0.0 END) AS u
           FROM (SELECT label, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
             FROM raw2)),
         m1 AS (
           SELECT label, pos,
             CAST(COUNT(*) AS BIGINT) AS nc,
             CAST(SUM(xq) AS DOUBLE) /
               (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0) AS mx
           FROM (SELECT label, generate_subscripts(u, 1) - 1 AS pos,
                   CAST(floor(UNNEST(u) * 1000000000000.0) AS BIGINT) AS xq
                 FROM u1)
           GROUP BY 1, 2),
         m2 AS (
           SELECT label, pos,
             CAST(COUNT(*) AS BIGINT) AS nc,
             CAST(SUM(xq) AS DOUBLE) /
               (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0) AS mx
           FROM (SELECT label, generate_subscripts(u, 1) - 1 AS pos,
                   CAST(floor(UNNEST(u) * 1000000000000.0) AS BIGINT) AS xq
                 FROM u2)
           GROUP BY 1, 2),
         c1 AS (SELECT label, list(mx ORDER BY pos) AS c,
                  MAX(nc) AS n FROM m1 GROUP BY 1),
         c2 AS (SELECT label, list(mx ORDER BY pos) AS c,
                  MAX(nc) AS n FROM m2 GROUP BY 1)
         SELECT a.label, a.n AS n_day1, b.n AS n_day2,
           CAST(floor(1000000.0 * (CASE WHEN
               sqrt(list_sum(list_transform(a.c, x -> x*x))) *
               sqrt(list_sum(list_transform(b.c, x -> x*x))) > 0
             THEN list_sum(list_transform(list_zip(a.c, b.c),
                    p -> p[1]*p[2])) /
               (sqrt(list_sum(list_transform(a.c, x -> x*x))) *
                sqrt(list_sum(list_transform(b.c, x -> x*x))))
             ELSE 0.0 END)) AS BIGINT) AS drift_cos_micro,
           CAST(floor(1000000.0 * (CASE WHEN
               sqrt(list_sum(list_transform(a.c, x -> x*x))) *
               sqrt(list_sum(list_transform(b.c, x -> x*x))) > 0
             THEN list_sum(list_transform(list_zip(a.c, b.c),
                    p -> p[1]*p[2])) /
               (sqrt(list_sum(list_transform(a.c, x -> x*x))) *
                sqrt(list_sum(list_transform(b.c, x -> x*x))))
             ELSE 0.0 END)) AS BIGINT) < 500000 AS is_drifted
         FROM c1 a JOIN c2 b USING (label)""",
    // q176: audience overlap — exact counts compared, the
    // inclusion-exclusion estimate folds into approx_ok (q39/q48
    // precedent: the sketch is deterministic for fixed input, so the
    // band is stable, not flaky).
    "q176_hll_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
         n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
               FROM tu GROUP BY 1),
         ov AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                  CAST(COUNT(*) AS BIGINT) AS n_overlap_exact
                FROM tu x JOIN tu y ON x.user_id = y.user_id
                  AND x.event_type < y.event_type
                GROUP BY 1, 2)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n_exact AS n_a_exact, b.n_exact AS n_b_exact,
           COALESCE(ov.n_overlap_exact, 0) AS n_overlap_exact,
           TRUE AS approx_ok
         FROM n a JOIN n b ON a.event_type < b.event_type
         LEFT JOIN ov ON ov.type_a = a.event_type
           AND ov.type_b = b.event_type""",
    // q177: feed-completeness SLA — exact hour-bin integer
    // arithmetic (hour-truncated epochs divide 3600 evenly); basis
    // points floor after one exact division.
    "q177_sla_audit" ->
      """WITH th AS (
           SELECT DISTINCT event_type, date_trunc('hour', ts) AS h
           FROM events),
         bounds AS (
           SELECT (CAST(epoch(MAX(h)) AS BIGINT) -
                   CAST(epoch(MIN(h)) AS BIGINT)) // 3600 + 1
                  AS n_expected FROM th),
         g AS (
           SELECT event_type, h,
             CASE WHEN prev IS NULL THEN 0
                  ELSE (CAST(epoch(h) AS BIGINT) -
                        CAST(epoch(prev) AS BIGINT)) // 3600 - 1
             END AS gap
           FROM (SELECT event_type, h,
                   LAG(h) OVER (PARTITION BY event_type ORDER BY h)
                     AS prev FROM th))
         SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours_observed,
           CAST(b.n_expected AS BIGINT) AS n_hours_expected,
           CAST(floor(10000.0 * CAST(COUNT(*) AS DOUBLE) /
             CAST(b.n_expected AS DOUBLE)) AS BIGINT) AS coverage_bp,
           CAST(MAX(gap) AS BIGINT) AS max_gap_hours,
           MIN(h) AS first_hour, MAX(h) AS last_hour
         FROM g, bounds b
         GROUP BY event_type, b.n_expected""",
    // q178: batch inference — q144's feature replay joined to the
    // md5-derived micro-int weight table, exact BIGINT logit, one
    // identical-tree sigmoid; keep compares the INTEGER logit.
    "q178_score_docs" -> scoreDocsOracle,
    // q179: the streamed serve is batch-split-invariant (static
    // persisted model, per-doc independence) — q178's oracle applies
    // to the whole stream verbatim.
    "q179_score_stream" -> scoreDocsOracle,
    // q180: decayed engagement — terms quantize BEFORE the sum
    // (cents half-up, decay weight micro-floored on the age domain),
    // so the user totals are exact BIGINTs; one final division.
    "q180_decayed_engagement" ->
      """WITH ev AS (
           SELECT user_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             CAST(ts AS DATE) AS day
           FROM events),
         a AS (SELECT MAX(day) AS d1 FROM ev),
         t AS (
           SELECT user_id, cents *
             CAST(floor(1000000.0 * power(CAST(0.9 AS DOUBLE),
               CAST(datediff('day', day, d1) AS DOUBLE))) AS BIGINT)
             AS term
           FROM ev, a)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(term) AS BIGINT) AS decayed_cents_micro,
           CAST(SUM(term) AS BIGINT) / 100000000.0 AS decayed_value
         FROM t GROUP BY 1""",
    // q181: PMI collocations — the ratio is TWO exact BIGINT products
    // with one IEEE division; the single ln micro-floors (q141 rule);
    // rank tie-break (pmi desc, w1, w2) is a total order so the top-k
    // is deterministic on both engines.
    "q181_pmi_collocations" ->
      s"""WITH toks AS (
           SELECT string_split($normText, ' ') AS w FROM documents),
         uni AS (
           SELECT tok, COUNT(*) AS c FROM (
             SELECT UNNEST(w) AS tok FROM toks) u
           WHERE tok <> '' GROUP BY 1),
         nu AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uni),
         bi AS (
           SELECT w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2,
             COUNT(*) AS cab
           FROM toks, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) t
           WHERE len(w) >= 2 GROUP BY 1, 2),
         nb AS (SELECT CAST(SUM(cab) AS BIGINT) AS nb FROM bi),
         scored AS (
           SELECT bi.w1, bi.w2, bi.cab, u1.c AS ca, u2.c AS cb,
             CAST(FLOOR(1000000.0 * ln(
               CAST(bi.cab * nu.nu * nu.nu AS DOUBLE) /
                 CAST(nb.nb * u1.c * u2.c AS DOUBLE))) AS BIGINT)
               AS pmi_micro
           FROM bi
             JOIN uni u1 ON bi.w1 = u1.tok
             JOIN uni u2 ON bi.w2 = u2.tok
             CROSS JOIN nu CROSS JOIN nb
           WHERE bi.cab >= 5)
         SELECT w1, w2, cab, ca, cb, pmi_micro, CAST(rk AS INTEGER) AS rk
         FROM (
           SELECT *, ROW_NUMBER() OVER (
             ORDER BY pmi_micro DESC, w1 ASC, w2 ASC) AS rk
           FROM scored)
         WHERE rk <= 50""",
    // q196: LSH planner — repeated-squaring multiply chains, bit-
    // identical doubles by construction (generated oracle below).
    "q196_lsh_planner" -> lshPlannerOracle,
    // q198: CUPED — exact cent sufficient statistics, one division
    // for θ (0 when var(x)=0), per-user adjusted metric micro-floored
    // BEFORE the variant sum.
    "q198_cuped" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
           FROM events),
         anchor AS (
           SELECT MIN(day) + CAST((MAX(day) - MIN(day)) // 2 AS INTEGER)
             AS mid FROM ev),
         units AS (
           SELECT user_id, user_id % 2 AS variant,
             CAST(SUM(CASE WHEN day < anchor.mid THEN cents ELSE 0 END)
               AS BIGINT) AS x,
             CAST(SUM(CASE WHEN day >= anchor.mid THEN cents ELSE 0 END)
               AS BIGINT) AS y
           FROM ev CROSS JOIN anchor GROUP BY 1, 2),
         stats AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
           FROM units),
         t AS (
           SELECT
             CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) = 0 THEN 0.0
               ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
                 CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
           FROM stats),
         adj AS (
           SELECT variant, y,
             CAST(FLOOR(1000000.0 * (CAST(y AS DOUBLE) -
               t.theta * (CAST(x AS DOUBLE) - t.xbar))) AS BIGINT)
               AS adj_micro,
             CAST(FLOOR(1000000.0 * t.theta) AS BIGINT) AS theta_micro
           FROM units CROSS JOIN t)
         SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(y) AS BIGINT) AS sum_y_cents,
           CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE) AS mean_y_cents,
           CAST(SUM(adj_micro) AS BIGINT) AS sum_adj_micro,
           CAST(CAST(SUM(adj_micro) AS BIGINT) AS DOUBLE) /
             (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_adj_cents,
           MAX(theta_micro) AS theta_micro
         FROM adj GROUP BY 1""",
    // q197: binaryFile lifecycle — the oracle predicts every field
    // from the q50 synthesis formulas; a dropped file, corrupted
    // write, or mis-parsed LE header hash-fails.
    "q197_binary_lake" ->
      """SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) + 54 AS BIGINT) AS file_len,
         CAST(16 + octet_length(encode(text)) % 64 AS BIGINT) AS width,
         CAST(16 + octet_length(encode(text)) % 48 AS BIGINT) AS height,
         CAST(octet_length(encode(text)) AS BIGINT) AS body_len
         FROM documents WHERE doc_id % 3 = 0""",
    // q194: conversion latency — first-click cohorts, exact micro
    // gaps, lower order statistics per cohort, −1 sentinel for
    // unconverted cohorts (never NULL into the driver hash).
    "q194_conversion_latency" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         clicks AS (
           SELECT user_id, MIN(t) AS tc FROM ev
           WHERE event_type = 'click' GROUP BY 1),
         purchases AS (
           SELECT ev.user_id, clicks.tc, MIN(ev.t) AS tp
           FROM ev JOIN clicks USING (user_id)
           WHERE ev.event_type = 'purchase' AND ev.t >= clicks.tc
           GROUP BY 1, 2),
         users AS (
           SELECT c.user_id, CAST(make_timestamp(c.tc) AS DATE) AS cohort,
             p.tp - p.tc AS gap_us
           FROM clicks c LEFT JOIN purchases p ON p.user_id = c.user_id),
         conv AS (
           SELECT cohort, gap_us,
             ROW_NUMBER() OVER (PARTITION BY cohort
               ORDER BY gap_us ASC, user_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY cohort) AS nc
           FROM users WHERE gap_us IS NOT NULL),
         q AS (
           SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_converted,
             CAST(MAX(CASE WHEN rn = (nc + 1) // 2 THEN gap_us END)
               AS BIGINT) AS med_gap_us,
             CAST(MAX(CASE WHEN rn = (nc * 9 + 9) // 10 THEN gap_us END)
               AS BIGINT) AS p90_gap_us
           FROM conv GROUP BY 1),
         base AS (
           SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
           FROM users GROUP BY 1)
         SELECT base.cohort, base.n_users,
           COALESCE(q.n_converted, 0) AS n_converted,
           CAST(COALESCE(q.n_converted, 0) AS DOUBLE) /
             CAST(base.n_users AS DOUBLE) AS conv_rate,
           COALESCE(q.med_gap_us, -1) AS med_gap_us,
           COALESCE(q.p90_gap_us, -1) AS p90_gap_us
         FROM base LEFT JOIN q ON q.cohort = base.cohort""",
    // q195: stickiness — distinct (user, day) grid first, then an
    // integer 7-day band join against the day spine; exact counts,
    // one division.
    "q195_stickiness" ->
      """WITH active AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         dau AS (
           SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
           FROM active GROUP BY 1),
         wau AS (
           SELECT d.day AS d, CAST(COUNT(DISTINCT a.user_id) AS BIGINT)
             AS wau
           FROM dau d JOIN active a
             ON a.day <= d.day AND a.day >= d.day - 6
           GROUP BY 1)
         SELECT dau.day, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE)
             AS stickiness
         FROM dau JOIN wau ON wau.d = dau.day""",
    // q193: Wilson CTR — one fixed double tree (divisions, multiplies,
    // correctly-rounded sqrt) over exact counts, identical
    // parenthesization both engines, floored once; (wilson desc, k)
    // total-order rank.
    "q193_wilson_ctr" ->
      """WITH byitem AS (
           SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS clicks,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events
           WHERE event_type IN ('click', 'view')
             AND json_extract_string(props, '$.k') IS NOT NULL
           GROUP BY 1),
         s AS (
           SELECT k, clicks, n,
             CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE) AS ctr,
             CAST(FLOOR(1000000.0 * (
               (CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
                 + 3.8416 / (2.0 * CAST(n AS DOUBLE))
                 - 1.96 * sqrt((CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE)
                     * (1.0 - CAST(clicks AS DOUBLE) / CAST(n AS DOUBLE))
                     + 3.8416 / (4.0 * CAST(n AS DOUBLE)))
                   / CAST(n AS DOUBLE)))
               / (1.0 + 3.8416 / CAST(n AS DOUBLE)))) AS BIGINT)
               AS wilson_micro
           FROM byitem)
         SELECT k, clicks, n, ctr, wilson_micro, CAST(rk AS INTEGER) AS rk
         FROM (
           SELECT *, ROW_NUMBER() OVER (
             ORDER BY wilson_micro DESC, k ASC) AS rk
           FROM s)""",
    // q191: χ² audit — d = o·N − r·c is an exact BIGINT; the
    // contribution is one identical-tree double chain floored to
    // micro-units; marginals derive from the cell counts.
    "q191_chi_square" ->
      """WITH cells AS (
           SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
           FROM documents GROUP BY 1, 2),
         r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r
               FROM cells GROUP BY 1),
         c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c
               FROM cells GROUP BY 1),
         n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
         SELECT cells.lang, cells.source, cells.o, r.r, c.c, n.n,
           CAST(FLOOR(1000000.0 *
             ((CAST(cells.o * n.n - r.r * c.c AS DOUBLE) *
               CAST(cells.o * n.n - r.r * c.c AS DOUBLE)) /
              CAST(n.n * r.r * c.c AS DOUBLE))) AS BIGINT)
             AS contrib_micro
         FROM cells JOIN r USING (lang) JOIN c USING (source)
           CROSS JOIN n""",
    // q192: inter-arrival profile — exact integer micros, lower
    // order statistics at ranks (n+1) DIV 2 and (9n+9) DIV 10 under
    // a (gap, event_id) total order.
    "q192_interarrival" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events),
         gaps AS (
           SELECT user_id, event_id,
             t_us - LAG(t_us) OVER (PARTITION BY user_id
               ORDER BY t_us ASC, event_id ASC) AS gap_us
           FROM ev),
         g AS (SELECT user_id, event_id, gap_us FROM gaps
               WHERE gap_us IS NOT NULL),
         rk AS (
           SELECT user_id, gap_us,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY gap_us ASC, event_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS ng
           FROM g)
         SELECT user_id, CAST(MAX(ng) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (ng + 1) // 2 THEN gap_us END)
             AS BIGINT) AS med_gap_us,
           CAST(MAX(CASE WHEN rn = (ng * 9 + 9) // 10 THEN gap_us END)
             AS BIGINT) AS p90_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
         FROM rk GROUP BY 1""",
    // q190: quality verdict — composes the q41/q74/q75/q182 exact
    // devices over the q75-planted text; reasons is a null-skipping
    // concat in a fixed gate order; every gate is integer.
    "q190_quality_verdict" ->
      ("""WITH p AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
                 || '@example.com'
               ELSE text END ||
             CASE WHEN doc_id % 11 = 0
               THEN ' caf' || chr(195) || chr(169) ELSE '' END AS text
           FROM documents),
         words AS (
           SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)),
               '\s+', ' ', 'g'), ' ') AS w
           FROM p),
         rep AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(COUNT(DISTINCT s) AS BIGINT) AS nd
           FROM (
             SELECT doc_id, array_to_string(w[i:i+4], ' ') AS s
             FROM words, LATERAL (
               SELECT UNNEST(range(1, len(w) - 3)) AS i) t
             WHERE len(w) >= 5) sh
           GROUP BY 1),
         """ + charCountCtes("p") + """,
         ent AS (
           SELECT doc_id,
             (CAST(FLOOR(1000000.0 * ln(CAST(SUM(c) AS DOUBLE)))
               AS BIGINT) * CAST(SUM(c) AS BIGINT) -
              CAST(SUM(c * CAST(FLOOR(1000000.0 * ln(CAST(c AS DOUBLE)))
               AS BIGINT)) AS BIGINT)) <
               2000000 * CAST(SUM(c) AS BIGINT) AS low_entropy
           FROM cc GROUP BY 1),
         m AS (
           SELECT p.doc_id,
             CAST(length(p.text) AS BIGINT) AS n_chars,
             CAST(CASE WHEN length(trim(p.text)) = 0 THEN 0
               ELSE len(regexp_extract_all(trim(p.text), '\S+')) END
               AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(p.text,
               '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS BIGINT)
               AS n_stop,
             CAST(len(regexp_extract_all(p.text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS BIGINT) AS n_pii,
             CAST(len(regexp_extract_all(p.text,
               '(\u00c3\u00a9|\u00c3\u00a8|\u00c3\u00bc|\u00c3\u00b1|\u00e2\u20ac\u2122|\u00e2\u20ac\u0153)')) AS BIGINT) AS n_moji,
             COALESCE(rep.ng, 0) AS ng, COALESCE(rep.nd, 0) AS nd,
             COALESCE(ent.low_entropy, false) AS low_entropy
           FROM p
             LEFT JOIN rep ON rep.doc_id = p.doc_id
             LEFT JOIN ent ON ent.doc_id = p.doc_id)
         SELECT doc_id, n_chars, n_tokens,
           NOT (n_tokens < 15 OR n_chars > 400 OR n_stop * 20 < n_tokens
             OR 5 * (ng - nd) > ng OR low_entropy OR n_pii > 0
             OR n_moji > 0) AS keep,
           concat_ws(',',
             CASE WHEN n_tokens < 15 THEN 'too_short' END,
             CASE WHEN n_chars > 400 THEN 'too_long' END,
             CASE WHEN n_stop * 20 < n_tokens THEN 'low_stopword' END,
             CASE WHEN 5 * (ng - nd) > ng THEN 'repetitive' END,
             CASE WHEN low_entropy THEN 'low_entropy' END,
             CASE WHEN n_pii > 0 THEN 'has_pii' END,
             CASE WHEN n_moji > 0 THEN 'mojibake' END) AS reasons
         FROM m"""),
    // q234: encoding-corruption gate — planting replayed in SQL
    // (chr() composition), mojibake via literal-alternation regex (no
    // char-class ranges, the portable dialect subset), replacement
    // density via length-diff replace, runs via contains.
    "q234_encoding_gate" ->
      """WITH p AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 11 = 0
               THEN ' caf' || chr(195) || chr(169) || ' don'
                 || chr(226) || chr(8364) || chr(8482) || 't'
               ELSE '' END ||
             CASE WHEN doc_id % 13 = 0
               THEN repeat(chr(65533), CAST(doc_id % 3 + 1 AS INT))
               ELSE '' END ||
             CASE WHEN doc_id % 17 = 0 THEN repeat(chr(65533), 4)
               ELSE '' END AS text
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text,
               '(\u00c3\u00a9|\u00c3\u00a8|\u00c3\u00bc|\u00c3\u00b1|\u00e2\u20ac\u2122|\u00e2\u20ac\u0153)')) AS BIGINT) AS n_moji,
             CAST(length(text) - length(replace(text, chr(65533), ''))
               AS BIGINT) AS n_repl,
             contains(text, repeat(chr(65533), 3)) AS invalid_run
           FROM p)
         SELECT doc_id, n_chars, n_moji, n_repl, invalid_run,
           NOT (n_moji > 0 OR 1000 * n_repl > n_chars OR invalid_run)
             AS keep,
           concat_ws(',',
             CASE WHEN n_moji > 0 THEN 'mojibake' END,
             CASE WHEN 1000 * n_repl > n_chars THEN 'replacement_char' END,
             CASE WHEN invalid_run THEN 'invalid_run' END) AS reasons
         FROM m""",
    // q235: audio fingerprint matching — generated replay (sample
    // decode, 32-sample-frame DFT, H-K bits, pigeonhole, Hamming).
    "q235_audio_fp_match" -> audioFingerprintOracleSql,
    // q236: mergeable HLL — md5 hash, bin()-length ranks, per-index
    // MAX merge, HUGEINT raw estimator with the interpolated
    // alpha*m^2*2^55 numerator (TrainingPrep.HllNumerator).
    "q236_hll_sketch" ->
      s"""WITH d AS (
           SELECT doc_id % 8 AS shard, text FROM documents),
         hsh AS (
           SELECT shard,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
           FROM d),
         rk AS (
           SELECT shard, h % ${TrainingPrep.HllRegisters} AS idx,
             CAST(CASE WHEN h // 64 = 0 THEN ${TrainingPrep.HllRankMax}
               ELSE ${TrainingPrep.HllRankMax} - length(bin(h // 64))
               END AS BIGINT) AS rk
           FROM hsh),
         regs AS (
           SELECT shard, idx, MAX(rk) AS m FROM rk GROUP BY 1, 2),
         allr AS (
           SELECT shard, idx, m FROM regs
           UNION ALL
           SELECT CAST(-1 AS BIGINT) AS shard, idx, MAX(m) AS m
           FROM regs GROUP BY idx),
         spine AS (
           SELECT sh.shard, CAST(i AS BIGINT) AS idx
           FROM (SELECT DISTINCT shard FROM allr) sh,
             UNNEST(range(${TrainingPrep.HllRegisters})) t(i)),
         sums AS (
           SELECT spine.shard,
             CAST(SUM(CAST(1 AS BIGINT) <<
               CAST(${TrainingPrep.HllRankMax} - COALESCE(allr.m, 0)
                 AS INT)) AS BIGINT) AS s
           FROM spine LEFT JOIN allr
             ON allr.shard = spine.shard AND allr.idx = spine.idx
           GROUP BY 1),
         ex AS (
           SELECT CAST(shard AS BIGINT) AS shard,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
           FROM d GROUP BY 1
           UNION ALL
           SELECT CAST(-1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT text) AS BIGINT)
           FROM d),
         est AS (
           SELECT ex.shard, ex.n_rows, ex.exact_distinct,
             CAST(('${TrainingPrep.HllNumerator}'::HUGEINT // sums.s)
               // 1000000 AS BIGINT) AS hll_estimate
           FROM ex JOIN sums ON sums.shard = ex.shard)
         SELECT shard, n_rows, exact_distinct, hll_estimate,
           CAST(ABS(hll_estimate - exact_distinct) * 1000000
             // exact_distinct AS BIGINT) AS err_micro
         FROM est""",
    // q237: Bloom-prefiltered decontamination — md5-nibble positions,
    // 1024 bit_or'd words, shift-and-mask membership, exact-join
    // verification; counts over gram instances.
    "q237_bloom_decontaminate" ->
      s"""WITH words AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM documents),
         evg AS (
           SELECT DISTINCT array_to_string(w[i:i+2], ' ') AS g
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) - 1)) AS i) t
           WHERE len(w) >= 3 AND doc_id % 97 = 0),
         bloom AS (
           SELECT pos // 32 AS wi,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
           FROM (
             SELECT ('0x' || substr(md5(g), 1, 4))::BIGINT AS pos FROM evg
             UNION ALL
             SELECT ('0x' || substr(md5(g), 5, 4))::BIGINT AS pos FROM evg)
           GROUP BY 1),
         trg AS (
           SELECT array_to_string(w[i:i+2], ' ') AS g
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) - 1)) AS i) t
           WHERE len(w) >= 3 AND doc_id % 97 <> 0),
         probed AS (
           SELECT trg.g,
             ((COALESCE(b1.bits, 0) >>
                 CAST(('0x' || substr(md5(trg.g), 1, 4))::BIGINT % 32
                   AS INT)) % 2 = 1
              AND (COALESCE(b2.bits, 0) >>
                 CAST(('0x' || substr(md5(trg.g), 5, 4))::BIGINT % 32
                   AS INT)) % 2 = 1) AS cand,
             (evg.g IS NOT NULL) AS hit
           FROM trg
             LEFT JOIN bloom b1
               ON b1.wi = ('0x' || substr(md5(trg.g), 1, 4))::BIGINT // 32
             LEFT JOIN bloom b2
               ON b2.wi = ('0x' || substr(md5(trg.g), 5, 4))::BIGINT // 32
             LEFT JOIN evg ON evg.g = trg.g),
         agg AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_train_gram_instances,
             CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT)
               AS n_candidates,
             CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_hits
           FROM probed)
         SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM evg) AS n_eval_grams,
           n_train_gram_instances, n_candidates, n_true_hits,
           CAST((n_candidates - n_true_hits) * 1000000
             // (n_train_gram_instances - n_true_hits) AS BIGINT)
             AS false_pos_micro
         FROM agg""",
    // q239: content-defined chunking — md5 window-hash boundaries
    // (the portable gear-CDC stand-in), LAG spans, digest-grain
    // per-source stats; boilerplate injected by the q100 device.
    "q239_cdc_chunks" ->
      s"""WITH $cdcSpanCtes,
         chunks AS (
           SELECT p0.source,
             substr(p0.text, CAST(s + 1 AS INT), CAST(e - s AS INT))
               AS chunk
           FROM spans JOIN p0 USING (doc_id)),
         g AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(COUNT(DISTINCT md5(chunk)) AS BIGINT)
               AS n_distinct_chunks,
             CAST(SUM(length(chunk)) AS BIGINT) AS n_chars
           FROM chunks GROUP BY 1)
         SELECT source, n_chunks, n_distinct_chunks,
           n_chunks - n_distinct_chunks AS dup_instances,
           CAST(((n_chunks - n_distinct_chunks) * 1000000) // n_chunks
             AS BIGINT) AS dup_ratio_micro,
           CAST((n_chars * 1000000) // n_chunks AS BIGINT)
             AS mean_chunk_len_micro
         FROM g""",
    // q240: directed shingle containment over the planted-container
    // corpus — shingleCtes over the union'd containers with a directed
    // pair join; containment = n_common*1e6 // |contained|.
    "q240_containment" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         cont AS (
           SELECT a.doc_id + ${Dedup.ContainOffset} AS doc_id,
             a.text || ' ' || b.text AS text
           FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 25 = 0),
         docs2 AS (
           SELECT * FROM base UNION ALL SELECT * FROM cont),
         ${shingleCtes(from = "docs2", order = "<>")}
         SELECT id_a AS contained_id, id_b AS container_id,
           CAST(n_common AS BIGINT) AS n_common,
           CAST((n_common * 1000000) // sa.n_sh AS BIGINT)
             AS containment_micro
         FROM common JOIN sizes sa ON sa.doc_id = id_a
         WHERE (n_common * 1000000) // sa.n_sh >= 800000""",
    // q241: DP geometric release — md5 32-bit uniform through the
    // exact dyadic-grid inverse CDF; bit_length via bin().
    "q241_dp_release" ->
      s"""WITH c AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT)
             AS true_count_audit
           FROM events GROUP BY 1),
         u AS (
           SELECT event_type, true_count_audit,
             ('0x' || substr(md5('dp:' || event_type), 1, 8))::BIGINT
               AS u
           FROM c),
         n AS (
           SELECT event_type, true_count_audit,
             CAST(CASE
               WHEN u * 3 < 4294967296 THEN
                 -(33 - CASE WHEN u * 3 = 0 THEN 0
                    ELSE length(bin(u * 3)) END)
               WHEN (4294967295 - u) * 3 < 4294967296 THEN
                 (33 - CASE WHEN (4294967295 - u) * 3 = 0 THEN 0
                    ELSE length(bin((4294967295 - u) * 3)) END)
               ELSE 0 END AS BIGINT) AS noise_audit
           FROM u)
         SELECT event_type, true_count_audit + noise_audit
             AS released_count,
           noise_audit, true_count_audit,
           CAST(${CleanPipeline.DpEpsilonMicro} AS BIGINT)
             AS epsilon_micro
         FROM n""",
    // q242: Luhn PII — planted candidates, UNNEST+SUM checksum replay,
    // digest over the sorted valid set.
    "q242_luhn_pii" ->
      """WITH p AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 9 = 0
               THEN ' card 4111111111111111 ok' ELSE '' END ||
             CASE WHEN doc_id % 9 = 3
               THEN ' ref 4111111111111112' ELSE '' END AS t
           FROM documents),
         cand AS (
           SELECT doc_id, UNNEST(regexp_extract_all(t, '[0-9]{13,19}'))
             AS c
           FROM p),
         luhn AS (
           SELECT DISTINCT doc_id, c,
             (SELECT SUM(CASE WHEN (length(c) - i) % 2 = 0
                  THEN CAST(substr(c, CAST(i AS INT), 1) AS BIGINT)
                  ELSE CASE
                    WHEN 2 * CAST(substr(c, CAST(i AS INT), 1) AS BIGINT) > 9
                    THEN 2 * CAST(substr(c, CAST(i AS INT), 1) AS BIGINT) - 9
                    ELSE 2 * CAST(substr(c, CAST(i AS INT), 1) AS BIGINT)
                  END END)
              FROM UNNEST(range(1, length(c) + 1)) t(i)) % 10 = 0 AS ok
           FROM cand),
         per AS (
           SELECT cand.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN luhn.ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_luhn_valid,
             md5(array_to_string(list_sort(
               list(cand.c) FILTER (WHERE luhn.ok)), ',')) AS valid_digest
           FROM cand JOIN luhn
             ON luhn.doc_id = cand.doc_id AND luhn.c = cand.c
           GROUP BY 1)
         SELECT doc_id, n_candidates, n_luhn_valid,
           COALESCE(valid_digest, md5('')) AS valid_digest
         FROM per""",
    // q243: join discovery — DISTINCT per column union'd, exhaustive
    // value self-join (the fixture scale makes it exact; the Spark
    // side runs the posting-index form), directed containment.
    "q243_join_discovery" ->
      """WITH vals AS (
           SELECT DISTINCT 'region.r_regionkey' AS colname, CAST(r_regionkey AS BIGINT) AS v
           FROM region WHERE r_regionkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'nation.n_nationkey' AS colname, CAST(n_nationkey AS BIGINT) AS v
           FROM nation WHERE n_nationkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'nation.n_regionkey' AS colname, CAST(n_regionkey AS BIGINT) AS v
           FROM nation WHERE n_regionkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'customer.c_custkey' AS colname, CAST(c_custkey AS BIGINT) AS v
           FROM customer WHERE c_custkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'customer.c_nationkey' AS colname, CAST(c_nationkey AS BIGINT) AS v
           FROM customer WHERE c_nationkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'supplier.s_suppkey' AS colname, CAST(s_suppkey AS BIGINT) AS v
           FROM supplier WHERE s_suppkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'supplier.s_nationkey' AS colname, CAST(s_nationkey AS BIGINT) AS v
           FROM supplier WHERE s_nationkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'part.p_partkey' AS colname, CAST(p_partkey AS BIGINT) AS v
           FROM part WHERE p_partkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'part.p_size' AS colname, CAST(p_size AS BIGINT) AS v
           FROM part WHERE p_size IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'orders.o_orderkey' AS colname, CAST(o_orderkey AS BIGINT) AS v
           FROM orders WHERE o_orderkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'orders.o_custkey' AS colname, CAST(o_custkey AS BIGINT) AS v
           FROM orders WHERE o_custkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'lineitem.l_orderkey' AS colname, CAST(l_orderkey AS BIGINT) AS v
           FROM lineitem WHERE l_orderkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'lineitem.l_partkey' AS colname, CAST(l_partkey AS BIGINT) AS v
           FROM lineitem WHERE l_partkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'lineitem.l_suppkey' AS colname, CAST(l_suppkey AS BIGINT) AS v
           FROM lineitem WHERE l_suppkey IS NOT NULL
           UNION ALL
           SELECT DISTINCT 'lineitem.l_linenumber' AS colname, CAST(l_linenumber AS BIGINT) AS v
           FROM lineitem WHERE l_linenumber IS NOT NULL),
         sizes AS (
           SELECT colname, CAST(COUNT(*) AS BIGINT) AS n_a
           FROM vals GROUP BY 1),
         common AS (
           SELECT a.colname AS col_a, b.colname AS col_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
           FROM vals a JOIN vals b
             ON a.v = b.v AND a.colname <> b.colname
           GROUP BY 1, 2)
         SELECT col_a AS contained_col, col_b AS container_col,
           sizes.n_a AS n_distinct, n_common,
           CAST((n_common * 1000000) // sizes.n_a AS BIGINT)
             AS containment_micro
         FROM common JOIN sizes ON sizes.colname = col_a
         WHERE (n_common * 1000000) // sizes.n_a >= 500000""",
    // q244: scene cuts — AVI synthesis replay (id % 3 == 2, frames =
    // 1 + body_len % 24), hex byte-pair sums per frame slice, exact
    // integer 25% step gate.
    "q244_scene_cuts" ->
      """WITH avi AS MATERIALIZED (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS blen,
             1 + octet_length(encode(text)) % 24 AS nf
           FROM documents WHERE doc_id % 3 = 2),
         dims AS (
           SELECT media_id, hx, nf, blen // nf AS fl FROM avi
           WHERE nf >= 2 AND blen // nf >= 1),
         e AS (
           SELECT media_id, CAST(i // fl AS BIGINT) AS j,
             CAST(SUM(('0x' || substr(hx, CAST(2*i AS INT) + 1, 2))::INT)
               AS BIGINT) AS en
           FROM dims, UNNEST(range(nf * fl)) t(i)
           GROUP BY 1, 2)
         SELECT cur.media_id, cur.j AS frame_idx,
           prv.en AS e_prev, cur.en AS e_cur,
           8 * ABS(cur.en - prv.en) > prv.en + cur.en AS is_cut
         FROM e cur JOIN e prv
           ON prv.media_id = cur.media_id AND prv.j = cur.j - 1""",
    // q245: quarantine lifecycle — surviving slice is doc_id % 4 != 0
    // by construction; file counts are structural constants.
    "q245_parquet_quarantine" ->
      """SELECT CAST(3 AS BIGINT) AS n_files,
           CAST(1 AS BIGINT) AS n_read_files,
           CAST(2 AS BIGINT) AS n_quarantined_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows_read,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
         FROM documents WHERE doc_id % 4 <> 0""",
    // q246: two-stage rerank — the q114 base wrapped as a subquery,
    // rank windows + md5 second-stage score.
    "q246_two_stage_rerank" ->
      s"""WITH base AS (
           SELECT * FROM ($bm25OracleSql) t),
         s1 AS (
           SELECT term, doc_id, score_micro,
             CAST(ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank1
           FROM base),
         k AS (SELECT * FROM s1 WHERE rank1 <= 10),
         s2 AS (
           SELECT term, doc_id, score_micro, rank1,
             ('0x' || substr(md5('xenc:' || term || ':' ||
               CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS xenc_score
           FROM k)
         SELECT term, doc_id, score_micro, xenc_score, rank1,
           CAST(ROW_NUMBER() OVER (PARTITION BY term
             ORDER BY xenc_score DESC, doc_id ASC) AS BIGINT) AS rank2,
           rank1 - CAST(ROW_NUMBER() OVER (PARTITION BY term
             ORDER BY xenc_score DESC, doc_id ASC) AS BIGINT)
             AS displacement
         FROM s2""",
    // q247: tau-b integer components — q212's scored frame and the
    // q182 entropy core, fixed-width decile bins, contingency cross
    // join, HUGEINT pair products.
    "q247_scorer_agreement" ->
      s"""WITH sc AS ($scoredDocsSql),
         bx AS (
           SELECT doc_id,
             LEAST(CAST(FLOOR(CAST(score AS DOUBLE) / 100000.0)
               AS BIGINT), 9) AS bx
           FROM sc),
         ${charCountCtes("documents")},
         ent AS (
           SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_chars,
             CAST(SUM(c * CAST(FLOOR(1000000.0 * ln(CAST(c AS DOUBLE)))
               AS BIGINT)) AS BIGINT) AS s_micro
           FROM cc GROUP BY 1),
         by AS (
           SELECT doc_id,
             LEAST(GREATEST((CAST(FLOOR(1000000.0 *
                   ln(CAST(n_chars AS DOUBLE)))
                 AS BIGINT) * n_chars - s_micro)
               // n_chars // 100000 - 25, 0), 9) AS by
           FROM ent),
         cells AS (
           SELECT bx.bx, by.by, CAST(COUNT(*) AS BIGINT) AS n
           FROM bx JOIN by USING (doc_id)
           GROUP BY 1, 2),
         cd AS (
           SELECT
             CAST(COALESCE(SUM(CASE WHEN b.bx > a.bx AND b.by > a.by
               THEN CAST(a.n AS HUGEINT) * b.n END), 0) AS BIGINT)
               AS concordant,
             CAST(COALESCE(SUM(CASE WHEN b.bx > a.bx AND b.by < a.by
               THEN CAST(a.n AS HUGEINT) * b.n END), 0) AS BIGINT)
               AS discordant
           FROM cells a CROSS JOIN cells b),
         tx AS (
           SELECT CAST(SUM(CAST(sx AS HUGEINT) * (sx - 1) // 2)
               AS BIGINT) AS tied_x
           FROM (SELECT SUM(n) AS sx FROM cells GROUP BY bx)),
         ty AS (
           SELECT CAST(SUM(CAST(sy AS HUGEINT) * (sy - 1) // 2)
               AS BIGINT) AS tied_y
           FROM (SELECT SUM(n) AS sy FROM cells GROUP BY by)),
         tot AS (
           SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(CAST(SUM(n) AS HUGEINT) * (SUM(n) - 1) // 2
               AS BIGINT) AS n_pairs
           FROM cells)
         SELECT n_docs, n_pairs, concordant, discordant, tied_x, tied_y
         FROM tot CROSS JOIN cd CROSS JOIN tx CROSS JOIN ty""",
    // q248: shared-passage provenance — q239's cdcSpanCtes, digests
    // deduped per doc, pair join over shared chunks >= 16 chars.
    "q248_cdc_provenance" ->
      s"""WITH $cdcSpanCtes,
         ch AS (
           SELECT DISTINCT p0.doc_id,
             md5(substr(p0.text, CAST(s + 1 AS INT), CAST(e - s AS INT)))
               AS dg
           FROM spans JOIN p0 USING (doc_id)
           WHERE e - s >= 16)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_chunks
         FROM ch a JOIN ch b
           ON a.dg = b.dg AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",
    // q249: streaming HLL — registers replayed from events (md5 user
    // hash, bin() ranks, per-(type, idx) MAX), the q236 estimator.
    "q249_stream_hll" ->
      s"""WITH h AS (
           SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
           FROM events),
         rk AS (
           SELECT event_type, h % ${TrainingPrep.HllRegisters} AS idx,
             CAST(CASE WHEN h // 64 = 0 THEN ${TrainingPrep.HllRankMax}
               ELSE ${TrainingPrep.HllRankMax} - length(bin(h // 64))
               END AS BIGINT) AS rk
           FROM h),
         regs AS (
           SELECT event_type, idx, MAX(rk) AS m FROM rk GROUP BY 1, 2),
         spine AS (
           SELECT k.event_type, CAST(i AS BIGINT) AS idx
           FROM (SELECT DISTINCT event_type FROM regs) k,
             UNNEST(range(${TrainingPrep.HllRegisters})) t(i)),
         sums AS (
           SELECT spine.event_type,
             CAST(SUM(CAST(1 AS BIGINT) <<
               CAST(${TrainingPrep.HllRankMax} - COALESCE(regs.m, 0)
                 AS INT)) AS BIGINT) AS s
           FROM spine LEFT JOIN regs
             ON regs.event_type = spine.event_type
               AND regs.idx = spine.idx
           GROUP BY 1),
         ex AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT)
               AS exact_distinct_users
           FROM events GROUP BY 1),
         est AS (
           SELECT ex.event_type, ex.n_events, ex.exact_distinct_users,
             CAST(('${TrainingPrep.HllNumerator}'::HUGEINT // sums.s)
               // 1000000 AS BIGINT) AS hll_estimate
           FROM ex JOIN sums ON sums.event_type = ex.event_type)
         SELECT event_type, n_events, exact_distinct_users, hll_estimate,
           CAST(ABS(hll_estimate - exact_distinct_users) * 1000000
             // exact_distinct_users AS BIGINT) AS err_micro
         FROM est""",
    // q250: KMV — distinct 60-bit md5 hashes, rank<=k window per
    // type; the ALL row is computed FROM SCRATCH here while Spark
    // MERGES the per-type sketches, so hash equality is the k-min
    // merge law itself. Estimator (k-1)*2^60 // h_k in HUGEINT.
    "q250_kmv_sketch" ->
      s"""WITH h AS (
           SELECT DISTINCT event_type,
             ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
               1, 15))::BIGINT AS h
           FROM events),
         allh AS (SELECT DISTINCT h FROM h),
         ranked AS (
           SELECT event_type, h, ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY h ASC) AS rk
           FROM h
           UNION ALL
           SELECT 'ALL', h, ROW_NUMBER() OVER (ORDER BY h ASC)
           FROM allh),
         sk AS (SELECT * FROM ranked WHERE rk <= ${Sketches.KmvK}),
         ex AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
           FROM h GROUP BY 1
           UNION ALL
           SELECT 'ALL', CAST(COUNT(*) AS BIGINT) FROM allh),
         est AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_in_sketch,
             MAX(CASE WHEN rk = ${Sketches.KmvK} THEN h END) AS kth
           FROM sk GROUP BY 1)
         SELECT est.event_type, ex.n_exact, est.n_in_sketch,
           COALESCE(est.kth, -1) AS kth_hash,
           CASE WHEN est.n_in_sketch < ${Sketches.KmvK} THEN ex.n_exact
             ELSE CAST((${Sketches.KmvK - 1}::HUGEINT *
               (1::BIGINT << 60)) // est.kth AS BIGINT)
           END AS est_distinct
         FROM est JOIN ex USING (event_type)""",
    // q251: correlation matrix — fixed-point integer columns, HUGEINT
    // sufficient statistics (the q221 widening rule: sum(price^2)
    // alone passes 2^63 at sf0.1), and the signed-r^2-ppm statistic
    // defined AS the two-step truncating division — no float
    // division, sqrt, or HUGEINT->DOUBLE cast in either engine.
    "q251_corr_matrix" -> corrMatrixOracleSql,
    // q252: RRF — q114's BM25 totals fused with the q212 quality
    // prior by rank only: sum of floor(1e12/(60+rank)), pure BIGINT.
    "q252_rrf_fusion" ->
      s"""WITH base AS (SELECT * FROM ($bm25OracleSql) t),
         lex AS (
           SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS lex_total
           FROM base GROUP BY 1),
         sc AS ($scoredDocsSql),
         cand AS (
           SELECT lex.doc_id, lex.lex_total, sc.score AS quality_micro
           FROM lex JOIN sc USING (doc_id)),
         rk AS (
           SELECT doc_id, lex_total, quality_micro,
             CAST(ROW_NUMBER() OVER (
               ORDER BY lex_total DESC, doc_id ASC) AS BIGINT) AS rank_lex,
             CAST(ROW_NUMBER() OVER (
               ORDER BY quality_micro DESC, doc_id ASC) AS BIGINT) AS rank_q
           FROM cand),
         f AS (
           SELECT *, CAST(1000000000000 // (60 + rank_lex) +
             1000000000000 // (60 + rank_q) AS BIGINT) AS rrf_scaled
           FROM rk)
         SELECT doc_id, lex_total, quality_micro, rank_lex, rank_q,
           rrf_scaled, rank_fused
         FROM (SELECT *, CAST(ROW_NUMBER() OVER (
             ORDER BY rrf_scaled DESC, doc_id ASC) AS BIGINT) AS rank_fused
           FROM f)
         WHERE rank_fused <= 10""",
    // q253: bitmap intersection — 32-bits-per-BIGINT-word packing
    // (shifts <= 31: the q237 checked-shift rule), BIT_OR build,
    // bit_count(a & b) intersections, integer Jaccard ppm.
    "q253_bitmap_intersect" ->
      """WITH w AS (
           SELECT event_type, user_id // 32 AS word,
             CAST(BIT_OR(1::BIGINT << CAST(user_id % 32 AS INT))
               AS BIGINT) AS w
           FROM events GROUP BY 1, 2),
         sizes AS (
           SELECT event_type, CAST(SUM(bit_count(w)) AS BIGINT) AS n_users
           FROM w GROUP BY 1),
         inter AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(SUM(bit_count(a.w & b.w)) AS BIGINT) AS n_inter
           FROM w a JOIN w b
             ON a.word = b.word AND a.event_type < b.event_type
           GROUP BY 1, 2),
         spine AS (
           SELECT sa.event_type AS type_a, sb.event_type AS type_b,
             sa.n_users AS n_a, sb.n_users AS n_b
           FROM sizes sa, sizes sb
           WHERE sa.event_type < sb.event_type)
         SELECT spine.type_a, spine.type_b, spine.n_a, spine.n_b,
           COALESCE(inter.n_inter, 0) AS n_inter,
           CAST(COALESCE(inter.n_inter, 0) * 1000000
             // (spine.n_a + spine.n_b - COALESCE(inter.n_inter, 0))
             AS BIGINT) AS jaccard_ppm
         FROM spine LEFT JOIN inter USING (type_a, type_b)""",
    // q254: streaming alerts — hourly counts vs the per-type baseline
    // artifact, integer cross-multiplied gate (2·n·n_hours > 3·total:
    // "above 1.5x the mean hourly rate"), replayed batch-side.
    "q254_stream_alerts" ->
      """WITH e AS (
           SELECT event_type, date_trunc('hour', ts) AS hour
           FROM events),
         hourly AS (
           SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS n_events
           FROM e GROUP BY 1, 2),
         base AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS total_events,
             CAST(COUNT(DISTINCT hour) AS BIGINT) AS n_hours
           FROM e GROUP BY 1)
         SELECT hourly.hour, hourly.event_type, hourly.n_events,
           base.total_events, base.n_hours
         FROM hourly JOIN base USING (event_type)
         WHERE hourly.n_events * base.n_hours * 2 >
           base.total_events * 3""",
    // q255: activity segments — q174's pcmWindowCtes, non-quiet
    // windows grouped into islands by win - ROW_NUMBER (q33 device).
    "q255_activity_segments" ->
      s"""WITH $pcmWindowCtes,
         e AS (
           SELECT media_id, win, CAST(SUM(a) AS BIGINT) AS sum_abs
           FROM samples GROUP BY 1, 2),
         tot AS (SELECT media_id, CAST(SUM(sum_abs) AS BIGINT) AS total
                 FROM e GROUP BY 1),
         act AS (
           SELECT e.media_id, CAST(e.win AS BIGINT) AS win, e.sum_abs,
             CAST(e.win AS BIGINT) - ROW_NUMBER() OVER (
               PARTITION BY e.media_id ORDER BY e.win ASC) AS grp
           FROM e JOIN tot USING (media_id)
           WHERE NOT (e.sum_abs * 16 < tot.total))
         SELECT media_id, CAST(MIN(win) AS BIGINT) AS start_win,
           CAST(MAX(win) AS BIGINT) AS end_win,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(sum_abs) AS BIGINT) AS seg_energy
         FROM act GROUP BY media_id, grp""",
    // q256: patch grid — the q172 BMP geometry (w = 16 + n % 64,
    // h = 16 + n % 48), intensity byte at ((r·w + c)·3) mod n,
    // patch = (r·4 // h, c·4 // w), integer per-patch reduce.
    "q256_patch_grid" ->
      """WITH img AS MATERIALIZED (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n,
             16 + octet_length(encode(text)) % 64 AS w,
             16 + octet_length(encode(text)) % 48 AS h
           FROM documents
           WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 1),
         px AS (
           SELECT media_id, (r.r * 4) // h AS pr, (c.c * 4) // w AS pc,
             ('0x' || substr(hx,
               CAST(2 * (((r.r * w + c.c) * 3) % n) AS INT) + 1, 2))::INT
               AS v
           FROM img,
             LATERAL (SELECT UNNEST(range(h)) AS r) r,
             LATERAL (SELECT UNNEST(range(w)) AS c) c)
         SELECT media_id, CAST(pr AS BIGINT) AS pr, CAST(pc AS BIGINT) AS pc,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS sum_i,
           CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_milli
         FROM px GROUP BY 1, 2, 3""",
    // q257: epoch order — md5 hex priorities (byte-stable order both
    // engines), per-epoch ROW_NUMBER, 64-doc batch manifest.
    "q257_epoch_order" ->
      """WITH e AS (
           SELECT doc_id, n_chars, CAST(ep AS BIGINT) AS epoch,
             md5('ep' || ep || ':' || CAST(doc_id AS VARCHAR)) AS pri
           FROM documents, UNNEST(range(2)) t(ep)),
         p AS (
           SELECT epoch, doc_id, n_chars, ROW_NUMBER() OVER (
             PARTITION BY epoch ORDER BY pri ASC, doc_id ASC) AS pos
           FROM e)
         SELECT epoch, (pos - 1) // 64 AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(arg_min(doc_id, pos) AS BIGINT) AS head_doc
         FROM p GROUP BY 1, 2""",
    // q258: KS — exact cents, cross-multiplied step-function gap
    // |cum1*n2 - cum2*n1| in HUGEINT, micro-scaled by truncating //,
    // argmax tie-pinned by smallest value.
    "q258_ks_drift" ->
      """WITH ev AS (
           SELECT event_type AS seg,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM events WHERE event_type IN ('purchase', 'click')),
         counts AS (
           SELECT v,
             CAST(SUM(CASE WHEN seg = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN seg = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS c2
           FROM ev GROUP BY 1),
         walked AS (
           SELECT v,
             SUM(c1) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum1,
             SUM(c2) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum2
           FROM counts),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2 FROM counts),
         g AS (
           SELECT v, n1, n2,
             ABS(cum1::HUGEINT * n2 - cum2::HUGEINT * n1) AS gap
           FROM walked, tot)
         SELECT n1, n2, CAST(gap AS BIGINT) AS d_cross,
           CAST((gap * 1000000) // (n1::HUGEINT * n2) AS BIGINT)
             AS d_micro,
           v AS argmax_cents
         FROM g ORDER BY gap DESC, v ASC LIMIT 1""",
    // q259: cross-source dup matrix — replayed planting (mirror
    // source re-packages every 7th doc; every 13th re-ingested into
    // its own source), per-(fp, source) counts, pair counts by
    // ARITHMETIC (c_a*c_b across, c(c-1)//2 within), no enumeration.
    "q259_cross_source_dups" ->
      s"""WITH planted AS (
           SELECT source, text FROM documents
           UNION ALL
           SELECT 'mirror' AS source, text FROM documents
           WHERE doc_id % 7 = 0
           UNION ALL
           SELECT source, text FROM documents WHERE doc_id % 13 = 0),
         fps AS (
           SELECT source, md5($normText) AS fp FROM planted),
         counts AS (
           SELECT fp, source, CAST(COUNT(*) AS BIGINT) AS c
           FROM fps GROUP BY 1, 2),
         pairs AS (
           SELECT a.source AS source_a, b.source AS source_b,
             CASE WHEN a.source = b.source THEN (a.c * (a.c - 1)) // 2
               ELSE a.c * b.c END AS pairs,
             CASE WHEN a.source = b.source THEN a.c >= 2
               ELSE TRUE END AS shared
           FROM counts a JOIN counts b
             ON a.fp = b.fp AND a.source <= b.source)
         SELECT source_a, source_b,
           CAST(SUM(pairs) AS BIGINT) AS n_dup_pairs,
           CAST(SUM(CASE WHEN shared THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_fps
         FROM pairs GROUP BY 1, 2
         HAVING SUM(pairs) > 0""",
    // q260: winsorize — nearest-rank p01/p99 bounds (rank
    // ceil(p*n/100), no interpolation), integer clamp + clip counts,
    // clipped mean in micros by truncating //.
    "q260_winsorize" ->
      """WITH ev AS (
           SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM events),
         ranked AS (
           SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY v ASC) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
           FROM ev),
         bounds AS (
           SELECT event_type,
             MIN(CASE WHEN rk = (1 * n + 99) // 100 THEN v END)
               AS lo_cents,
             MIN(CASE WHEN rk = (99 * n + 99) // 100 THEN v END)
               AS hi_cents
           FROM ranked GROUP BY 1)
         SELECT ev.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(b.lo_cents) AS lo_cents, MIN(b.hi_cents) AS hi_cents,
           CAST(SUM(CASE WHEN ev.v < b.lo_cents THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN ev.v > b.hi_cents THEN 1 ELSE 0 END)
             AS BIGINT) AS n_clip_hi,
           CAST((SUM(GREATEST(b.lo_cents, LEAST(b.hi_cents, ev.v)))::HUGEINT
             * 1000000) // COUNT(*) AS BIGINT) AS mean_clipped_micro
         FROM ev JOIN bounds b USING (event_type)
         GROUP BY 1""",
    // q261: greedy longest-match encode — dictionary-weighted gram
    // vocab (top-150, count desc / gram asc), the identical
    // position walk as a RECURSIVE CTE (q209 discipline), windows
    // 4->3->2 with single-char fallback.
    "q261_greedy_encode" ->
      s"""WITH RECURSIVE words AS (
           SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
             SELECT UNNEST(string_split($normText, ' ')) AS w
             FROM documents) t
           WHERE length(w) >= 1 GROUP BY 1),
         grams AS (
           SELECT substr(w, CAST(i AS INT), CAST(L AS INT)) AS g,
             CAST(SUM(cnt) AS BIGINT) AS gc
           FROM words,
             LATERAL (SELECT UNNEST(range(2, 5)) AS L) l,
             LATERAL (SELECT UNNEST(range(1, length(w) - L + 2)) AS i) t2
           WHERE length(w) >= L
           GROUP BY 1),
         vl AS (SELECT list(g) AS v FROM (
             SELECT g FROM grams ORDER BY gc DESC, g ASC LIMIT 150) t),
         enc AS (
           SELECT w, cnt, CAST(1 AS BIGINT) AS pos,
             CAST([] AS VARCHAR[]) AS pieces
           FROM words
           UNION ALL
           SELECT w, cnt, pos + length(piece), list_append(pieces, piece)
           FROM (
             SELECT e.w, e.cnt, e.pos, e.pieces,
               CASE
                 WHEN list_contains(vl.v,
                     substr(e.w, CAST(e.pos AS INT), 4))
                   THEN substr(e.w, CAST(e.pos AS INT), 4)
                 WHEN list_contains(vl.v,
                     substr(e.w, CAST(e.pos AS INT), 3))
                   THEN substr(e.w, CAST(e.pos AS INT), 3)
                 WHEN list_contains(vl.v,
                     substr(e.w, CAST(e.pos AS INT), 2))
                   THEN substr(e.w, CAST(e.pos AS INT), 2)
                 ELSE substr(e.w, CAST(e.pos AS INT), 1) END AS piece
             FROM enc e, vl WHERE e.pos <= length(e.w)) s),
         done AS (SELECT w, cnt, pieces FROM enc WHERE pos > length(w)),
         uses AS (SELECT UNNEST(pieces) AS piece, cnt FROM done),
         counts AS (
           SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n_uses
           FROM uses GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_uses) AS BIGINT) AS t FROM counts)
         SELECT rank, piece, CAST(length(piece) AS BIGINT) AS piece_len,
           n_uses, CAST((n_uses * 1000000) // t AS BIGINT) AS share_micro
         FROM (SELECT piece, n_uses, CAST(ROW_NUMBER() OVER (
             ORDER BY n_uses DESC, piece ASC) AS BIGINT) AS rank
           FROM counts) r, tot
         WHERE rank <= 20""",
    // q262: coordinated sampling — both tables filter by the SAME
    // salted md5 bucket of the join key (q84 device), so integrity
    // holds row-locally; the oracle replays the identical buckets.
    "q262_coordinated_sample" ->
      """WITH o AS (
           SELECT o_orderkey, o_orderpriority FROM orders
           WHERE ('0x' || substr(md5('cs:' ||
             CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 10),
         l AS (
           SELECT l_orderkey,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT) AS cents
           FROM lineitem
           WHERE ('0x' || substr(md5('cs:' ||
             CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % 100 < 10)
         SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
         FROM l JOIN o ON l_orderkey = o_orderkey
         GROUP BY 1""",
    // q263: incremental MV — the stream's four additive delta merges
    // must land on the one-shot batch aggregate (integer addition is
    // associative/commutative under any chopping).
    "q263_incremental_mv" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS BIGINT) AS sum_cents
         FROM events GROUP BY 1, 2""",
    // q265: late-data accounting — three deterministic ordered
    // batches (event_id mod 3); Spark's late-event watermark lags
    // eviction by one batch, so only batch 2 faces a late bar:
    // max(b0.ts) - 1h. Kept = b0 + b1 + surviving b2; Append's final
    // flush emits windows closed at-or-before max(all ts) - 1h.
    "q265_stream_late_data" ->
      """WITH b0 AS (SELECT * FROM events WHERE event_id % 3 = 0),
         b2 AS (SELECT * FROM events WHERE event_id % 3 = 2),
         late AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM b0),
         wmf AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events),
         kept AS (
           SELECT event_type, date_trunc('hour', ts) AS hour
           FROM events WHERE event_id % 3 <> 2
           UNION ALL
           SELECT event_type, date_trunc('hour', ts) FROM b2, late
           WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > late.w),
         agg AS (
           SELECT hour, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
           FROM kept GROUP BY 1, 2)
         SELECT agg.hour, agg.event_type, agg.n_events
         FROM agg, wmf
         WHERE agg.hour + INTERVAL 1 HOUR <= wmf.w""",
    // q266: in-doc sentence dedup — replayed planting (every 6th doc
    // re-appends its first sentence), first occurrence by position
    // window, ordered re-join fingerprinted.
    "q266_sentence_dedup" ->
      s"""WITH norm AS (SELECT doc_id, $normText AS t FROM documents),
         planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 6 = 0 AND length(t) > 0
               THEN t || '. ' || string_split(t, '. ')[1]
               ELSE t END AS t
           FROM norm),
         sents AS (
           SELECT doc_id, CAST(i AS BIGINT) AS idx,
             arr[CAST(i AS INT) + 1] AS s
           FROM (SELECT doc_id, string_split(t, '. ') AS arr
                 FROM planted),
             LATERAL (SELECT UNNEST(range(len(arr))) AS i) t2),
         fst AS (
           SELECT doc_id, idx, s, ROW_NUMBER() OVER (
             PARTITION BY doc_id, md5(s) ORDER BY idx) AS rk
           FROM sents),
         kept AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             md5(string_agg(s, '. ' ORDER BY idx)) AS clean_fp
           FROM fst WHERE rk = 1 GROUP BY 1),
         stats AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sents
           FROM sents GROUP BY 1)
         SELECT stats.doc_id, stats.n_sents, kept.n_kept,
           stats.n_sents - kept.n_kept AS n_removed, kept.clean_fp
         FROM stats JOIN kept USING (doc_id)""",
    // q264: pseudonymized join — the oracle joins on ORIGINAL keys;
    // equality proves consistent salting preserves every FK edge
    // (and the distinct count doubles as the collision audit).
    "q264_pseudonymized_join" ->
      """SELECT c_mktsegment AS segment,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    // q267: the MG sketch only bounds memory — candidates are a
    // guaranteed superset of true heavy hitters and pass 2 recounts
    // them exactly, so the oracle is the PLAIN exact HH query;
    // equality IS the no-false-negative theorem under test.
    "q267_heavy_hitters" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
         c AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM lineitem GROUP BY 1)
         SELECT c.l_partkey, c.cnt, n.n AS n_total,
           CAST(c.cnt * 1000000 // n.n AS BIGINT) AS freq_micro
         FROM c, n WHERE c.cnt * 1300 > n.n""",
    // q268: the full synthetic rating matrix is replayed (identical
    // md5 noise decisions + cyclic-next corruption), then the exact
    // integer Fleiss arithmetic; HUGEINT where Spark uses DECIMAL(38).
    "q268_fleiss_kappa" ->
      s"""WITH ${ratedCte()},
         nic AS (SELECT doc_id, label, CAST(COUNT(*) AS BIGINT) AS c
                 FROM rated GROUP BY 1, 2),
         cat AS (SELECT label, SUM(c*c) AS sum_sq, SUM(c) AS s_c
                 FROM nic GROUP BY 1),
         agg AS (SELECT CAST(SUM(sum_sq) AS BIGINT) AS ss,
                   SUM(CAST(s_c AS HUGEINT) * s_c) AS pe_num,
                   CAST(SUM(s_c) // 3 AS BIGINT) AS n_items FROM cat),
         m AS (SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
             CAST((ss - n_items * 3) * 1000000 //
               (n_items * 3 * 2) AS BIGINT) AS pbar_micro,
             CAST(pe_num * 1000000 //
               (CAST(n_items AS HUGEINT) * 3 * n_items * 3) AS BIGINT)
               AS pe_micro
           FROM agg)
         SELECT n_items, n_raters, pbar_micro, pe_micro,
           CAST((pbar_micro - pe_micro) * 1000000 //
             (1000000 - pe_micro) AS BIGINT) AS kappa_micro
         FROM m""",
    // q269: contests (user-day spend rankings) replayed exactly —
    // cents aggregate, total-order rank, Borda points, pairwise wins,
    // Copeland over the full type² spine.
    "q269_preference_scores" ->
      s"""WITH $spendCentsCte,
         ranked AS (
           SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id, d
               ORDER BY cents DESC, event_type ASC) AS BIGINT) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY user_id, d) AS BIGINT) AS m
           FROM cents),
         borda AS (SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_contests,
             CAST(SUM(m - rk) AS BIGINT) AS borda
           FROM ranked GROUP BY 1),
         wins AS (SELECT a.event_type AS winner, b.event_type AS loser,
             CAST(COUNT(*) AS BIGINT) AS n_wins
           FROM ranked a JOIN ranked b ON a.user_id = b.user_id
             AND a.d = b.d AND a.rk < b.rk
           GROUP BY 1, 2),
         types AS (SELECT DISTINCT event_type FROM ranked),
         duels AS (
           SELECT ta.event_type AS t,
             COALESCE(wf.n_wins, 0) AS w_for,
             COALESCE(wa.n_wins, 0) AS w_against
           FROM types ta JOIN types tb
             ON ta.event_type <> tb.event_type
           LEFT JOIN wins wf ON wf.winner = ta.event_type
             AND wf.loser = tb.event_type
           LEFT JOIN wins wa ON wa.winner = tb.event_type
             AND wa.loser = ta.event_type),
         cope AS (SELECT t AS event_type,
             CAST(SUM(w_for) AS BIGINT) AS wins,
             CAST(SUM(CASE WHEN w_for > w_against THEN 1
               WHEN w_for < w_against THEN -1 ELSE 0 END) AS BIGINT)
               AS copeland
           FROM duels GROUP BY 1)
         SELECT b.event_type, b.n_contests, b.borda, c.wins, c.copeland
         FROM borda b JOIN cope c USING (event_type)""",
    // q270: generated MATERIALIZED-CTE replay of the 15 MM rounds
    // (the q232 iterative-oracle device) over the same win matrix.
    "q270_bradley_terry" ->
      bradleyTerryOracleSql(Preference.bradleyTerryIters),
    // q271: annBrute's oracle-exact ranking joined to labels, then
    // the SAME precomputed integer gain table — no engine ever
    // evaluates a log.
    "q271_ndcg_audit" ->
      s"""WITH b AS MATERIALIZED (
           SELECT q_id, vec_id, rk FROM ($annBruteOracle) t),
         lab AS (SELECT vec_id, label FROM embeddings),
         rel AS (
           SELECT b.q_id, b.rk,
             CASE WHEN ql.label = rl.label THEN 1 ELSE 0 END AS rel
           FROM b JOIN lab ql ON ql.vec_id = b.q_id
             JOIN lab rl ON rl.vec_id = b.vec_id),
         g AS (SELECT * FROM (VALUES (1, 1000000), (2, 630929),
             (3, 500000), (4, 430676), (5, 386852), (6, 356207),
             (7, 333333), (8, 315464), (9, 301029), (10, 289064))
           v(rk, gain)),
         cum AS (SELECT rk AS n_rel,
             CAST(SUM(gain) OVER (ORDER BY rk) AS BIGINT) AS idcg
           FROM g),
         per AS (
           SELECT q_id, CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(SUM(rel * gain) AS BIGINT) AS dcg_micro
           FROM rel JOIN g USING (rk) GROUP BY 1)
         SELECT q_id, n_rel, dcg_micro,
           CAST(COALESCE(cum.idcg, 0) AS BIGINT) AS idcg_micro,
           CAST(CASE WHEN n_rel > 0
             THEN dcg_micro * 1000000 // cum.idcg
             ELSE -1 END AS BIGINT) AS ndcg_micro
         FROM per LEFT JOIN cum USING (n_rel)""",
    // q272: every ancestor prefix unnested per part key, counted.
    "q272_prefix_rollup" ->
      """WITH segs AS (
           SELECT string_split(lower(p_type) || '/' ||
             replace(p_name, ' ', '/'), '/') AS seg,
             CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
           FROM part),
         pfx AS (
           SELECT array_to_string(seg[1:d], '/') AS prefix, cents
           FROM segs, LATERAL (SELECT UNNEST(range(1, len(seg) + 1)) AS d) t)
         SELECT prefix,
           CAST(len(string_split(prefix, '/')) AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_objects,
           CAST(SUM(cents) AS BIGINT) AS size_cents
         FROM pfx GROUP BY 1""",
    // q273: nearest-rank conformal quantile at the finite-sample
    // rank ceil((n+1)·0.9), then exact coverage counts on the
    // held-out parity split.
    "q273_conformal" ->
      s"""WITH scored AS (
           SELECT doc_id,
             CASE WHEN is_en THEN 1000000 - score ELSE score END
               AS nonconf,
             doc_id % 2 = 0 AS is_cal
           FROM ($scoredDocsSql) t),
         cal AS (SELECT * FROM scored WHERE is_cal),
         ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
         qh AS (
           SELECT n_cal,
             CAST(((n_cal + 1) * 90 + 99) // 100 AS BIGINT) AS k_rank,
             nonconf AS qhat
           FROM (SELECT nonconf, CAST(ROW_NUMBER() OVER
                 (ORDER BY nonconf ASC, doc_id ASC) AS BIGINT) AS rk
               FROM cal) r, ncal
           WHERE rk = ((n_cal + 1) * 90 + 99) // 100)
         SELECT qh.n_cal, qh.k_rank, qh.qhat,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN e.nonconf <= qh.qhat THEN 1 ELSE 0 END)
             AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN e.nonconf <= qh.qhat THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS coverage_micro
         FROM scored e, qh WHERE NOT e.is_cal
         GROUP BY 1, 2, 3""",
    // q274: R×C spine (zero cells contribute), per-cell term in the
    // same overflow-safe split-multiply, HUGEINT throughout.
    "q274_chi_square" ->
      """WITH cells AS (
           SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
           FROM documents GROUP BY 1, 2),
         rm AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
                FROM cells GROUP BY 1),
         cm AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c
                FROM cells GROUP BY 1),
         tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
           FROM cells),
         spine AS (
           SELECT rm.source, cm.lang, rm.r, cm.c,
             COALESCE(cells.o, 0) AS o
           FROM rm CROSS JOIN cm
           LEFT JOIN cells ON cells.source = rm.source
             AND cells.lang = cm.lang),
         terms AS (
           SELECT t.n, t.n_sources, t.n_langs,
             (CAST(s.o AS HUGEINT) * t.n - CAST(s.r AS HUGEINT) * s.c) *
               (CAST(s.o AS HUGEINT) * t.n - CAST(s.r AS HUGEINT) * s.c)
               AS d2,
             CAST(s.r AS HUGEINT) * s.c * t.n AS den
           FROM spine s, tot t)
         SELECT n, n_sources, n_langs,
           CAST(SUM(CAST(d2 // den AS BIGINT) * 1000000 +
             CAST((d2 % den) * 1000000 // den AS BIGINT)) AS BIGINT)
             AS chi2_micro,
           CAST((n_sources - 1) * (n_langs - 1) AS BIGINT) AS dof
         FROM terms GROUP BY 1, 2, 3""",
    // q275: the q233 deterministic total order (score DESC, doc_id
    // ASC), per-relevant-rank truncating precision terms (q252's
    // order-independent device), one final DIV by n_pos.
    "q275_avg_precision" ->
      s"""WITH sc AS ($scoredDocsSql),
         rk AS (
           SELECT is_en,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
               AS BIGINT) AS rk,
             CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) OVER
               (ORDER BY score DESC, doc_id ASC ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
           FROM sc),
         agg AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             CAST(SUM(CASE WHEN is_en THEN (cum_pos * 1000000) // rk
               ELSE 0 END) AS BIGINT) AS ap_sum_micro
           FROM rk)
         SELECT n_docs, n_pos, ap_sum_micro,
           CAST(ap_sum_micro // n_pos AS BIGINT) AS ap_micro
         FROM agg""",
    // q276: grouped-by-score doubled mid-ranks (the q212 device) +
    // the tie-cube term; z² folded to ONE HUGEINT truncating
    // division — no sqrt, no float accumulation.
    "q276_mann_whitney" ->
      s"""WITH sc AS ($scoredDocsSql),
         $scoreRankCtes,
         agg AS (
           SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
             CAST(SUM(c) - SUM(p) AS BIGINT) AS n_neg,
             CAST(SUM(p * (2 * cum + c + 1)) AS BIGINT) AS r2_pos,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie_cubes
           FROM rk),
         d AS (
           SELECT n_pos, n_neg,
             CAST(r2_pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
             tie_cubes
           FROM agg),
         e AS (
           SELECT n_pos, n_neg, u2, tie_cubes,
             CAST(u2 - n_pos * n_neg AS BIGINT) AS dev2,
             CAST((n_pos + n_neg) * (n_pos + n_neg - 1) *
               (n_pos + n_neg + 1) - tie_cubes AS BIGINT) AS tie_term
           FROM d)
         SELECT n_pos, n_neg, u2, tie_cubes, dev2, tie_term,
           CASE WHEN n_pos = 0 OR n_neg = 0 OR tie_term = 0 THEN -1
             ELSE CAST(CAST(3000000 AS HUGEINT) * dev2 * dev2 *
               (n_pos + n_neg) * (n_pos + n_neg - 1) //
               (CAST(n_pos AS HUGEINT) * n_neg * tie_term) AS BIGINT)
             END AS z2_micro
         FROM e""",
    // q277: both medians by the q260 nearest-rank device (the value
    // at rank ceil(n/2)); the gate is pure cross-multiplication.
    "q277_mad_outliers" ->
      """WITH ev AS (
           SELECT event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
           FROM events),
         r1 AS (
           SELECT event_type, cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY cents ASC) AS BIGINT) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM ev),
         m AS (
           SELECT event_type,
             MAX(CASE WHEN rk * 2 <= n + 1 THEN cents END) AS med
           FROM r1 GROUP BY 1),
         d AS (
           SELECT r1.event_type, r1.n, m.med,
             ABS(r1.cents - m.med) AS dev
           FROM r1 JOIN m USING (event_type)),
         r2 AS (
           SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY dev ASC) AS BIGINT) AS drk FROM d),
         md AS (
           SELECT event_type,
             MAX(CASE WHEN drk * 2 <= n + 1 THEN dev END) AS mad
           FROM r2 GROUP BY 1)
         SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(d.med) AS BIGINT) AS med_cents,
           CAST(MAX(md.mad) AS BIGINT) AS mad_cents,
           CAST(SUM(CASE WHEN d.dev * 6745 > md.mad * 35000
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(CAST(SUM(CASE WHEN d.dev * 6745 > md.mad * 35000
             THEN 1 ELSE 0 END) AS BIGINT) * 1000000 //
             CAST(COUNT(*) AS BIGINT) AS BIGINT) AS outlier_ppm
         FROM d JOIN md USING (event_type) GROUP BY 1""",
    // q278: the minimax PAV characterization over the 10-bin domain;
    // fractions ordered by the exact (p·10¹²) DIV n key, fit rendered
    // by the nested-floor identity key DIV 10⁶.
    "q278_isotonic" ->
      s"""WITH sc AS ($scoredDocsSql),
         b AS (
           SELECT LEAST(CAST(FLOOR(CAST(score AS DOUBLE) / 100000.0)
             AS BIGINT), 9) AS bin, is_en
           FROM sc),
         g AS (
           SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS pos
           FROM b GROUP BY 1),
         cum AS (
           SELECT bin, n, pos,
             CAST(SUM(n) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
             CAST(SUM(pos) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
           FROM g),
         blocks AS (
           SELECT j.bin AS jbin, k.bin AS kbin,
             CAST((k.cp - (j.cp - j.pos)) * 1000000000000 //
               (k.cn - (j.cn - j.n)) AS BIGINT) AS okey
           FROM cum j, cum k WHERE j.bin <= k.bin),
         fit1 AS (
           SELECT i.bin, bl.jbin, MIN(bl.okey) AS mk
           FROM cum i JOIN blocks bl
             ON bl.jbin <= i.bin AND bl.kbin >= i.bin
           GROUP BY 1, 2),
         fit AS (
           SELECT bin, CAST(MAX(mk) AS BIGINT) AS fit_key
           FROM fit1 GROUP BY 1)
         SELECT c.bin, c.n, c.pos,
           CAST(c.pos * 1000000 // c.n AS BIGINT) AS raw_micro,
           CAST(f.fit_key // 1000000 AS BIGINT) AS fit_micro
         FROM cum c JOIN fit f USING (bin)""",
    // q279: the oracle replicates the bucket bookkeeping but takes
    // the median by the DIRECT full-sort nearest-rank — equality is
    // the refinement-correctness theorem.
    "q279_histogram_median" ->
      """WITH li AS (
           SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
             AS cents
           FROM lineitem),
         st AS (
           SELECT CAST(MIN(cents) AS BIGINT) AS lo,
             CAST(MAX(cents) AS BIGINT) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM li),
         p AS (
           SELECT lo, hi, n, hi - lo + 1 AS w, (n + 1) // 2 AS k
           FROM st),
         h AS (
           SELECT CAST((cents - p.lo) * 1024 // p.w AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM li, p GROUP BY 1),
         cumh AS (
           SELECT bucket, c,
             CAST(COALESCE(SUM(c) OVER (ORDER BY bucket ASC ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
           FROM h),
         cand AS (
           SELECT bucket, c FROM cumh, p
           WHERE cum_before < p.k AND cum_before + c >= p.k),
         m AS (
           SELECT cents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents ASC) AS BIGINT) AS rk
           FROM li)
         SELECT p.n, p.lo AS min_cents, p.hi AS max_cents,
           CAST(p.k AS BIGINT) AS k, cand.bucket,
           cand.c AS rows_in_bucket,
           (SELECT m.cents FROM m, p WHERE m.rk = p.k) AS median_cents
         FROM p, cand""",
    // q280: same ancestor explode as q272; the routing subset and the
    // deepest-match window replayed verbatim; '(default)' carries the
    // LEFT-miss population.
    "q280_lpm_join" ->
      """WITH parts AS (
           SELECT p_partkey,
             string_split(lower(p_type) || '/' ||
               replace(p_name, ' ', '/'), '/') AS seg,
             CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
           FROM part),
         anc AS (
           SELECT p_partkey, array_to_string(seg[1:d], '/') AS prefix
           FROM parts, LATERAL (SELECT UNNEST(range(1, len(seg) + 1)) AS d) t),
         dimc AS (SELECT DISTINCT prefix FROM anc),
         dim AS (
           SELECT prefix,
             CAST(len(string_split(prefix, '/')) AS BIGINT) AS depth,
             ('0x' || substr(md5('route:' || prefix), 1, 15))::BIGINT AS h
           FROM dimc),
         dimf AS (
           SELECT prefix, depth FROM dim
           WHERE (depth = 1 AND h % 2 = 0) OR (depth = 2 AND h % 3 = 0)
             OR (depth >= 3 AND h % 7 = 0)),
         matched AS (
           SELECT a.p_partkey, d.depth, d.prefix,
             ROW_NUMBER() OVER (PARTITION BY a.p_partkey
               ORDER BY d.depth DESC) AS rn
           FROM anc a JOIN dimf d USING (prefix)),
         best AS (
           SELECT p_partkey, depth, prefix FROM matched WHERE rn = 1)
         SELECT COALESCE(b.prefix, '(default)') AS route,
           CAST(COALESCE(b.depth, 0) AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(p.cents) AS BIGINT) AS sum_cents
         FROM parts p LEFT JOIN best b USING (p_partkey)
         GROUP BY 1, 2""",
    // q281: the oracle runs the textbook doubly-nested NOT EXISTS
    // division — the engine runs Codd's count-matching identity, so
    // hash equality is the equivalence theorem, not a plan echo.
    "q281_division" ->
      """WITH pr AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
         buyers AS (SELECT DISTINCT o_custkey FROM orders),
         complete AS (
           SELECT b.o_custkey FROM buyers b
           WHERE NOT EXISTS (
             SELECT 1 FROM pr
             WHERE NOT EXISTS (
               SELECT 1 FROM orders o
               WHERE o.o_custkey = b.o_custkey
                 AND o.o_orderpriority = pr.p)))
         SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_buyers,
           CAST(SUM(CASE WHEN b.o_custkey IN
               (SELECT o_custkey FROM complete) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_complete
         FROM buyers b JOIN customer ON c_custkey = b.o_custkey
         GROUP BY 1""",
    // q282: entropy recomputed through UNNEST-per-character — a
    // structurally different route than the engine's alphabet fold.
    "q282_secret_scan" ->
      """WITH d AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 7 = 0
               THEN ' api_key=' || md5('sk:' || CAST(doc_id AS VARCHAR))
               ELSE '' END ||
             CASE WHEN doc_id % 7 = 3
               THEN ' session=abababababababababababababababab'
               ELSE '' END AS t
           FROM documents),
         cd AS (SELECT doc_id,
             regexp_extract_all(t, '[a-z0-9]{24,}', 0) AS cands
           FROM d),
         c1 AS (SELECT doc_id, i AS ci, cands[i] AS c
           FROM cd, LATERAL (SELECT UNNEST(range(1, len(cands) + 1)) AS i) u
           WHERE len(cands) > 0),
         ch AS (SELECT doc_id, ci, c, substr(c, j, 1) AS ch
           FROM c1, LATERAL (SELECT UNNEST(range(1, len(c) + 1)) AS j) v),
         cc AS (SELECT doc_id, ci, c, ch, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM ch GROUP BY 1, 2, 3, 4),
         ent AS (SELECT doc_id, ci, c,
             CAST(FLOOR(1000000.0 * ln(CAST(len(c) AS DOUBLE))) AS BIGINT)
               * len(c)
             - CAST(SUM(CASE WHEN cnt > 1
                 THEN cnt * CAST(FLOOR(1000000.0 * ln(CAST(cnt AS DOUBLE)))
                   AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS gap,
             CAST(len(c) AS BIGINT) AS l
           FROM cc GROUP BY 1, 2, 3),
         sec AS (SELECT doc_id, c FROM ent WHERE gap >= 2000000 * l),
         base AS (SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates
           FROM cd WHERE len(cands) > 0),
         sagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_secrets,
             md5(string_agg(c, ',' ORDER BY c)) AS dg
           FROM sec GROUP BY 1)
         SELECT b.doc_id, b.n_candidates,
           CAST(COALESCE(s.n_secrets, 0) AS BIGINT) AS n_secrets,
           COALESCE(s.dg, md5('')) AS secret_digest
         FROM base b LEFT JOIN sagg s USING (doc_id)""",
    // q283: the oracle brute-forces the candidate definition with a
    // direct OR join (nation match OR lev<=1 name) — the engine must
    // surface the identical pair set through its two equi-join
    // blocking channels; weight arithmetic replayed verbatim as the
    // same identical-tree double chains.
    "q283_fs_linkage" ->
      """WITH clean AS (
           SELECT c_custkey AS clean_id, c_name AS cn,
             CAST(c_nationkey AS BIGINT) AS c_nat,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS c_cents
           FROM customer),
         dirty AS (
           SELECT c_custkey + 1000000 AS dirty_id,
             CASE WHEN c_custkey % 2 = 0
               THEN substring(c_name, 1, 1) || substring(c_name, 3)
               ELSE c_name END AS dn,
             CASE WHEN c_custkey % 5 = 0
               THEN (CAST(c_nationkey AS BIGINT) + 7) % 25
               ELSE CAST(c_nationkey AS BIGINT) END AS d_nat,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) +
               CASE WHEN c_custkey % 3 = 0 THEN 100 ELSE 0 END AS d_cents
           FROM customer WHERE c_custkey % 11 = 0),
         w AS (
           SELECT
             CAST(FLOOR(1000000.0 * ln((19.0 * dn_) / 20.0)) AS BIGINT)
               AS w_name_a,
             CAST(FLOOR(1000000.0 * ln(dn_ / (20.0 * (dn_ - 1.0))))
               AS BIGINT) AS w_name_d,
             CAST(FLOOR(1000000.0 * ln((19.0 * n_ * n_) / (20.0 * s2_)))
               AS BIGINT) AS w_nat_a,
             CAST(FLOOR(1000000.0 * ln((n_ * n_) / (20.0 * (n_ * n_ - s2_))))
               AS BIGINT) AS w_nat_d,
             CAST(FLOOR(1000000.0 * ln((19.0 * db_) / 20.0)) AS BIGINT)
               AS w_bal_a,
             CAST(FLOOR(1000000.0 * ln(db_ / (20.0 * (db_ - 1.0))))
               AS BIGINT) AS w_bal_d
           FROM (SELECT CAST(COUNT(DISTINCT cn) AS DOUBLE) AS dn_,
                   CAST(COUNT(DISTINCT c_cents) AS DOUBLE) AS db_,
                   CAST(COUNT(*) AS DOUBLE) AS n_
                 FROM clean),
                (SELECT CAST(SUM(c * c) AS DOUBLE) AS s2_
                 FROM (SELECT COUNT(*) AS c FROM clean GROUP BY c_nat))),
         cand AS (
           SELECT d.dirty_id, c.clean_id, d.dn, c.cn, d.d_nat, c.c_nat,
             d.d_cents, c.c_cents
           FROM dirty d JOIN clean c
             ON (d.d_nat = c.c_nat AND d.d_cents = c.c_cents)
             OR levenshtein(d.dn, c.cn) <= 1),
         scored AS (
           SELECT dirty_id, clean_id,
             levenshtein(dn, cn) <= 1 AS name_agree,
             d_nat = c_nat AS nat_agree,
             d_cents = c_cents AS bal_agree,
             CAST((CASE WHEN levenshtein(dn, cn) <= 1
                 THEN w.w_name_a ELSE w.w_name_d END)
               + (CASE WHEN d_nat = c_nat
                 THEN w.w_nat_a ELSE w.w_nat_d END)
               + (CASE WHEN d_cents = c_cents
                 THEN w.w_bal_a ELSE w.w_bal_d END) AS BIGINT)
               AS score_micro
           FROM cand, w)
         SELECT dirty_id, clean_id, name_agree, nat_agree, bal_agree,
           score_micro,
           CASE WHEN score_micro >= 12000000 THEN 'match'
                WHEN score_micro >= 1000000 THEN 'possible' END AS verdict
         FROM scored WHERE score_micro >= 1000000""",
    // q284: ULM hard-EM trainer — generated chained-CTE replay
    // (per-position Viterbi unroll vs the engine's nested HOF DP).
    "q284_ulm_train" -> ulmTrainOracleSql(rounds = TextAnalysis.ulmRounds,
      multiK = TextAnalysis.ulmMultiK, maxPiece = TextAnalysis.ulmMaxPiece,
      maxLen = 12),
    // q285: encode lifecycle under the q284 artifact — one more
    // generated Viterbi chain + per-doc fertility aggregate.
    "q285_ulm_encode" -> ulmEncodeOracleSql(rounds = TextAnalysis.ulmRounds,
      multiK = TextAnalysis.ulmMultiK, maxPiece = TextAnalysis.ulmMaxPiece,
      maxLen = 12),
    // q286: Shapley over the data-derived channel lattice, built in
    // SQL from bit masks; v(S) in micros, credit as the exact
    // integer numerator beside n! — no signed division anywhere.
    "q286_shapley_attribution" ->
      """WITH ch AS (
           SELECT event_type AS c,
             CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS INT)
               AS idx
           FROM (SELECT DISTINCT event_type FROM events
                 WHERE event_type <> 'purchase') t),
         nn AS (SELECT CAST(COUNT(*) AS INT) AS n FROM ch),
         fp AS (SELECT user_id, MIN(ts) AS fp FROM events
                WHERE event_type = 'purchase' GROUP BY 1),
         expo AS (
           SELECT e.user_id,
             string_agg(DISTINCT e.event_type, ','
               ORDER BY e.event_type) AS key
           FROM events e LEFT JOIN fp USING (user_id)
           WHERE e.event_type <> 'purchase'
             AND (fp.fp IS NULL OR e.ts < fp.fp)
           GROUP BY 1),
         us AS (SELECT DISTINCT user_id FROM events),
         stats AS (
           SELECT COALESCE(x.key, '') AS key,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN fp.user_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS c
           FROM us LEFT JOIN expo x USING (user_id)
           LEFT JOIN fp USING (user_id)
           GROUP BY 1),
         masks AS (SELECT CAST(UNNEST(range(0,
             1 << (SELECT n FROM nn))) AS INT) AS mk),
         subs AS (
           SELECT mk,
             COALESCE(string_agg(c, ',' ORDER BY c)
               FILTER (WHERE (mk >> idx) & 1 = 1), '') AS key,
             CAST(COUNT(*) FILTER (WHERE (mk >> idx) & 1 = 1) AS INT)
               AS sz
           FROM masks, ch GROUP BY mk),
         vv AS (
           SELECT s.mk, s.sz,
             COALESCE(CAST(st.c * 1000000 // st.m AS BIGINT), 0) AS vmu
           FROM subs s LEFT JOIN stats st USING (key)),
         terms AS (
           SELECT ch.c AS channel,
             CAST(factorial(v0.sz) *
               factorial((SELECT n FROM nn) - 1 - v0.sz) AS BIGINT)
               * (v1.vmu - v0.vmu) AS term
           FROM ch
           JOIN vv v0 ON (v0.mk >> ch.idx) & 1 = 0
           JOIN vv v1 ON v1.mk = v0.mk | (1 << ch.idx)),
         phi AS (SELECT channel, CAST(SUM(term) AS BIGINT) AS phi_num
                 FROM terms GROUP BY 1),
         nexp AS (
           SELECT ch.c AS channel,
             CAST(COALESCE(SUM(st.m), 0) AS BIGINT) AS n_exposed
           FROM ch LEFT JOIN stats st
             ON (',' || st.key || ',') LIKE ('%,' || ch.c || ',%')
           GROUP BY 1)
         SELECT p.channel, nexp.n_exposed, p.phi_num,
           CAST((SELECT n FROM nn) AS BIGINT) AS n_channels
         FROM phi p JOIN nexp USING (channel)""",
    // q287: quantile mapping replayed with the same rank windows and
    // the same ceiling division; src0 is the fixed reference feed.
    "q287_quantile_align" ->
      s"""WITH sc AS ($scoredDocsSql),
         s AS (SELECT sc.doc_id, sc.score, sc.is_en, d.source
               FROM sc JOIN documents d USING (doc_id)),
         r AS (SELECT doc_id, source, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY score ASC, doc_id ASC) AS BIGINT) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS m
           FROM s),
         ref AS (SELECT
             CAST(ROW_NUMBER() OVER (ORDER BY score ASC, doc_id ASC)
               AS BIGINT) AS ref_rk,
             score AS aligned_score
           FROM s WHERE source = 'src0' AND is_en),
         nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ref FROM ref),
         t AS (SELECT r.doc_id, r.source, r.score, r.rk,
             CAST((r.rk * nr.n_ref + r.m - 1) // r.m AS BIGINT) AS ref_rk
           FROM r, nr)
         SELECT t.doc_id, t.source, t.score AS raw_score,
           t.rk AS src_rank, ref.aligned_score
         FROM t JOIN ref USING (ref_rk)""",
    // q288: arm quantiles replayed with the same nearest-rank spine.
    "q288_qte" ->
      """WITH spend AS (
           SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
               THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END), 0)
               AS BIGINT) AS cents,
             CAST(user_id % 2 AS BIGINT) AS variant
           FROM events GROUP BY 1),
         r AS (SELECT user_id, cents, variant,
             CAST(ROW_NUMBER() OVER (PARTITION BY variant
               ORDER BY cents ASC, user_id ASC) AS BIGINT) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY variant) AS BIGINT) AS n
           FROM spend),
         d AS (SELECT CAST(UNNEST(range(1, 10)) * 10 AS BIGINT) AS pct),
         p AS (SELECT d.pct, r.variant, r.cents, r.n
           FROM r JOIN d
             ON r.rk = CAST((d.pct * r.n + 99) // 100 AS BIGINT))
         SELECT pct,
           CAST(MAX(CASE WHEN variant = 1 THEN n END) AS BIGINT)
             AS n_treat,
           CAST(MAX(CASE WHEN variant = 0 THEN n END) AS BIGINT)
             AS n_control,
           CAST(MAX(CASE WHEN variant = 1 THEN cents END) AS BIGINT)
             AS treat_cents,
           CAST(MAX(CASE WHEN variant = 0 THEN cents END) AS BIGINT)
             AS control_cents,
           CAST(MAX(CASE WHEN variant = 1 THEN cents END) -
             MAX(CASE WHEN variant = 0 THEN cents END) AS BIGINT)
             AS diff_cents
         FROM p GROUP BY 1""",
    // q289: same bucket bookkeeping, median by the DIRECT global
    // running-mass rule — the weighted refinement theorem.
    "q289_weighted_median" ->
      """WITH li AS (
           SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
             AS cents,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS wt
           FROM lineitem),
         st AS (
           SELECT CAST(MIN(cents) AS BIGINT) AS lo,
             CAST(MAX(cents) AS BIGINT) AS hi,
             CAST(SUM(wt) AS BIGINT) AS w
           FROM li),
         p AS (SELECT lo, hi, w, hi - lo + 1 AS wd, (w + 1) // 2 AS k
           FROM st),
         h AS (
           SELECT CAST((cents - p.lo) * 1024 // p.wd AS BIGINT) AS bucket,
             CAST(SUM(wt) AS BIGINT) AS bw
           FROM li, p GROUP BY 1),
         cumh AS (
           SELECT bucket, bw,
             CAST(COALESCE(SUM(bw) OVER (ORDER BY bucket ASC ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
           FROM h),
         cand AS (
           SELECT bucket, bw FROM cumh, p
           WHERE cum_before < p.k AND cum_before + bw >= p.k),
         m AS (SELECT cents, CAST(SUM(wt) AS BIGINT) AS vw
           FROM li GROUP BY 1),
         mm AS (SELECT cents,
             CAST(SUM(vw) OVER (ORDER BY cents ASC ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM m)
         SELECT p.w AS w_total, p.lo AS min_cents, p.hi AS max_cents,
           CAST(p.k AS BIGINT) AS k, cand.bucket, cand.bw AS bucket_mass,
           (SELECT MIN(mm.cents) FROM mm, p WHERE mm.cum >= p.k)
             AS median_cents
         FROM p, cand""",
    // q290: k-core by iterated h-index — generated per-round CTEs.
    "q290_kcore" -> kCoreOracleSql(Graph.kCoreRounds),
    // q291: cosine-squared in HUGEINT (the DECIMAL(38) twin), same
    // rank window and noise floor.
    "q291_item_neighbors" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
           FROM lineitem),
         ci AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS ci
           FROM b GROUP BY 1),
         p AS (SELECT a.i AS x, b2.i AS y, CAST(COUNT(*) AS BIGINT) AS cij
           FROM b a JOIN b b2 ON a.o = b2.o AND a.i < b2.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         sym AS (SELECT x AS item, y AS nb, cij FROM p
           UNION ALL SELECT y, x, cij FROM p),
         sc AS (SELECT s.item, s.nb, s.cij, c1.ci AS c_item,
             c2.ci AS c_nb,
             CAST(CAST(s.cij AS HUGEINT) * s.cij * 1000000000000 //
               (CAST(c1.ci AS HUGEINT) * c2.ci) AS BIGINT) AS sim2_ppt
           FROM sym s JOIN ci c1 ON c1.i = s.item
           JOIN ci c2 ON c2.i = s.nb),
         r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item
             ORDER BY sim2_ppt DESC, nb ASC) AS BIGINT) AS rk FROM sc)
         SELECT item, rk, nb, cij, c_item, c_nb, sim2_ppt
         FROM r WHERE rk <= 5""",
    // q292: q33's session rule verbatim, then the sweep — arrivals
    // before departures at equal instants, per start-day partitions.
    "q292_concurrency" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC)),
         numbered AS (
           SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged),
         sess AS (SELECT user_id, sid,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS s_us,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS e_us,
             CAST(MIN(ts) AS DATE) AS day
           FROM numbered GROUP BY 1, 2),
         pts AS (SELECT day, s_us AS t, CAST(1 AS BIGINT) AS delta
             FROM sess
           UNION ALL
           SELECT day, e_us + 1, CAST(-1 AS BIGINT) FROM sess),
         sw AS (SELECT day, delta,
             CAST(SUM(delta) OVER (PARTITION BY day
               ORDER BY t ASC, delta DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS active
           FROM pts)
         SELECT day,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions,
           CAST(MAX(active) AS BIGINT) AS peak_concurrent
         FROM sw GROUP BY 1""",
    // q293: the same LOCF segment integral in HUGEINT; single-instant
    // groups take the min-event-id sample.
    "q293_twap" ->
      """WITH e AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
             epoch_us(ts) AS us, event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
           FROM events),
         seg AS (
           SELECT event_type, day, us, event_id, cents,
             LEAD(us) OVER (PARTITION BY event_type, day
               ORDER BY us ASC, event_id ASC) AS next_us
           FROM e)
         SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us,
           CAST(CASE WHEN MAX(us) = MIN(us)
             THEN CAST(arg_min(cents, event_id) AS BIGINT)
             ELSE CAST(SUM(CASE WHEN next_us IS NULL
                 THEN CAST(0 AS HUGEINT)
                 ELSE CAST(cents AS HUGEINT) * (next_us - us) END) //
               (MAX(us) - MIN(us)) AS BIGINT)
             END AS BIGINT) AS twap_cents
         FROM seg GROUP BY 1, 2""",
    // q294: bitemporal believed-state replayed with rank windows per
    // transaction cut over the same two-axis register.
    "q294_bitemporal" -> {
      def believed(tx: String, name: String) =
        s"""$name AS (
             SELECT c_custkey, seg FROM (
               SELECT c_custkey, seg,
                 ROW_NUMBER() OVER (PARTITION BY c_custkey
                   ORDER BY valid_from DESC, tx_from DESC) AS rk
               FROM reg
               WHERE valid_from <= DATE '${Relational.bitemporalValidAt}'
                 AND tx_from <= DATE '$tx') t
             WHERE rk = 1)"""
      s"""${scd2HistSql(
           Relational.bitemporalEpoch, Relational.bitemporalAsOfDate)},
         reg AS (
           SELECT c_custkey, valid_from,
             valid_from + CAST(c_custkey % 3 AS INT) AS tx_from,
             c_mktsegment AS seg
           FROM scd2_hist
           UNION ALL
           SELECT c_custkey, valid_from, valid_from + 10,
             c_mktsegment || '*'
           FROM scd2_hist WHERE c_custkey % 7 = 0),
         ${believed(Relational.bitemporalTxEarly, "b1")},
         ${believed(Relational.bitemporalTxLate, "b2")}
         SELECT b2.c_custkey, b1.seg AS seg_t1, b2.seg AS seg_t2,
           (b1.seg IS NOT NULL AND b1.seg <> b2.seg) AS view_changed
         FROM b2 LEFT JOIN b1 USING (c_custkey)"""
    },
    // q295: the q209 recursion per series, fit on the train prefix
    // only; seasonal-naive from ranks; integer SAE, no division.
    "q295_forecast_backtest" ->
      """WITH RECURSIVE d AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         r AS (SELECT event_type, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY day ASC) AS BIGINT) AS rn
           FROM d),
         nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM r GROUP BY 1),
         m AS (SELECT event_type, n, n - 7 AS m FROM nn WHERE n >= 16),
         st AS (
           SELECT r1.event_type, CAST(1 AS BIGINT) AS rn,
             r1.y AS lvl, r2.y - r1.y AS tr
           FROM r r1 JOIN r r2 ON r2.event_type = r1.event_type
             AND r2.rn = 2
           WHERE r1.rn = 1
           UNION ALL
           SELECT s.event_type, s.rn + 1,
             CAST(FLOOR(CAST(rr.y + s.lvl + s.tr AS DOUBLE) / 2.0)
               AS BIGINT),
             CAST(FLOOR((CAST(FLOOR(CAST(rr.y + s.lvl + s.tr AS DOUBLE)
               / 2.0) AS BIGINT) - s.lvl + s.tr) / 2.0) AS BIGINT)
           FROM st s
           JOIN m ON m.event_type = s.event_type
           JOIN r rr ON rr.event_type = s.event_type
             AND rr.rn = s.rn + 1
           WHERE s.rn + 1 <= m.m),
         fin AS (SELECT s.event_type, s.lvl, s.tr
           FROM st s JOIN m ON m.event_type = s.event_type
             AND s.rn = m.m),
         err AS (
           SELECT f.event_type,
             CAST(SUM(ABS(f.lvl + h.h * f.tr - a.y)) AS BIGINT)
               AS sae_holt,
             CAST(SUM(ABS(nv.y - a.y)) AS BIGINT) AS sae_naive
           FROM fin f
           JOIN m ON m.event_type = f.event_type
           CROSS JOIN range(1, 8) h(h)
           JOIN r a ON a.event_type = f.event_type
             AND a.rn = m.m + h.h
           JOIN r nv ON nv.event_type = f.event_type
             AND nv.rn = m.m + h.h - 7
           GROUP BY 1)
         SELECT e.event_type, nn.n AS n_days, e.sae_holt, e.sae_naive,
           CASE WHEN e.sae_holt < e.sae_naive THEN 'holt'
                WHEN e.sae_holt > e.sae_naive THEN 'naive'
                ELSE 'tie' END AS winner
         FROM err e JOIN nn USING (event_type)""",
    // q296: span corruption replayed token-by-token; rendered strings
    // compare as md5 fingerprints.
    "q296_span_corruption" ->
      s"""WITH base AS (
           SELECT doc_id, string_split($normText, ' ') AS ws
           FROM documents),
         toks AS (
           SELECT doc_id, i - 1 AS pos, ws[CAST(i AS INT)] AS tok
           FROM base, LATERAL
             (SELECT UNNEST(range(1, len(ws) + 1)) AS i) u
           WHERE ws[CAST(i AS INT)] <> ''),
         m AS (SELECT doc_id, pos, tok,
             (('0x' || substr(md5('mask:' || CAST(doc_id AS VARCHAR)
               || ':' || CAST(pos AS VARCHAR)), 1, 15))::BIGINT % 100
               < 15) AS mk
           FROM toks),
         s AS (SELECT doc_id, pos, tok, mk,
             COALESCE(LAG(mk) OVER (PARTITION BY doc_id
               ORDER BY pos ASC), FALSE) AS prev_m
           FROM m),
         s2 AS (SELECT *, (mk AND NOT prev_m) AS st FROM s),
         s3 AS (SELECT *,
             CASE WHEN mk THEN CAST(SUM(CASE WHEN st THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
               AS BIGINT) END AS span_idx
           FROM s2),
         p AS (SELECT doc_id, pos, mk, st,
             CASE WHEN NOT mk THEN tok
               WHEN st THEN '<extra_id_' || CAST(span_idx AS VARCHAR)
                 || '>' END AS ip,
             CASE WHEN st THEN '<extra_id_' || CAST(span_idx AS VARCHAR)
                 || '>' || ' ' || tok
               WHEN mk THEN tok END AS tp
           FROM s3)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN mk THEN 1 ELSE 0 END) AS BIGINT)
             AS n_masked,
           CAST(SUM(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT)
             AS n_spans,
           md5(COALESCE(string_agg(ip, ' ' ORDER BY pos)
             FILTER (WHERE ip IS NOT NULL), '')) AS input_fp,
           md5(COALESCE(string_agg(tp, ' ' ORDER BY pos)
             FILTER (WHERE tp IS NOT NULL), '')) AS target_fp
         FROM p GROUP BY 1""",
    // q297: shingleCtes + componentCtes + keyedCte, then cluster sizes
    // and the 1/size micro weight.
    "q297_soft_dedup_weights" ->
      s"""WITH RECURSIVE ${shingleCtes()},
         ${componentCtes()},
         ${keyedCte()},
         sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM keyed GROUP BY 1)
         SELECT k.doc_id, k.comp AS cluster_rep, sz.cluster_size,
           CAST(1000000 // sz.cluster_size AS BIGINT) AS weight_micro
         FROM keyed k JOIN sz USING (comp)""",
    // q298: componentCtes + keyedCte, then majority-language strata and
    // the round-robin deal replayed with rank windows.
    "q298_stratified_folds" ->
      s"""WITH RECURSIVE ${shingleCtes()},
         ${componentCtes()},
         ${keyedCte(", d.lang")},
         lc AS (SELECT comp, lang, CAST(COUNT(*) AS BIGINT) AS c
           FROM keyed GROUP BY 1, 2),
         stratum AS (
           SELECT comp, lang AS stratum FROM (
             SELECT comp, lang,
               ROW_NUMBER() OVER (PARTITION BY comp
                 ORDER BY c DESC, lang ASC) AS rk
             FROM lc) t WHERE rk = 1),
         sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz
           FROM keyed GROUP BY 1),
         folds AS (
           SELECT s.comp, st.stratum,
             CAST((ROW_NUMBER() OVER (PARTITION BY st.stratum
               ORDER BY s.sz DESC, s.comp ASC) - 1) % 5 AS BIGINT)
               AS fold
           FROM sz s JOIN stratum st USING (comp))
         SELECT k.doc_id, k.comp AS cluster_rep, f.stratum, f.fold
         FROM keyed k JOIN folds f USING (comp)""",
    // q299: sign words rebuilt per-dimension, Hamming via
    // bit_count(xor), truth side = the q30 brute oracle.
    "q299_binary_quant" ->
      s"""WITH words AS (
           SELECT vec_id,
             CAST(SUM(CASE WHEN embedding[CAST(i AS INT)] <= 0 THEN 0
               WHEN i = 64 THEN -9223372036854775808
               ELSE (1::BIGINT << (CAST(i AS INT) - 1))
               END) AS BIGINT) AS w
           FROM embeddings, LATERAL
             (SELECT UNNEST(range(1, len(embedding) + 1)) AS i) u
           GROUP BY 1),
         qw AS (SELECT vec_id AS q_id, w AS qw FROM words
           WHERE vec_id IN
             (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5)),
         h AS (SELECT q_id, w2.vec_id,
             CAST(bit_count(xor(w2.w, qw.qw)) AS BIGINT) AS hamming
           FROM qw JOIN words w2 ON w2.vec_id != qw.q_id),
         th AS (SELECT q_id, vec_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY hamming ASC, vec_id ASC) AS rk
           FROM h),
         topk AS (SELECT q_id, vec_id, hamming FROM th WHERE rk <= 10),
         brute AS (SELECT q_id, vec_id FROM ($annBruteOracle) t),
         ov AS (SELECT b.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
           FROM brute b JOIN topk USING (q_id, vec_id) GROUP BY 1),
         agg AS (SELECT q_id,
             CAST(MIN(hamming) AS BIGINT) AS best_hamming,
             CAST(MAX(hamming) AS BIGINT) AS kth_hamming
           FROM topk GROUP BY 1)
         SELECT a.q_id,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(ov.n_overlap, 0) * 1000 AS BIGINT) AS recall_bp,
           a.best_hamming, a.kth_hamming
         FROM agg a LEFT JOIN ov USING (q_id)""",
    // q300: Markov removal-effect attribution — 40 generated
    // value-iteration rounds over a variant-aware edge table.
    "q300_markov_attribution" -> markovAttributionOracleSql(
      Experiment.markovAttributionRounds),
    // q301: the q114 scores, top-100 candidate cut, then the
    // prefix-packing running sum; digest in rank order.
    "q301_rag_context" ->
      s"""WITH sc AS ($bm25OracleSql),
         tk AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok
           FROM documents),
         rked AS (
           SELECT sc.term, sc.doc_id, sc.score_micro, tk.ntok,
             CAST(ROW_NUMBER() OVER (PARTITION BY sc.term
               ORDER BY sc.score_micro DESC, sc.doc_id ASC) AS BIGINT)
               AS rk
           FROM sc JOIN tk USING (doc_id)),
         cand AS (SELECT * FROM rked WHERE rk <= 100),
         packed AS (
           SELECT term, doc_id, rk, ntok,
             CAST(SUM(ntok) OVER (PARTITION BY term ORDER BY rk ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM cand)
         SELECT term, CAST(COUNT(*) AS BIGINT) AS n_ctx_docs,
           CAST(MAX(cum) AS BIGINT) AS ctx_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rk ASC))
             AS ctx_digest
         FROM packed WHERE cum <= 256 GROUP BY 1""",
    // q302: q32's centroidSimsCtes, sqrt-flattened Hamilton quotas,
    // salted per-cell exact-k — the whole manifest replayed.
    "q302_topic_balanced" ->
      s"""WITH $centroidSimsCtes,
         assigned AS (
           SELECT vec_id, c_id FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY sim DESC, c_id ASC) AS rn
             FROM sims) t WHERE rn = 1),
         sizes AS (SELECT c_id, CAST(COUNT(*) AS BIGINT) AS sz
           FROM assigned GROUP BY 1),
         wts AS (SELECT c_id, sz,
             CAST(FLOOR(SQRT(CAST(sz AS DOUBLE))) AS BIGINT) AS w
           FROM sizes),
         tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wts),
         base AS (SELECT c_id, sz, w,
             CAST((100 * w) // tw AS BIGINT) AS quota,
             CAST((100 * w) % tw AS BIGINT) AS rem
           FROM wts, tot),
         lo AS (SELECT CAST(100 - SUM(quota) AS BIGINT) AS seats
           FROM base),
         q AS (SELECT c_id, sz, w,
             CAST(LEAST(quota + CASE WHEN rk <= seats THEN 1 ELSE 0 END,
               sz) AS BIGINT) AS take
           FROM (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rem DESC,
               c_id ASC) AS BIGINT) AS rk FROM base) b, lo),
         smp AS (SELECT a.c_id, a.vec_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY a.c_id
               ORDER BY md5('tb:' || CAST(a.vec_id AS VARCHAR)) ASC,
                 a.vec_id ASC) AS BIGINT) AS srk
           FROM assigned a),
         kept AS (SELECT s.c_id, s.vec_id FROM smp s
           JOIN q ON q.c_id = s.c_id AND s.srk <= q.take),
         agg AS (SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_sampled,
             md5(string_agg(CAST(vec_id AS VARCHAR), ','
               ORDER BY CAST(vec_id AS VARCHAR) ASC)) AS sample_digest
           FROM kept GROUP BY 1)
         SELECT q.c_id, q.sz, q.w, q.take,
           CAST(COALESCE(agg.n_sampled, 0) AS BIGINT) AS n_sampled,
           COALESCE(agg.sample_digest, md5('')) AS sample_digest
         FROM q LEFT JOIN agg USING (c_id)""",
    // q303: componentCtes + keyedCte, the cluster-consecutive salted
    // order, the round-robin deal — batch-grain manifest with collision
    // counts.
    "q303_contrastive_batches" ->
      s"""WITH RECURSIVE ${shingleCtes()},
         ${componentCtes()},
         ${keyedCte()},
         nb AS (SELECT CAST((COUNT(*) + 7) // 8 AS BIGINT) AS nb
           FROM keyed),
         ranked AS (
           SELECT doc_id, comp,
             CAST(ROW_NUMBER() OVER (ORDER BY
               md5('cb:' || CAST(comp AS VARCHAR)) ASC, comp ASC,
               md5('cb:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
               AS BIGINT) AS rk
           FROM keyed),
         dealt AS (SELECT doc_id, comp,
             CAST((rk - 1) % nb.nb AS BIGINT) AS batch_id
           FROM ranked, nb)
         SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_clusters,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
             ORDER BY CAST(doc_id AS VARCHAR) ASC)) AS batch_digest,
           CAST(COUNT(*) - COUNT(DISTINCT comp) AS BIGINT)
             AS n_collisions
         FROM dealt GROUP BY 1""",
    // q304: both batching schemes replayed with the same windows.
    "q304_length_batches" -> {
      def scheme(name: String, order: String) =
        s"""SELECT '$name' AS scheme,
            CAST(COUNT(*) AS BIGINT) AS n_batches,
            CAST(SUM(bs * mx) AS BIGINT) AS capacity_tokens,
            CAST(SUM(tk) AS BIGINT) AS payload_tokens,
            CAST((CAST(SUM(bs * mx) AS BIGINT) -
              CAST(SUM(tk) AS BIGINT)) * 1000000 //
              CAST(SUM(bs * mx) AS BIGINT) AS BIGINT) AS waste_ppm
          FROM (
            SELECT CAST((rk - 1) // 8 AS BIGINT) AS batch_id,
              CAST(COUNT(*) AS BIGINT) AS bs,
              CAST(MAX(ntok) AS BIGINT) AS mx,
              CAST(SUM(ntok) AS BIGINT) AS tk
            FROM (
              SELECT doc_id, ntok,
                CAST(ROW_NUMBER() OVER (ORDER BY $order) AS BIGINT) AS rk
              FROM toks) r
            GROUP BY 1) b"""
      s"""WITH toks AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok
           FROM documents)
         ${scheme("hashed",
          "md5('lb:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC")}
         UNION ALL
         ${scheme("length_sorted", "ntok ASC, doc_id ASC")}"""
    },
    // q305: FFD sequence packing — the oracle replays the chunk-local
    // first-fit fold as a recursive CTE carrying the per-window fills
    // list, so hash equality proves the ENTIRE sequential recurrence
    // (order, first-fit probe, window opens) step by step. NOTE the
    // chunk rank here is the naive global window — the oracle-side
    // stand-in for the chunked rank (same rationale as q202's oracle).
    "q305_packed_windows" ->
      s"""WITH RECURSIVE $ffdStepCtes,
         $ffdAssignCtes
         SELECT CAST(woff + win AS BIGINT) AS window_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS payload_tokens,
           CAST(SUM(item) AS BIGINT) AS used_tokens,
           CAST(4096 - SUM(item) AS BIGINT) AS slack_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
             ORDER BY doc_id ASC)) AS win_digest
         FROM asg GROUP BY 1""",
    // q335: ffdStepCtes + ffdAssignCtes (the q305 recursive first-fit
    // replay) with the attention pair-arithmetic tail (triangular
    // counts, trailing ppm DIV).
    "q335_packing_attention" ->
      s"""WITH RECURSIVE $ffdStepCtes,
         $ffdAssignCtes,
         g AS (
           SELECT CAST(woff + win AS BIGINT) AS window_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(item) AS BIGINT) AS tokens,
             CAST(SUM(item * (item - 1) // 2) AS BIGINT) AS intra_pairs
           FROM asg GROUP BY 1)
         SELECT window_id, n_docs, tokens,
           CAST(tokens * (tokens - 1) // 2 AS BIGINT) AS total_pairs,
           intra_pairs,
           CAST(tokens * (tokens - 1) // 2 - intra_pairs AS BIGINT)
             AS cross_pairs,
           CASE WHEN tokens > 1 THEN
             CAST((tokens * (tokens - 1) // 2 - intra_pairs) * 1000000
               // (tokens * (tokens - 1) // 2) AS BIGINT) END AS cross_ppm
         FROM g""",
    // q306: closed-form overlap-stride chunking — pure per-row
    // arithmetic + array slices, replayed verbatim.
    "q306_sliding_chunks" ->
      s"""WITH $wordDocsCtes,
         k AS (
           SELECT doc_id, w, n,
             GREATEST(1, (n - 16 + 47) // 48) AS k FROM d),
         c AS (
           SELECT doc_id, w, n, k, UNNEST(range(0, k)) AS i FROM k)
         SELECT doc_id, n AS n_tokens, CAST(k AS BIGINT) AS n_chunks,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 48 AS BIGINT) AS start_tok,
           CAST(LEAST(64, n - i * 48) AS BIGINT) AS len_tok,
           md5(array_to_string(
             w[(i * 48 + 1):(i * 48 + LEAST(64, n - i * 48))], ' '))
             AS chunk_digest
         FROM c""",
    // q307: replayed doubling plant, trigram md5-16 digests (same
    // digests both engines, so distinct/max counts agree exactly).
    "q307_repetition_filter" ->
      s"""WITH planted AS (
           SELECT doc_id,
             CASE WHEN doc_id % 11 = 0
               THEN $normText || ' ' || $normText
               ELSE $normText END AS t
           FROM documents),
         words AS (
           SELECT doc_id, string_split(t, ' ') AS w FROM planted),
         d AS (
           SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM words
           WHERE len(w) >= 3),
         grams AS (
           SELECT doc_id, n,
             substr(md5(w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]),
               1, 16) AS g
           FROM d, LATERAL (SELECT UNNEST(range(1, n - 1)) AS i) t),
         gc AS (
           SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c
           FROM grams GROUP BY 1, 2, 3)
         SELECT doc_id,
           CAST(MAX(n) - 2 AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST((MAX(n) - 2 - COUNT(*)) * 1000000 // (MAX(n) - 2)
             AS BIGINT) AS dup_ppm,
           CAST(MAX(c) AS BIGINT) AS max_rep,
           (MAX(n) - 2 - COUNT(*)) * 1000000 // (MAX(n) - 2) > 150000
             AS flagged
         FROM gc GROUP BY 1""",
    // q308: dictionary-grain affinity weights, doc mean in micros,
    // top-k via QUALIFY over the naive window (oracle stand-in for
    // the chunked rank, q202 rationale).
    "q308_domain_affinity" ->
      s"""WITH w2 AS (
           SELECT doc_id, lang, tok FROM (
             SELECT doc_id, lang,
               UNNEST(string_split($normText, ' ')) AS tok
             FROM documents) u
           WHERE tok <> ''),
         dict AS (
           SELECT tok,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               * 1000000 // CAST(COUNT(*) AS BIGINT) AS w_micro
           FROM w2 GROUP BY 1),
         pd AS (
           SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM w2 GROUP BY 1, 2),
         sc AS (
           SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
             CAST(SUM(cnt * w_micro) AS BIGINT) AS wsum
           FROM pd JOIN dict USING (tok) GROUP BY 1)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY wsum // n_words DESC,
             doc_id ASC) AS BIGINT) AS rnk,
           doc_id, n_words, CAST(wsum // n_words AS BIGINT) AS aff_micro
         FROM sc QUALIFY rnk <= 100""",
    // q309: replayed PII planting, same ASCII-class regexes (Java/RE2
    // portable), DuckDB regexp_replace needs the 'g' flag to match
    // Spark's replace-all default.
    "q309_pii_scrub" ->
      s"""WITH planted AS (
           SELECT doc_id, $normText ||
             CASE WHEN doc_id % 13 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@mail.com' ELSE '' END ||
             CASE WHEN doc_id % 17 = 0
               THEN ' call +1555' ||
                 lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0')
               ELSE '' END AS t
           FROM documents),
         audit AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(t,
               '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(t,
               '\\+1555[0-9]{7}')) AS BIGINT) AS n_phones,
             md5(regexp_replace(regexp_replace(t,
               '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
               '\\+1555[0-9]{7}', '<PHONE>', 'g')) AS masked_digest
           FROM planted)
         SELECT doc_id, n_emails, n_phones, masked_digest,
           n_emails + n_phones = 0 AS clean
         FROM audit""",
    // q310: three salted epoch permutations, balanced contiguous
    // shards by (rk-1)*S DIV n, per-shard member digest.
    "q310_epoch_shards" ->
      """WITH docs AS (SELECT doc_id FROM documents),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM docs),
         e AS (SELECT UNNEST([1, 2, 3]) AS epoch),
         r AS (
           SELECT e.epoch, d.doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY e.epoch
               ORDER BY md5('ep' || CAST(e.epoch AS VARCHAR) || ':' ||
                 CAST(d.doc_id AS VARCHAR)) ASC, d.doc_id ASC)
               AS BIGINT) AS rk
           FROM docs d CROSS JOIN e),
         s AS (
           SELECT epoch, doc_id, rk,
             CAST((rk - 1) * 8 // n.nn AS BIGINT) AS shard
           FROM r, n)
         SELECT CAST(epoch AS BIGINT) AS epoch, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(rk) AS BIGINT) AS min_rank,
           CAST(MAX(rk) AS BIGINT) AS max_rank,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
             ORDER BY doc_id ASC)) AS shard_digest
         FROM s GROUP BY 1, 2""",
    // q311: Heaps-curve audit — first-occurrence doc rank per bigram
    // (dictionary-grain min), counts over the bounded checkpoint
    // domain; naive rank window is the oracle stand-in (q202 rule).
    // Checkpoints stop at 2^19 so no shift approaches bit 63.
    "q311_vocab_growth" ->
      s"""WITH d AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM documents),
         d2 AS (
           SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM d
           WHERE len(w) >= 2),
         ranked AS (
           SELECT doc_id, w, n,
             CAST(ROW_NUMBER() OVER (ORDER BY doc_id ASC) AS BIGINT)
               AS drk
           FROM d2),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM ranked),
         grams AS (
           SELECT drk, w[i] || ' ' || w[i + 1] AS g
           FROM ranked, LATERAL (SELECT UNNEST(range(1, n)) AS i) t),
         fr AS (
           SELECT g, CAST(MIN(drk) AS BIGINT) AS first_rank
           FROM grams GROUP BY 1),
         ks AS (
           SELECT DISTINCT k FROM (
             SELECT UNNEST(list_transform(range(0, 20),
               i -> CAST(1 << i AS BIGINT))) AS k
             UNION ALL SELECT nn FROM nn) u
           WHERE k <= (SELECT nn FROM nn)),
         occ AS (
           SELECT k, CAST(SUM(n - 1) AS BIGINT) AS total_bigrams
           FROM ranked, ks WHERE drk <= k GROUP BY 1),
         voc AS (
           SELECT k, CAST(COUNT(*) AS BIGINT) AS vocab_size
           FROM fr, ks WHERE first_rank <= k GROUP BY 1)
         SELECT CAST(occ.k AS BIGINT) AS k_docs, total_bigrams,
           vocab_size,
           CAST(vocab_size * 1000000 // total_bigrams AS BIGINT)
             AS ttr_micro
         FROM occ JOIN voc USING (k)""",
    // q312: the naive exclusive-prefix-sum window IS the oracle for
    // the chunked device (q202 rule, SUM form).
    "q312_export_offsets" ->
      """WITH d AS (
           SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(n_chars + 1 AS BIGINT) AS n_bytes
           FROM documents)
         SELECT doc_id, n_bytes,
           CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_offset,
           CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + n_bytes AS BIGINT) AS end_offset
         FROM d""",
    // q313: q68's split replayed, distinct 5-gram md5-16 digests both
    // sides, train dictionary LEFT join, per-eval-doc ppm verdict.
    "q313_split_contamination" ->
      s"""WITH d AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM documents),
         d2 AS (
           SELECT doc_id, w, CAST(len(w) AS BIGINT) AS nw,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
               1, 15))::BIGINT % 10 < 8 THEN 'train' ELSE 'eval' END
               AS sp
           FROM d WHERE len(w) >= 5),
         grams AS (
           SELECT DISTINCT doc_id, sp,
             substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16) AS g
           FROM d2, LATERAL (SELECT UNNEST(range(1, nw - 3)) AS i) t),
         tr AS (SELECT DISTINCT g FROM grams WHERE sp = 'train'),
         ev AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_shared
           FROM grams LEFT JOIN tr ON grams.g = tr.g
           WHERE grams.sp = 'eval' GROUP BY 1)
         SELECT doc_id, n_grams, n_shared,
           CAST(n_shared * 1000000 // n_grams AS BIGINT)
             AS contamination_ppm,
           n_shared * 1000000 // n_grams > 500000 AS flagged
         FROM ev""",
    // q314: row-local interleaving arithmetic, replayed; image docs
    // (doc_id % 3 = 0, the q50 media convention) split text at
    // ceil(n/2) around a 16-patch + 2-separator image block.
    "q314_interleaved_manifest" ->
      s"""WITH toks AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok
           FROM documents),
         d AS (
           SELECT doc_id, ntok, doc_id % 3 = 0 AS is_img,
             CASE WHEN doc_id % 3 = 0 THEN ntok + 18 ELSE ntok END
               AS total
           FROM toks WHERE ntok >= 1),
         segs AS (
           SELECT doc_id, CAST(0 AS BIGINT) AS seg_idx,
             'text' AS seg_type,
             CASE WHEN is_img THEN (ntok + 1) // 2 ELSE ntok END
               AS n_tokens, total, is_img
           FROM d
           UNION ALL
           SELECT doc_id, 1, 'image', 18, total, is_img
           FROM d WHERE is_img
           UNION ALL
           SELECT doc_id, 2, 'text', ntok - (ntok + 1) // 2, total,
             is_img
           FROM d WHERE is_img)
         SELECT doc_id, seg_idx, seg_type,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(total AS BIGINT) AS doc_seq_len,
           total <= 4096 AS fits_context
         FROM segs""",
    // q315: per-source release card — source-keyed aggregates, exact
    // within-source dup mass, nearest-rank lower median.
    "q315_dataset_datasheet" ->
      s"""WITH docs AS (
           SELECT doc_id, source, lang,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok,
             md5($normText) AS fp
           FROM documents),
         dup AS (
           SELECT source,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS n_dup_docs
           FROM (SELECT source, fp, CAST(COUNT(*) AS BIGINT) AS c
                 FROM docs GROUP BY 1, 2) g
           GROUP BY 1),
         med AS (
           SELECT source, n_chars AS median_chars FROM (
             SELECT source, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
                 AS nsrc
             FROM docs) r
           WHERE rn = (nsrc + 1) // 2),
         agg AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS total_tokens,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_en
           FROM docs GROUP BY 1)
         SELECT agg.source, n_docs, total_tokens, n_langs, n_en,
           CAST(n_en * 1000000 // n_docs AS BIGINT) AS en_share_ppm,
           n_dup_docs, median_chars
         FROM agg
           JOIN dup ON dup.source = agg.source
           JOIN med ON med.source = agg.source""",
    // q316: salted FIM gate/cuts/order replayed with the same 60-bit
    // hex device; sentinel-interleaved stream digests compared.
    "q316_fim_transform" ->
      s"""WITH d AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM documents),
         d2 AS (
           SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM d
           WHERE len(w) >= 4),
         g AS (
           SELECT doc_id, w, n,
             ('0x' || substr(md5('fimg:' || CAST(doc_id AS VARCHAR)),
               1, 15))::BIGINT % 100 < 50 AS fim
           FROM d2),
         c AS (
           SELECT doc_id, w, n, fim,
             CASE WHEN fim THEN 1 +
               ('0x' || substr(md5('fimc1:' || CAST(doc_id AS VARCHAR)),
                 1, 15))::BIGINT % (n - 2) ELSE 0 END AS c1
           FROM g),
         c2t AS (
           SELECT doc_id, w, n, fim, c1,
             CASE WHEN fim THEN c1 + 1 +
               ('0x' || substr(md5('fimc2:' || CAST(doc_id AS VARCHAR)),
                 1, 15))::BIGINT % (n - 1 - c1) ELSE 0 END AS c2,
             CASE WHEN NOT fim THEN 'none'
               WHEN ('0x' || substr(md5('fimm:' ||
                 CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
               THEN 'psm' ELSE 'spm' END AS mode
           FROM c),
         s AS (
           SELECT doc_id, fim, mode, n, c1, c2,
             w[1:CAST(c1 AS INT)] AS pre,
             w[CAST(c1 AS INT) + 1:CAST(c2 AS INT)] AS mid,
             w[CAST(c2 AS INT) + 1:CAST(n AS INT)] AS suf, w
           FROM c2t)
         SELECT doc_id, fim, mode, n AS n_tokens, c1 AS cut1, c2 AS cut2,
           CASE WHEN fim THEN c1 ELSE 0 END AS len_pre,
           CASE WHEN fim THEN c2 - c1 ELSE 0 END AS len_mid,
           CASE WHEN fim THEN n - c2 ELSE 0 END AS len_suf,
           md5(array_to_string(
             CASE WHEN mode = 'psm' THEN
               list_concat(list_concat(list_concat(list_concat(list_concat(
                 ['<fim_pre>'], pre), ['<fim_suf>']), suf),
                 ['<fim_mid>']), mid)
             WHEN mode = 'spm' THEN
               list_concat(list_concat(list_concat(list_concat(list_concat(
                 ['<fim_suf>'], suf), ['<fim_pre>']), pre),
                 ['<fim_mid>']), mid)
             ELSE w END, ' ')) AS stream_digest
         FROM s""",
    // q317: B = (17T) DIV 5, full epochs + salted-rank remainder
    // prefix, last doc truncated — Σ seen = B exactly (telescoping).
    "q317_data_echo" ->
      s"""WITH toks AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok
           FROM documents),
         t2 AS (SELECT doc_id, ntok FROM toks WHERE ntok >= 1),
         tot AS (SELECT CAST(SUM(ntok) AS BIGINT) AS t FROM t2),
         cfg AS (
           SELECT t, (17 * t) // 5 AS budget,
             ((17 * t) // 5) // t AS full_epochs,
             (17 * t) // 5 - (((17 * t) // 5) // t) * t AS rem
           FROM tot),
         ranked AS (
           SELECT doc_id, ntok,
             CAST(ROW_NUMBER() OVER (ORDER BY
               md5('echo:' || CAST(doc_id AS VARCHAR)) ASC,
               doc_id ASC) AS BIGINT) AS echo_rank,
             CAST(COALESCE(SUM(ntok) OVER (ORDER BY
               md5('echo:' || CAST(doc_id AS VARCHAR)) ASC,
               doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
               1 PRECEDING), 0) AS BIGINT) AS cum_before
           FROM t2)
         SELECT doc_id, ntok, echo_rank,
           GREATEST(0, LEAST(ntok, rem - cum_before)) AS extra_tokens,
           CAST(full_epochs + CASE WHEN
             GREATEST(0, LEAST(ntok, rem - cum_before)) > 0
             THEN 1 ELSE 0 END AS BIGINT) AS n_epochs_seen,
           CAST(full_epochs * ntok +
             GREATEST(0, LEAST(ntok, rem - cum_before)) AS BIGINT)
             AS seen_tokens
         FROM ranked, cfg""",
    // q318: both q304 batching schemes under the SFT completion-mass
    // lens; loss density = completion tokens per padded slot.
    "q318_sft_loss_density" -> {
      def scheme(name: String, order: String) =
        s"""SELECT '$name' AS scheme,
            CAST(COUNT(*) AS BIGINT) AS n_batches,
            CAST(SUM(bs * mx) AS BIGINT) AS capacity_tokens,
            CAST(SUM(lt) AS BIGINT) AS loss_tokens,
            CAST(CAST(SUM(lt) AS BIGINT) * 1000000 //
              CAST(SUM(bs * mx) AS BIGINT) AS BIGINT)
              AS loss_density_ppm
          FROM (
            SELECT CAST((rk - 1) // 8 AS BIGINT) AS batch_id,
              CAST(COUNT(*) AS BIGINT) AS bs,
              CAST(MAX(ntok) AS BIGINT) AS mx,
              CAST(SUM(n_completion) AS BIGINT) AS lt
            FROM (
              SELECT doc_id, ntok, n_completion,
                CAST(ROW_NUMBER() OVER (ORDER BY $order) AS BIGINT) AS rk
              FROM toks) r
            GROUP BY 1) b"""
      s"""WITH toks AS (
           SELECT doc_id, ntok, (ntok + 1) // 2 AS n_prompt,
             ntok - (ntok + 1) // 2 AS n_completion
           FROM (
             SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok
             FROM documents) t
           WHERE ntok >= 2)
         ${scheme("hashed",
          "md5('sft:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC")}
         UNION ALL
         ${scheme("length_sorted", "ntok ASC, doc_id ASC")}""" },
    // q319: replayed two-snapshot planting (drop %31, mutate %29,
    // re-add %37 under shifted ids — negative key space, disjoint
    // from any genuine id), full-outer key join on digests,
    // source-grain class counts + churn ppm.
    "q319_crawl_diff" ->
      s"""WITH v1 AS (
           SELECT doc_id, source, md5($normText) AS fp FROM documents),
         v2 AS (
           SELECT doc_id, source,
             CASE WHEN doc_id % 29 = 0
               THEN md5($normText || ' recrawled')
               ELSE md5($normText) END AS fp
           FROM documents WHERE doc_id % 31 <> 0
           UNION ALL
           SELECT -doc_id - 1, source, md5($normText) AS fp
           FROM documents WHERE doc_id % 37 = 0),
         j AS (
           SELECT COALESCE(v1.source, v2.source) AS source,
             CASE WHEN v1.fp IS NULL THEN 'added'
               WHEN v2.fp IS NULL THEN 'removed'
               WHEN v1.fp <> v2.fp THEN 'changed'
               ELSE 'unchanged' END AS class
           FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id),
         c AS (
           SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN class = 'added' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_added,
             CAST(SUM(CASE WHEN class = 'removed' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_removed,
             CAST(SUM(CASE WHEN class = 'changed' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_changed,
             CAST(SUM(CASE WHEN class = 'unchanged' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_unchanged
           FROM j GROUP BY 1)
         SELECT source, n_total, n_added, n_removed, n_changed,
           n_unchanged,
           CAST((n_added + n_removed + n_changed) * 1000000 // n_total
             AS BIGINT) AS churn_ppm
         FROM c""",
    // q320: the watermark sampler replayed as a per-planted-doc
    // recursive CTE over the vocab table (greedy min-green walk),
    // then the same parity detector both sides.
    "q320_watermark_detect" ->
      s"""WITH RECURSIVE words AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM documents),
         vocab AS (
           SELECT DISTINCT v FROM
             (SELECT UNNEST(w) AS v FROM words) u WHERE v <> ''),
         d AS (
           SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
             doc_id % 41 = 0 AS planted
           FROM words WHERE len(w) >= 2),
         rec AS (
           SELECT doc_id, CAST(1 AS BIGINT) AS i, w[1] AS prev,
             [w[1]] AS acc, n
           FROM d WHERE planted
           UNION ALL
           SELECT r.doc_id, r.i + 1, p.pick,
             list_append(r.acc, p.pick), r.n
           FROM rec r, LATERAL (SELECT COALESCE(
               (SELECT MIN(v) FROM vocab
                WHERE ('0x' || substr(md5(r.prev || ':' || v), 1, 15))
                  ::BIGINT % 2 = 0),
               (SELECT MIN(v) FROM vocab)) AS pick) p
           WHERE r.i < r.n),
         reb AS (
           SELECT r.doc_id, r.acc FROM rec r
           JOIN (SELECT doc_id AS d2, MAX(i) AS mi FROM rec GROUP BY 1) m
             ON m.d2 = r.doc_id AND m.mi = r.i),
         t2 AS (
           SELECT d.doc_id, d.n, d.planted,
             CASE WHEN d.planted THEN reb.acc ELSE d.w END AS w2
           FROM d LEFT JOIN reb ON reb.doc_id = d.doc_id),
         g AS (
           SELECT doc_id, planted, n,
             CAST(len(list_filter(range(2, n + 1),
               i -> ('0x' || substr(md5(w2[i - 1] || ':' || w2[i]),
                 1, 15))::BIGINT % 2 = 0)) AS BIGINT) AS n_green
           FROM t2)
         SELECT doc_id, planted, CAST(n - 1 AS BIGINT) AS n_trans,
           n_green,
           CAST(n_green * 1000000 // (n - 1) AS BIGINT) AS green_ppm,
           n_green * 1000000 // (n - 1) >= 900000 AS flagged
         FROM g""",
    // q321: stratum-grain max/min selection under the composite
    // (score, doc_id) order packed into one BIGINT (score*1e7 + id —
    // DuckDB v1.0 arg_max can't order by STRUCT); same key both sides.
    "q321_preference_pairs" ->
      s"""WITH sc AS ($scoredDocsSql),
         j AS (
           SELECT sc.doc_id, sc.score, d.source, d.lang
           FROM sc JOIN documents d ON d.doc_id = sc.doc_id)
         SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(arg_max(doc_id, score * 10000000 + doc_id) AS BIGINT)
             AS chosen_id,
           CAST(arg_min(doc_id, score * 10000000 + doc_id) AS BIGINT)
             AS rejected_id,
           CAST(MAX(score) AS BIGINT) AS chosen_score,
           CAST(MIN(score) AS BIGINT) AS rejected_score,
           CAST(MAX(score) - MIN(score) AS BIGINT) AS margin_micro
         FROM j GROUP BY 1, 2
         HAVING COUNT(*) >= 2""",
    // q322: the ANN-COMPOSED hard-negative path — q32's IVF replay
    // (seeded codebook, argmax assignment, 4-cell probing) generates
    // the candidates, then q169's band/rank arithmetic runs verbatim
    // over them. A green hash certifies the composed 100 TB plan, not
    // just its pieces.
    "q322_ann_hard_negatives" ->
      s"""WITH $labeledVectorsCte,
         cents AS (SELECT vec_id AS c_id, v AS cv FROM un WHERE vec_id < 16),
         sims AS MATERIALIZED (
           SELECT un.vec_id, c_id,
             list_sum(list_transform(list_zip(un.v, cv), p -> p[1]*p[2])) AS sim
           FROM un CROSS JOIN cents),
         ${assignedCte("sims")},
         aprobes AS (
           SELECT vec_id AS a_id, c_id FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY sim DESC, c_id ASC) AS rn
             FROM sims) WHERE rn <= 4),
         cand AS (
           SELECT p.a_id, a.vec_id AS n_id
           FROM aprobes p JOIN assigned a ON a.c_id = p.c_id
           WHERE a.vec_id != p.a_id),
         scored AS (
           SELECT c.a_id, c.n_id,
             CAST(floor(1000000.0 * list_sum(list_transform(
               list_zip(ua.v, ub.v), p -> p[1]*p[2]))) AS BIGINT) AS sim_micro
           FROM cand c
           JOIN un ua ON ua.vec_id = c.a_id
           JOIN un ub ON ub.vec_id = c.n_id
           WHERE ua.label != ub.label)
         SELECT a_id, n_id, sim_micro, CAST(rn AS INTEGER) AS neg_rank
         FROM (
           SELECT a_id, n_id, sim_micro, ROW_NUMBER() OVER (
             PARTITION BY a_id ORDER BY sim_micro DESC, n_id ASC) AS rn
           FROM scored
           WHERE sim_micro >= 100000 AND sim_micro < 950000)
         WHERE rn <= 5""",
    // q323: the ANN-composed bitext path — source rows probe 4 IVF
    // cells, candidates are targets assigned there, and q168's margin
    // arithmetic (top-4 sums per side OVER THE CANDIDATE SET, one
    // final division, forward-best rank, >= 105) replays verbatim.
    "q323_ann_bitext_mine" ->
      s"""WITH $labeledVectorsCte,
         cents AS (SELECT vec_id AS c_id, v AS cv FROM un WHERE vec_id < 16),
         csims AS MATERIALIZED (
           SELECT un.vec_id, un.label, c_id,
             list_sum(list_transform(list_zip(un.v, cv), p -> p[1]*p[2])) AS sim
           FROM un CROSS JOIN cents),
         ${assignedCte("csims")},
         tgt AS (
           SELECT a.c_id, a.vec_id AS t_id FROM assigned a
           JOIN un ON un.vec_id = a.vec_id WHERE un.label = 1),
         sprobes AS (
           SELECT vec_id AS s_id, c_id FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY sim DESC, c_id ASC) AS rn
             FROM csims WHERE label = 0) WHERE rn <= 4),
         sims AS MATERIALIZED (
           SELECT p.s_id, t.t_id,
             CAST(floor(1000000.0 * list_sum(list_transform(
               list_zip(us.v, ut.v), p -> p[1]*p[2]))) AS BIGINT) AS sim_micro
           FROM sprobes p JOIN tgt t ON t.c_id = p.c_id
           JOIN un us ON us.vec_id = p.s_id
           JOIN un ut ON ut.vec_id = t.t_id),
         $bitextMarginSql""",
    // q324: prefix-cache hit rates by depth — md5 of each doc's first
    // d*16 normalized chars (full blocks only), per-depth distinct
    // census, hit_ppm = (n_docs - n_distinct)*1e6 DIV n_docs.
    "q324_prefix_cache" ->
      s"""WITH t AS (SELECT $normText AS t FROM documents),
         d AS (
           SELECT CAST(i AS BIGINT) AS depth,
             md5(substr(t, 1, CAST(i * 16 AS INT))) AS pfx
           FROM t, LATERAL (SELECT UNNEST(range(1, 9)) AS i) g
           WHERE length(t) >= i * 16),
         g AS (
           SELECT depth, pfx, CAST(COUNT(*) AS BIGINT) AS c
           FROM d GROUP BY 1, 2)
         SELECT depth, CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS n_shared_docs,
           CAST((SUM(c) - COUNT(*)) * 1000000 // SUM(c) AS BIGINT)
             AS hit_ppm
         FROM g GROUP BY 1""",
    // q325: pass@k in the product form, the factor chain generated
    // with the same literal indices and multiplication order as the
    // Spark side (identical-tree doubles over exact integers).
    "q325_pass_at_k" -> passAtKOracleSql(
      Experiment.passAtKs, Experiment.passAtCentsThreshold),
    // q326: nucleus truncation — bigram counts, (c desc, nxt asc)
    // running sums per context, first rank with 10*cum >= 9*total.
    "q326_nucleus_audit" ->
      s"""WITH words AS (
           SELECT string_split($normText, ' ') AS w FROM documents),
         big AS (
           SELECT w[i] AS prev, w[i + 1] AS nxt
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) g
           WHERE len(w) >= 2),
         cnt AS (
           SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
           FROM big GROUP BY 1, 2),
         rk AS (
           SELECT prev, c,
             ROW_NUMBER() OVER (PARTITION BY prev
               ORDER BY c DESC, nxt ASC) AS rk,
             SUM(c) OVER (PARTITION BY prev
               ORDER BY c DESC, nxt ASC ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER (PARTITION BY prev) AS total,
             COUNT(*) OVER (PARTITION BY prev) AS fanout
           FROM cnt)
         SELECT prev, CAST(fanout AS BIGINT) AS fanout,
           CAST(total AS BIGINT) AS total,
           CAST(MIN(rk) AS BIGINT) AS nucleus_k,
           CAST(arg_min(cum, rk) * 1000000 // total AS BIGINT) AS mass_ppm
         FROM rk WHERE cum * 10 >= total * 9
         GROUP BY prev, fanout, total""",
    // q327: curriculum pacing — word-rarity difficulty (per-term
    // truncating division, order-free), global easy-first rank,
    // exponential stage boundaries nn*(2^s - 1) DIV 15.
    "q327_curriculum" ->
      s"""WITH wf AS (
           SELECT doc_id, w FROM (
             SELECT doc_id, UNNEST(string_split($normText, ' ')) AS w
             FROM documents)
           WHERE w <> ''),
         cnts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM wf GROUP BY 1),
         diff AS (
           SELECT doc_id, CAST(SUM(1000000 // cnt) AS BIGINT) AS difficulty,
             CAST(COUNT(*) AS BIGINT) AS ntok
           FROM wf JOIN cnts USING (w) GROUP BY 1),
         rk AS (
           SELECT doc_id, difficulty, ntok,
             ROW_NUMBER() OVER (ORDER BY difficulty ASC, doc_id ASC) AS rk
           FROM diff),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM diff),
         st AS (
           SELECT difficulty, ntok, rk,
             CASE WHEN rk <= nn * 1 // 15 THEN 1
                  WHEN rk <= nn * 3 // 15 THEN 2
                  WHEN rk <= nn * 7 // 15 THEN 3
                  ELSE 4 END AS stage
           FROM rk CROSS JOIN tot)
         SELECT CAST(stage AS BIGINT) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(difficulty) AS BIGINT) AS min_difficulty,
           CAST(MAX(difficulty) AS BIGINT) AS max_difficulty,
           CAST(SUM(ntok) AS BIGINT) AS stage_tokens,
           CAST(MIN(rk) AS BIGINT) AS first_rank,
           CAST(MAX(rk) AS BIGINT) AS last_rank
         FROM st GROUP BY 1""",
    // q328: bigram-draft vs trigram-target greedy agreement — both
    // argmax tables under the (count desc, word asc) total order,
    // per-source weighted sums over trigram-type counts, trailing
    // ppm divisions only.
    "q328_spec_decode" ->
      s"""WITH docs AS (
           SELECT source, string_split($normText, ' ') AS w
           FROM documents),
         big AS (
           SELECT w[i] AS prev, w[i + 1] AS nxt
           FROM docs, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) g
           WHERE len(w) >= 2),
         bcnt AS (
           SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
           FROM big GROUP BY 1, 2),
         draft AS (
           SELECT prev AS p1, nxt AS draft_pred FROM (
             SELECT prev, nxt, ROW_NUMBER() OVER (PARTITION BY prev
               ORDER BY c DESC, nxt ASC) AS rn FROM bcnt) WHERE rn = 1),
         tri AS (
           SELECT source, w[i] AS p2, w[i + 1] AS p1, w[i + 2] AS nxt
           FROM docs, LATERAL (SELECT UNNEST(range(1, len(w) - 1)) AS i) g
           WHERE len(w) >= 3),
         tocc AS (
           SELECT source, p2, p1, nxt, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM tri GROUP BY 1, 2, 3, 4),
         tcnt AS (
           SELECT p2, p1, nxt, CAST(SUM(cnt) AS BIGINT) AS c
           FROM tocc GROUP BY 1, 2, 3),
         tgt AS (
           SELECT p2, p1, nxt AS target_pred FROM (
             SELECT p2, p1, nxt, ROW_NUMBER() OVER (PARTITION BY p2, p1
               ORDER BY c DESC, nxt ASC) AS rn FROM tcnt) WHERE rn = 1)
         SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN draft_pred = target_pred THEN cnt ELSE 0 END)
             AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN draft_pred = t.nxt THEN cnt ELSE 0 END)
             AS BIGINT) AS n_draft_hit,
           CAST(SUM(CASE WHEN target_pred = t.nxt THEN cnt ELSE 0 END)
             AS BIGINT) AS n_target_hit,
           CAST(SUM(CASE WHEN draft_pred = target_pred THEN cnt ELSE 0 END)
             * 1000000 // SUM(cnt) AS BIGINT) AS accept_ppm,
           CAST(SUM(CASE WHEN draft_pred = t.nxt THEN cnt ELSE 0 END)
             * 1000000 // SUM(cnt) AS BIGINT) AS draft_hit_ppm,
           CAST(SUM(CASE WHEN target_pred = t.nxt THEN cnt ELSE 0 END)
             * 1000000 // SUM(cnt) AS BIGINT) AS target_hit_ppm
         FROM tocc t
         JOIN draft USING (p1)
         JOIN tgt USING (p2, p1)
         GROUP BY source""",
    // q329: generated replay — q322's IVF serve for the ANN shortlist,
    // eval-set cross join for the brute truth, per-k counted recall.
    "q329_ann_recall" -> annRecallOracleSql(Similarity.annRecallKs,
      Similarity.annRecallSampleMod, Similarity.ivfClusters,
      Similarity.ivfProbes),
    // q330: frozen-codebook staleness — BOTH assignments replay the
    // q32 argmax (original and 7-rotated re-encoding for labels >= 5),
    // self-similarity floors per pair, integer cell means.
    "q330_index_staleness" ->
      s"""WITH raw AS (
           SELECT vec_id, label, embedding AS e1,
             CASE WHEN label < 5 THEN embedding
               ELSE list_concat(embedding[8:], embedding[1:7]) END AS e2
           FROM embeddings),
         un AS MATERIALIZED (
           SELECT vec_id,
             list_transform(e1, x -> CASE WHEN n1 > 0
               THEN CAST(x AS DOUBLE)/n1 ELSE 0.0 END) AS v1,
             list_transform(e2, x -> CASE WHEN n2 > 0
               THEN CAST(x AS DOUBLE)/n2 ELSE 0.0 END) AS v2
           FROM (SELECT vec_id, e1, e2,
             sqrt(list_sum(list_transform(e1,
               x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS n1,
             sqrt(list_sum(list_transform(e2,
               x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS n2
             FROM raw)),
         cents AS (SELECT vec_id AS c_id, v1 AS cv FROM un
           WHERE vec_id < 16),
         a1 AS (
           SELECT vec_id, c_id FROM (
             SELECT un.vec_id, c_id, ROW_NUMBER() OVER (
               PARTITION BY un.vec_id ORDER BY
                 list_sum(list_transform(list_zip(un.v1, cv),
                   z -> z[1]*z[2])) DESC, c_id ASC) AS rn
             FROM un CROSS JOIN cents) WHERE rn = 1),
         a2 AS (
           SELECT vec_id, c_id AS c_id2 FROM (
             SELECT un.vec_id, c_id, ROW_NUMBER() OVER (
               PARTITION BY un.vec_id ORDER BY
                 list_sum(list_transform(list_zip(un.v2, cv),
                   z -> z[1]*z[2])) DESC, c_id ASC) AS rn
             FROM un CROSS JOIN cents) WHERE rn = 1),
         per AS (
           SELECT a1.c_id,
             CASE WHEN a1.c_id != a2.c_id2 THEN 1 ELSE 0 END AS moved,
             CAST(floor(1000000.0 * list_sum(list_transform(
               list_zip(un.v1, un.v2), z -> z[1]*z[2]))) AS BIGINT)
               AS self_sim_micro
           FROM un JOIN a1 USING (vec_id) JOIN a2 USING (vec_id))
         SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(moved) AS BIGINT) AS n_moved,
           CAST(SUM(moved) * 1000000 // COUNT(*) AS BIGINT) AS moved_ppm,
           CAST(SUM(self_sim_micro) // COUNT(*) AS BIGINT)
             AS mean_self_sim_micro
         FROM per GROUP BY 1""",
    // q331: early/late split at the time midpoint, fixed-width cent
    // bins over the global range, per-term ppm shares, TVD DIV 2.
    "q331_feature_drift" ->
      s"""WITH ev AS (
           SELECT event_type, epoch_us(ts) AS tm,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
           FROM events),
         b AS (SELECT MIN(tm) AS tmin, MAX(tm) AS tmax,
             MIN(cents) AS cmin, MAX(cents) AS cmax FROM ev),
         binned AS (
           SELECT event_type, (tm * 2 <= tmin + tmax) AS early,
             (cents - cmin) * 10 // (cmax - cmin + 1) AS bin
           FROM ev CROSS JOIN b),
         cells AS (
           SELECT event_type, bin,
             CAST(SUM(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS ce,
             CAST(SUM(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT) AS cl
           FROM binned GROUP BY 1, 2),
         totals AS (
           SELECT event_type,
             CAST(SUM(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT)
               AS n_early,
             CAST(SUM(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late
           FROM binned GROUP BY 1),
         gaps AS (
           SELECT c.event_type, n_early, n_late,
             abs(ce * 1000000 // n_early - cl * 1000000 // n_late) AS gap
           FROM cells c JOIN totals USING (event_type))
         SELECT event_type, n_early, n_late,
           CAST(SUM(gap) // 2 AS BIGINT) AS tvd_ppm,
           CAST(MAX(gap) AS BIGINT) AS max_gap_ppm,
           CAST(SUM(gap) // 2 AS BIGINT) > 50000 AS flagged
         FROM gaps GROUP BY 1, 2, 3""",
    // q332: full banding replay (one md5 per shingle, h1 + i*h2 slot
    // mins, md5 band keys) against the q189 exhaustive 5-gram truth;
    // per-stage counted recall/precision with zero-guards.
    "q332_lsh_banding_eval" ->
      s"""WITH $spanShingleCtes,
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         truth AS MATERIALIZED (
           SELECT id_a, id_b FROM common
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE 5 * n_common >= 3 * (sa.n + sb.n - n_common)),
         $bandCandCtes,
         msig AS (SELECT doc_id, list(v ORDER BY i) AS sig
           FROM slots GROUP BY 1),
         est AS MATERIALIZED (
           SELECT id_a, id_b FROM cand
           JOIN msig sa ON sa.doc_id = id_a
           JOIN msig sb ON sb.doc_id = id_b
           WHERE 10 * len(list_filter(list_zip(sa.sig, sb.sig),
             z -> z[1] = z[2])) >= 6 * 64),
         c AS (SELECT
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_band,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM est) AS n_est,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
             JOIN cand USING (id_a, id_b)) AS hit_band,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
             JOIN est USING (id_a, id_b)) AS hit_est)
         SELECT n_truth, n_band, n_est, hit_band, hit_est,
           CASE WHEN n_truth > 0
             THEN CAST(hit_band * 1000000 // n_truth AS BIGINT) END
             AS recall_band_ppm,
           CASE WHEN n_truth > 0
             THEN CAST(hit_est * 1000000 // n_truth AS BIGINT) END
             AS recall_est_ppm,
           CASE WHEN n_band > 0
             THEN CAST(hit_band * 1000000 // n_band AS BIGINT) END
             AS precision_band_ppm,
           CASE WHEN n_est > 0
             THEN CAST(hit_est * 1000000 // n_est AS BIGINT) END
             AS precision_est_ppm
         FROM c""",
    // q397: b-bit minwise eval — q332's bandCandCtes replay,
    // exact Jaccard on candidates, then one estimator arm per b from
    // the SAME bbitGrid constant the Spark default uses.
    "q397_bbit_minwise" ->
      s"""WITH $spanShingleCtes,
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM sh GROUP BY 1),
         $bandCandCtes,
         common AS (
           SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_common
           FROM cand c
           JOIN sh a ON a.doc_id = c.id_a
           JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
           GROUP BY 1, 2),
         jt AS (
           SELECT id_a, id_b,
             CAST(n_common * 1000000
               // (sa.n + sb.n - n_common) AS BIGINT) AS j_micro
           FROM common
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b),
         msig AS (SELECT doc_id, list(v ORDER BY i) AS sig
           FROM slots GROUP BY 1),
         paired AS MATERIALIZED (
           SELECT c.id_a, c.id_b,
             COALESCE(jt.j_micro, 0) AS j_micro,
             CAST(len(list_filter(list_zip(sa.sig, sb.sig),
               z -> z[1] = z[2])) AS BIGINT) AS m_full,
             sa.sig AS sig_a, sb.sig AS sig_b
           FROM cand c
           LEFT JOIN jt ON jt.id_a = c.id_a AND jt.id_b = c.id_b
           JOIN msig sa ON sa.doc_id = c.id_a
           JOIN msig sb ON sb.doc_id = c.id_b)
         ${Dedup.bbitGrid.map { b =>
           val pow = 1L << b
           s"""SELECT CAST($b AS BIGINT) AS bits_per_slot,
              CAST(${64L * b / 8L} AS BIGINT) AS sig_bytes,
              CAST(COUNT(*) AS BIGINT) AS n_pairs,
              CAST(SUM(ABS(GREATEST(0, (CAST(len(list_filter(
                  list_zip(sig_a, sig_b),
                  z -> z[1] % $pow = z[2] % $pow)) AS BIGINT)
                * $pow - 64) * 1000000 // (64 * ${pow - 1}))
                - j_micro)) // COUNT(*) AS BIGINT) AS mae_b_micro,
              CAST(SUM(ABS(m_full * 1000000 // 64 - j_micro))
                // COUNT(*) AS BIGINT) AS mae_full_micro
            FROM paired"""
         }.mkString("\n         UNION ALL\n         ")}""",
    // q400: judge position-bias swap audit — adjacent-id pairs over
    // the q212 scorer, the planted-bias md5 judge replayed per
    // presentation order, bucket + global shares; bias/amp GENERATED
    // from the shared constants.
    "q400_judge_position_bias" ->
      s"""WITH sc AS ($scoredDocsSql),
         pr AS (
           SELECT a.doc_id AS id_a, a.score AS s_a, b.score AS s_b
           FROM sc a JOIN sc b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 2 = 0),
         v AS (
           SELECT id_a,
             s_a - s_b + ${Experiment.pjBiasMicro}
               + (('0x' || substr(md5('pj:' || CAST(id_a AS VARCHAR)
                 || ':0'), 1, 15))::BIGINT
                 % ${2 * Experiment.pjNoiseAmp + 1}
                 - ${Experiment.pjNoiseAmp}) >= 0 AS w0_is_a,
             s_b - s_a + ${Experiment.pjBiasMicro}
               + (('0x' || substr(md5('pj:' || CAST(id_a AS VARCHAR)
                 || ':1'), 1, 15))::BIGINT
                 % ${2 * Experiment.pjNoiseAmp + 1}
                 - ${Experiment.pjNoiseAmp}) >= 0 AS w1_is_b,
             LEAST(ABS(s_a - s_b) // 100000, 9) AS diff_decile
           FROM pr),
         per AS (
           SELECT diff_decile, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN w0_is_a != w1_is_b THEN 1 ELSE 0 END)
               AS BIGINT) AS n_consistent,
             CAST(SUM((CASE WHEN w0_is_a THEN 1 ELSE 0 END)
               + (CASE WHEN w1_is_b THEN 1 ELSE 0 END)) AS BIGINT)
               AS n_first_wins
           FROM v GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t_pairs,
             CAST(SUM(n_consistent) AS BIGINT) AS t_cons,
             CAST(SUM(n_first_wins) AS BIGINT) AS t_first FROM per)
         SELECT CAST(diff_decile AS BIGINT) AS diff_decile, n_pairs,
           n_consistent, n_first_wins,
           CAST(n_consistent * 1000000 // n_pairs AS BIGINT)
             AS consistency_ppm,
           CAST(n_first_wins * 1000000 // (2 * n_pairs) AS BIGINT)
             AS first_win_ppm,
           CAST(t_cons * 1000000 // t_pairs AS BIGINT)
             AS total_consistency_ppm,
           CAST(t_first * 1000000 // (2 * t_pairs) AS BIGINT)
             AS total_first_win_ppm
         FROM per, tot""",
    // q401: Kendall's W — per-judge perturbed rankings, rank sums,
    // the 4S integer deviation form, one trailing micro DIV; judges
    // and amp GENERATED from the shared constants.
    "q401_kendall_w" ->
      s"""WITH sc AS ($scoredDocsSql),
         jd AS (
           SELECT doc_id, j.j,
             score + (('0x' || substr(md5('kw:' || CAST(j.j AS VARCHAR)
               || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % ${2 * Experiment.kwNoiseAmp + 1}
               - ${Experiment.kwNoiseAmp}) AS jscore
           FROM sc, (SELECT UNNEST(range(1,
             ${Experiment.kwJudges + 1})) AS j) j),
         rk AS (
           SELECT doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY j
               ORDER BY jscore DESC, doc_id ASC) AS BIGINT) AS rk_j
           FROM jd),
         rs AS (SELECT doc_id, CAST(SUM(rk_j) AS BIGINT) AS r_i
           FROM rk GROUP BY 1),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
         s AS (
           SELECT CAST(SUM(CAST(2 * r_i - ${Experiment.kwJudges} * (n + 1)
               AS HUGEINT) * (2 * r_i - ${Experiment.kwJudges} * (n + 1)))
             AS HUGEINT) AS s2, MAX(n) AS n
           FROM rs, nn),
         w AS (
           -- n <= 1 zeroes the denominator: empty in BOTH engines
           -- (mirrors kendallWOn's n >= 2 filter; round-16 advice)
           SELECT CAST(${Experiment.kwJudges} AS BIGINT) AS m,
             n AS n_docs,
             CAST(3 * s2 * 1000000
               // (${Experiment.kwJudges * Experiment.kwJudges}
                 * (CAST(n AS HUGEINT) * n * n - n)) AS BIGINT) AS w_micro
           FROM s WHERE n >= 2)
         SELECT m, n_docs, w_micro,
           CAST((${Experiment.kwJudges} * w_micro - 1000000)
             // ${Experiment.kwJudges - 1} AS BIGINT) AS rho_bar_micro
         FROM w""",
    // q402: equal-mass (adaptive-bin) ECE — the q233 rank-decile cut
    // over the q212 scorer; the oracle takes the simple doc-grain
    // rank form of the same deciles.
    "q402_adaptive_ece" ->
      s"""WITH sc AS ($scoredDocsSql),
         r AS (
           SELECT doc_id, score, is_en,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
               AS BIGINT) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
           FROM sc),
         per AS (
           SELECT (10 * (rk - 1)) // n AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(score) AS BIGINT) AS sum_score,
             CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
           FROM r GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t_n,
             CAST(SUM(ABS(sum_score - 1000000 * n_pos)) AS HUGEINT)
               AS t_gap FROM per)
         SELECT CAST(decile AS BIGINT) AS decile, n_docs,
           CAST(sum_score // n_docs AS BIGINT) AS mean_score_micro,
           CAST((n_pos * 1000000) // n_docs AS BIGINT) AS rate_micro,
           CAST(sum_score // n_docs - (n_pos * 1000000) // n_docs
             AS BIGINT) AS gap_micro,
           CAST(t_gap // t_n AS BIGINT) AS ece_micro
         FROM per, tot""",
    // q398: JL distortion audit — q30's brute top-k pair set, the
    // md5-parity Rademacher matrix replayed entry-by-entry, squared
    // sums in the identical fold order, one floor per pair.
    "q398_jl_distortion" ->
      s"""WITH u AS MATERIALIZED ($normalizedVectors),
         q AS (SELECT vec_id AS q_id, v AS qv FROM u
               WHERE vec_id IN (SELECT vec_id FROM embeddings
                 ORDER BY vec_id LIMIT ${Similarity.jlQueries})),
         s AS (SELECT q_id, u.vec_id,
                 list_sum(list_transform(list_zip(qv, u.v),
                   p -> p[1] * p[2])) AS cosine
               FROM q JOIN u ON u.vec_id != q.q_id),
         pool AS (SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, vec_id ASC) AS rk FROM s)
           WHERE rk <= ${Similarity.jlK}),
         pr AS (
           SELECT p.q_id, p.vec_id,
             list_transform(list_zip(ea.embedding, eb.embedding),
               z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS d
           FROM pool p
           JOIN embeddings ea ON ea.vec_id = p.q_id
           JOIN embeddings eb ON eb.vec_id = p.vec_id),
         met AS (
           SELECT q_id, vec_id,
             list_sum(list_transform(d, x -> x * x)) AS orig_sq,
             list_sum(list_transform(
               list_transform(range(0, ${Similarity.jlOutDim}), j ->
                 list_sum(list_transform(range(1, len(d) + 1), i ->
                   (CASE WHEN ('0x' || substr(md5('jl:' ||
                       CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
                       1, 8))::BIGINT % 2 = 0
                     THEN 1.0 ELSE -1.0 END) * d[i]))),
               p -> p * p)) AS proj_sq
           FROM pr)
         SELECT q_id, vec_id,
           CASE WHEN orig_sq = 0.0 THEN CAST(1000000 AS BIGINT)
             ELSE CAST(floor(1000000.0
               * (proj_sq / ${Similarity.jlOutDim}) / orig_sq) AS BIGINT)
             END AS distortion_ppm
         FROM met""",
    // q399: BH FDR — q374's sign-flip machinery per event_type, then
    // the integer cross-multiplied step-up rule; R and alpha are
    // GENERATED from the same constants the Spark defaults use.
    "q399_bh_fdr" ->
      s"""WITH pu AS MATERIALIZED (
           SELECT event_type, user_id,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS cents,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE -1 END AS s
           FROM events GROUP BY 1, 2),
         obs AS (
           SELECT event_type, CAST(SUM(s * cents) AS BIGINT) AS t_obs,
             CAST(COUNT(*) AS BIGINT) AS n_users
           FROM pu GROUP BY 1),
         reps AS (
           SELECT event_type, r.r,
             CAST(SUM((CASE WHEN ('0x' || substr(md5('bh:' || event_type
               || ':' || CAST(user_id AS VARCHAR) || ':'
               || CAST(r.r AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
               THEN 1 ELSE -1 END) * s * cents) AS BIGINT) AS t_r
           FROM pu, (SELECT UNNEST(range(1,
             ${Experiment.bhReplicates + 1})) AS r) r
           GROUP BY 1, 2),
         p AS (
           SELECT o.event_type, o.n_users, o.t_obs AS t_obs_cents,
             CAST((SUM(CASE WHEN ABS(t_r) >= ABS(o.t_obs) THEN 1 ELSE 0
               END) + 1) * 1000000
               // ${Experiment.bhReplicates + 1} AS BIGINT) AS p_micro
           FROM reps JOIN obs o USING (event_type)
           GROUP BY 1, 2, 3),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p),
         rk AS (
           SELECT p.*, m.m,
             CAST(ROW_NUMBER() OVER (ORDER BY p_micro ASC,
               event_type ASC) AS BIGINT) AS rank
           FROM p, m),
         ranked AS (
           SELECT rk.*,
             p_micro * m <= rank * ${Experiment.bhAlphaMicro} AS bh_ok
           FROM rk),
         ks AS (SELECT CAST(COALESCE(MAX(CASE WHEN bh_ok THEN rank END),
           0) AS BIGINT) AS k_star FROM ranked)
         SELECT event_type, n_users, t_obs_cents, p_micro, rank,
           m AS n_tests, bh_ok, k_star, rank <= k_star AS rejected
         FROM ranked, ks""",
    // q333: generated — planted delay model + running-max watermark +
    // per-delay conditional sums.
    "q333_watermark_planner" ->
      watermarkPlannerOracleSql(Seq(0L, 60L, 120L, 300L, 600L)),
    // q334: generated — q313 twin truth + q114 BM25 tree per term,
    // floored-then-summed scores, per-k recall/MRR arms.
    "q334_bm25_retrieval_eval" ->
      bm25RetrievalOracleSql(Seq(1, 5, 10), 5L, 10),
    // q189: prefix-filter join runs the lossless AllPairs pruning, so
    // its oracle is the exhaustive token-set truth at the same
    // integer threshold (5·∩ ≥ 3·∪) — equality IS the completeness
    // theorem under test.
    "q189_prefix_filter_join" ->
      s"""WITH $spanShingleCtes,
         sizes AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
           FROM sh a JOIN sh b
             ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
           CAST(n_common AS DOUBLE) /
             CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
         FROM common
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
         WHERE 5 * n_common >= 3 * (sa.n + sb.n - n_common)""",
    // q188: negative sampling — c^(3/4) = sqrt(c)·sqrt(sqrt(c)), two
    // correctly-rounded ops + one multiply, floored once; draws are
    // 60-bit md5 mod total weight, landing in exactly one cum slot.
    "q188_neg_sampling" ->
      s"""WITH counts AS (
           SELECT tok, COUNT(*) AS c FROM (
             SELECT UNNEST(string_split($normText, ' ')) AS tok
             FROM documents) t
           WHERE tok <> '' GROUP BY 1),
         w AS (
           SELECT tok, c, CAST(FLOOR(1000000.0 *
             (sqrt(CAST(c AS DOUBLE)) * sqrt(sqrt(CAST(c AS DOUBLE)))))
             AS BIGINT) AS w_micro
           FROM counts),
         cum AS (
           SELECT tok, c, w_micro,
             CAST(SUM(w_micro) OVER (ORDER BY md5(tok) ASC, tok ASC
               ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hi
           FROM w),
         tot AS (SELECT MAX(cum_hi) AS tw FROM cum),
         draws AS (
           SELECT CAST(k AS BIGINT) AS k,
             ('0x' || substr(md5('neg:' || CAST(k AS VARCHAR)), 1, 15))
               ::BIGINT % tot.tw AS target
           FROM range(1, 65) t(k), tot)
         SELECT d.k, cum.tok, cum.c, cum.w_micro,
           CAST(cum.w_micro AS DOUBLE) / CAST(tot.tw AS DOUBLE) AS p
         FROM cum CROSS JOIN tot
           JOIN draws d ON d.target >= cum.cum_hi - cum.w_micro
             AND d.target < cum.cum_hi""",
    // q187: streaming MAD gate — stateless serve from the persisted
    // per-type bounds artifact ⇒ batch-split-invariant, so the batch
    // twin replays the whole stream exactly; lower medians as q186.
    "q187_stream_mad_gate" ->
      """WITH ev AS (
           SELECT event_id, event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
           FROM events),
         nn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                FROM ev GROUP BY 1),
         med AS (
           SELECT event_type, cents AS med_cents FROM (
             SELECT event_type, cents, ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY cents ASC, event_id ASC) AS rn FROM ev) r
           JOIN nn USING (event_type)
           WHERE rn = (nn.n + 1) // 2),
         dev AS (
           SELECT ev.event_id, ev.event_type, ev.cents, med.med_cents,
             abs(ev.cents - med.med_cents) AS absdev
           FROM ev JOIN med USING (event_type)),
         mad AS (
           SELECT event_type, absdev AS mad_cents FROM (
             SELECT event_type, absdev, ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY absdev ASC, event_id ASC) AS rn FROM dev) r
           JOIN nn USING (event_type)
           WHERE rn = (nn.n + 1) // 2)
         SELECT event_id, event_type, cents, med_cents, mad.mad_cents,
           abs(cents - med_cents) > 3 * mad.mad_cents AS is_outlier
         FROM dev JOIN mad USING (event_type)""",
    // q186: MAD anomaly — exact cents totals; LOWER medians (rank
    // (n+1) DIV 2 under a (value, day) total order — no
    // interpolation, no parity branch); the flag compares integers.
    "q186_mad_anomaly" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS total_cents
           FROM events GROUP BY 1),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
         med AS (
           SELECT total_cents AS med_cents FROM (
             SELECT total_cents, ROW_NUMBER() OVER (
               ORDER BY total_cents ASC, day ASC) AS rn FROM daily) r, nn
           WHERE rn = (nn.n + 1) // 2),
         dev AS (
           SELECT d.day, d.n_events, d.total_cents, med.med_cents,
             d.total_cents - med.med_cents AS dev
           FROM daily d CROSS JOIN med),
         mad AS (
           SELECT absdev AS mad_cents FROM (
             SELECT abs(dev) AS absdev, ROW_NUMBER() OVER (
               ORDER BY abs(dev) ASC, day ASC) AS rn FROM dev) r, nn
           WHERE rn = (nn.n + 1) // 2)
         SELECT day, n_events, total_cents, med_cents, mad.mad_cents,
           dev, abs(dev) > 3 * mad.mad_cents AS is_anomaly
         FROM dev CROSS JOIN mad""",
    // q184: per-source KL — the smoothed ratio is one IEEE division
    // of exact BIGINT products, its ln micro-floors, and the weighted
    // sum is an order-independent BIGINT; one final division renders
    // nats.
    "q184_source_kl" ->
      s"""WITH sc AS (
           SELECT source, tok, COUNT(*) AS c_sw FROM (
             SELECT source, UNNEST(string_split($normText, ' ')) AS tok
             FROM documents) t
           WHERE tok <> '' GROUP BY 1, 2),
         cw AS (SELECT tok, CAST(SUM(c_sw) AS BIGINT) AS c_w
                FROM sc GROUP BY 1),
         ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s
                FROM sc GROUP BY 1),
         tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS v FROM cw),
         grid AS (
           SELECT ns.source, ns.n_s, cw.tok, cw.c_w,
             COALESCE(sc.c_sw, 0) AS c_sw
           FROM ns CROSS JOIN cw
             LEFT JOIN sc ON sc.source = ns.source AND sc.tok = cw.tok),
         terms AS (
           SELECT source, n_s, tot.v,
             (c_sw + 1) * CAST(FLOOR(1000000.0 * ln(
               CAST((c_sw + 1) * (tot.n + tot.v) AS DOUBLE) /
                 CAST((n_s + tot.v) * (c_w + 1) AS DOUBLE))) AS BIGINT)
               AS term
           FROM grid CROSS JOIN tot)
         SELECT source, MAX(n_s) AS n_tokens, MAX(v) AS vocab_size,
           CAST(SUM(term) AS BIGINT) AS s_micro,
           CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE) /
             (CAST(MAX(n_s) + MAX(v) AS DOUBLE) * 1000000.0) AS kl_nats
         FROM terms GROUP BY 1""",
    // q185: Heaps audit — cumulative vocab needs no distinct-per-
    // prefix: V_b = running sum of first-batch counts; log-log points
    // micro-floor so the regression sums are exact BIGINTs (q170
    // tree).
    "q185_heaps_audit" ->
      s"""WITH toks AS (
           SELECT doc_id // 50 AS b,
             UNNEST(string_split($normText, ' ')) AS tok
           FROM documents),
         t2 AS (SELECT b, tok FROM toks WHERE tok <> ''),
         per_batch AS (SELECT b, COUNT(*) AS t FROM t2 GROUP BY 1),
         new_vocab AS (
           SELECT fb AS b, COUNT(*) AS nv FROM (
             SELECT tok, MIN(b) AS fb FROM t2 GROUP BY 1) f
           GROUP BY 1),
         curve AS (
           SELECT b,
             CAST(SUM(t) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS t_cum,
             CAST(SUM(COALESCE(nv, 0)) OVER (ORDER BY b ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS v_cum
           FROM per_batch LEFT JOIN new_vocab USING (b)),
         pts AS (
           SELECT
             CAST(FLOOR(1000000.0 * ln(CAST(t_cum AS DOUBLE)))
               AS BIGINT) AS x,
             CAST(FLOOR(1000000.0 * ln(CAST(v_cum AS DOUBLE)))
               AS BIGINT) AS y,
             t_cum, v_cum
           FROM curve),
         s AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             MAX(t_cum) AS total_tokens, MAX(v_cum) AS vocab_size
           FROM pts)
         SELECT n AS n_batches, total_tokens, vocab_size,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) = 0 THEN -1.0
             ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
               CAST(n * sxx - sx * sx AS DOUBLE) END AS heaps_beta,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) = 0 THEN -1.0
             ELSE (CAST(sy AS DOUBLE) -
               CAST(n * sxy - sx * sy AS DOUBLE) /
                 CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
               CAST(n AS DOUBLE) END AS intercept_ln_k,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) = 0
                  OR CAST(n * syy - sy * sy AS DOUBLE) = 0
             THEN -1.0
             ELSE (CAST(n * sxy - sx * sy AS DOUBLE) *
               CAST(n * sxy - sx * sy AS DOUBLE)) /
               (CAST(n * sxx - sx * sx AS DOUBLE) *
                 CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
         FROM s""",
    // q182: char entropy — Σ cᵢ·⌊10⁶ ln cᵢ⌋ is an exact BIGINT; the
    // low_entropy gate compares integers (cross-multiplied by n), the
    // reported double is one identical-tree division chain.
    "q182_char_entropy" ->
      s"""WITH t AS (
           SELECT doc_id, $normText AS nt FROM documents),
         ch AS (
           SELECT doc_id, substr(nt, CAST(i AS INT), 1) AS ch
           FROM t, LATERAL (
             SELECT UNNEST(range(1, length(nt) + 1)) AS i) u
           WHERE length(nt) >= 1),
         cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
         s AS (
           SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(c * CAST(FLOOR(1000000.0 *
               ln(CAST(c AS DOUBLE))) AS BIGINT)) AS BIGINT) AS s_micro
           FROM cc GROUP BY 1)
         SELECT doc_id, n_chars, n_distinct, s_micro,
           CAST(CAST(FLOOR(1000000.0 * ln(CAST(n_chars AS DOUBLE)))
             AS BIGINT) * n_chars - s_micro AS DOUBLE) /
             (CAST(n_chars AS DOUBLE) * 1000000.0) AS entropy,
           (CAST(FLOOR(1000000.0 * ln(CAST(n_chars AS DOUBLE)))
             AS BIGINT) * n_chars - s_micro) < 2000000 * n_chars
             AS low_entropy
         FROM s""",
    // q157: apply the q155-trained merges corpus-wide — the oracle
    // replays the training chain (doc_id carried) and reads the final
    // round's streams as the encoding.
    "q157_bpe_encode" ->
      bpeEncodeOracleSql(TextAnalysis.bpeRounds, TextAnalysis.bpeEncodeHeadN),
    // q238: fertility — the q157 chain aggregated to the lang domain;
    // rounds must equal the Spark default.
    "q238_tokenizer_fertility" ->
      tokenizerFertilityOracleSql(TextAnalysis.bpeRounds),
    "q135_bpe_pairs" ->
      """WITH pairs AS (
           SELECT substr(text, CAST(i AS INT), 2) AS pair
           FROM documents, UNNEST(range(1, length(text))) AS t(i)),
         counts AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY 1)
         SELECT pair, n FROM counts
         ORDER BY n DESC, pair LIMIT 50""",
    // q136: the SAME portable SQL text the Spark side executes via
    // spark.sql — shared constant, so the two engines cannot drift.
    "q136_sql_frontdoor" -> Relational.tpchQ3Sql,
    // q142: the SAME lateral-subquery text verbatim — DuckDB executes
    // the correlation directly, Spark must reach identical rows
    // through its Window/WindowGroupLimit decorrelation.
    "q142_lateral_topk" -> Relational.lateralTopKSql,
    // q128: referential-integrity audit — one left-join + FILTERed
    // aggregate per foreign key; DISTINCT ignores NULLs in both
    // engines, matching the Spark count(distinct when(...)).
    "q128_dq_audit" -> {
      def fkSql(name: String, child: String, key: String,
          parent: String, pkey: String) =
        s"""SELECT '$name' AS fk, COUNT(*) AS child_rows,
            COUNT(*) FILTER (WHERE p.$pkey IS NULL) AS orphan_rows,
            COUNT(DISTINCT c.$key) FILTER (WHERE p.$pkey IS NULL)
              AS orphan_keys
          FROM $child c LEFT JOIN $parent p ON p.$pkey = c.$key"""
      Seq(
        fkSql("lineitem.l_orderkey", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        fkSql("lineitem.l_partkey", "lineitem", "l_partkey",
          "part", "p_partkey"),
        fkSql("lineitem.l_suppkey", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        fkSql("orders.o_custkey", "orders", "o_custkey",
          "customer", "c_custkey"),
        fkSql("customer.c_nationkey", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        fkSql("supplier.s_nationkey", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        fkSql("nation.n_regionkey", "nation", "n_regionkey",
          "region", "r_regionkey")).mkString(" UNION ALL ")
    },
    // q123: interval coalescing — identical cumulative-max island
    // construction; integer microsecond arithmetic throughout.
    "q123_interval_coalesce" ->
      """WITH iv AS (
           SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts)
               + (CAST(FLOOR(value) AS BIGINT) % 120 + 1) * 60000000
               AS e
           FROM events),
         m AS (
           SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
           FROM iv),
         b AS (
           SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
               THEN 1 ELSE 0 END AS brk
           FROM m),
         i AS (
           SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
               ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
           FROM b)
         SELECT user_id, island,
           make_timestamp(MIN(s)) AS t_start,
           make_timestamp(MAX(e)) AS t_end,
           COUNT(*) AS n_events
         FROM i GROUP BY user_id, island""",
    // q121: transition matrix — identical lead/aggregate shape; the
    // probability is one division of exact counts.
    "q121_transitions" ->
      """WITH t AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, COUNT(*) AS n FROM t
               WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) /
           CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
         FROM c""",
    // q119: histogram — identical floor arithmetic both engines
    // (DuckDB has no width_bucket; the Spark builtin is spec-pinned
    // against this arithmetic instead).
    "q119_histogram" ->
      """WITH st AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
         SELECT CAST(FLOOR((value - lo) * 20 / (hi - lo)) + 1 AS BIGINT)
           AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events CROSS JOIN st GROUP BY 1""",
    // q118: weighted sample — E-S priority from the salted md5 60-bit
    // uniform (q68 device); identical double expression both engines,
    // compared as floor(×1e6); rank ties broken by doc_id.
    "q118_weighted_sample" ->
      """WITH s AS (
           SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
             ln((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                       1, 15))::BIGINT AS DOUBLE) + 1.0)
                / 1152921504606846976.0)
               / CAST(n_chars AS BIGINT) AS pr
           FROM documents)
         SELECT lang, doc_id, w,
           CAST(FLOOR(pr * 1000000) AS BIGINT) AS pr_micro,
           CAST(rk AS BIGINT) AS rk
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY pr DESC, doc_id ASC) AS rk FROM s)
         WHERE rk <= 20""",
    // q125: streaming PIT enrichment — the oracle is the batch
    // interval join against the re-dated history (q115's device over
    // the event stream); stream must equal batch.
    "q125_stream_pit" ->
      s"""${scd2HistSql("2024-01-01", "2024-01-15")}
         SELECT e.event_id, e.user_id, e.ts,
           h.c_mktsegment AS seg_at_event,
           h.c_mktsegment IS NOT NULL AS is_known
         FROM events e LEFT JOIN scd2_hist h
           ON h.c_custkey = e.user_id
          AND e.ts >= CAST(h.valid_from AS TIMESTAMP)
          AND (h.valid_to IS NULL
               OR e.ts < CAST(h.valid_to AS TIMESTAMP))""",
    // q120: streaming CDC apply — same oracle as q117 (stream must
    // equal batch), reached through foreachBatch versioned upserts.
    "q120_stream_cdc" -> cdcReplayOracle,
    // q117: CDC replay — the oracle states last-writer-wins as
    // ROW_NUMBER()=1 over (ts, event_id) DESC; the Spark side must
    // reach the identical final state through its sort-free max_by
    // aggregate.
    "q117_cdc_replay" -> cdcReplayOracle,
    // q116: per-user OLS trend — integer sufficient statistics
    // (epoch days × DECIMAL-rounded cents), one final double
    // division; HUGEINT sums cast back to BIGINT for the compare.
    "q116_trend" ->
      """WITH b AS (
           SELECT user_id,
             epoch_us(ts) // 86400000000 AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
           FROM events),
         s AS (
           SELECT user_id, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(yc) AS BIGINT) AS syc,
             CAST(SUM(x * yc) AS BIGINT) AS sxyc,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             COUNT(DISTINCT x) AS n_days
           FROM b GROUP BY user_id)
         SELECT user_id, n, sx, syc, sxyc, sxx,
           CAST(n * sxyc - sx * syc AS DOUBLE) /
           CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_day
         FROM s WHERE n_days >= 2""",
    // q113: cohort retention — the oracle derives first-purchase
    // cohorts with a groupBy + join-back; the Spark side must land on
    // identical cells through its window formulation. Week truncs are
    // ISO Mondays in both engines, so offsets divide exactly.
    "q113_cohort" ->
      """WITH p AS (
           SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         f AS (
           SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
           FROM p GROUP BY user_id)
         SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week,
                 CAST(date_trunc('week', p.ts) AS DATE)) // 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users
         FROM p JOIN f USING (user_id)
         GROUP BY 1, 2""",
    // q112: funnel — the oracle builds the conversion chain level by
    // level (min qualified step k within 48 h of min qualified step
    // k-1); the Spark side must reach identical times through its
    // one-shuffle running-min formulation (equivalent because running
    // mins are non-increasing — see Relational.funnel scaladoc).
    "q112_funnel" ->
      s"""WITH $funnelCtes
         SELECT l1.user_id, l1.t1, l2.t2, l3.t3,
           CAST(CASE WHEN l1.t1 IS NULL THEN 0 WHEN l2.t2 IS NULL THEN 1
                WHEN l3.t3 IS NULL THEN 2 ELSE 3 END AS BIGINT) AS steps
         FROM l1 JOIN l2 USING (user_id) JOIN l3 USING (user_id)""",
    // q109: column profiling — the oracle computes each column's
    // stats as its own SELECT over the shared raw view (nulls
    // replayed per q103's device) and stacks them with UNION ALL;
    // the Spark side must reach identical rows through one aggregate
    // pass + unpivot. Price profiles as DECIMAL(18,2), date as DATE,
    // so min/max strings render identically in both engines.
    "q109_profile" ->
      ("""WITH raw AS (
           SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 97 = 0 THEN NULL
                  ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 89 = 0 THEN NULL
                  ELSE CAST(o_totalprice AS DECIMAL(18,2))
             END AS o_totalprice,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
           FROM orders)
         """ + Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority").map(c =>
        s"""SELECT '$c' AS column_name,
            COUNT(*) - COUNT($c) AS n_nulls,
            COUNT(DISTINCT $c) AS n_distinct,
            CAST(MIN($c) AS VARCHAR) AS min_value,
            CAST(MAX($c) AS VARCHAR) AS max_value FROM raw""")
        .mkString("\nUNION ALL\n")),
    // q90: identical SQL text both engines — correlated scalar
    // subqueries, correlated EXISTS, NOT IN. COUNT(*) scalar subquery
    // returns 0 (not NULL) for customers with no orders in BOTH
    // engines after decorrelation — a classic divergence this entry
    // pins; f_total stays NULL for no-F-orders customers.
    "q90_subqueries" ->
      """SELECT c_custkey, c_mktsegment,
        (SELECT COUNT(*) FROM orders o
         WHERE o.o_custkey = c.c_custkey) AS n_orders,
        (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         FROM orders o
         WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F') AS f_total
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000.0)
          AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_totalprice > 480000.0)""",
    // q94: regex breadth — dialect pins: DuckDB regexp_replace needs
    // 'g' to match Spark's replace-all default; Spark split needs
    // limit -1 to keep trailing empties like regexp_split_to_array.
    "q94_regex_funcs" ->
      """SELECT c_custkey,
         regexp_extract(c_name, '([0-9]+)', 1) AS num_str,
         CAST(len(regexp_extract_all(c_name, '0')) AS BIGINT) AS n_zeros,
         regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
         regexp_matches(c_name, '00[0-9]{7}$') AS well_formed,
         CAST(len(regexp_split_to_array(c_mktsegment, '[AEIOU]')) AS INTEGER)
           AS n_vowel_parts
         FROM customer""",
    // q95: MAP/STRUCT breadth — the Spark side round-trips a nested
    // parquet (struct + map) and flattens; the oracle derives the
    // same flat values straight from orders: map key order is pinned
    // to map() insertion order ('status','prio'), explode-of-map
    // becomes a two-branch UNION ALL (one per entry), size-of-map is
    // the constant 2 (INTEGER, matching Spark's int size()).
    "q95_map_struct" ->
      """WITH base AS (
           SELECT o_orderkey, o_totalprice AS price,
                  o_orderpriority AS prio, o_orderstatus AS status_val,
                  'status,prio' AS keys_csv,
                  o_orderstatus || '|' || o_orderpriority AS vals_csv,
                  CAST(2 AS INTEGER) AS n_tags,
                  'status=' || o_orderstatus AS kv_status,
                  'STATUS,PRIO' AS upper_keys_csv,
                  CAST(1 AS INTEGER) AS n_prio_only,
                  o_orderstatus || '~' || lower(o_orderstatus) AS zip_status,
                  CAST(3 AS INTEGER) AS n_concat,
                  'status' AS first_key
           FROM orders)
         SELECT o_orderkey, price, prio, status_val, keys_csv, vals_csv,
                n_tags, kv_status, upper_keys_csv, n_prio_only, zip_status,
                n_concat, first_key,
                'status' AS tag_key, status_val AS tag_val
         FROM base
         UNION ALL
         SELECT o_orderkey, price, prio, status_val, keys_csv, vals_csv,
                n_tags, kv_status, upper_keys_csv, n_prio_only, zip_status,
                n_concat, first_key,
                'prio' AS tag_key, prio AS tag_val
         FROM base""",
    // q96: unicode semantics — dialect pins: DuckDB length() counts
    // codepoints like Spark's length (bytes need octet_length over
    // encode()); strpos is codepoint-based like instr; regexp_replace
    // needs 'g' for Spark's replace-all default. BMP-only chars keep
    // both engines inside the agreed codepoint envelope.
    "q96_unicode_strings" ->
      """WITH base AS (SELECT c_custkey,
           replace(replace(replace(c_name, 'Customer#', 'Kûñdé№'),
             '0', 'Ø'), '1', 'ü') AS u
         FROM customer)
         SELECT c_custkey, u AS name_u,
           CAST(length(u) AS INTEGER) AS n_chars,
           CAST(octet_length(encode(u)) AS INTEGER) AS n_bytes,
           lower(u) AS lower_u,
           upper(u) AS upper_u,
           substring(u, 3, 8) AS sub_u,
           reverse(u) AS rev_u,
           CAST(strpos(u, 'Ø') AS INTEGER) AS pos_oslash,
           regexp_replace(u, '[Øü]', '*', 'g') AS masked
         FROM base""",
    // q92: collection-function breadth — list_transform/filter/sum
    // replay transform/filter/aggregate; the sequential fold keeps
    // the l1 double sum bit-identical; top-k via sort + index.
    "q92_array_funcs" ->
      """WITH u AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
         SELECT vec_id,
           CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_pos,
           len(list_filter(v, x -> x > 0.2)) > 0 AS has_big,
           list_sum(list_transform(v, x -> abs(x))) AS l1,
           list_sort(v, 'DESC')[1] AS top1,
           list_sort(v, 'DESC')[2] AS top2,
           list_sort(v, 'DESC')[3] AS top3
         FROM u""",
    "q33_sessionize" ->
      s"""WITH ${sessionCtes()}
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(ts) AS t_start, MAX(ts) AS t_end,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM numbered GROUP BY 1, 2""",
    "q34_intersect" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000.0""",
    "q35_except" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000.0""",
    "q36_string_funcs" ->
      """SELECT c_custkey,
         upper(c_name) AS name_upper,
         lower(c_mktsegment) AS seg_lower,
         concat_ws('|', c_name, c_mktsegment) AS joined,
         lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
         reverse(c_name) AS name_rev,
         CAST(levenshtein(substr(c_name, 1, 8), substr(c_mktsegment, 1, 8)) AS INTEGER) AS edit_dist
         FROM customer""",
    "q37_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
    "q38_pivot" ->
      """SELECT l_returnflag,
         CAST(SUM(CASE WHEN l_linestatus = 'F'
           THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
         CAST(SUM(CASE WHEN l_linestatus = 'O'
           THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
         FROM lineitem GROUP BY 1""",
    // q49/q53 are REWRITES of q10's join (salted keys / bucketed
    // storage): row-identity to the plain join is the contract, so all
    // three share joinRevenueOracle — divergence is impossible.
    "q49_salted_join" -> joinRevenueOracle,
    "q53_bucketed_join" -> joinRevenueOracle,
    "q54_window_funcs" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         CAST(dense_rank() OVER w AS INTEGER) AS drk,
         percent_rank() OVER w AS prk,
         cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC)""",
    "q55_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n_rows,
         CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
         CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
           (l_returnflag, l_linestatus))""",
    // q77: NULL semantics — the Spark side renders the NULL-injected
    // variant to parquet and reads it back; the oracle replays the
    // same injection inline. Covers: `=` join keys never matching
    // NULL, IS NOT DISTINCT FROM matching the dimension's NULL row,
    // count(*) vs count(col), SUM skipping NULLs, coalesce, NULL
    // grouping, and an explicit NULLS FIRST pin (DuckDB defaults
    // NULLS LAST on ASC; Spark defaults NULLS FIRST).
    "q77_null_semantics" ->
      """WITH ev AS (
           SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS user_key,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS value_n
           FROM events),
         dim AS (
           SELECT user_id AS d_user,
             'seg_' || CAST(user_id % 4 AS VARCHAR) AS seg
           FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 3 = 0)
           UNION ALL SELECT NULL, 'seg_null'),
         agg AS (
           SELECT user_key % 10 AS user_bucket,
             COUNT(*) AS n_rows,
             COUNT(value_n) AS n_vals,
             CAST(SUM(CAST(value_n AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             CAST(SUM(CAST(COALESCE(value_n, 0) AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_filled,
             COUNT(seg) AS n_matched
           FROM ev LEFT JOIN dim ON user_key = d_user
           GROUP BY 1),
         ns AS (
           SELECT user_key % 10 AS ns_bucket, COUNT(*) AS n_nullsafe
           FROM ev JOIN dim ON user_key IS NOT DISTINCT FROM d_user
           GROUP BY 1)
         SELECT user_bucket, n_rows, n_vals, sum_value, sum_filled,
           n_matched, COALESCE(n_nullsafe, 0) AS n_nullsafe,
           CAST(ROW_NUMBER() OVER (ORDER BY user_bucket ASC NULLS FIRST)
             AS INTEGER) AS rk
         FROM agg LEFT JOIN ns ON user_bucket IS NOT DISTINCT FROM ns_bucket""",
    // q78: the read-back computes each row's global rank purely from
    // the written FILE LAYOUT (rows in earlier files + physical row
    // index); the oracle recomputes it as ROW_NUMBER over the total
    // order — overlapping file ranges or an unsorted file fails the
    // hash compare.
    "q78_sorted_write" ->
      """SELECT o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
           AS BIGINT) AS global_rank
         FROM orders""",
    // q110: z-order layout — the oracle recomputes the 16-bit-per-
    // dimension interleave bit-for-bit (generated shift/and/add
    // terms, BIGINT shifts); the Spark side must deliver identical
    // z-values through its curve-sorted parquet render.
    "q110_zorder" ->
      ("""WITH base AS (
           SELECT event_id, user_id,
             epoch_us(ts) // 86400000000 AS day_bin,
             user_id & 65535 AS x,
             (epoch_us(ts) // 86400000000) & 65535 AS y
           FROM events)
         SELECT event_id, user_id, day_bin, """ +
        (0 until 16).map(i =>
          s"((x >> $i) & 1) * (1::BIGINT << ${2 * i}) + " +
            s"((y >> $i) & 1) * (1::BIGINT << ${2 * i + 1})")
          .mkString("\n           + ") +
        " AS z_value FROM base"),
    // q79: date/time function breadth. Numbering pin: DuckDB dayofweek
    // is 0=Sunday..6, Spark's is 1=Sunday..7 — the oracle adds 1.
    "q79_datetime_funcs" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS y,
         CAST(month(o_orderdate) AS INTEGER) AS m,
         CAST(day(o_orderdate) AS INTEGER) AS d,
         CAST(quarter(o_orderdate) AS INTEGER) AS q,
         CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
         CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
         o_orderdate + INTERVAL 30 DAYS AS due_ts,
         CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER)
           AS days_since,
         strftime(o_orderdate, '%Y-%m') AS ym,
         last_day(CAST(o_orderdate AS DATE)) AS month_end,
         CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
         CAST(o_orderdate AS DATE) AS order_date
         FROM orders""",
    // q80: DECIMAL end-to-end — the output schema itself is decimal
    // (no cast back to double), pinning precision/scale propagation:
    // SUM widens to (38,2), MIN/MAX stay (18,2), the (18,2)x(19,2)
    // product accumulates at scale 4 then casts to scale 3 so no
    // sf0.01 output value carries a trailing zero at its declared
    // scale (the round-6 hash-canonicalization divergence; see
    // Relational.decimalAgg scaladoc).
    "q80_decimal_agg" ->
      """SELECT l_returnflag,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
           AS sum_price,
         CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS min_price,
         CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS max_price,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS DECIMAL(38,4)) AS DECIMAL(38,3)) AS revenue,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY 1""",
    // q97-q99: single-scale-family DECIMAL probes (round-6 verdict
    // ask #1). q97/q98 isolate (18,2) min/max and (38,2) sum; q99
    // carries the FULL scale-4 revenue exactly via its unscaled
    // integer (value * 10^4 as BIGINT, fraction-free so truncate ==
    // round) alongside the scale-3 decimal rendering — full-precision
    // verification with no dependence on the driver's decimal-to-text
    // path (see Relational.decimalProbeScale4Exact scaladoc).
    "q97_dec_probe_minmax" ->
      """SELECT l_returnflag,
         CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS min_price,
         CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS max_price
         FROM lineitem GROUP BY 1""",
    "q98_dec_probe_widesum" ->
      """SELECT l_returnflag,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
           AS sum_price
         FROM lineitem GROUP BY 1""",
    "q99_dec_scale4_exact" ->
      """WITH rev AS (
           SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
             AS DECIMAL(38,4)) AS revenue4
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag,
           CAST(revenue4 AS DECIMAL(38,3)) AS revenue,
           CAST(revenue4 * 10000 AS BIGINT) AS revenue_e4
         FROM rev""",
    "q20_dedup_exact" ->
      s"""SELECT MD5($normText) AS h, MIN(doc_id) AS keep_id,
         COUNT(*) AS n_copies FROM documents GROUP BY 1""",
    "q21_ngram_jaccard" -> minhashPairsOracle,
    // q22 runs the production pipeline (LSH candidates + EXACT Jaccard
    // verification), so its oracle is the exhaustive-truth SQL: equal
    // whenever banded recall at the threshold is complete on the
    // fixture (16 bands x 4 rows; verified at sf0.01).
    "q22_minhash_lsh" -> minhashPairsOracle,
    // q23's 60-bit SimHash uses md5-prefix token hashes precisely so
    // DuckDB can recompute the identical fingerprints: all-integer
    // votes/sign/OR, then the same 15-bit pigeonhole blocking.
    "q23_simhash" ->
      s"""WITH toks AS (
           SELECT doc_id, UNNEST(string_split($normText, ' ')) AS tok
           FROM documents),
         th AS (
           SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
           FROM toks),
         bits AS (
           SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM th, LATERAL (SELECT UNNEST(range(60)) AS b) t
           GROUP BY 1, 2),
         fp AS (
           SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
           FROM bits GROUP BY 1),
         chunks AS (
           SELECT doc_id, simhash, c,
             (simhash >> (c * 15)) & 32767 AS ck
           FROM fp, LATERAL (SELECT UNNEST(range(4)) AS c) t)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM chunks a
         JOIN chunks b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    // exact float-math oracles: Spark's DotProduct accumulates double
    // left-to-right, bit-identical to DuckDB list_sum/list_transform
    // (validated pairwise over the fixture against DuckDB).
    // q24 plants deterministic near-dup copies inside the query (the
    // fixture's organic max pairwise cosine is 0.51 — see
    // Dedup.embeddingNearDupPlanted) so the oracle verifies REAL rows;
    // the all-pairs form here is the exhaustive truth the LSH path
    // must reproduce.
    "q24_embed_neardup" ->
      s"""WITH u AS ($normalizedVectors),
         aug AS (
           SELECT vec_id, v FROM u
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id,
             list_transform(w, x -> CASE WHEN nrm2 > 0 THEN x / nrm2 ELSE 0.0 END) AS v
           FROM (SELECT vec_id, w,
                   sqrt(list_sum(list_transform(w, x -> x * x))) AS nrm2
                 FROM (SELECT vec_id,
                         list_transform(v, (x, i) -> CASE WHEN i = 1
                           THEN x + CAST(0.2 AS DOUBLE) ELSE x END) AS w
                       FROM u WHERE vec_id % 10 = 0)))
         SELECT id_a, id_b, cosine FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) AS cosine
           FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
         WHERE cosine >= 0.95""",
    // q158: SemDeDup — centroid assignment replayed exactly as q32's
    // (ROW_NUMBER over sim DESC, c_id ASC = the Spark side's
    // max(struct(sim, -c_id)) argmax), then within-cell pairs with
    // cosine floored to integer micro-units before the threshold and
    // the min/max aggregates (all integer → no HUGEINT, no float
    // accumulation in the compare path).
    "q158_semdedup" ->
      s"""WITH $centroidSimsCtes,
         ${assignedCte("sims")},
         withv AS (
           SELECT a.vec_id, a.c_id, u.v FROM assigned a JOIN u USING (vec_id)),
         pairs AS (
           SELECT b.vec_id AS vec_id, a.vec_id AS keeper,
             CAST(floor(1e6 * list_sum(list_transform(
               list_zip(a.v, b.v), p -> p[1] * p[2]))) AS BIGINT) AS sim_micro
           FROM withv a JOIN withv b
             ON a.c_id = b.c_id AND a.vec_id < b.vec_id),
         dups AS (
           SELECT vec_id, MIN(keeper) AS kept_for,
             MAX(sim_micro) AS max_sim_micro
           FROM pairs WHERE sim_micro >= 300000 GROUP BY 1)
         SELECT a.vec_id, a.c_id,
           (d.vec_id IS NOT NULL) AS is_dup,
           COALESCE(d.kept_for, -1) AS kept_for,
           COALESCE(d.max_sim_micro, -1) AS max_sim_micro
         FROM assigned a LEFT JOIN dups d USING (vec_id)""",
    "q39_cardinality" -> hllExactOracle,
    // q48: exact quantiles hash-compared; the approx_percentile sketch
    // is folded into approx_ok (the q39 bound-fold device) — a sketch
    // outside the exact-(p±0.01) band fails the hash compare.
    "q48_quantile_sketch" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.95) AS p95,
         COUNT(*) AS n_rows, TRUE AS approx_ok
         FROM lineitem GROUP BY 1""",
    // q44: min-label connected components over the exhaustive near-dup
    // pair graph, as a recursive transitive-closure CTE; survivors =
    // docs whose component label is their own id. The Spark side runs
    // LSH-verified pairs + iterative min-label propagation — equal
    // whenever banded recall is complete (the q22 precedent).
    "q44_neardup_clusters" ->
      s"""WITH RECURSIVE ${shingleCtes()},
         ${componentCtes()}
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE comp <> id)""",
    // q162: componentCtes + keyedCte (exhaustive Jaccard pairs are
    // the truth the banded path must reproduce — the q22 precedent),
    // then the q68 hash-bucket rule keyed on the cluster
    // representative; singletons coalesce to their own id.
    "q162_leakage_split" ->
      s"""WITH RECURSIVE ${shingleCtes()},
         ${componentCtes()},
         ${keyedCte()}
         SELECT doc_id, comp,
           ('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 15))::BIGINT % 10
             AS bucket,
           CASE WHEN ('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 15))::BIGINT % 10 < 8
                THEN 'train'
                WHEN ('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 15))::BIGINT % 10 = 8
                THEN 'val' ELSE 'test' END AS split
         FROM keyed""",
    // q45: the exhaustive pair truth restricted to pairs touching the
    // deterministic NEW batch (doc_id % 5 = 0) — the incremental
    // operator must find exactly these without regenerating old×old.
    // q46 shares the SAME val: it differs only in PLAN (history side
    // from persisted MinHash signatures — DedupSpec asserts the plan;
    // this oracle asserts the rows). Divergence is impossible.
    "q45_incremental_dedup" -> incrementalDedupOracle,
    "q46_incremental_persisted" -> incrementalDedupOracle,
    // q83: eval-set decontamination — every (train, eval) doc pair
    // sharing ≥1 distinct word 3-gram, with the shared-gram count.
    // Same shingle CTE as q21 at n=3; eval slice = doc_id % 97 = 0.
    "q83_decontaminate" ->
      s"""WITH words AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) - 1)) AS i) t
           WHERE len(w) >= 3)
         SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
           COUNT(*) AS n_common
         FROM sh t JOIN sh e ON t.shingle = e.shingle
         WHERE t.doc_id % 97 <> 0 AND e.doc_id % 97 = 0
         GROUP BY 1, 2""",
    // q111: fuzzy record linkage — the oracle brute-forces all
    // (dirty, clean) pairs under a length-band prefilter and exact
    // levenshtein <= 1; the Spark side must surface the identical
    // pair set through its deletion-neighborhood blocking (the
    // blocking is complete for distance <= 1, so the sets agree).
    "q111_fuzzy_link" ->
      """WITH clean AS (SELECT p_partkey AS clean_id, p_name AS name FROM part),
         dirty AS (
           SELECT p_partkey + 100000 AS dirty_id,
             CASE p_partkey % 3
               WHEN 0 THEN '#' || substring(p_name, 2)
               WHEN 1 THEN '#' || p_name
               ELSE substring(p_name, 2) END AS name
           FROM part WHERE p_partkey % 13 = 0)
         SELECT d.dirty_id, c.clean_id,
           CAST(levenshtein(d.name, c.name) AS BIGINT) AS dist
         FROM dirty d JOIN clean c
           ON abs(length(d.name) - length(c.name)) <= 1
          AND levenshtein(d.name, c.name) <= 1""",
    // q100: line-level boilerplate dedup — lines are 10-word chunks
    // plus the injected header (doc_id%3=0, pos 0) and footer
    // (doc_id%5=0, pos 1000000); lines appearing > 5 times across the
    // corpus are dropped, survivors reassemble in position order.
    "q100_line_dedup" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         chunks AS (
           SELECT doc_id, i + 1 AS pos,
             array_to_string(w[(i*10+1):(i*10+10)], ' ') AS line
           FROM base, LATERAL
             (SELECT UNNEST(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS i) t),
         injected AS (
           SELECT doc_id, pos, line FROM chunks
           UNION ALL
           SELECT doc_id, 0 AS pos,
             'subscribe to our newsletter for updates' AS line
           FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id, 1000000 AS pos,
             'all rights reserved contact us' AS line
           FROM documents WHERE doc_id % 5 = 0),
         cnt AS (SELECT md5(line) AS h, COUNT(*) AS c FROM injected GROUP BY 1),
         kept AS (
           SELECT i.doc_id, i.pos, i.line
           FROM injected i JOIN cnt ON md5(i.line) = cnt.h WHERE c <= 5),
         tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM injected GROUP BY 1)
         SELECT t.doc_id,
           COALESCE(string_agg(k.line, ' ' ORDER BY k.pos), '') AS clean_text,
           t.n_lines, t.n_lines - COUNT(k.line) AS n_dropped
         FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id
         GROUP BY t.doc_id, t.n_lines""",
    "q30_ann_brute" -> annBruteOracle,
    // q183: MRL truncation audit — both rankings ride the q30
    // bit-portable fold cosine with (cos desc, vec_id) total order,
    // so the overlap count is exact; recall scales to integer bp.
    "q183_mrl_recall" ->
      s"""WITH u AS ($normalizedVectors),
         ut AS (
           SELECT vec_id, list_transform(tv,
             x -> CASE WHEN tn > 0 THEN x / tn ELSE 0.0 END) AS v
           FROM (
             SELECT vec_id, tv,
               sqrt(list_sum(list_transform(tv, x -> x * x))) AS tn
             FROM (
               SELECT vec_id, list_transform(embedding[1:16],
                 x -> CAST(x AS DOUBLE)) AS tv
               FROM embeddings))),
         qids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5),
         ft AS (
           SELECT q_id, vec_id, rk FROM (
             SELECT q.vec_id AS q_id, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(uq.v, c.v),
                   p -> p[1] * p[2])) DESC, c.vec_id ASC) AS rk
             FROM qids q JOIN u uq ON uq.vec_id = q.vec_id
               JOIN u c ON c.vec_id != q.vec_id)
           WHERE rk <= 10),
         tt AS (
           SELECT q_id, vec_id, rk FROM (
             SELECT q.vec_id AS q_id, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(uq.v, c.v),
                   p -> p[1] * p[2])) DESC, c.vec_id ASC) AS rk
             FROM qids q JOIN ut uq ON uq.vec_id = q.vec_id
               JOIN ut c ON c.vec_id != q.vec_id)
           WHERE rk <= 10),
         ov AS (
           SELECT ft.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
           FROM ft JOIN tt ON ft.q_id = tt.q_id AND ft.vec_id = tt.vec_id
           GROUP BY 1)
         SELECT f1.q_id,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           COALESCE(ov.n_overlap, 0) * 1000 AS recall_bp,
           f1.vec_id AS full_top1, t1.vec_id AS trunc_top1
         FROM ft f1
           JOIN tt t1 ON t1.q_id = f1.q_id AND t1.rk = 1
           LEFT JOIN ov ON ov.q_id = f1.q_id
         WHERE f1.rk = 1""",
    // q31's hyperplane components are md5-derived doubles (see
    // VectorExpressions.HyperplaneBucket.component), so the full LSH —
    // 32 sign bits, 8 tables x 4 bits, candidate join, exact cosine,
    // top-k — replays in SQL with bit-identical floats.
    "q31_ann_lsh" -> annLshOracle,
    // q25 composes the oracles of its stages through survivorCtes:
    // lang gate (q40's SQL), token gate (q42's), exact-dedup survivors
    // (q20's), near-dup drop-b set (shingleCtes' pairs at the same
    // threshold).
    "q25_clean_corpus" ->
      s"""WITH $survivorCtes
         SELECT l.doc_id, l.lang_pred, t.n_ws_tokens
         FROM lang l JOIN toks t ON l.doc_id = t.doc_id
         WHERE l.lang_pred <> 'und' AND t.n_ws_tokens >= 20
           AND l.doc_id IN (SELECT doc_id FROM exact_keep)
           AND l.doc_id NOT IN (SELECT id_b FROM near_drop)""",
    // q76: the end-to-end manifest — q25's survivorCtes + the q74
    // repetition gate + q75 redaction + q68 split, joined on doc_id.
    "q76_corpus_manifest" ->
      s"""WITH $survivorCtes,
         sh_all AS (
           SELECT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) - 3)) AS i) t
           WHERE len(w) >= 5),
         rep AS (
           SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT shingle) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE) AS dup_frac
           FROM sh_all GROUP BY 1),
         red AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             MD5(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS redacted_fp
           FROM (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                     THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
                     ELSE text END AS t
                 FROM documents)),
         spl AS (
           SELECT doc_id,
             CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val'
               ELSE 'test' END AS split
           FROM (SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS h
                 FROM documents))
         SELECT l.doc_id, l.lang_pred, t.n_ws_tokens, r.dup_frac,
           rd.n_emails, rd.redacted_fp, s.split
         FROM lang l
         JOIN toks t ON l.doc_id = t.doc_id
         JOIN rep r ON l.doc_id = r.doc_id
         JOIN red rd ON l.doc_id = rd.doc_id
         JOIN spl s ON l.doc_id = s.doc_id
         WHERE l.lang_pred <> 'und' AND t.n_ws_tokens >= 20
           AND l.doc_id IN (SELECT doc_id FROM exact_keep)
           AND l.doc_id NOT IN (SELECT id_b FROM near_drop)
           AND r.dup_frac <= 0.5""",
    // q32 replays the IVF structure in SQL: seeded codebook, argmax
    // cell assignment (ties to lowest centroid id), probe the 4
    // nearest cells, exact cosine top-k — float math bit-identical by
    // the q24/q30 precedent.
    "q32_ann_ivf" ->
      s"""WITH $centroidSimsCtes,
         ${ivfServeSql("sims")}""",
    // q153: PQ — the oracle replays the whole pipeline: subspace
    // split via list slicing, per-subspace L2² floored to integer
    // PICO-units BEFORE argmin and before the 8-term ADC sum (both
    // then order-free), candidate shortlist by (adc, vec_id), exact
    // cosine re-rank. Every window has a total order.
    "q153_ann_pq" ->
      s"""WITH $pqAdcCtes,
         cand AS (
           SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY adc_pico ASC, vec_id ASC) AS rn
             FROM adc) WHERE rn <= 40),
         $cosineTop10Sql""",
    // q156: persisted-PQ serving — q153's pqAdcCtes through
    // the ADC aggregate (no re-rank; the parquet roundtrip on the
    // Spark side is exact, so the same CTE chain predicts the served
    // batch). SUM cast to BIGINT per the HUGEINT lint rule.
    "q156_pq_persisted" -> pqPersistedServeOracle,
    // q160/q161: the streamed and the incrementally-maintained
    // serve paths must land on the SAME rows as the one-shot
    // persisted build — q160 because each micro-batch runs the
    // batch serve plan over a static index, q161 because frozen
    // day-1 books make the appended union code-identical to a
    // from-scratch build. One oracle text, three entries.
    "q160_pq_serve_stream" -> pqPersistedServeOracle,
    "q161_pq_incremental" -> pqPersistedServeOracle,
    // q163: trained-IVF — generated Lloyd's-loop CTE replay with the
    // pico-exact mean (see ivfTrainedOracleSql); iters must equal the
    // Spark default.
    "q163_ivf_trained" -> ivfTrainedOracleSql(Similarity.ivfTrainIters),
    "q40_lang_id" -> langIdOracle,
    // q61: rank rows 1..k per doc by the exact IDF ratio — ln-free so
    // the score is one bit-portable double division; row_number under
    // a total order (score DESC, tok ASC) pins ties.
    // q122: keyness — identical G2 expression tree both engines,
    // zero-count branches pinned to 0, compared as floor(×1e6).
    "q122_keyness" ->
      s"""WITH toks AS (
           SELECT CAST(substring(source, 4) AS INTEGER) < 10 AS in_a,
             UNNEST(string_split($normText, ' ')) AS tok
           FROM documents),
         c AS (
           SELECT tok,
             CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
           FROM toks GROUP BY tok),
         t AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
                 CAST(SUM(b) AS BIGINT) AS nb FROM c)
         SELECT tok, a, b,
           CAST(FLOOR(1000000 * (2 * (
             CASE WHEN a = 0 THEN 0
                  ELSE a * ln(CAST(a AS DOUBLE) /
                    (CAST(na AS DOUBLE) * (a + b) / (na + nb))) END +
             CASE WHEN b = 0 THEN 0
                  ELSE b * ln(CAST(b AS DOUBLE) /
                    (CAST(nb AS DOUBLE) * (a + b) / (na + nb))) END)))
             AS BIGINT) AS g2_micro
         FROM c CROSS JOIN t""",
    // q114: BM25 — identical formula shape both engines (a*b/c parses
    // (a*b)/c in both); the float score compares as floor(x*1e6), all
    // other columns integer-exact. Tokenization is normText's twin.
    "q114_bm25" -> bm25OracleSql,
    "q61_tfidf_terms" ->
      s"""WITH toks AS (
           SELECT doc_id, UNNEST(string_split($normText, ' ')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
         SELECT doc_id, tok, tf, df, score, CAST(rk AS INTEGER) AS rk FROM (
           SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) /
                 CAST(dfreq.df AS DOUBLE) DESC, tf.tok ASC) AS rk
           FROM tf JOIN dfreq USING (tok) CROSS JOIN n)
         WHERE rk <= 3""",
    "q41_quality" -> qualityOracle,
    // q74: total vs distinct 5-grams per doc; same shingle CTE as q21
    // minus the DISTINCT.
    "q74_repetition" ->
      s"""WITH words AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM documents),
         sh AS (
           SELECT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) - 3)) AS i) t
           WHERE len(w) >= 5)
         SELECT doc_id, COUNT(*) AS n_grams,
           COUNT(DISTINCT shingle) AS n_distinct,
           1.0 - CAST(COUNT(DISTINCT shingle) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE) AS dup_frac
         FROM sh GROUP BY 1""",
    // q75: both engines plant the same contact line on every 7th doc;
    // the md5 of the redacted text is hash-compared, so a missed
    // redaction fails. DuckDB needs the 'g' flag (Spark replaces all
    // matches by default).
    "q75_redact_pii" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE text END AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           MD5(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS redacted_fp
         FROM t""",
    // q68: content-addressed split — md5 bucket is the q23/q31
    // portability construction, so DuckDB replays the assignment.
    "q68_train_split" ->
      """SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10
           AS bucket,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 8
              THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 = 8
              THEN 'val' ELSE 'test' END AS split
         FROM documents""",
    // q84: content-addressed stratified sample — salted md5 percent
    // bucket (q68's device, "samp:" salt keeps it independent of the
    // split), keep iff bucket < rate(lang): en 25%, others 75%.
    "q84_stratified_sample" ->
      """SELECT doc_id, lang,
         ('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
           AS samp_bucket
         FROM documents
         WHERE ('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
           < CASE WHEN lang = 'en' THEN 25 ELSE 75 END""",
    // q139: temperature-flattened (α=1/2) mixture resampling — sqrt
    // is the one power IEEE defines as correctly rounded, so the
    // weight ladder (exact ints → sqrt → floor·1e6 → single-op
    // divisions in a pinned tree) is bit-identical; the draw reuses
    // the salted-md5 60-bit device ("mix:" salt) with exact 2⁻⁶⁰
    // scaling.
    "q139_mixture_resample" ->
      """WITH per_lang AS (
           SELECT lang, SUM(n_chars) AS mass, COUNT(*) AS d
           FROM documents GROUP BY lang),
         w AS (
           SELECT lang, d,
             CAST(floor(sqrt(CAST(mass AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS wl
           FROM per_lang),
         tot AS (SELECT SUM(wl) AS tw, SUM(d) AS td FROM w),
         rates AS (
           SELECT lang,
             LEAST(CAST(1.0 AS DOUBLE),
               (CAST(td AS DOUBLE) * 0.5) *
                 (CAST(wl AS DOUBLE) / CAST(tw AS DOUBLE)) /
                 CAST(d AS DOUBLE)) AS keep_rate
           FROM w, tot)
         SELECT doc_id, dd.lang, n_chars, keep_rate
         FROM documents dd JOIN rates r ON r.lang = dd.lang
         WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)),
                     1, 15))::BIGINT AS DOUBLE) / 1152921504606846976.0
               < keep_rate""",
    // q149: inverted-index build — postings compare as a comma-
    // joined sorted string (arrays would hang on list-hash
    // canonicalization, the q80 lesson); cap keeps stop-word rows
    // bounded, df keeps the statistics complete.
    "q149_inverted_index" ->
      s"""WITH pairs AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id, UNNEST(string_split($normText, ' ')) AS tok
             FROM documents))
         SELECT tok, COUNT(*) AS df,
           array_to_string(
             (list_sort(array_agg(doc_id)))[1:50], ',') AS postings
         FROM pairs GROUP BY tok""",
    // q154: equi-depth bins — edges are exact type-7 percentiles
    // (Spark percentile == DuckDB quantile_cont bit-for-bit, the q48
    // device); the closed-above boundary rule is pinned in both CASE
    // chains; counts and per-bin min/max are exact.
    "q154_equidepth_bins" ->
      """WITH e AS (
           SELECT quantile_cont(o_totalprice, 0.25) AS e1,
             quantile_cont(o_totalprice, 0.5) AS e2,
             quantile_cont(o_totalprice, 0.75) AS e3
           FROM orders)
         SELECT CASE WHEN o_totalprice <= e1 THEN 0
                     WHEN o_totalprice <= e2 THEN 1
                     WHEN o_totalprice <= e3 THEN 2
                     ELSE 3 END AS bin,
           COUNT(*) AS n_rows,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
         FROM orders, e GROUP BY 1""",
    // q152: calendar densification — generate_series spine × type
    // catalog, zero-filled counts; all exact integers and dates. The
    // value > 200 filter leaves real gap cells for the fill to fill.
    "q152_densify_daily" ->
      """WITH ev AS (
           SELECT CAST(ts AS DATE) AS day, event_type FROM events
           WHERE value > 200.0),
         daily AS (
           SELECT day, event_type, COUNT(*) AS n FROM ev GROUP BY 1, 2),
         bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
         spine AS (
           SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))
             AS DATE) AS day
           FROM bounds),
         types AS (SELECT DISTINCT event_type FROM ev)
         SELECT day, event_type, COALESCE(n, 0) AS n_events
         FROM spine CROSS JOIN types
         LEFT JOIN daily USING (day, event_type)""",
    // q148: grid-blocked spatial join — the oracle skips the grid
    // (DuckDB joins all pairs, cheap at fixture scale) and applies
    // the IDENTICAL haversine tree with floor-to-meters before the
    // gate, proving the 3x3 blocking is complete.
    "q148_geo_join" ->
      """WITH stores AS (
           SELECT s_suppkey,
             CAST(s_suppkey * 7919 % 1000 AS DOUBLE) / 100.0 + 40.0
               AS s_lat,
             CAST(s_suppkey * 104729 % 2000 AS DOUBLE) / 100.0 AS s_lon
           FROM supplier),
         pts AS (
           SELECT event_id, user_id,
             CAST((event_id * 31 + user_id) % 1000 AS DOUBLE) / 100.0
               + 40.0 AS e_lat,
             CAST((event_id * 17 + user_id * 3) % 2000 AS DOUBLE) / 100.0
               AS e_lon
           FROM events),
         pairs AS (
           SELECT s_suppkey,
             CAST(floor(asin(sqrt(
               sin(radians(e_lat - s_lat) / 2) *
                 sin(radians(e_lat - s_lat) / 2) +
               cos(radians(s_lat)) * cos(radians(e_lat)) *
                 (sin(radians(e_lon - s_lon) / 2) *
                  sin(radians(e_lon - s_lon) / 2))))
               * 12742000.0) AS BIGINT) AS dist_m
           FROM pts, stores)
         SELECT s_suppkey, COUNT(*) AS n_within,
           MIN(dist_m) AS min_dist_m
         FROM pairs WHERE dist_m <= 100000
         GROUP BY s_suppkey""",
    // q147: try_* hazards as explicit CASE replays — the NULL set
    // (div/0, BIGINT overflow, bad cast, OOB index) and the clean
    // values are both exact; division is one IEEE op on identical
    // operands.
    "q147_try_arithmetic" ->
      """SELECT event_id, value,
           CASE WHEN event_id % 5 = 0 THEN NULL
                ELSE value / (event_id % 5) END AS safe_div,
           CASE WHEN event_id % 16 > 7 THEN NULL
                ELSE 9223372036854775800 + event_id % 16 END AS safe_add,
           CASE WHEN event_id % 4 >= 2 THEN NULL
                ELSE 4611686018427387904 * (event_id % 4) END AS safe_mul,
           CASE WHEN event_id % 7 = 0 THEN NULL
                ELSE CAST(event_id % 100 AS INT) END AS safe_cast,
           CASE WHEN event_id % 3 + 1 = 3 THEN NULL
                WHEN event_id % 3 + 1 = 2 THEN 'b'
                ELSE 'a' END AS safe_elem
         FROM events""",
    // q146: replica-diff bucket fingerprints — PK-addressed md5
    // buckets, bit_xor of row hashes (order/partition independent,
    // self-inverse); doubles render as DECIMAL(18,2) strings and the
    // ship date as a DATE string (q88/q109 devices) so both engines
    // hash identical bytes.
    "q146_bucket_fingerprints" ->
      """WITH r AS (
           SELECT
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#' ||
                 CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 256
               AS bucket,
             ('0x' || substr(md5(
                 CAST(l_orderkey AS VARCHAR) || '|' ||
                 CAST(l_partkey AS VARCHAR) || '|' ||
                 CAST(l_suppkey AS VARCHAR) || '|' ||
                 CAST(l_linenumber AS VARCHAR) || '|' ||
                 CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                 CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                 CAST(CAST(l_discount AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                 CAST(CAST(l_tax AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                 l_returnflag || '|' || l_linestatus || '|' ||
                 CAST(CAST(l_shipdate AS DATE) AS VARCHAR)),
               1, 15))::BIGINT AS rowfp
           FROM lineitem)
         SELECT bucket, COUNT(*) AS n_rows, bit_xor(rowfp) AS fp
         FROM r GROUP BY bucket""",
    // q144: feature hashing — bucket = md5-60bit mod 1024, sign =
    // bit 10 of the same draw; signed sums are exact integers and
    // zero-sum buckets drop on both sides.
    "q144_hashed_features" ->
      s"""WITH tok AS (
           SELECT doc_id, UNNEST(string_split($normText, ' ')) AS tok
           FROM documents),
         h AS (
           SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
           FROM tok)
         SELECT doc_id, hv % 1024 AS bucket,
           CAST(SUM(CASE WHEN (hv // 1024) % 2 = 0 THEN 1 ELSE -1 END)
             AS BIGINT) AS feat
         FROM h GROUP BY 1, 2
         HAVING SUM(CASE WHEN (hv // 1024) % 2 = 0 THEN 1 ELSE -1 END) <> 0""",
    // q141: char-bigram LM perplexity — per-bigram log-probs floored
    // to integer micro-nats BEFORE the sum (order-independent BIGINT
    // totals), add-1 smoothing as one IEEE division inside the ln,
    // the identical tree both engines; only the final average is
    // float.
    "q141_perplexity" -> perplexityOracle,
    // q69: value-based bins over q41's ratio columns (single-op double
    // math, then floor — bit-portable).
    "q69_quality_bins" ->
      s"""SELECT doc_id,
         CAST(floor(punct_ratio * 10) AS INTEGER) AS punct_bin,
         CAST(floor(stopword_ratio * 10) AS INTEGER) AS stopword_bin
         FROM ($qualityOracle)""",
    // q70: per-language token-budget shard packing — integer window
    // arithmetic; HUGEINT-safe casts around the window sum.
    "q70_shard_pack" ->
      s"""WITH lang AS ($langIdOracle),
         toks AS (
           SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_extract_all(trim(text), '\\S+')) END AS BIGINT)
             AS n_tokens
           FROM documents)
         SELECT doc_id, lang_pred, n_tokens,
           CAST(floor(CAST(tokens_before AS DOUBLE) / 10000.0) AS BIGINT)
             AS shard
         FROM (
           SELECT l.doc_id, l.lang_pred, t.n_tokens,
             CAST(COALESCE(SUM(t.n_tokens) OVER (
               PARTITION BY l.lang_pred ORDER BY l.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
           FROM lang l JOIN toks t ON l.doc_id = t.doc_id)""",
    // q71: symmetric int8 quantization audit — every step single-op
    // IEEE double math (abs/div/floor/mul/sub), replayed exactly.
    "q71_embed_quantize" ->
      s"""WITH u AS ($normalizedVectors),
         s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
               FROM u)
         SELECT vec_id, scale, max_err, max_err <= scale * 0.5 AS quant_ok
         FROM (SELECT vec_id, scale,
                 CASE WHEN scale = 0 THEN 0.0 ELSE
                   list_max(list_transform(v, x ->
                     abs(x - floor(x / scale + 0.5) * scale))) END AS max_err
               FROM s)""",
    // q91: fixed 32-token sequence blocking — the whitespace token
    // count device (q42) fanned out via UNNEST(range); the trailing
    // partial block reports its true length.
    "q91_seq_blocks" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT)
               AS n_tokens
           FROM documents)
         SELECT doc_id, i AS seq_idx, i * 32 AS tok_start,
           CASE WHEN n_tokens - i * 32 < 32
                THEN n_tokens - i * 32 ELSE 32 END AS n_tok
         FROM t, LATERAL (SELECT UNNEST(range(0, (n_tokens + 31) // 32)) AS i) s
         WHERE n_tokens > 0""",
    // q101: label-centroid mean pooling. floor(x*10^6) per element
    // makes the sums order-independent LONGs (float->double widen,
    // one multiply, one floor: all exact/deterministic IEEE ops), so
    // the mean derived from (sum, count) is bit-stable in any
    // reduction order. dim is 0-based.
    "q101_embed_pool" ->
      """SELECT label, i - 1 AS dim,
         CAST(SUM(CAST(FLOOR(CAST(e AS DOUBLE) * 1000000) AS BIGINT))
           AS BIGINT) AS sum_e6,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
           / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_val
         FROM (SELECT label, UNNEST(embedding) AS e,
                 UNNEST(range(1, len(embedding) + 1)) AS i FROM embeddings)
         GROUP BY 1, 2""",
    "q42_token_stats" ->
      """SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
         FROM documents""",
    "q43_fingerprint" ->
      s"""SELECT doc_id, MD5($normText) AS fp,
         substr(MD5($normText), 1, 8) AS fp_short FROM documents""",
    // q50-q52: the Spark side synthesizes REAL container bytes
    // (BMP / RIFF-WAVE / RIFF-AVI) around the text body and PARSES the
    // header fields back out; the oracle predicts those fields from
    // the synthesis formulas over (doc_id, octet_length(encode(text))) — so a
    // wrong offset, endianness, or chunk size on either the write or
    // the parse side breaks the hash. WAV "frames" are PCM sample
    // frames: data bytes // block align, with block align 2*channels.
    "q50_multimodal_meta" ->
      """SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
           ELSE 'video/avi' END AS media_type,
         CAST(octet_length(encode(text)) + CASE doc_id % 3 WHEN 0 THEN 54
           WHEN 1 THEN 44 ELSE 88 END AS BIGINT) AS n_bytes,
         CAST(CASE doc_id % 3 WHEN 0 THEN 16 + octet_length(encode(text)) % 64
           WHEN 1 THEN 0 ELSE 320 + 8 * (doc_id % 16) END AS INTEGER) AS width,
         CAST(CASE doc_id % 3 WHEN 0 THEN 16 + octet_length(encode(text)) % 48
           WHEN 1 THEN 0 ELSE 240 + 8 * (doc_id % 8) END AS INTEGER) AS height,
         CAST(CASE doc_id % 3 WHEN 0 THEN 1
           WHEN 1 THEN octet_length(encode(text)) // (2 * (1 + doc_id % 2))
           ELSE 1 + octet_length(encode(text)) % 24 END AS INTEGER) AS n_frames
         FROM documents""",
    "q51_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
             ELSE 'video/avi' END AS media_type,
           CAST(1 + octet_length(encode(text)) % 24 AS INTEGER) AS n_frames
         FROM documents)
         SELECT media_id, n_frames, CAST(f AS INTEGER) AS frame_idx
         FROM m, LATERAL (SELECT UNNEST(range(0, n_frames, 8)) AS f) t
         WHERE media_type = 'video/avi'""",
    // md5(container body) == md5(text): the body behind the header IS
    // the UTF-8 text bytes, and q52 strips the header before hashing
    "q52_media_features" ->
      """SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
           ELSE 'video/avi' END AS media_type,
         ('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0 AS f0,
         ('0x' || substr(md5(text), 9, 8))::BIGINT / 4294967296.0 AS f1,
         ('0x' || substr(md5(text), 17, 8))::BIGINT / 4294967296.0 AS f2,
         ('0x' || substr(md5(text), 25, 8))::BIGINT / 4294967296.0 AS f3
         FROM documents""",
    // q336: max-min fair water-filling with epoch caps — the
    // saturated set is a prefix of the cap-ascending order (f(k) =
    // P(k-1) + c_k(m-k+1) is monotone), so k* is a COUNT and the
    // level arithmetic is all BIGINT: rem DIV u each, remainder
    // tokens one each to the lowest unsaturated ranks.
    "q336_epoch_waterfill" ->
      ("""WITH dom AS (
           SELECT source, lang,
             CAST(SUM(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
               AS avail_tokens
           FROM documents GROUP BY 1, 2),
         caps AS (
           SELECT source, lang, avail_tokens,
             CAST(4 * avail_tokens AS BIGINT) AS cap_tokens FROM dom),
         """ + waterfillSql("dom")),
    // q337: IPS/SNIPS with empirical behavior propensities — the IPS
    // weight is the exact rational n_x/n_{x,a}, carried as ONE
    // milli-scaled truncating DIV per (user, action) cell, so both
    // engines truncate identically.
    "q337_ips_policy_eval" ->
      s"""WITH $policyLogCtes,
         w AS (
           SELECT ua.event_type, ua.n_ua, ua.r_ua,
             u.n_u * 1000 // ua.n_ua AS w_e3
           FROM ua JOIN u USING (user_id))
         SELECT w.event_type,
           CAST(SUM(w.n_ua) AS BIGINT) AS n_logged,
           CAST(SUM(w.r_ua) // SUM(w.n_ua) AS BIGINT) AS dm_cents,
           CAST(SUM(w.w_e3 * w.n_ua) AS BIGINT) AS weight_mass_e3,
           CAST(SUM(w.w_e3 * w.r_ua) // (SELECT n FROM n) AS BIGINT)
             AS ips_milli_cents,
           CAST(SUM(w.w_e3 * w.r_ua) // SUM(w.w_e3 * w.n_ua) AS BIGINT)
             AS snips_cents
         FROM w GROUP BY 1""",
    // q338: exact best-of-n combinatorics over the first-256-arrivals
    // pool per arm; integer powers written out (no POWER — it returns
    // DOUBLE), denominators the ACTUAL per-arm pool count.
    "q338_best_of_n" ->
      """WITH ev AS (
           SELECT event_id, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         sampled AS (
           SELECT event_type, cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY event_id ASC) AS BIGINT) AS srk
           FROM ev),
         pool AS (
           SELECT event_type, cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY cents ASC, srk ASC) AS BIGINT) AS j
           FROM sampled WHERE srk <= 256),
         mean AS (
           SELECT event_type,
             CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_cents
           FROM pool GROUP BY 1),
         bon AS (
           SELECT event_type, CAST(1 AS BIGINT) AS k,
             CAST(SUM(cents * (j - (j - 1))) // COUNT(*) AS BIGINT)
               AS bon_cents
           FROM pool GROUP BY 1
           UNION ALL
           SELECT event_type, CAST(2 AS BIGINT),
             CAST(SUM(cents * (j*j - (j-1)*(j-1)))
               // (COUNT(*) * COUNT(*)) AS BIGINT)
           FROM pool GROUP BY 1
           UNION ALL
           SELECT event_type, CAST(4 AS BIGINT),
             CAST(SUM(cents * (j*j*j*j - (j-1)*(j-1)*(j-1)*(j-1)))
               // (COUNT(*) * COUNT(*) * COUNT(*) * COUNT(*)) AS BIGINT)
           FROM pool GROUP BY 1)
         SELECT b.event_type, b.k, m.mean_cents, b.bon_cents,
           CAST(b.bon_cents - m.mean_cents AS BIGINT) AS lift_cents
         FROM bon b JOIN mean m USING (event_type)""",
    // q339: duel matrix by cross-multiplied mean comparison, Copeland
    // x2 / Borda / Condorcet flags, majority-3-cycle audit (COUNT
    // DIV 3 — each directed triangle matches three edge rotations).
    "q339_arena_leaderboard" ->
      """WITH ua AS (
           SELECT user_id, event_type AS m,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS r
           FROM events GROUP BY 1, 2),
         duels AS (
           SELECT a.m AS ma, b.m AS mb,
             CAST(SUM(CASE WHEN a.r * b.n > b.r * a.n THEN 1 ELSE 0 END)
               AS BIGINT) AS wins,
             CAST(SUM(CASE WHEN a.r * b.n = b.r * a.n THEN 1 ELSE 0 END)
               AS BIGINT) AS ties,
             CAST(COUNT(*) AS BIGINT) AS n_judges
           FROM ua a JOIN ua b ON a.user_id = b.user_id AND a.m <> b.m
           GROUP BY 1, 2),
         majority AS (
           SELECT d.ma, d.mb, d.wins, d.n_judges,
             CASE WHEN d.wins > o.wins THEN 1 ELSE 0 END AS beats,
             CASE WHEN d.wins = o.wins THEN 1 ELSE 0 END AS drawn
           FROM duels d JOIN duels o ON o.ma = d.mb AND o.mb = d.ma),
         cyc AS (
           SELECT CAST(COUNT(*) // 3 AS BIGINT) AS n_cycles
           FROM majority e1
           JOIN majority e2 ON e2.ma = e1.mb AND e2.beats = 1
           JOIN majority e3 ON e3.ma = e2.mb AND e3.mb = e1.ma
             AND e3.beats = 1
           WHERE e1.beats = 1)
         SELECT m.ma AS model,
           CAST(SUM(m.wins) AS BIGINT) AS borda,
           CAST(SUM(m.wins) * 1000000 // SUM(m.n_judges) AS BIGINT)
             AS win_ppm,
           CAST(2 * SUM(m.beats) + SUM(m.drawn) AS BIGINT) AS copeland_x2,
           SUM(m.beats) = COUNT(*) AS is_condorcet,
           (SELECT n_cycles FROM cyc) AS n_cycles
         FROM majority m GROUP BY 1""",
    // q340: RLOO group-relative advantages — the signed trailing DIV
    // truncates toward zero in BOTH engines (probed: DuckDB // and
    // Spark DIV agree at (-7)//2 = -3); centered ranks are pure
    // integers and sum to zero per group.
    "q340_rloo_advantage" ->
      """WITH ev AS (
           SELECT user_id, event_id, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         g AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
           FROM ev GROUP BY 1 HAVING COUNT(*) >= 2),
         r AS (
           SELECT ev.*, g.n, g.sum_cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY ev.user_id
               ORDER BY cents DESC, event_id ASC) AS BIGINT) AS rk
           FROM ev JOIN g USING (user_id))
         SELECT user_id, event_id, event_type, cents, n,
           CAST((n * cents - sum_cents) * 1000 // (n - 1) AS BIGINT)
             AS rloo_adv_milli,
           CAST(n + 1 - rk * 2 AS BIGINT) AS centered_rank_x2
         FROM r""",
    // q341: cross-doc duplicated-span fraction — spanShingleCtes
    // (5-word grams, per-doc distinct); a shingle is duplicated
    // iff its census spans >= 2 docs.
    "q341_dup_span_fraction" ->
      s"""WITH $spanShingleCtes,
         census AS (
           SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM sh GROUP BY 1)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1000000
             // COUNT(*) AS BIGINT) AS dup_ppm
         FROM sh JOIN census USING (sh)
         GROUP BY 1""",
    // q342: successive halving, unrolled to three rounds at budgets
    // 128/256/512 over the arrival-order prefix; keep rule
    // rank*2 <= survivors+1 under (truncated micro-mean desc, arm asc).
    "q342_successive_halving" ->
      """WITH ev AS (
           SELECT event_id, event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         pool AS (
           SELECT event_type, cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY event_id ASC) AS BIGINT) AS srk
           FROM ev),
         arms AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_raced,
             CAST(SUM(CASE WHEN srk <= 128 THEN cents END) * 1000000
               // SUM(CASE WHEN srk <= 128 THEN 1 END) AS BIGINT)
               AS mean0_micro,
             CAST(SUM(CASE WHEN srk <= 256 THEN cents END) * 1000000
               // SUM(CASE WHEN srk <= 256 THEN 1 END) AS BIGINT)
               AS mean1_micro,
             CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT)
               AS mean2_micro
           FROM pool WHERE srk <= 512 GROUP BY 1),
         r0 AS (
           SELECT a.*, COUNT(*) OVER () AS k0,
             RANK() OVER (ORDER BY mean0_micro DESC, event_type ASC)
               AS rk0
           FROM arms a),
         r1 AS (SELECT r0.*, rk0 * 2 <= k0 + 1 AS in_r1 FROM r0),
         r2 AS (
           SELECT r1.*,
             SUM(CASE WHEN in_r1 THEN 1 ELSE 0 END) OVER () AS k1,
             RANK() OVER (PARTITION BY in_r1
               ORDER BY mean1_micro DESC, event_type ASC) AS rk1
           FROM r1),
         r3 AS (SELECT r2.*, in_r1 AND rk1 * 2 <= k1 + 1 AS in_r2 FROM r2),
         r4 AS (
           SELECT r3.*,
             SUM(CASE WHEN in_r2 THEN 1 ELSE 0 END) OVER () AS k2,
             RANK() OVER (PARTITION BY in_r2
               ORDER BY mean2_micro DESC, event_type ASC) AS rk2
           FROM r3)
         SELECT event_type, n_raced, mean0_micro,
           CASE WHEN in_r1 THEN mean1_micro END AS mean1_micro,
           CASE WHEN in_r2 THEN mean2_micro END AS mean2_micro,
           in_r1, in_r2,
           in_r2 AND rk2 * 2 <= k2 + 1 AS champion
         FROM r4""",
    // q343: doubly-robust off-policy value — q337's policyLogCtes, a coarse
    // per-action model, signed residual mass in HUGEINT, one trailing
    // signed DIV by n*1000.
    "q343_doubly_robust" ->
      s"""WITH $policyLogCtes,
         model AS (
           SELECT event_type,
             CAST(SUM(r_ua) * 1000 // SUM(n_ua) AS BIGINT) AS rhat_milli
           FROM ua GROUP BY 1),
         cells AS (
           SELECT ua.event_type, ua.n_ua, m.rhat_milli,
             u.n_u * 1000 // ua.n_ua AS w_e3,
             ua.r_ua * 1000 - ua.n_ua * m.rhat_milli AS res_milli
           FROM ua JOIN u USING (user_id) JOIN model m USING (event_type))
         SELECT event_type,
           CAST(SUM(n_ua) AS BIGINT) AS n_logged,
           CAST(MAX(rhat_milli) AS BIGINT) AS rhat_milli,
           CAST(SUM(w_e3 * res_milli) // ((SELECT n FROM n) * 1000)
             AS BIGINT) AS corr_milli,
           CAST(MAX(rhat_milli) + SUM(w_e3 * res_milli)
             // ((SELECT n FROM n) * 1000) AS BIGINT) AS dr_milli
         FROM cells GROUP BY 1""",
    // q344: MoE routing audit — content-hash routing (md5 mod 8),
    // Switch capacity (5T + 4E - 1) DIV 4E, position-order drops;
    // balance = E * sum(f^2) in ppm via a HUGEINT counts-squared sum.
    "q344_moe_routing" ->
      """WITH toks AS (
           SELECT doc_id, regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS ts
           FROM documents),
         pos AS (
           SELECT doc_id, CAST(len(ts) AS BIGINT) AS ntok,
             CAST(i AS BIGINT) AS pos,
             ('0x' || substr(md5(ts[i]), 1, 8))::BIGINT % 8 AS expert
           FROM toks, LATERAL (SELECT UNNEST(range(1, len(ts) + 1)) AS i) g),
         capped AS (
           SELECT expert, (5 * ntok + 31) // 32 AS cap,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, expert
               ORDER BY pos ASC) AS BIGINT) AS erk
           FROM pos),
         per AS (
           SELECT expert, CAST(COUNT(*) AS BIGINT) AS routed,
             CAST(SUM(CASE WHEN erk <= cap THEN 1 ELSE 0 END) AS BIGINT)
               AS kept
           FROM capped GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(routed) AS BIGINT) AS total,
             CAST(8 * SUM(routed * routed) * 1000000
               // (SUM(routed) * SUM(routed)) AS BIGINT) AS balance_x_e6
           FROM per)
         SELECT expert, routed, kept,
           CAST(routed - kept AS BIGINT) AS dropped,
           CAST((routed - kept) * 1000000 // routed AS BIGINT) AS drop_ppm,
           CAST(routed * 1000000 // total AS BIGINT) AS load_ppm,
           balance_x_e6
         FROM per, tot""",
    // q345: BLEU/ROUGE overlap over the q334 twin pairing — clipped
    // multiset n-gram intersections on md5 digests, closed-form
    // denominators len - n + 1, no geometric mean (no libm on either
    // side).
    "q345_bleu_overlap" ->
      s"""WITH ${splitTwinCtes(5)},
         lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM docs),
         n1 AS (
           SELECT doc_id, substr(md5(w[i]), 1, 16) AS g,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM docs, LATERAL (SELECT UNNEST(range(1, len(w) + 1)) AS i) t
           GROUP BY 1, 2),
         n2 AS (
           SELECT doc_id,
             substr(md5(array_to_string(w[i:i+1], ' ')), 1, 16) AS g,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM docs, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) t
           GROUP BY 1, 2),
         c1 AS (
           SELECT tr.q_id, tr.rel,
             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip1
           FROM truth tr
           JOIN n1 a ON a.doc_id = tr.q_id
           JOIN n1 b ON b.doc_id = tr.rel AND b.g = a.g
           GROUP BY 1, 2),
         c2 AS (
           SELECT tr.q_id, tr.rel,
             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS clip2
           FROM truth tr
           JOIN n2 a ON a.doc_id = tr.q_id
           JOIN n2 b ON b.doc_id = tr.rel AND b.g = a.g
           GROUP BY 1, 2)
         SELECT tr.q_id, tr.rel, lc.len AS len_c, lr.len AS len_r,
           CAST(COALESCE(c1.clip1, 0) AS BIGINT) AS clip1,
           CAST(COALESCE(c2.clip2, 0) AS BIGINT) AS clip2,
           CAST(COALESCE(c1.clip1, 0) * 1000000 // lc.len AS BIGINT)
             AS p1_ppm,
           CAST(COALESCE(c2.clip2, 0) * 1000000 // (lc.len - 1) AS BIGINT)
             AS p2_ppm,
           CAST(COALESCE(c1.clip1, 0) * 1000000 // lr.len AS BIGINT)
             AS r1_ppm,
           CAST(COALESCE(c2.clip2, 0) * 1000000 // (lr.len - 1) AS BIGINT)
             AS r2_ppm,
           CAST(lc.len * 1000000 // lr.len AS BIGINT) AS brevity_ppm
         FROM truth tr
         JOIN lens lc ON lc.doc_id = tr.q_id
         JOIN lens lr ON lr.doc_id = tr.rel
         LEFT JOIN c1 ON c1.q_id = tr.q_id AND c1.rel = tr.rel
         LEFT JOIN c2 ON c2.q_id = tr.q_id AND c2.rel = tr.rel""",
    // q346: Kruskal-Wallis via q276's doubled mid-ranks; the square
    // R2^2 rides HUGEINT (DECIMAL(38) on the Spark side), one
    // truncating DIV per group term, trailing tie-correction rational.
    "q346_kruskal_wallis" ->
      """WITH ev AS (
           SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         pvt AS (
           SELECT cents, event_type, CAST(COUNT(*) AS BIGINT) AS c_vt
           FROM ev GROUP BY 1, 2),
         pv AS (SELECT cents, CAST(SUM(c_vt) AS BIGINT) AS c_v
           FROM pvt GROUP BY 1),
         cum AS (
           SELECT cents, c_v,
             COALESCE(CAST(SUM(c_v) OVER (ORDER BY cents ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS cum
           FROM pv),
         grp AS (
           SELECT event_type, CAST(SUM(c_vt) AS BIGINT) AS n_i,
             CAST(SUM(c_vt * (cum * 2 + c_v + 1)) AS BIGINT) AS r2_i
           FROM pvt JOIN cum USING (cents) GROUP BY 1),
         gl AS (
           SELECT CAST(SUM(c_v) AS BIGINT) AS n,
             CAST(SUM(c_v * c_v * c_v - c_v) AS BIGINT) AS tie_cubes
           FROM cum),
         hh AS (
           SELECT n, tie_cubes,
             CAST(3000 * SUM(CAST(CAST(r2_i AS HUGEINT) * r2_i // n_i
               AS BIGINT)) // (n * (n + 1)) - 3000 * (n + 1) AS BIGINT)
               AS h_milli
           FROM grp, gl GROUP BY 1, 2),
         ht AS (
           SELECT n, h_milli,
             CAST(CAST(h_milli AS HUGEINT) * (n * n * n - n)
               // (n * n * n - n - tie_cubes) AS BIGINT) AS h_tie_milli
           FROM hh)
         SELECT g.event_type, g.n_i, g.r2_i, ht.n, ht.h_milli,
           ht.h_tie_milli
         FROM grp g, ht""",
    // q347: token-class transitions — entirely list-local; classes by
    // first character (total under the lexer's token shapes).
    "q347_token_transitions" ->
      """WITH toks AS (
           SELECT doc_id, regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS ts
           FROM documents),
         cls AS (
           SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             list_transform(ts, t -> CASE
               WHEN regexp_matches(t[1], '[A-Za-z]') THEN 0
               WHEN regexp_matches(t[1], '[0-9]') THEN 1
               ELSE 2 END) AS cl
           FROM toks WHERE len(ts) >= 2),
         counted AS (
           SELECT doc_id, n_tokens,
             CAST(len(list_filter(cl, c -> c = 0)) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(cl, c -> c = 1)) AS BIGINT) AS n_digit,
             CAST(len(list_filter(cl, c -> c = 2)) AS BIGINT) AS n_other,
             CAST(len(list_filter(
               list_zip(cl[1:len(cl) - 1], cl[2:len(cl)]),
               z -> z[1] != z[2])) AS BIGINT) AS n_switches
           FROM cls)
         SELECT doc_id, n_tokens, n_alpha, n_digit, n_other, n_switches,
           CAST(n_switches * 1000000 // (n_tokens - 1) AS BIGINT)
             AS switch_ppm
         FROM counted""",
    // q348: Wald-Wolfowitz runs test over q257's epoch-0 shuffle
    // order; the oracle's naive global LAG window IS the contract the
    // chunked-rank lag join must reproduce.
    "q348_shuffle_runs" ->
      """WITH d AS (
           SELECT doc_id, source,
             md5('ep0:' || CAST(doc_id AS VARCHAR)) AS pri
           FROM documents),
         f AS (
           SELECT source,
             CASE WHEN LAG(source) OVER (ORDER BY pri, doc_id)
               IS DISTINCT FROM source THEN 1 ELSE 0 END AS run_start
           FROM d),
         s AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(SUM(run_start) AS BIGINT) AS runs_s
           FROM f GROUP BY 1),
         g AS (
           SELECT CAST(SUM(n_s) AS BIGINT) AS n,
             CAST(SUM(runs_s) AS BIGINT) AS r_obs,
             CAST(SUM(n_s * n_s) AS BIGINT) AS sum_sq
           FROM s)
         SELECT source, n_s, runs_s, n, r_obs,
           CAST((n * (n + 1) - sum_sq) * 1000 // n AS BIGINT) AS e_milli,
           CAST((r_obs * n - (n * (n + 1) - sum_sq)) * 1000000
             // (n * (n + 1) - sum_sq) AS BIGINT) AS excess_ppm
         FROM s, g""",
    // q349: self-consistency curve — k-prefix mode vs full-log mode
    // per user (>= 5 events), ties by type asc via a rank window
    // (no struct-argmax: the q321 DuckDB lesson).
    "q349_self_consistency" ->
      """WITH ev AS (
           SELECT user_id, event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS BIGINT) AS srk
           FROM events),
         eligible AS (
           SELECT user_id FROM ev GROUP BY 1 HAVING COUNT(*) >= 5),
         counts AS (
           SELECT user_id, event_type,
             CAST(COUNT(*) AS BIGINT) AS c_all,
             CAST(SUM(CASE WHEN srk <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_1,
             CAST(SUM(CASE WHEN srk <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_3,
             CAST(SUM(CASE WHEN srk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_5
           FROM ev JOIN eligible USING (user_id)
           GROUP BY 1, 2),
         m_all AS (
           SELECT user_id, event_type AS mode_all FROM (
             SELECT user_id, event_type, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY c_all DESC, event_type ASC)
               AS rn FROM counts WHERE c_all > 0) WHERE rn = 1),
         m1 AS (
           SELECT user_id, event_type AS mode_k FROM (
             SELECT user_id, event_type, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY c_1 DESC, event_type ASC)
               AS rn FROM counts WHERE c_1 > 0) WHERE rn = 1),
         m3 AS (
           SELECT user_id, event_type AS mode_k FROM (
             SELECT user_id, event_type, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY c_3 DESC, event_type ASC)
               AS rn FROM counts WHERE c_3 > 0) WHERE rn = 1),
         m5 AS (
           SELECT user_id, event_type AS mode_k FROM (
             SELECT user_id, event_type, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY c_5 DESC, event_type ASC)
               AS rn FROM counts WHERE c_5 > 0) WHERE rn = 1)
         SELECT CAST(1 AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN m.mode_k = a.mode_all THEN 1 ELSE 0 END)
             AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN m.mode_k = a.mode_all THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS agree_ppm
         FROM m_all a JOIN m1 m USING (user_id)
         UNION ALL
         SELECT CAST(3 AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN m.mode_k = a.mode_all THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(SUM(CASE WHEN m.mode_k = a.mode_all THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT)
         FROM m_all a JOIN m3 m USING (user_id)
         UNION ALL
         SELECT CAST(5 AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN m.mode_k = a.mode_all THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(SUM(CASE WHEN m.mode_k = a.mode_all THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT)
         FROM m_all a JOIN m5 m USING (user_id)""",
    // q350: incremental span census — the oracle recomputes both
    // censuses from the raw corpus; hash equality proves the parquet
    // artifact round-trip loses nothing.
    "q350_dup_span_incremental" ->
      s"""WITH $spanShingleCtes,
         hist AS (
           SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_hist
           FROM sh WHERE doc_id % 5 <> 0 GROUP BY 1),
         batch AS (SELECT doc_id, sh FROM sh WHERE doc_id % 5 = 0),
         bc AS (
           SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_batch
           FROM batch GROUP BY 1)
         SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN h.sh IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hist_dup,
           CAST(SUM(CASE WHEN h.sh IS NULL AND c.n_batch >= 2
             THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_dup,
           CAST((SUM(CASE WHEN h.sh IS NOT NULL THEN 1 ELSE 0 END)
             + SUM(CASE WHEN h.sh IS NULL AND c.n_batch >= 2
               THEN 1 ELSE 0 END)) * 1000000 // COUNT(*) AS BIGINT)
             AS dup_ppm
         FROM batch b
         LEFT JOIN hist h ON h.sh = b.sh
         JOIN bc c ON c.sh = b.sh
         GROUP BY 1""",
    // q351: canonicalization over componentCtes' components —
    // longest member wins (n_chars desc, doc_id asc via rank window,
    // not struct-argmax).
    "q351_canonicalize_clusters" ->
      s"""WITH RECURSIVE ${shingleCtes()},
         ${componentCtes()},
         member AS (
           SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
             CAST(COALESCE(c.comp, d.doc_id) AS BIGINT) AS cluster
           FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         canon AS (
           SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size,
             CAST(MIN(canonical_id) AS BIGINT) AS canonical_id
           FROM (
             SELECT cluster,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY cluster
                 ORDER BY n_chars DESC, doc_id ASC) = 1
                 THEN doc_id END AS canonical_id
             FROM member)
           GROUP BY 1)
         SELECT m.doc_id, m.cluster, c.cluster_size, c.canonical_id,
           m.doc_id = c.canonical_id AS kept
         FROM member m JOIN canon c USING (cluster)""",
    // q352: directive-lexicon density — literal alternations only, so
    // Java and RE2 match identically (leftmost non-overlapping).
    "q352_instruction_scan" ->
      s"""WITH t AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text),
               '${TextAnalysis.directivePattern}')) AS BIGINT)
               AS n_directives,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT doc_id, n_directives, n_tokens,
           CAST(n_directives * 1000000 // n_tokens AS BIGINT)
             AS density_ppm,
           n_directives * 1000000 // n_tokens > 5000 AS flagged
         FROM t WHERE n_tokens >= 1""",
    // q353: verbosity-bias audit over the q321 pair frame (same
    // packed-key CTE), lengths joined per side, sign-test globals.
    "q353_length_bias" ->
      s"""WITH sc AS ($scoredDocsSql),
         j AS (
           SELECT sc.doc_id, sc.score, d.source, d.lang
           FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
         pairs AS (
           SELECT source, lang,
             CAST(arg_max(doc_id, score * 10000000 + doc_id) AS BIGINT)
               AS chosen_id,
             CAST(arg_min(doc_id, score * 10000000 + doc_id) AS BIGINT)
               AS rejected_id
           FROM j GROUP BY 1, 2
           HAVING COUNT(*) >= 2),
         sized AS (
           SELECT p.source, p.lang, p.chosen_id, p.rejected_id,
             CAST(dc.n_chars AS BIGINT) AS chosen_len,
             CAST(dr.n_chars AS BIGINT) AS rejected_len,
             CAST(dc.n_chars - dr.n_chars AS BIGINT) AS len_gap,
             dc.n_chars > dr.n_chars AS chosen_longer
           FROM pairs p
           JOIN documents dc ON dc.doc_id = p.chosen_id
           JOIN documents dr ON dr.doc_id = p.rejected_id),
         g AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN chosen_len = rejected_len
               THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
             CAST(SUM(CASE WHEN chosen_longer THEN 1 ELSE 0 END)
               AS BIGINT) AS n_longer,
             CAST(SUM(len_gap) AS BIGINT) AS gap_sum
           FROM sized)
         SELECT s.*, g.n_pairs, g.n_ties,
           CASE WHEN g.n_pairs > g.n_ties
             THEN CAST(g.n_longer * 1000000 // (g.n_pairs - g.n_ties)
               AS BIGINT) END AS longer_ppm,
           CAST(g.gap_sum * 1000 // g.n_pairs AS BIGINT)
             AS mean_gap_milli
         FROM sized s, g""",
    // q354: needle placement over q312's offsets — the oracle's
    // naive global window prefix sum IS the chunked device's contract.
    "q354_needle_manifest" ->
      """WITH offs AS (
           SELECT doc_id, CAST(n_chars + 1 AS BIGINT) AS n_bytes,
             CAST(COALESCE(SUM(n_chars + 1) OVER (ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
           FROM documents)
         SELECT doc_id, n_bytes, start_offset,
           CAST(d AS BIGINT) AS depth_pct,
           CAST(n_bytes * d // 100 AS BIGINT) AS doc_pos,
           CAST(start_offset + n_bytes * d // 100 AS BIGINT) AS insert_at
         FROM offs, LATERAL (SELECT UNNEST([10, 50, 90]) AS d) t""",
    // q355: t-closeness — ordered-domain EMD in cross-multiplied
    // integers over a DENSE cell x lang grid; the abs-sum rides
    // HUGEINT, one trailing DIV by n_cell*n*(V-1).
    "q355_t_closeness" ->
      """WITH d AS (
           SELECT source, LEAST(n_chars // 64, 9) AS len_bucket, lang
           FROM documents),
         vl AS (
           SELECT source, len_bucket, lang, CAST(COUNT(*) AS BIGINT) AS c
           FROM d GROUP BY 1, 2, 3),
         cells AS (
           SELECT source, len_bucket, CAST(SUM(c) AS BIGINT) AS n_cell
           FROM vl GROUP BY 1, 2),
         gl AS (
           SELECT lang,
             CAST(SUM(g) OVER (ORDER BY lang ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(g) OVER () AS BIGINT) AS n,
             CAST(COUNT(*) OVER () AS BIGINT) AS v
           FROM (SELECT lang, SUM(c) AS g FROM vl GROUP BY 1)),
         grid AS (
           SELECT c.source, c.len_bucket, c.n_cell, g.cum, g.n, g.v,
             CAST(SUM(COALESCE(vl.c, 0)) OVER (
               PARTITION BY c.source, c.len_bucket
               ORDER BY g.lang ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_cell
           FROM cells c CROSS JOIN gl g
           LEFT JOIN vl ON vl.source = c.source
             AND vl.len_bucket = c.len_bucket AND vl.lang = g.lang)
         SELECT source, CAST(len_bucket AS BIGINT) AS len_bucket,
           CAST(MAX(n_cell) AS BIGINT) AS n_cell,
           CAST(SUM(abs(cum_cell * n - cum * n_cell)) * 1000000
             // (MAX(n_cell) * MAX(n) * (MAX(v) - 1)) AS BIGINT)
             AS t_ppm,
           CAST(SUM(abs(cum_cell * n - cum * n_cell)) * 1000000
             // (MAX(n_cell) * MAX(n) * (MAX(v) - 1)) AS BIGINT)
             <= 200000 AS t_ok
         FROM grid GROUP BY 1, 2""",
    // q356: head-set drift — each half's rank <= k sits on its own
    // window (WindowGroupLimit-shaped); absent side reads k+1;
    // footrule = sum of displacements.
    "q356_headset_drift" ->
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tm FROM events),
         b AS (SELECT MIN(tm) AS tmin, MAX(tm) AS tmax FROM ev),
         counts AS (
           SELECT user_id,
             CAST(SUM(CASE WHEN tm * 2 <= tmin + tmax THEN 1 ELSE 0 END)
               AS BIGINT) AS ce,
             CAST(SUM(CASE WHEN tm * 2 > tmin + tmax THEN 1 ELSE 0 END)
               AS BIGINT) AS cl
           FROM ev CROSS JOIN b GROUP BY 1),
         te AS (
           SELECT user_id, rk AS rank_early FROM (
             SELECT user_id, CAST(ROW_NUMBER() OVER (
               ORDER BY ce DESC, user_id ASC) AS BIGINT) AS rk
             FROM counts) WHERE rk <= 10),
         tl AS (
           SELECT user_id, rk AS rank_late FROM (
             SELECT user_id, CAST(ROW_NUMBER() OVER (
               ORDER BY cl DESC, user_id ASC) AS BIGINT) AS rk
             FROM counts) WHERE rk <= 10),
         j AS (
           SELECT COALESCE(te.user_id, tl.user_id) AS user_id,
             COALESCE(rank_early, 11) AS rank_early,
             COALESCE(rank_late, 11) AS rank_late,
             CAST(abs(COALESCE(rank_early, 11) - COALESCE(rank_late, 11))
               AS BIGINT) AS displacement
           FROM te FULL OUTER JOIN tl ON te.user_id = tl.user_id),
         g AS (
           SELECT CAST(SUM(CASE WHEN rank_early <= 10 AND rank_late <= 10
               THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
             CAST(SUM(displacement) AS BIGINT) AS footrule
           FROM j)
         SELECT j.user_id, CAST(j.rank_early AS BIGINT) AS rank_early,
           CAST(j.rank_late AS BIGINT) AS rank_late, j.displacement,
           g.n_both, g.footrule,
           CAST(g.n_both * 1000000 // (20 - g.n_both) AS BIGINT)
             AS jaccard_ppm
         FROM j, g""",
    // q357: shared-boilerplate head-grams — per-source top-10 5-gram
    // digests (count desc, digest asc), kept iff in >= 2 heads;
    // heaviest carrier by (count desc, source asc) rank.
    "q357_boilerplate_grams" ->
      s"""WITH words AS (
           SELECT source, string_split($normText, ' ') AS w
           FROM documents),
         grams AS (
           SELECT source,
             substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16) AS g
           FROM words, LATERAL (SELECT UNNEST(range(1, len(w) - 3)) AS i) t
           WHERE len(w) >= 5),
         counts AS (
           SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
           FROM grams GROUP BY 1, 2),
         heads AS (
           SELECT source, g, c FROM (
             SELECT source, g, c, ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY c DESC, g ASC) AS rk
             FROM counts) WHERE rk <= 10),
         ranked AS (
           SELECT heads.*, ROW_NUMBER() OVER (PARTITION BY g
             ORDER BY c DESC, source ASC) AS rn
           FROM heads)
         SELECT g, CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(c) AS BIGINT) AS n_total,
           MIN(CASE WHEN rn = 1 THEN source END) AS top_source
         FROM ranked GROUP BY 1 HAVING COUNT(*) >= 2""",
    // q358: truncation-loss curve at L in {128, 512, 2048} over the
    // BPE-ish token count; one aggregate, three unioned arms.
    "q358_truncation_loss" ->
      """WITH t AS (
           SELECT source, CAST(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS ntok
           FROM documents),
         base AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS tokens_total,
             CAST(SUM(CASE WHEN ntok > 128 THEN 1 ELSE 0 END) AS BIGINT)
               AS over_128,
             CAST(SUM(CASE WHEN ntok > 128 THEN ntok - 128 ELSE 0 END)
               AS BIGINT) AS lost_128,
             CAST(SUM(CASE WHEN ntok > 512 THEN 1 ELSE 0 END) AS BIGINT)
               AS over_512,
             CAST(SUM(CASE WHEN ntok > 512 THEN ntok - 512 ELSE 0 END)
               AS BIGINT) AS lost_512,
             CAST(SUM(CASE WHEN ntok > 2048 THEN 1 ELSE 0 END) AS BIGINT)
               AS over_2048,
             CAST(SUM(CASE WHEN ntok > 2048 THEN ntok - 2048 ELSE 0 END)
               AS BIGINT) AS lost_2048
           FROM t GROUP BY 1)
         SELECT source, CAST(128 AS BIGINT) AS ctx_len, n_docs,
           tokens_total, over_128 AS docs_truncated, lost_128 AS
           tokens_lost,
           CAST(lost_128 * 1000000 // tokens_total AS BIGINT) AS lost_ppm
         FROM base
         UNION ALL
         SELECT source, CAST(512 AS BIGINT), n_docs, tokens_total,
           over_512, lost_512,
           CAST(lost_512 * 1000000 // tokens_total AS BIGINT)
         FROM base
         UNION ALL
         SELECT source, CAST(2048 AS BIGINT), n_docs, tokens_total,
           over_2048, lost_2048,
           CAST(lost_2048 * 1000000 // tokens_total AS BIGINT)
         FROM base""",
    // q359: q336's waterfillSql over q297's soft-dedup-effective
    // token supply (per-doc ntok*w DIV 1e6, per-term truncation);
    // same saturated-prefix law, raw_tokens joined for the haircut.
    "q359_effective_waterfill" ->
      s"""WITH RECURSIVE ${shingleCtes()},
         ${componentCtes("prs")},
         ${keyedCte()},
         sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM keyed GROUP BY 1),
         wts AS (
           SELECT k.doc_id, CAST(1000000 // sz.cluster_size AS BIGINT) AS w
           FROM keyed k JOIN sz USING (comp)),
         toks AS (
           SELECT doc_id, source, lang,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok
           FROM documents),
         cells AS (
           SELECT source, lang, CAST(SUM(ntok) AS BIGINT) AS raw_tokens,
             CAST(SUM(ntok * w // 1000000) AS BIGINT) AS avail_tokens
           FROM toks JOIN wts USING (doc_id) GROUP BY 1, 2
           HAVING SUM(ntok * w // 1000000) >= 1),
         caps AS (
           SELECT source, lang, raw_tokens, avail_tokens,
             CAST(4 * avail_tokens AS BIGINT) AS cap_tokens FROM cells),
         ${waterfillSql("cells", ", r.raw_tokens")}""",
    // q360: word fertility — corpus-grain integer ppm over the
    // (lang, source) cell's token/word/char sums.
    "q360_word_fertility" ->
      s"""WITH t AS (
           SELECT lang, source,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok,
             CAST(len(string_split($normText, ' ')) AS BIGINT) AS nwords,
             CAST(length(text) AS BIGINT) AS nchars
           FROM documents)
         SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(nwords) AS BIGINT) AS n_words,
           CAST(SUM(nchars) AS BIGINT) AS n_chars,
           CAST(SUM(ntok) * 1000000 // SUM(nwords) AS BIGINT)
             AS fertility_ppm,
           CAST(SUM(nchars) * 1000000 // SUM(ntok) AS BIGINT)
             AS chars_per_token_ppm
         FROM t WHERE ntok >= 1 AND nwords >= 1 GROUP BY 1, 2""",
    // q361: severity-weighted toxicity gate — per-term whole-word
    // counts generated from the SAME compile-time lexicon the Spark
    // plan uses (an edit to one cannot silently decouple the twin).
    "q361_toxicity_gate" ->
      s"""WITH w AS (
           SELECT source, string_split($normText, ' ') AS w
           FROM documents),
         d AS (
           SELECT source, CAST(len(w) AS BIGINT) AS n_words,
             ${CleanPipeline.toxicLexicon.map { case (t, _) =>
               s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT)"
             }.mkString(" + ")} AS n_hits,
             ${CleanPipeline.toxicLexicon.map { case (t, s) =>
               s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT) * $s"
             }.mkString(" + ")} AS score
           FROM w),
         f AS (
           SELECT source, n_words, n_hits, score,
             score * 1000000 // n_words > ${CleanPipeline.toxicDocPpm}
               AS flagged
           FROM d WHERE n_words >= 1)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits,
           CAST(SUM(score) AS BIGINT) AS total_score,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) * 1000000
             // COUNT(*) AS BIGINT) AS flagged_ppm,
           SUM(CASE WHEN flagged THEN 1 ELSE 0 END) * 1000000
             // COUNT(*) > ${CleanPipeline.toxicSrcPpm} AS quarantine
         FROM f GROUP BY 1""",
    // q362: SFT unrolling cost — q33's gap sessionization, then
    // position/prefix windows on the conversation key; token proxy
    // is the k payload field; roles alternate by turn parity.
    "q362_sft_unroll_cost" ->
      """WITH t AS (
           SELECT user_id, ts, event_id,
             CAST(COALESCE(CAST(json_extract_string(props, '$.k')
               AS BIGINT), 0) AS BIGINT) AS tok,
             epoch_us(ts) AS us
           FROM events),
         s AS (
           SELECT *, CASE WHEN lag(us) OVER w IS NULL
               OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
               AS new_sess
           FROM t WINDOW w AS (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC)),
         s2 AS (
           SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING)
             AS session_idx
           FROM s),
         p AS (
           SELECT *, ROW_NUMBER() OVER w2 AS pos,
             SUM(tok) OVER (PARTITION BY user_id, session_idx
               ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING)
               AS prefix_tok
           FROM s2 WINDOW w2 AS (PARTITION BY user_id, session_idx
             ORDER BY ts ASC, event_id ASC)),
         g AS (
           SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             CAST(COUNT(*) AS BIGINT) AS n_turns,
             CAST(SUM(CASE WHEN pos % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_samples,
             CAST(SUM(tok) AS BIGINT) AS packed_tokens,
             CAST(SUM(CASE WHEN pos % 2 = 0 THEN tok ELSE 0 END)
               AS BIGINT) AS trained_tokens,
             CAST(SUM(CASE WHEN pos % 2 = 0 THEN prefix_tok ELSE 0 END)
               AS BIGINT) AS unrolled_tokens
           FROM p GROUP BY 1, 2)
         SELECT *, CAST(unrolled_tokens * 1000000 // packed_tokens
             AS BIGINT) AS overhead_ppm,
           CAST(trained_tokens * 1000000 // packed_tokens AS BIGINT)
             AS trained_ppm
         FROM g WHERE n_samples >= 1 AND packed_tokens >= 1""",
    // q363: Merkle shard manifest — leaf md5 of normalized text,
    // shard digest over the doc-id-ordered leaf concatenation,
    // root over the shard-id-ordered shard digests.
    "q363_merkle_manifest" ->
      s"""WITH leaves AS (
           SELECT doc_id // 64 AS shard_id, doc_id,
             md5($normText) AS leaf,
             CAST(length(text) AS BIGINT) AS nch
           FROM documents),
         shards AS (
           SELECT CAST(shard_id AS BIGINT) AS shard_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nch) AS BIGINT) AS n_chars,
             md5(string_agg(leaf, '' ORDER BY doc_id ASC)) AS shard_digest
           FROM leaves GROUP BY 1),
         root AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
             md5(string_agg(shard_digest, '' ORDER BY shard_id ASC))
               AS root_digest
           FROM shards)
         SELECT s.shard_id, s.n_docs, s.n_chars, s.shard_digest,
           r.n_shards, r.root_digest
         FROM shards s, root r""",
    // q364: 1D transport plan — Hamilton-rounded uniform target over
    // observed length buckets, prefix-difference flows, |flow| fold.
    "q364_transport_plan" ->
      """WITH cur AS (
           SELECT n_chars // 64 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS current
           FROM documents GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(current) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS m FROM cur),
         rk AS (
           SELECT bucket, current, n, m,
             CAST(ROW_NUMBER() OVER (ORDER BY bucket ASC) AS BIGINT) AS rk
           FROM cur, tot),
         t2 AS (
           SELECT bucket, current,
             CAST(n // m + CASE WHEN rk <= n % m THEN 1 ELSE 0 END
               AS BIGINT) AS target
           FROM rk),
         t3 AS (
           SELECT CAST(bucket AS BIGINT) AS bucket, current, target,
             CAST(SUM(current - target) OVER (ORDER BY bucket ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_flow
           FROM t2),
         w AS (SELECT CAST(SUM(abs(cum_flow)) AS BIGINT) AS total_work
           FROM t3)
         SELECT bucket, current, target, cum_flow, total_work
         FROM t3, w""",
    // q365: license propagation — recursive-CTE climb of the shared
    // derivation device (d % 3 = 0 -> parent d DIV 2), max tier over
    // the ancestry, ancestor count = deepest climb row.
    "q365_license_propagation" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id,
             CAST(ascii(right(source, 1)) % 4 AS BIGINT) AS own_tier,
             CASE WHEN doc_id % 3 = 0 AND doc_id >= 3
               THEN doc_id // 2 END AS parent
           FROM documents),
         climb(id, cur, tier, n) AS (
           SELECT doc_id, doc_id, own_tier, CAST(0 AS BIGINT) FROM base
           UNION ALL
           SELECT c.id, b.parent, GREATEST(c.tier, pb.own_tier), c.n + 1
           FROM climb c
           JOIN base b ON b.doc_id = c.cur AND b.parent IS NOT NULL
           JOIN base pb ON pb.doc_id = b.parent)
         SELECT c.id AS doc_id, b.own_tier,
           CAST(MAX(c.tier) AS BIGINT) AS eff_tier,
           CAST(MAX(c.n) AS BIGINT) AS n_anc,
           MAX(c.tier) > b.own_tier AS restricted
         FROM climb c JOIN base b ON b.doc_id = c.id
         GROUP BY 1, 2""",
    // q366: Wilson gate — the interval arithmetic is the SAME
    // expression text the Spark plan runs (Experiment.wilsonSql),
    // so both engines floor identical IEEE doubles.
    "q366_wilson_gate" ->
      s"""WITH t AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS k
           FROM events GROUP BY 1)
         SELECT event_type, n, k,
           CAST(k * 1000000 // n AS BIGINT) AS rate_ppm,
           ${Experiment.wilsonSql("lo")} AS wilson_lo_ppm,
           ${Experiment.wilsonSql("hi")} AS wilson_hi_ppm,
           ${Experiment.wilsonSql("lo")} > 333333 AS gate
         FROM t""",
    // q367: takedown impact — opt-out = 2 lexicographically-first
    // sources (derived in-query, shared device), per-shard blast
    // radius + global removed share.
    "q367_takedown_impact" ->
      """WITH opt AS (
           SELECT source FROM (
             SELECT source, ROW_NUMBER() OVER (ORDER BY source ASC) AS srk
             FROM (SELECT DISTINCT source FROM documents))
           WHERE srk <= 2),
         d AS (
           SELECT doc_id // 64 AS shard_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS ntok,
             documents.source IN (SELECT source FROM opt) AS opt_out
           FROM documents),
         shards AS (
           SELECT CAST(shard_id AS BIGINT) AS shard_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS tokens_total,
             CAST(SUM(CASE WHEN opt_out THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_removed,
             CAST(SUM(CASE WHEN opt_out THEN ntok ELSE 0 END) AS BIGINT)
               AS tokens_removed
           FROM d GROUP BY 1),
         f AS (SELECT *, docs_removed >= 1 AS touched FROM shards),
         g AS (
           SELECT CAST(SUM(CASE WHEN touched THEN 1 ELSE 0 END)
               AS BIGINT) AS n_shards_touched,
             CAST(SUM(tokens_removed) * 1000000 // SUM(tokens_total)
               AS BIGINT) AS removed_ppm
           FROM f)
         SELECT f.shard_id, f.n_docs, f.tokens_total, f.docs_removed,
           f.tokens_removed, f.touched, g.n_shards_touched, g.removed_ppm
         FROM f, g""",
    // q368: Krippendorff nominal alpha — q268's rating matrix plus
    // an md5-decided 20% skip for rater 3; exact-integer ratio with
    // the per-unit term scaled by 2 (m_u in {2,3}).
    "q368_krippendorff" ->
      s"""WITH ${ratedCte(skipRater3 = true)},
         nic AS (SELECT doc_id, label, CAST(COUNT(*) AS BIGINT) AS c
                 FROM rated GROUP BY 1, 2),
         per_unit AS (
           SELECT doc_id, CAST(SUM(c) AS BIGINT) AS m_u,
             CAST(SUM(c*c) AS BIGINT) AS ssq
           FROM nic GROUP BY 1),
         pairable AS (
           -- mirrors the Spark side's raise_error (round-16 advice):
           -- the x2-scaled per-unit term is exact only for m_u in
           -- {2,3}; a >= 4-rater frame must ERROR in BOTH engines,
           -- never silently truncate alpha in just one of them
           SELECT doc_id, CASE WHEN m_u <= 3
               THEN 2 * (m_u * m_u - ssq) // (m_u - 1)
               ELSE CAST(error('krippendorff: exact-integer path supports'
                 || ' per-item coverage m_u <= 3 only') AS BIGINT) END AS do2
           FROM per_unit WHERE m_u >= 2),
         margins AS (
           SELECT label, CAST(SUM(c) AS BIGINT) AS n_c
           FROM nic JOIN pairable USING (doc_id) GROUP BY 1),
         de AS (
           SELECT CAST(SUM(n_c) AS BIGINT) AS n,
             SUM(CAST(n_c AS HUGEINT) * n_c) AS sq_c
           FROM margins),
         dosum AS (
           SELECT CAST(SUM(do2) AS HUGEINT) AS do2_sum,
             CAST(COUNT(*) AS BIGINT) AS n_items
           FROM pairable),
         excl AS (
           SELECT CAST(COALESCE(SUM(CASE WHEN m_u <= 1 THEN 1 END), 0)
             AS BIGINT) AS n_excluded
           FROM per_unit)
         SELECT dosum.n_items, excl.n_excluded, de.n,
           CASE WHEN CAST(de.n AS HUGEINT) * de.n = de.sq_c THEN 1000000
           ELSE CAST(1000000 - (CAST(de.n - 1 AS HUGEINT) * do2_sum * 1000000
               - (CAST(de.n - 1 AS HUGEINT) * do2_sum * 1000000)
                 % (2 * (CAST(de.n AS HUGEINT) * de.n - de.sq_c)))
             // (2 * (CAST(de.n AS HUGEINT) * de.n - de.sq_c))
             AS BIGINT) END AS alpha_micro
         FROM dosum, de, excl""",
    // q369: unseen-vocabulary estimators — Chao1 bias-corrected
    // floor + Good-Turing singleton mass over the (lang, word) count.
    "q369_unseen_vocab" ->
      s"""WITH w AS (
           SELECT lang, UNNEST(string_split($normText, ' ')) AS w
           FROM documents),
         c AS (
           SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM w WHERE length(w) >= 1 GROUP BY 1, 2),
         g AS (
           SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS distinct_words,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
           FROM c GROUP BY 1)
         SELECT lang, n_tokens, distinct_words, f1, f2,
           CAST(distinct_words + f1 * (f1 - 1) // (2 * (f2 + 1))
             AS BIGINT) AS chao1_est,
           CAST(f1 * 1000000 // n_tokens AS BIGINT) AS unseen_mass_ppm
         FROM g""",
    // q370: early-stopping audit — patience-5 rule over per-run eval
    // curves; strict improvement against the running prefix min.
    "q370_early_stopping" ->
      """WITH t AS (
           SELECT user_id, ts, event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
           FROM events),
         s AS (
           SELECT *, CAST(ROW_NUMBER() OVER w AS BIGINT) AS step,
             MIN(cents) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_min,
             MIN(cents) OVER (PARTITION BY user_id) AS run_min
           FROM t WINDOW w AS (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC)),
         s2 AS (
           SELECT *, (prev_min IS NULL OR cents < prev_min) AS improving
           FROM s),
         s3 AS (
           SELECT *, MAX(CASE WHEN improving THEN step END)
             OVER (PARTITION BY user_id ORDER BY step
               ROWS UNBOUNDED PRECEDING) AS last_imp
           FROM s2),
         g AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_steps,
             CAST(MIN(cents) AS BIGINT) AS best_cents,
             CAST(MIN(CASE WHEN cents = run_min THEN step END) AS BIGINT)
               AS best_step,
             CAST(MIN(CASE WHEN step - last_imp >= 5 THEN step END)
               AS BIGINT) AS stop_raw
           FROM s3 GROUP BY 1)
         SELECT user_id, n_steps, best_cents, best_step,
           stop_raw IS NOT NULL AS stopped,
           COALESCE(stop_raw, n_steps) AS stop_step,
           n_steps - COALESCE(stop_raw, n_steps) AS steps_saved
         FROM g""",
    // q371: negative-sampling manifest — md5-derived offsets over the
    // contiguous id domain, cross-source filter, first-k in draw
    // order; the oracle replays the identical draw.
    "q371_negative_samples" ->
      """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         cand AS (
           SELECT d.doc_id AS anchor_id, d.source AS anchor_src, j.j,
             ('0x' || substr(md5('neg:' || CAST(d.doc_id AS VARCHAR)
               || ':' || CAST(j.j AS VARCHAR)), 1, 15))::BIGINT
               % (nn.n - 1) + 1 AS off
           FROM documents d, nn, (SELECT UNNEST(range(1, 9)) AS j) j),
         withneg AS (
           SELECT anchor_id, anchor_src, j,
             (anchor_id + off) % nn.n AS neg_id
           FROM cand, nn),
         filtered AS (
           SELECT w.anchor_id, w.j, w.neg_id, d.source AS neg_src
           FROM withneg w JOIN documents d ON d.doc_id = w.neg_id
           WHERE d.source <> w.anchor_src),
         ranked AS (
           SELECT anchor_id, neg_id, neg_src,
             CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
               ORDER BY j ASC) AS BIGINT) AS rank
           FROM filtered),
         keep AS (SELECT * FROM ranked WHERE rank <= 4),
         kc AS (SELECT anchor_id, CAST(COUNT(*) AS BIGINT) AS n_kept
           FROM keep GROUP BY 1)
         SELECT k.anchor_id, k.rank, k.neg_id, k.neg_src, kc.n_kept
         FROM keep k JOIN kc USING (anchor_id)""",
    // q372: int8 per-channel quantization error — per-element micro
    // floor BEFORE any sum (order-free integer sums).
    "q372_int8_quant" ->
      """WITH el AS (
           SELECT vec_id, CAST(i - 1 AS BIGINT) AS channel,
             CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings,
             LATERAL (SELECT UNNEST(range(1, len(embedding) + 1)) AS i) t),
         sc AS (SELECT channel, MAX(ABS(x)) AS maxabs FROM el GROUP BY 1),
         e2 AS (
           SELECT el.channel, sc.maxabs,
             CAST(floor(1000000.0 * (CASE WHEN maxabs = 0.0 THEN 0.0
               ELSE abs(x - (floor(x * 127.0 / maxabs + 0.5)
                             * maxabs / 127.0)) END)) AS BIGINT) AS err_micro
           FROM el JOIN sc USING (channel))
         SELECT channel, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(floor(1000000.0 * MAX(maxabs)) AS BIGINT) AS maxabs_micro,
           CAST(SUM(err_micro) AS BIGINT) AS total_err_micro,
           CAST(MAX(err_micro) AS BIGINT) AS max_err_micro,
           CAST(SUM(err_micro) * 1000 // COUNT(*) AS BIGINT)
             AS mean_err_nano
         FROM e2 GROUP BY 1""",
    // q373: payload schema drift — dense day x key grid (a key that
    // skips a day must read dropped-then-added), lag by day rank.
    "q373_schema_drift" ->
      """WITH counts AS (
           SELECT day, k AS key, CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT CAST(ts AS DATE) AS day,
                   UNNEST(json_keys(CAST(props AS JSON))) AS k
                 FROM events)
           GROUP BY 1, 2),
         days AS (
           SELECT day, CAST(ROW_NUMBER() OVER (ORDER BY day ASC)
             AS BIGINT) AS day_rank
           FROM (SELECT DISTINCT day FROM counts)),
         keys AS (SELECT DISTINCT key FROM counts),
         grid AS (
           SELECT d.day, d.day_rank, keys.key, c.n
           FROM days d CROSS JOIN keys
           LEFT JOIN counts c ON c.day = d.day AND c.key = keys.key),
         lg AS (
           SELECT day, day_rank, key, n,
             lag(n) OVER (PARTITION BY key ORDER BY day_rank ASC) AS np
           FROM grid),
         st AS (
           SELECT day, day_rank, key, n, np,
             CASE WHEN day_rank = 1 AND n IS NOT NULL THEN 'baseline'
                  WHEN n IS NOT NULL AND np IS NULL THEN 'added'
                  WHEN n IS NULL AND np IS NOT NULL THEN 'dropped'
                  WHEN n IS NOT NULL AND np IS NOT NULL THEN 'kept'
             END AS status
           FROM lg)
         SELECT day, day_rank, key, CAST(COALESCE(n, 0) AS BIGINT) AS n,
           CAST(COALESCE(np, 0) AS BIGINT) AS n_prev, status
         FROM st WHERE status IS NOT NULL""",
    // q374: paired sign-flip permutation test — md5-replayed flips,
    // add-one p (Phipson & Smyth).
    "q374_permutation_test" ->
      """WITH diffs AS (
           SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click'
                 THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END)
               // NULLIF(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0)
               AS BIGINT) AS click_cents,
             CAST(SUM(CASE WHEN event_type = 'view'
                 THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END)
               // NULLIF(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0)
               AS BIGINT) AS view_cents
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1),
         d2 AS (
           SELECT user_id, click_cents - view_cents AS d
           FROM diffs
           WHERE click_cents IS NOT NULL AND view_cents IS NOT NULL),
         obs AS (SELECT CAST(SUM(d) AS BIGINT) AS t_obs,
           CAST(COUNT(*) AS BIGINT) AS n_pairs FROM d2),
         reps AS (
           SELECT r.r,
             CAST(SUM(CASE WHEN ('0x' || substr(md5('flip:' ||
                 CAST(user_id AS VARCHAR) || ':' ||
                 CAST(r.r AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
               THEN d ELSE -d END) AS BIGINT) AS t_r
           FROM d2, (SELECT UNNEST(range(1, 201)) AS r) r
           GROUP BY 1)
         SELECT obs.n_pairs, obs.t_obs AS t_obs_cents,
           CAST(SUM(CASE WHEN abs(t_r) >= abs(obs.t_obs) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_extreme,
           CAST(200 AS BIGINT) AS n_replicates,
           CAST((SUM(CASE WHEN abs(t_r) >= abs(obs.t_obs)
               THEN 1 ELSE 0 END) + 1) * 1000000 // 201 AS BIGINT)
             AS p_micro
         FROM reps, obs GROUP BY 1, 2""",
    // q375: filter operating curve — one scored scan, per-threshold
    // conditional sums, arms unioned; thresholds shared with the
    // Spark default grid.
    "q375_filter_curve" ->
      s"""WITH sc AS ($scoredDocsSql),
         base AS (
           SELECT d.source,
             CAST(len(regexp_extract_all(d.text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok,
             sc.score
           FROM documents d JOIN sc ON sc.doc_id = d.doc_id),
         g AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS tokens_total,
             ${CleanPipeline.filterCurveThresholds.map { t =>
               s"""CAST(SUM(CASE WHEN score >= $t THEN 1 ELSE 0 END)
                  AS BIGINT) AS kept_$t,
                CAST(SUM(CASE WHEN score >= $t THEN ntok ELSE 0 END)
                  AS BIGINT) AS ktok_$t,
                CAST(SUM(CASE WHEN score >= $t THEN score ELSE 0 END)
                  AS BIGINT) AS ksc_$t"""
             }.mkString(",\n             ")}
           FROM base GROUP BY 1)
         ${CleanPipeline.filterCurveThresholds.map { t =>
           s"""SELECT source, CAST($t AS BIGINT) AS threshold_micro,
              n_docs, tokens_total, kept_$t AS kept_docs,
              ktok_$t AS kept_tokens,
              CAST(kept_$t * 1000000 // n_docs AS BIGINT)
                AS kept_docs_ppm,
              CAST(ktok_$t * 1000000 // tokens_total AS BIGINT)
                AS kept_tokens_ppm,
              CAST(CASE WHEN kept_$t = 0 THEN -1
                ELSE ksc_$t // kept_$t END AS BIGINT)
                AS kept_mean_score_micro
            FROM g"""
         }.mkString("\n         UNION ALL\n         ")}""",
    // q376: banding planner — shingleCtes' exact-Jaccard pairs feed the
    // S-curve square-chain expression GENERATED by the same function
    // the Spark plan uses (Dedup.sCurvePSql).
    "q376_banding_planner" ->
      s"""WITH ${shingleCtes()},
         prs AS (
           ${jaccardPairs(s"$jaccardSql AS jaccard")})
         ${Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4)).map {
           case (r, b) =>
             s"""SELECT CAST($r AS BIGINT) AS rows_per_band,
                CAST($b AS BIGINT) AS bands,
                CAST(COUNT(*) AS BIGINT) AS n_pairs,
                CAST(SUM(p) // COUNT(*) AS BIGINT) AS expected_catch_ppm,
                CAST(MIN(p) AS BIGINT) AS min_p_micro,
                CAST(SUM(CASE WHEN p < 900000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_at_risk
              FROM (SELECT CAST(floor(1000000.0 *
                ${Dedup.sCurvePSql(r, b, "jaccard")}) AS BIGINT) AS p
                FROM prs)"""
         }.mkString("\n         UNION ALL\n         ")}""",
    // q377: stride efficiency — q306's chunk CTE collapsed to doc
    // grain, re-keyed onto sources; waste = encoded - raw tokens.
    "q377_stride_efficiency" ->
      s"""WITH $wordDocsCtes,
         k AS (
           SELECT doc_id, n, GREATEST(1,
             (n - ${TrainingPrep.chunkWin - TrainingPrep.chunkStride}
              + ${TrainingPrep.chunkStride - 1})
             // ${TrainingPrep.chunkStride}) AS k FROM d),
         c AS (
           SELECT doc_id, n, k, UNNEST(range(0, k)) AS i FROM k),
         ch AS (
           SELECT doc_id, n, k, i,
             CAST(LEAST(${TrainingPrep.chunkWin},
               n - i * ${TrainingPrep.chunkStride}) AS BIGINT) AS len_tok
           FROM c),
         per_doc AS (
           SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
             CAST(MAX(k) AS BIGINT) AS n_chunks,
             CAST(SUM(len_tok) AS BIGINT) AS encoded_tokens,
             CAST(SUM(CASE WHEN i > 0 AND
               len_tok < ${TrainingPrep.chunkWin / 2} THEN 1 ELSE 0 END)
               AS BIGINT) AS runt_chunks
           FROM ch GROUP BY 1)
         SELECT dd.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_tokens) AS BIGINT) AS raw_tokens,
           CAST(SUM(p.encoded_tokens) AS BIGINT) AS encoded_tokens,
           CAST(SUM(p.n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(p.runt_chunks) AS BIGINT) AS runt_chunks,
           CAST((SUM(p.encoded_tokens) - SUM(p.n_tokens)) * 1000000
             // SUM(p.n_tokens) AS BIGINT) AS waste_ppm,
           CAST(SUM(p.runt_chunks) * 1000000 // SUM(p.n_chunks) AS BIGINT)
             AS runt_ppm
         FROM per_doc p JOIN documents dd USING (doc_id)
         GROUP BY 1""",
    // q378: code-switching census — span fan-out, whole-word marker
    // counts, declared-order argmax, und-transparent switch lag.
    "q378_code_switching" ->
      s"""WITH words AS (
           SELECT doc_id, string_split($normText, ' ') AS w FROM documents),
         d AS (
           SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM words
           WHERE len(w) >= 1 AND w[1] <> ''),
         sp AS (
           SELECT doc_id, i,
             w[(i * 10 + 1):(i * 10 + 10)] AS sw
           FROM d, LATERAL (SELECT UNNEST(range(0, (n + 9) // 10)) AS i) t),
         scored AS (
           SELECT doc_id, i,
             ${TextAnalysis.langMarkers.map { case (lang, ws) =>
               s"CAST(len(list_filter(sw, x -> list_contains(" +
                 s"[${ws.map(w => s"'$w'").mkString(", ")}], x))) AS BIGINT)" +
                 s" AS c_$lang"
             }.mkString(",\n             ")}
           FROM sp),
         pred AS (
           SELECT doc_id, i,
             CASE WHEN GREATEST(c_en, c_de, c_fr, c_es, c_zh) = 0 THEN 'und'
               ${TextAnalysis.langMarkers.map { case (lang, _) =>
                 s"WHEN c_$lang = GREATEST(c_en, c_de, c_fr, c_es, c_zh) " +
                   s"THEN '$lang'"
               }.mkString("\n               ")}
             END AS span_lang
           FROM scored),
         lagged AS (
           SELECT doc_id, i, span_lang,
             last_value(CASE WHEN span_lang <> 'und' THEN span_lang END
               IGNORE NULLS) OVER (PARTITION BY doc_id ORDER BY i ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_lang
           FROM pred)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN span_lang <> 'und' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_identified,
           CAST(SUM(CASE WHEN span_lang <> 'und' AND prev_lang IS NOT NULL
             AND span_lang <> prev_lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_switches,
           CAST(COUNT(DISTINCT CASE WHEN span_lang <> 'und'
             THEN span_lang END) AS BIGINT) AS n_langs,
           COUNT(DISTINCT CASE WHEN span_lang <> 'und' THEN span_lang END)
             >= 2 AS mixed
         FROM lagged GROUP BY 1""",
    // q379: funnel significance under Holm — q112's funnelCtes, the
    // q374 randomization device per step, cross-multiplied Holm.
    "q379_funnel_significance" ->
      s"""WITH $funnelCtes,
         fl AS (
           SELECT l1.user_id,
             CASE WHEN l1.t1 IS NULL THEN 0 WHEN l2.t2 IS NULL THEN 1
                  WHEN l3.t3 IS NULL THEN 2 ELSE 3 END AS steps
           FROM l1 JOIN l2 USING (user_id) JOIN l3 USING (user_id)),
         scoped AS (
           SELECT CAST(1 AS BIGINT) AS step, user_id,
             CASE WHEN steps >= 2 THEN 1 ELSE 0 END AS conv,
             user_id % 2 = 0 AS arm_a
           FROM fl WHERE steps >= 1
           UNION ALL
           SELECT CAST(2 AS BIGINT), user_id,
             CASE WHEN steps >= 3 THEN 1 ELSE 0 END,
             user_id % 2 = 0
           FROM fl WHERE steps >= 2),
         obs AS (
           SELECT step,
             CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm_a THEN conv ELSE 0 END) AS BIGINT)
               AS k_a,
             CAST(SUM(CASE WHEN arm_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm_a THEN 0 ELSE conv END) AS BIGINT)
               AS k_b
           FROM scoped GROUP BY 1),
         obs2 AS (
           SELECT *, CAST(k_a * n_b - k_b * n_a AS BIGINT) AS t_obs
           FROM obs),
         flips AS (
           SELECT s.step, s.conv, r.r,
             s.arm_a <> (('0x' || substr(md5('fs:' ||
               CAST(s.step AS VARCHAR) || ':' ||
               CAST(s.user_id AS VARCHAR) || ':' ||
               CAST(r.r AS VARCHAR)), 1, 15))::BIGINT % 2 = 1) AS a2
           FROM scoped s, (SELECT UNNEST(range(1, 201)) AS r) r),
         reps AS (
           SELECT step, r,
             CAST(SUM(CASE WHEN a2 THEN conv ELSE 0 END)
                 * SUM(CASE WHEN a2 THEN 0 ELSE 1 END)
               - SUM(CASE WHEN a2 THEN 0 ELSE conv END)
                 * SUM(CASE WHEN a2 THEN 1 ELSE 0 END) AS BIGINT) AS t_r
           FROM flips GROUP BY 1, 2),
         pv AS (
           SELECT o.step, o.n_a, o.k_a, o.n_b, o.k_b, o.t_obs,
             CAST(SUM(CASE WHEN abs(t_r) >= abs(o.t_obs) THEN 1 ELSE 0 END)
               AS BIGINT) AS n_extreme,
             CAST((SUM(CASE WHEN abs(t_r) >= abs(o.t_obs) THEN 1 ELSE 0 END)
               + 1) * 1000000 // 201 AS BIGINT) AS p_micro
           FROM reps JOIN obs2 o USING (step)
           GROUP BY 1, 2, 3, 4, 5, 6),
         holm AS (
           SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_micro ASC,
             step ASC) AS BIGINT) AS holm_rank
           FROM pv)
         SELECT step, n_a, k_a, n_b, k_b, t_obs, n_extreme, p_micro,
           holm_rank,
           MIN(CASE WHEN p_micro * (2 - holm_rank + 1) <= 50000
             THEN 1 ELSE 0 END) OVER (ORDER BY holm_rank ASC
             ROWS UNBOUNDED PRECEDING) = 1 AS significant
         FROM holm""",
    // q380: MMR — the greedy k-step selection unrolled as generated
    // CTEs; all scores integer (micro sims, lambda in tenths), the
    // (score desc, vec_id) tie rule shared with the Spark loop.
    "q380_mmr_topk" ->
      s"""WITH u AS MATERIALIZED ($normalizedVectors),
         q AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM u
               WHERE vec_id IN (SELECT vec_id FROM embeddings
                 ORDER BY vec_id LIMIT ${Similarity.mmrNumQueries})),
         s AS MATERIALIZED (SELECT q_id, u.vec_id,
                 list_sum(list_transform(list_zip(qv, u.v),
                   p -> p[1]*p[2])) AS cosine
               FROM q JOIN u ON u.vec_id != q.q_id),
         pool AS MATERIALIZED (
           SELECT q_id, vec_id,
             CAST(floor(1000000.0 * cosine) AS BIGINT) AS simq
           FROM (SELECT q_id, vec_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY cosine DESC, vec_id ASC) AS rk
                 FROM s)
           WHERE rk <= ${Similarity.mmrPoolSize}),
         ps AS MATERIALIZED (
           SELECT p1.q_id, p1.vec_id AS a, p2.vec_id AS b,
             CAST(floor(1000000.0 * list_sum(list_transform(
               list_zip(ua.v, ub.v), p -> p[1]*p[2]))) AS BIGINT) AS sim
           FROM pool p1
           JOIN pool p2 ON p1.q_id = p2.q_id AND p1.vec_id != p2.vec_id
           JOIN u ua ON ua.vec_id = p1.vec_id
           JOIN u ub ON ub.vec_id = p2.vec_id),
         selu1 AS MATERIALIZED (
           SELECT q_id, vec_id, simq, CAST(0 AS BIGINT) AS penalty,
             ${Similarity.mmrLamTenths} * simq AS score,
             CAST(1 AS BIGINT) AS mmr_rank
           FROM (SELECT pool.*, ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY ${Similarity.mmrLamTenths} * simq DESC,
                     vec_id ASC) AS rk FROM pool)
           WHERE rk = 1),
         ${(2 to Similarity.mmrK).map { t =>
           val lam = Similarity.mmrLamTenths
           val mu = 10 - Similarity.mmrLamTenths
           s"""sel$t AS (
           SELECT q_id, vec_id, simq, penalty, score,
             CAST($t AS BIGINT) AS mmr_rank
           FROM (
             SELECT c.q_id, c.vec_id, c.simq, p.penalty,
               $lam * c.simq - $mu * p.penalty AS score,
               ROW_NUMBER() OVER (PARTITION BY c.q_id
                 ORDER BY $lam * c.simq - $mu * p.penalty DESC,
                   c.vec_id ASC) AS rk
             FROM pool c
             JOIN (SELECT ps.q_id, ps.a, MAX(ps.sim) AS penalty
                   FROM ps JOIN selu${t - 1} s
                     ON s.q_id = ps.q_id AND s.vec_id = ps.b
                   GROUP BY 1, 2) p
               ON p.q_id = c.q_id AND p.a = c.vec_id
             WHERE NOT EXISTS (SELECT 1 FROM selu${t - 1} s2
               WHERE s2.q_id = c.q_id AND s2.vec_id = c.vec_id))
           WHERE rk = 1),
         selu$t AS MATERIALIZED (SELECT * FROM selu${t - 1}
           UNION ALL SELECT * FROM sel$t)"""
         }.mkString(",\n         ")}
         SELECT q_id, vec_id, simq, penalty, CAST(score AS BIGINT)
           AS score, mmr_rank
         FROM selu${Similarity.mmrK}""",
    // q381: champion-list pruning — q114's oracle feeds both the
    // full and the tf-champion-restricted rankings.
    "q381_champion_lists" ->
      s"""WITH hits AS ($bm25OracleSql),
         fullr AS (
           SELECT term, doc_id FROM (
             SELECT term, doc_id, ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY score_micro DESC, doc_id ASC) AS rk FROM hits)
           WHERE rk <= ${TextAnalysis.championK}),
         champ AS (
           SELECT * FROM (
             SELECT hits.*, ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY tf DESC, doc_id ASC) AS crk FROM hits)
           WHERE crk <= ${TextAnalysis.championM}),
         pruned AS (
           SELECT term, doc_id, CAST(1 AS BIGINT) AS in_pruned FROM (
             SELECT term, doc_id, ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY score_micro DESC, doc_id ASC) AS prk FROM champ)
           WHERE prk <= ${TextAnalysis.championK}),
         dfreq AS (
           SELECT term, CAST(MAX(df) AS BIGINT) AS postings_full
           FROM hits GROUP BY 1),
         r AS (
           SELECT f.term, CAST(COUNT(*) AS BIGINT) AS n_full,
             CAST(SUM(COALESCE(p.in_pruned, 0)) AS BIGINT) AS n_overlap
           FROM fullr f LEFT JOIN pruned p
             ON p.term = f.term AND p.doc_id = f.doc_id
           GROUP BY 1)
         SELECT r.term, r.n_full, r.n_overlap, d.postings_full,
           CAST(LEAST(d.postings_full, ${TextAnalysis.championM}) AS BIGINT)
             AS postings_scanned,
           CAST(r.n_overlap * 1000000 // r.n_full AS BIGINT)
             AS recall_ppm,
           CAST((d.postings_full
             - LEAST(d.postings_full, ${TextAnalysis.championM})) * 1000000
             // d.postings_full AS BIGINT) AS scan_savings_ppm
         FROM r JOIN dfreq d USING (term)""",
    // q382: bot-regularity gate — division-free CV² in ppm over
    // user-keyed inter-event gaps.
    "q382_bot_gate" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS us, ts, event_id FROM events),
         g AS (
           SELECT user_id, us - lag(us) OVER w AS gap
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY us ASC, event_id ASC)),
         a AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS s,
             SUM(CAST(gap AS HUGEINT) * gap) AS q
           FROM g WHERE gap IS NOT NULL
           GROUP BY 1 HAVING COUNT(*) >= 5)
         SELECT user_id, n_gaps, CAST(s // n_gaps AS BIGINT)
             AS mean_gap_us,
           CAST((CAST(n_gaps AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
             * 1000000 // (CAST(s AS HUGEINT) * s) AS BIGINT) AS cv2_ppm,
           (CAST(n_gaps AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
             * 1000000 // (CAST(s AS HUGEINT) * s) < 40000 AS bot
         FROM a""",
    // q383: packing policy — ffdStepCtes (the q305 recursive
    // first-fit replay) with the lower-bound comparison tail.
    "q383_packing_policy" ->
      s"""WITH RECURSIVE $ffdStepCtes,
         fin AS (
           SELECT s.chunk, s.fills FROM step s
           JOIN (SELECT chunk, MAX(pos) AS mp FROM step GROUP BY 1) m
             ON m.chunk = s.chunk AND m.mp = s.pos),
         tot AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(item) AS BIGINT) AS total_items
           FROM items),
         bins AS (
           SELECT CAST(SUM(len(fills)) AS BIGINT) AS bins_ffd FROM fin)
         SELECT CAST(4096 AS BIGINT) AS capacity, t.n_docs,
           t.total_items, b.bins_ffd,
           CAST((t.total_items + 4095) // 4096 AS BIGINT) AS bins_lb,
           CAST(t.total_items * 1000000 // (b.bins_ffd * 4096) AS BIGINT)
             AS ffd_util_ppm,
           CAST(t.total_items * 1000000
             // (((t.total_items + 4095) // 4096) * 4096) AS BIGINT)
             AS lb_util_ppm,
           CAST((b.bins_ffd - (t.total_items + 4095) // 4096) * 1000000
             // ((t.total_items + 4095) // 4096) AS BIGINT)
             AS overhead_ppm
         FROM tot t, bins b""",
    // q384: mass-proportional systematic sample — q312's prefix sums
    // + closed-form grid-point counting, no RNG.
    "q384_systematic_sample" ->
      """WITH offs AS (
           SELECT doc_id, n_chars + 1 AS n_bytes,
             CAST(COALESCE(SUM(n_chars + 1) OVER (ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
           FROM documents),
         h AS (
           SELECT doc_id, start_offset, CAST(n_bytes AS BIGINT)
               AS n_bytes,
             CASE WHEN start_offset <= 512 THEN 0
               ELSE (start_offset - 512 + 1023) // 1024 END AS j0,
             CASE WHEN start_offset + n_bytes <= 512 THEN 0
               ELSE (start_offset + n_bytes - 512 + 1023) // 1024 END
               - CASE WHEN start_offset <= 512 THEN 0
                 ELSE (start_offset - 512 + 1023) // 1024 END AS n_hits
           FROM offs)
         SELECT CAST(j AS BIGINT) AS sample_idx,
           CAST(512 + j * 1024 AS BIGINT) AS position,
           doc_id, start_offset, n_bytes, CAST(n_hits AS BIGINT) AS n_hits
         FROM h, LATERAL (SELECT UNNEST(range(j0, j0 + n_hits)) AS j) t
         WHERE n_hits >= 1""",
    // q385: dedup yield curve — shingleCtes' pairs at the loosest
    // threshold, one arm per tightening threshold.
    "q385_dedup_yield" ->
      s"""WITH ${shingleCtes()},
         prs AS (
           ${jaccardPairs(s"id_a, id_b, $jaccardSql AS jaccard",
             s"${Dedup.yieldThresholdsPpm.head} / 1000000.0")}),
         toks AS (
           SELECT doc_id, CAST(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ntok
           FROM documents)
         ${Dedup.yieldThresholdsPpm.map { t =>
           s"""SELECT CAST($t AS BIGINT) AS threshold_ppm,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM prs
                WHERE jaccard >= $t / 1000000.0) AS n_pairs,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT DISTINCT id_b FROM prs
                  WHERE jaccard >= $t / 1000000.0)) AS n_docs_dropped,
              (SELECT CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM toks
                WHERE doc_id IN (SELECT DISTINCT id_b FROM prs
                  WHERE jaccard >= $t / 1000000.0)) AS tokens_recovered"""
         }.mkString("\n         UNION ALL\n         ")}""",
    // q386: source-concentration Gini — exact sorted-mass identity,
    // DECIMAL(38) products, one trailing micro DIV.
    "q386_source_gini" ->
      s"""WITH mass AS (
           SELECT source, CAST(SUM(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS x
           FROM documents GROUP BY 1),
         ranked AS (
           SELECT x,
             CAST(ROW_NUMBER() OVER (ORDER BY x ASC, source ASC)
               AS BIGINT) AS i,
             CAST(ROW_NUMBER() OVER (ORDER BY x DESC, source DESC)
               AS BIGINT) AS rd
           FROM mass),
         g AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
             CAST(SUM(x) AS BIGINT) AS total_tokens,
             SUM(CAST(i AS HUGEINT) * x) AS s_ix,
             CAST(SUM(CASE WHEN rd <= 1 THEN x ELSE 0 END) AS BIGINT)
               AS top1,
             CAST(SUM(CASE WHEN rd <= 3 THEN x ELSE 0 END) AS BIGINT)
               AS top3
           FROM ranked)
         SELECT n_sources, total_tokens,
           CAST(top1 * 1000000 // total_tokens AS BIGINT)
             AS top1_share_ppm,
           CAST(top3 * 1000000 // total_tokens AS BIGINT)
             AS top3_share_ppm,
           CAST((2 * s_ix - (CAST(n_sources AS HUGEINT) + 1)
             * total_tokens) * 1000000
             // (CAST(n_sources AS HUGEINT) * total_tokens) AS BIGINT)
             AS gini_ppm
         FROM g""",
    // q387: anisotropy — per-element micro floors into channel sums,
    // squares over the channel domain, nonneg-only divisions.
    "q387_anisotropy" ->
      s"""WITH u AS ($normalizedVectors),
         el AS (
           SELECT CAST(i - 1 AS BIGINT) AS channel,
             CAST(floor(1000000.0 * v[i]) AS BIGINT) AS xm
           FROM u, LATERAL (SELECT UNNEST(range(1, len(v) + 1)) AS i) t),
         byc AS (
           SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(xm) AS BIGINT) AS s_c
           FROM el GROUP BY 1),
         g AS (
           SELECT CAST(MAX(n_vecs) AS BIGINT) AS n_vecs,
             CAST(COUNT(*) AS BIGINT) AS dims,
             SUM(CAST(s_c AS HUGEINT) * s_c) AS ssq,
             CAST(MAX(ABS(s_c)) AS BIGINT) AS max_abs_s
           FROM byc)
         SELECT n_vecs, dims,
           CAST(ssq * 1000000 // (CAST(n_vecs AS HUGEINT) * n_vecs
             * 1000000000000) AS BIGINT) AS anisotropy_ppm,
           CAST(max_abs_s // n_vecs AS BIGINT) AS max_mean_channel_micro
         FROM g""",
    // q388: tokenizer migration — the q157 encode chain to v2 rounds
    // carries BOTH taps (s at the v1 rounds, s at the v2 rounds) in
    // one training; the select reads each round count.
    "q388_tokenizer_migration" ->
      (bpeEncodeChainSql(TextAnalysis.bpeRounds) +
        s"""SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(trim(a.stream, chr(1)),
             chr(1)||chr(1)))) AS BIGINT) AS tokens_v1,
           CAST(SUM(len(string_split(trim(b.stream, chr(1)),
             chr(1)||chr(1)))) AS BIGINT) AS tokens_v2,
           CAST(SUM(len(string_split(trim(a.stream, chr(1)),
               chr(1)||chr(1))))
             - SUM(len(string_split(trim(b.stream, chr(1)),
               chr(1)||chr(1)))) AS BIGINT) AS saved_tokens,
           CAST((SUM(len(string_split(trim(a.stream, chr(1)),
               chr(1)||chr(1))))
             - SUM(len(string_split(trim(b.stream, chr(1)),
               chr(1)||chr(1))))) * 1000000
             // SUM(len(string_split(trim(a.stream, chr(1)),
               chr(1)||chr(1)))) AS BIGINT) AS saved_ppm
         FROM s${TextAnalysis.bpeMigrationV1Rounds} a JOIN s${TextAnalysis.bpeRounds} b USING (doc_id)
         JOIN documents d ON d.doc_id = a.doc_id
         GROUP BY 1"""),
    // q389: shared-prefix mass — first-char buckets make the
    // sort-neighbor lcp identity exact (cross-bucket lcp = 0).
    "q389_prefix_mass" ->
      s"""WITH t AS (
           SELECT source, $normText AS s FROM documents
           WHERE length($normText) >= 1),
         lagged AS (
           SELECT source, s,
             lag(s) OVER (PARTITION BY source, substr(s, 1, 1)
               ORDER BY s ASC) AS prev
           FROM t),
         lcps AS (
           SELECT source, CAST(length(s) AS BIGINT) AS len_s,
             CASE WHEN prev IS NULL THEN 0
               WHEN COALESCE(list_position(
                 list_transform(range(1,
                   CAST(LEAST(length(s), length(prev)) AS BIGINT) + 1),
                   i -> substr(s, CAST(i AS INT), 1)
                     = substr(prev, CAST(i AS INT), 1)),
                 false), 0) = 0
               THEN CAST(LEAST(length(s), length(prev)) AS BIGINT)
               ELSE CAST(list_position(
                 list_transform(range(1,
                   CAST(LEAST(length(s), length(prev)) AS BIGINT) + 1),
                   i -> substr(s, CAST(i AS INT), 1)
                     = substr(prev, CAST(i AS INT), 1)),
                 false) - 1 AS BIGINT) END AS lcp
           FROM lagged)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len_s) AS BIGINT) AS total_chars,
           CAST(SUM(lcp) AS BIGINT) AS shared_chars,
           CAST(SUM(len_s) - SUM(lcp) AS BIGINT) AS trie_chars,
           CAST(SUM(lcp) * 1000000 // SUM(len_s) AS BIGINT) AS shared_ppm
         FROM lcps GROUP BY 1""",
    // q390: quality-vs-dup calibration — q212's scored docs against
    // shingleCtes' verified pair membership, fixed-width deciles.
    "q390_quality_dup" ->
      s"""WITH sc AS ($scoredDocsSql),
         ${shingleCtes()},
         prs AS (
           ${jaccardPairs("id_a, id_b")}),
         dup AS (
           SELECT DISTINCT doc_id FROM (
             SELECT id_a AS doc_id FROM prs
             UNION ALL SELECT id_b FROM prs)),
         j AS (
           SELECT LEAST(sc.score // 100000, 9) AS decile,
             CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
           FROM sc LEFT JOIN dup ON dup.doc_id = sc.doc_id)
         SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup,
           CAST(SUM(is_dup) * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
         FROM j GROUP BY 1""",
    // q391: splitter bias — q68's split rule, contingency margins,
    // division-free chi-square contributions in micro.
    "q391_splitter_bias" ->
      """WITH asg AS (
           SELECT d.source,
             CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                 1, 15))::BIGINT % 10 < 8 THEN 'train'
               WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                 1, 15))::BIGINT % 10 = 8 THEN 'val'
               ELSE 'test' END AS split
           FROM documents d),
         cells AS (
           SELECT split, source, CAST(COUNT(*) AS BIGINT) AS o
           FROM asg GROUP BY 1, 2),
         rt AS (SELECT split, CAST(SUM(o) AS BIGINT) AS r_tot
           FROM cells GROUP BY 1),
         ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c_tot
           FROM cells GROUP BY 1),
         nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
           FROM cells),
         contrib AS (
           SELECT c.split, c.source, c.o, rt.r_tot, ct.c_tot,
             CAST((CAST(c.o AS HUGEINT) * nn.n
                 - CAST(rt.r_tot AS HUGEINT) * ct.c_tot)
               * (CAST(c.o AS HUGEINT) * nn.n
                 - CAST(rt.r_tot AS HUGEINT) * ct.c_tot)
               * 1000000
               // (CAST(rt.r_tot AS HUGEINT) * ct.c_tot * nn.n)
               AS BIGINT) AS contrib_micro
           FROM cells c JOIN rt USING (split) JOIN ct USING (source),
             nn),
         gl AS (
           SELECT CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro,
             CAST((MAX(nn.n_splits) - 1) * (MAX(nn.n_sources) - 1)
               AS BIGINT) AS dof
           FROM contrib, nn)
         SELECT c.split, c.source, c.o, c.r_tot, c.c_tot,
           c.contrib_micro, g.chi2_micro, g.dof
         FROM contrib c, gl g""",
    // q392: cluster-size profile — componentCtes + keyedCte
    // (exact pairs; equal to the banded path whenever recall is
    // complete, the q22/q297 convention) + the size histogram.
    "q392_cluster_profile" ->
      s"""WITH RECURSIVE ${shingleCtes()},
         ${componentCtes("prs")},
         ${keyedCte()},
         sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS size
           FROM keyed GROUP BY 1),
         prof AS (
           SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(size * COUNT(*) AS BIGINT) AS n_docs
           FROM sz GROUP BY 1),
         tot AS (
           SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(SUM(n_clusters) AS BIGINT) AS total_clusters
           FROM prof)
         SELECT p.size, p.n_clusters, p.n_docs, t.total_docs,
           t.total_clusters,
           CAST(p.n_docs * 1000000 // t.total_docs AS BIGINT)
             AS doc_share_ppm
         FROM prof p, tot t""",
    // q393: epoch-shuffle independence — q257's md5 orders, adjacent
    // epochs joined on doc, fixed points + displacement.
    "q393_epoch_fixed_points" ->
      """WITH e AS (
           SELECT doc_id, ep.epoch,
             md5('ep' || CAST(ep.epoch AS VARCHAR) || ':' ||
               CAST(doc_id AS VARCHAR)) AS pri
           FROM documents, (SELECT UNNEST(range(0, 4)) AS epoch) ep),
         p AS (
           SELECT doc_id, epoch,
             CAST(ROW_NUMBER() OVER (PARTITION BY epoch
               ORDER BY pri ASC, doc_id ASC) AS BIGINT) AS pos
           FROM e)
         SELECT CAST(a.epoch AS BIGINT) AS epoch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN a.pos = b.pos THEN 1 ELSE 0 END) AS BIGINT)
             AS fixed_points,
           CAST(SUM(ABS(a.pos - b.pos)) AS BIGINT) AS sum_abs_disp,
           CAST(MAX(ABS(a.pos - b.pos)) AS BIGINT) AS max_disp,
           CAST(SUM(ABS(a.pos - b.pos)) * 1000 // COUNT(*) AS BIGINT)
             AS mean_disp_milli
         FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.epoch = a.epoch + 1
         GROUP BY 1""",
    // q394: Kneser-Ney discounts — bigram count-of-counts n1..n4 per
    // lang, Y and the three modified discounts in exact micro (D1
    // algebraically simplified to 1 - 2n2/(n1+2n2); HUGEINT products
    // for D2/D3; -1 sentinel on zero denominators).
    "q394_kn_discounts" ->
      s"""WITH words AS (
           SELECT lang, string_split($normText, ' ') AS w FROM documents),
         d AS (SELECT lang, w FROM words WHERE len(w) >= 2),
         bi AS (
           SELECT lang, w[i] AS w1, w[i + 1] AS w2
           FROM d, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) t),
         c AS (
           SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c
           FROM bi GROUP BY 1, 2, 3),
         g AS (
           SELECT lang, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(SUM(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
           FROM c GROUP BY 1)
         SELECT lang, n_bigrams, distinct_bigrams, n1, n2, n3, n4,
           CAST(CASE WHEN n1 + 2 * n2 = 0 THEN -1
             ELSE n1 * 1000000 // (n1 + 2 * n2) END AS BIGINT) AS y_micro,
           CAST(CASE WHEN n1 + 2 * n2 = 0 THEN -1
             ELSE 1000000 - 2 * n2 * 1000000 // (n1 + 2 * n2) END
             AS BIGINT) AS d1_micro,
           CAST(CASE WHEN n1 + 2 * n2 = 0 OR n2 = 0 THEN -1
             ELSE 2000000 - CAST(3 * CAST(n1 AS HUGEINT) * n3 * 1000000
               // (CAST(n1 + 2 * n2 AS HUGEINT) * n2) AS BIGINT) END
             AS BIGINT) AS d2_micro,
           CAST(CASE WHEN n1 + 2 * n2 = 0 OR n3 = 0 THEN -1
             ELSE 3000000 - CAST(4 * CAST(n1 AS HUGEINT) * n4 * 1000000
               // (CAST(n1 + 2 * n2 AS HUGEINT) * n3) AS BIGINT) END
             AS BIGINT) AS d3_micro
         FROM g""",
    // q395: term burstiness census — (lang, w, doc) incidence
    // pre-aggregate, per-term (cf, df), lang-domain reduce.
    "q395_burstiness" ->
      s"""WITH t AS (
           SELECT lang, doc_id,
             UNNEST(string_split($normText, ' ')) AS w
           FROM documents),
         i AS (
           SELECT lang, w, doc_id, CAST(COUNT(*) AS BIGINT) AS c
           FROM t WHERE length(w) >= 1 GROUP BY 1, 2, 3),
         pt AS (
           SELECT lang, w, CAST(SUM(c) AS BIGINT) AS cf,
             CAST(COUNT(*) AS BIGINT) AS df
           FROM i GROUP BY 1, 2),
         g AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(cf) AS BIGINT) AS n_tokens,
             CAST(SUM(df) AS BIGINT) AS n_incidences,
             CAST(SUM(CASE WHEN cf >= 2 * df THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bursty_terms,
             CAST(SUM(CASE WHEN cf >= 2 * df THEN cf ELSE 0 END) AS BIGINT)
               AS bursty_tokens
           FROM pt GROUP BY 1)
         SELECT lang, n_terms, n_tokens, n_incidences, n_bursty_terms,
           bursty_tokens,
           CAST(n_bursty_terms * 1000000 // n_terms AS BIGINT)
             AS bursty_terms_ppm,
           CAST(bursty_tokens * 1000000 // n_tokens AS BIGINT)
             AS bursty_mass_ppm,
           CAST(n_tokens * 1000000 // n_incidences AS BIGINT)
             AS burstiness_micro
         FROM g""",
    // q396: Matryoshka truncation recall — per-dim renormalized
    // truncated cosine top-k vs the full-dim exact top-k; the dim
    // grid, query count, and k are GENERATED from the same constants
    // the Spark defaults use.
    "q396_matryoshka_recall" ->
      s"""WITH q_ids AS (SELECT vec_id FROM embeddings
             ORDER BY vec_id LIMIT ${Similarity.mrlQueries}),
         ${(Similarity.mrlDims.map(Option(_)) :+ None).map { d =>
           val tag = d.map(_.toString).getOrElse("full")
           val sl = d.map(dd => s"embedding[1:$dd]").getOrElse("embedding")
           s"""u_$tag AS MATERIALIZED (
           SELECT vec_id, list_transform($sl,
             x -> CASE WHEN nrm > 0 THEN CAST(x AS DOUBLE) / nrm
                  ELSE 0.0 END) AS v
           FROM (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform($sl,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
             FROM embeddings)),
         top_$tag AS MATERIALIZED (
           SELECT q_id, vec_id FROM (
             SELECT q.vec_id AS q_id, u.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY CAST(floor(1000000.0 * list_sum(list_transform(
                   list_zip(qu.v, u.v), p -> p[1] * p[2]))) AS BIGINT)
                   DESC, u.vec_id ASC) AS rk
             FROM q_ids q
             JOIN u_$tag qu ON qu.vec_id = q.vec_id
             JOIN u_$tag u ON u.vec_id != q.vec_id)
           WHERE rk <= ${Similarity.mrlK})"""
         }.mkString(",\n         ")}
         ${Similarity.mrlDims.map { dd =>
           s"""SELECT CAST($dd AS BIGINT) AS dim,
              CAST(COUNT(*) AS BIGINT) AS n_ranked,
              CAST(SUM(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
              CAST(${Similarity.mrlK} AS BIGINT) AS k,
              CAST(SUM(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
            FROM top_$dd t LEFT JOIN top_full f
              ON f.q_id = t.q_id AND f.vec_id = t.vec_id"""
         }.mkString("\n         UNION ALL\n         ")}"""
  )

  /** The 2a SQL of q04, shared by q18 and the q19/q59/q63/q82/q106 lifecycles. */
  private val agg2aOracle: String =
    """SELECT substr(event_type, 1, 4) AS etype_prefix,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1"""

  /** q06's global money sum, shared by the q403 reduction tree. */
  private val globalSumOracle: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price, COUNT(*) AS n_rows FROM lineitem"""

  /** q60's exact probe-user counts, shared by the q159 streaming CMS. */
  private val cmsProbeOracle: String =
    """SELECT event_type, user_id, COUNT(*) AS n_exact,
         TRUE AS approx_ok
         FROM events WHERE user_id < 10 GROUP BY 1, 2"""

  /** q39's exact distinct-user counts, shared by the q67 daily HLL merge. */
  private val hllExactOracle: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
         TRUE AS approx_ok FROM events GROUP BY 1"""

  /** q117's last-writer-wins CDC replay, shared by the q120 stream apply. */
  private val cdcReplayOracle: String =
    """WITH log AS (
           SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op,
             CAST(value AS DECIMAL(18,2)) AS v
           FROM events),
         r AS (
           SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
           FROM log)
         SELECT user_id, op AS last_op, ts AS last_ts,
           CASE WHEN op = 'D' THEN NULL
                ELSE CAST(v * 100 AS BIGINT) END AS last_value_cents,
           op <> 'D' AS is_live, n_changes
         FROM r WHERE rn = 1"""

  /** q14's window top-per-key SQL — shared verbatim by q89 (bounded
    * TopK aggregate): the alternative plan is a row-identity contract,
    * and sharing the val makes the identity structural (an edit to
    * one cannot silently decouple the twin).
    */
  private val windowTopOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
             FROM orders) WHERE rk <= 2"""

  /** q107's watermark-finalized session-segment SQL — shared
    * verbatim by q143 (the transformWithState twin): q33's
    * sessionize, cents-exact money, minus the per-user tail session
    * the stream's watermark never finalizes (emitted iff
    * last-event + gap ≤ max-event-time − watermark delay).
    */
  private val sessionSegmentsOracle: String =
    s"""WITH ${sessionCtes()},
       sess AS (
         SELECT user_id, session_idx,
           MIN(epoch_us(ts)) AS t_start_us, MAX(epoch_us(ts)) AS t_end_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
         FROM numbered GROUP BY 1, 2),
       last AS (SELECT user_id, MAX(session_idx) AS last_idx FROM sess GROUP BY 1),
       wm AS (SELECT epoch_us(MAX(ts)) // 1000 - 3600000 AS w FROM events)
       SELECT s.user_id, s.t_start_us, s.t_end_us, s.n_events, s.sum_value
       FROM sess s JOIN last l ON s.user_id = l.user_id CROSS JOIN wm
       WHERE s.session_idx < l.last_idx
          OR s.t_end_us // 1000 + 1800000 <= wm.w"""

  /** q73's gap-sessionization SQL — shared verbatim by q140 (the
    * streaming session_window twin): Spark merges events exactly
    * gapDuration apart, so a NEW session starts only when the gap is
    * STRICTLY greater than 30 min; event_id rides the cumsum
    * tiebreak so tied timestamps order deterministically.
    */
  private val sessionWindowOracle: String =
    s"""WITH ${sessionCtes("s_idx")}
       SELECT user_id, MIN(ts) AS t_start,
         MAX(ts) + INTERVAL 30 MINUTES AS t_end,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM numbered GROUP BY user_id, s_idx"""

  /** q16's hourly aggregate SQL — shared verbatim by q47 (streaming
    * twin) and q81 (streaming + production file sink): same contract,
    * different plan/lifecycle.
    */
  private val eventsHourlyOracle: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events GROUP BY 1, 2"""

  /** q10's fact-fact revenue SQL — shared verbatim by q49 (salted)
    * and q53 (bucketed): the rewrites are row-identity contracts.
    */
  private val joinRevenueOracle: String =
    """SELECT o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY 1"""

  /** Generated q196 oracle: the same repeated-squaring multiply
    * chains as Dedup.lshPlanner — NO pow(), no floors; every literal
    * double-cast so DuckDB never routes through DECIMAL arithmetic.
    */
  private def lshPlannerOracle: String = {
    def tr(t: String): String = {
      val x = s"CAST($t AS DOUBLE)"
      val x2 = s"($x * $x)"; val x4 = s"($x2 * $x2)"
      val x8 = s"($x4 * $x4)"
      s"CASE WHEN r = 1 THEN $x WHEN r = 2 THEN $x2 " +
        s"WHEN r = 4 THEN $x4 WHEN r = 8 THEN $x8 ELSE ($x8 * $x8) END"
    }
    val grid = (for {
      b <- Seq(2, 4, 8, 16, 32); r <- Seq(1, 2, 4, 8, 16)
      if b * r <= 128
    } yield s"($b, $r)").mkString(", ")
    s"""WITH grid(b, r) AS (VALUES $grid),
       t0 AS (SELECT b, r,
         CAST(1 AS DOUBLE) - (${tr("0.9")}) AS q9,
         CAST(1 AS DOUBLE) - (${tr("0.6")}) AS q6,
         CAST(1 AS DOUBLE) - (${tr("0.3")}) AS q3
         FROM grid),
       t1 AS (SELECT *, q9 * q9 AS q9_2, q6 * q6 AS q6_2,
         q3 * q3 AS q3_2 FROM t0),
       t2 AS (SELECT *, q9_2 * q9_2 AS q9_4, q6_2 * q6_2 AS q6_4,
         q3_2 * q3_2 AS q3_4 FROM t1),
       t3 AS (SELECT *, q9_4 * q9_4 AS q9_8, q6_4 * q6_4 AS q6_8,
         q3_4 * q3_4 AS q3_8 FROM t2),
       t4 AS (SELECT *, q9_8 * q9_8 AS q9_16, q6_8 * q6_8 AS q6_16,
         q3_8 * q3_8 AS q3_16 FROM t3),
       p AS (SELECT b, r, CAST(b * r AS BIGINT) AS k_bits,
         CAST(1 AS DOUBLE) - (CASE WHEN b = 2 THEN q9_2
           WHEN b = 4 THEN q9_4 WHEN b = 8 THEN q9_8
           WHEN b = 16 THEN q9_16 ELSE q9_16 * q9_16 END) AS p_catch_090,
         CAST(1 AS DOUBLE) - (CASE WHEN b = 2 THEN q6_2
           WHEN b = 4 THEN q6_4 WHEN b = 8 THEN q6_8
           WHEN b = 16 THEN q6_16 ELSE q6_16 * q6_16 END) AS p_design_060,
         CAST(1 AS DOUBLE) - (CASE WHEN b = 2 THEN q3_2
           WHEN b = 4 THEN q3_4 WHEN b = 8 THEN q3_8
           WHEN b = 16 THEN q3_16 ELSE q3_16 * q3_16 END) AS p_fp_030
         FROM t4)
       SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r, k_bits,
         p_catch_090, p_design_060, p_fp_030,
         p_catch_090 - p_fp_030 AS separation,
         CAST(ROW_NUMBER() OVER (
           ORDER BY p_catch_090 - p_fp_030 DESC, b ASC, r ASC)
           AS INTEGER) AS rk
       FROM p"""
  }

  /** SQL twin of TextAnalysis.quality — shared by q41 and q69. */
  private val qualityOracle: String =
    """SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS BIGINT) AS n_stopwords,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
       CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|for|on|with)\b')) AS DOUBLE) /
         CAST(GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(regexp_extract_all(trim(text), '\S+')) END, 1) AS DOUBLE) AS stopword_ratio,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) /
         CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio,
       CAST(length(text) AS DOUBLE) /
         CAST(GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(regexp_extract_all(trim(text), '\S+')) END, 1) AS DOUBLE) AS mean_token_len
       FROM documents"""

  /** q141 oracle body, shared verbatim with the q215/q216 replays. */
  private val perplexityOracle: String =
    """WITH train_bg AS (
           SELECT substr(text, CAST(i AS INT), 2) AS bg
           FROM (SELECT text, unnest(range(1, length(text))) AS i
                 FROM documents WHERE lang = 'en')),
         model AS (SELECT bg, COUNT(*) AS c FROM train_bg GROUP BY bg),
         ctx AS (SELECT substr(bg, 1, 1) AS c1,
                   CAST(SUM(c) AS BIGINT) AS u
                 FROM model GROUP BY 1),
         vocab AS (SELECT CAST(COUNT(DISTINCT substr(bg, 1, 1)) AS BIGINT)
                     AS v FROM model),
         doc_bg AS (
           SELECT doc_id, lang, substr(text, CAST(i AS INT), 2) AS bg
           FROM (SELECT doc_id, lang, text,
                   unnest(range(1, length(text))) AS i
                 FROM documents WHERE length(text) >= 2))
         SELECT d.doc_id, d.lang,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(floor(1000000.0 * ln(
               CAST(COALESCE(m.c, 0) + 1 AS DOUBLE) /
               CAST(COALESCE(x.u, 0) + v.v AS DOUBLE))) AS BIGINT))
             AS BIGINT) AS ll_micro,
           CAST(-(CAST(SUM(CAST(floor(1000000.0 * ln(
               CAST(COALESCE(m.c, 0) + 1 AS DOUBLE) /
               CAST(COALESCE(x.u, 0) + v.v AS DOUBLE))) AS BIGINT))
             AS BIGINT)) AS DOUBLE) /
             (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS avg_nll
         FROM doc_bg d
         LEFT JOIN model m ON m.bg = d.bg
         LEFT JOIN ctx x ON x.c1 = substr(d.bg, 1, 1)
         CROSS JOIN vocab v
         GROUP BY d.doc_id, d.lang"""

  /** SQL twin of TextAnalysis.perplexityGate (q216): q141 scores,
    * exact integer per-bigram NLL, tercile by rank arithmetic.
    */
  private def perplexityGateOracle: String =
    s"""WITH scored AS MATERIALIZED (
         SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST((-ll_micro) // n_bigrams AS BIGINT) AS nll_avg_micro
         FROM ($perplexityOracle) b),
       nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
       rk AS (SELECT doc_id, n_bigrams, nll_avg_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY nll_avg_micro ASC,
             doc_id ASC) AS BIGINT) AS rk
         FROM scored)
       SELECT doc_id, n_bigrams, nll_avg_micro,
         CAST((3 * (rk - 1)) // nn.n AS BIGINT) AS tercile,
         (3 * (rk - 1)) // nn.n < 2 AS keep
       FROM rk, nn"""

  /** Generated SQL twin of TextAnalysis.mixtureReweight (q215): the
    * per-domain loss from the q141 replay, then `rounds` generated
    * MWU rounds over the 5-row domain table — HUGEINT sums and //
    * match the driver loop's Long truncating arithmetic exactly.
    */
  private def mixtureReweightOracleSql(rounds: Int): String = {
    val base =
      s"""dom AS MATERIALIZED (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(CAST(SUM((-ll_micro) // n_bigrams) AS HUGEINT) //
               COUNT(*) AS BIGINT) AS loss_micro
           FROM ($perplexityOracle) b GROUP BY 1),
         w0 AS MATERIALIZED (
             SELECT lang, n_docs, loss_micro,
             CAST(1000000 AS BIGINT) AS w FROM dom)"""
    val per = (1 to rounds).flatMap { r =>
      Seq(
        // every CTE MATERIALIZED: w{r-1} is referenced twice per
        // round (a_r and u_r) and default inlining would expand the
        // q141 subquery 2^rounds times — the q155 lesson
        s"""a$r AS MATERIALIZED (
             SELECT CAST(CAST(SUM(w * loss_micro) AS HUGEINT) //
             CAST(SUM(w) AS HUGEINT) AS BIGINT) AS avg FROM w${r - 1})""",
        s"""u$r AS MATERIALIZED (
             SELECT lang, n_docs, loss_micro,
             CAST(w * GREATEST(100, 1000000 +
               (loss_micro - a.avg) // 8) // 1000000 AS BIGINT) AS w
           FROM w${r - 1}, a$r a)""",
        s"""s$r AS MATERIALIZED (
             SELECT CAST(SUM(w) AS HUGEINT) AS sw FROM u$r)""",
        s"""w$r AS MATERIALIZED (
             SELECT lang, n_docs, loss_micro,
             CAST(CAST(w AS HUGEINT) * 1000000 // sw AS BIGINT) AS w
           FROM u$r, s$r)""")
    }
    (Seq(base) ++ per).mkString("WITH ", ",\n", "\n") +
      s"SELECT lang, n_docs, loss_micro, w AS w_micro FROM w$rounds"
  }

  /** Generated DuckDB replay of Similarity.dominantEigen (q214): C
    * from the same micro-floored outer products, then `iters` rounds
    * of matrix-vector product + truncating renormalization as
    * MATERIALIZED CTEs (the q155 device). DuckDB SUM(BIGINT) is
    * HUGEINT, // truncates toward zero — exactly BigInt semantics,
    * so every intermediate matches the driver-side loop bit for bit.
    */
  private def dominantEigenOracleSql(iters: Int): String = {
    val base =
      """em AS MATERIALIZED (
           SELECT list_transform(embedding,
             x -> CAST(FLOOR(1000000.0 * CAST(x AS DOUBLE)) AS BIGINT))
             AS em
           FROM embeddings WHERE embedding IS NOT NULL),
         cv AS MATERIALIZED (
           SELECT CAST(j - 1 AS BIGINT) AS j, CAST(k - 1 AS BIGINT) AS k,
             CAST(SUM(em[j] * em[k]) AS HUGEINT) AS c
           FROM em,
             LATERAL (SELECT UNNEST(range(1, 65)) AS j) a,
             LATERAL (SELECT UNNEST(range(1, 65)) AS k) b
           GROUP BY 1, 2),
         v0 AS MATERIALIZED (
           SELECT CAST(j AS BIGINT) AS j, CAST(1000000 AS HUGEINT) AS v
           FROM range(64) t(j))"""
    val rounds = (1 to iters).flatMap { r =>
      Seq(
        s"""w$r AS MATERIALIZED (
           SELECT cv.j AS j, SUM(cv.c * v.v) AS w
           FROM cv JOIN v${r - 1} v ON cv.k = v.j GROUP BY 1)""",
        s"""m$r AS (SELECT MAX(ABS(w)) AS m FROM w$r)""",
        s"""v$r AS MATERIALIZED (
           SELECT p.j,
             CASE WHEN m.m = 0 THEN p.v
               ELSE w.w * 1000000 // m.m END AS v
           FROM v${r - 1} p JOIN w$r w ON w.j = p.j, m$r m)""")
    }
    val tail =
      s"""vv AS (SELECT SUM(v * v) AS vv FROM v$iters),
         cvf AS (SELECT cv.j, SUM(cv.c * v.v) AS w
                 FROM cv JOIN v$iters v ON cv.k = v.j GROUP BY 1),
         vcv AS (SELECT SUM(v.v * cvf.w) AS vcv
                 FROM v$iters v JOIN cvf ON cvf.j = v.j)
         SELECT CAST(v.j AS BIGINT) AS dim, CAST(v.v AS BIGINT) AS v_micro,
           CAST(CASE WHEN vv.vv = 0 THEN -1
             ELSE vcv.vcv // vv.vv END AS BIGINT) AS lambda_scaled
         FROM v$iters v, vv, vcv"""
    (Seq(base) ++ rounds :+ tail).mkString("WITH ", ",\n", "")
  }

  /** Generated SQL twin of Experiment.markovStationary (q232). */
  private def markovStationaryOracleSql(iters: Int): String = {
    val base =
      """counts AS MATERIALIZED (
           SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM (
             SELECT event_type AS from_type,
               LEAD(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC) AS to_type
             FROM events) t
           WHERE to_type IS NOT NULL
           GROUP BY 1, 2),
         states AS MATERIALIZED (
           SELECT from_type AS state FROM counts
           UNION SELECT to_type FROM counts),
         rowsums AS MATERIALIZED (
           SELECT from_type AS state, CAST(SUM(n) AS BIGINT) AS rsum
           FROM counts GROUP BY 1),
         pi0 AS MATERIALIZED (
           SELECT state, CAST(1000000 AS BIGINT) AS pi FROM states)"""
    val rounds = (1 to iters).flatMap { r =>
      Seq(
        s"""r$r AS MATERIALIZED (
           SELECT st.state,
             CAST(COALESCE(SUM((p.pi * c.n) // rs.rsum), 0) AS BIGINT)
               AS pi
           FROM states st
           LEFT JOIN counts c ON c.to_type = st.state
           LEFT JOIN pi${r - 1} p ON p.state = c.from_type
           LEFT JOIN rowsums rs ON rs.state = c.from_type
           GROUP BY 1)""",
        s"""s$r AS (SELECT CAST(SUM(pi) AS HUGEINT) AS sp FROM r$r)""",
        s"""pi$r AS MATERIALIZED (
           SELECT state,
             CASE WHEN s.sp = 0 THEN p.pi
               ELSE CAST(CAST(r.pi AS HUGEINT) * 1000000 // s.sp
                 AS BIGINT) END AS pi
           FROM r$r r JOIN pi${r - 1} p USING (state), s$r s)""")
    }
    (Seq(base) ++ rounds).mkString("WITH ", ",\n", "\n") +
      s"""SELECT st.state,
           CAST(COALESCE(rs.rsum, 0) AS BIGINT) AS n_out,
           p.pi AS pi_micro
         FROM states st
         JOIN pi$iters p USING (state)
         LEFT JOIN rowsums rs USING (state)"""
  }

  /** Generated SQL twin of Preference.bradleyTerry (q270): the q269
    * contest/win CTEs, then each MM round as MATERIALIZED CTEs over
    * the bounded alternatives domain (the q232 iterative-oracle
    * device). All divisions are floor-on-nonnegatives, so DuckDB's
    * `//` and Scala's BigInt `/` agree term by term.
    */
  private def bradleyTerryOracleSql(iters: Int): String = {
    val base =
      s"""$spendCentsCte,
         ranked AS (
           SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id, d
               ORDER BY cents DESC, event_type ASC) AS BIGINT) AS rk
           FROM cents),
         wins AS MATERIALIZED (
           SELECT a.event_type AS winner, b.event_type AS loser,
             CAST(COUNT(*) AS BIGINT) AS n_wins
           FROM ranked a JOIN ranked b ON a.user_id = b.user_id
             AND a.d = b.d AND a.rk < b.rk
           GROUP BY 1, 2),
         types AS MATERIALIZED (
           SELECT winner AS t FROM wins UNION SELECT loser FROM wins),
         nm AS MATERIALIZED (
           SELECT a, b, CAST(SUM(w) AS BIGINT) AS nij FROM (
             SELECT winner AS a, loser AS b, n_wins AS w FROM wins
             UNION ALL
             SELECT loser AS a, winner AS b, n_wins AS w FROM wins) u
           GROUP BY 1, 2),
         wi AS MATERIALIZED (
           SELECT ty.t, CAST(COALESCE(SUM(w.n_wins), 0) AS BIGINT) AS wi
           FROM types ty LEFT JOIN wins w ON w.winner = ty.t GROUP BY 1),
         pi0 AS MATERIALIZED (
           SELECT t, CAST(1000000 AS HUGEINT) AS pi FROM types)"""
    val rounds = (1 to iters).flatMap { r =>
      Seq(
        s"""d$r AS MATERIALIZED (
           SELECT ty.t,
             CAST(COALESCE(SUM((n.nij * 1000000) // (pa.pi + pb.pi)), 0)
               AS HUGEINT) AS denom
           FROM types ty
           LEFT JOIN nm n ON n.a = ty.t
           LEFT JOIN pi${r - 1} pa ON pa.t = n.a
           LEFT JOIN pi${r - 1} pb ON pb.t = n.b
           GROUP BY 1)""",
        s"""raw$r AS MATERIALIZED (
           SELECT ty.t, CASE WHEN d.denom = 0 THEN p.pi
             ELSE (w.wi * CAST(1000000 AS HUGEINT) * 1000000) // d.denom
             END AS raw
           FROM types ty
           JOIN d$r d ON d.t = ty.t
           JOIN pi${r - 1} p ON p.t = ty.t
           JOIN wi w ON w.t = ty.t)""",
        s"""s$r AS (SELECT CAST(SUM(raw) AS HUGEINT) AS sp FROM raw$r)""",
        s"""pi$r AS MATERIALIZED (
           SELECT r.t, CASE WHEN s.sp = 0 THEN p.pi
             ELSE (r.raw * 1000000) // s.sp END AS pi
           FROM raw$r r JOIN pi${r - 1} p ON p.t = r.t, s$r s)""")
    }
    (Seq(base) ++ rounds).mkString("WITH ", ",\n", "\n") +
      s"""SELECT ty.t AS event_type, w.wi AS n_wins,
           CAST(p.pi AS BIGINT) AS strength_micro
         FROM types ty
         JOIN wi w ON w.t = ty.t
         JOIN pi$iters p ON p.t = ty.t"""
  }

  /** q22 oracle body (exact-Jaccard verified pairs), shared with q21
    * (exhaustive shingle Jaccard) and the q220 replay.
    */
  private lazy val minhashPairsOracle: String =
    s"""WITH ${shingleCtes()}
         ${jaccardPairs(s"id_a, id_b, n_common, $jaccardSql AS jaccard")}"""

  /** Exhaustive near-dup SQL restricted to pairs touching the new
    * batch — shared verbatim by q45 (in-session) and q46 (persisted
    * signatures): the two operators differ only in plan, never in
    * contract.
    */
  private lazy val incrementalDedupOracle: String =
    s"""$minhashPairsOracle
         AND (id_a % 5 = 0 OR id_b % 5 = 0)"""

  /** q30/q31 oracle bodies, shared with the q228 recall audit. */
  private lazy val annBruteOracle: String =
    s"""WITH u AS ($normalizedVectors),
         q AS (SELECT vec_id AS q_id, v AS qv FROM u
               WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5)),
         s AS (SELECT q_id, u.vec_id,
                 list_sum(list_transform(list_zip(qv, u.v), p -> p[1]*p[2])) AS cosine
               FROM q JOIN u ON u.vec_id != q.q_id)
         SELECT q_id, vec_id, cosine, CAST(rk AS INTEGER) AS rk FROM (
           SELECT q_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rk
           FROM s)
         WHERE rk <= 10"""

  private lazy val annLshOracle: String =
    s"""WITH u AS ($normalizedVectors),
         codes AS (
           SELECT vec_id,
             SUM(CASE WHEN s >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
           FROM (
             SELECT vec_id, p,
               list_sum(list_transform(range(1, len(v) + 1), i ->
                 v[i] * (('0x' || substr(md5(p::VARCHAR || '_' || (i - 1)::VARCHAR), 1, 15))::BIGINT
                   / 1152921504606846976.0 - 0.5))) AS s
             FROM u, (SELECT UNNEST(range(32)) AS p) planes)
           GROUP BY 1),
         chunks AS (
           SELECT vec_id, c, (bucket >> (c * 4)) & 15 AS ck
           FROM codes, (SELECT UNNEST(range(8)) AS c) t),
         qids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5),
         cand AS (
           SELECT DISTINCT q.vec_id AS q_id, c.vec_id
           FROM chunks c
           JOIN chunks q ON c.c = q.c AND c.ck = q.ck
           WHERE q.vec_id IN (SELECT vec_id FROM qids)
             AND c.vec_id != q.vec_id),
         $cosineTop10Sql"""

  /** SQL twin of TextAnalysis.bm25Search (q114); also the stage-1
    * base of q246.
    */
  private def bm25OracleSql: String =
    s"""WITH d AS (
           SELECT doc_id, string_split($normText, ' ') AS tks
           FROM documents),
         p AS (SELECT doc_id, CAST(len(tks) AS BIGINT) AS dl,
                 UNNEST(['spark','query','merge','vector']) AS term, tks
               FROM d),
         q AS (SELECT doc_id, dl, term,
                 CAST(len(list_filter(tks, x -> x = term)) AS BIGINT) AS tf
               FROM p WHERE len(list_filter(tks, x -> x = term)) > 0),
         dfreq AS (SELECT term, COUNT(*) AS df FROM q GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n_docs,
                     AVG(CAST(len(tks) AS BIGINT)) AS avgdl FROM d)
         SELECT q.term, q.doc_id, q.tf, dfreq.df, q.dl,
           CAST(FLOOR(1000000 *
             (ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (q.tf * 2.2)
              / (q.tf + 1.2 * (0.25 + 0.75 * q.dl / stats.avgdl))))
             AS BIGINT) AS score_micro
         FROM q JOIN dfreq USING (term) CROSS JOIN stats"""

  /** q251 oracle: the same fixed-point columns, HUGEINT sufficient
    * statistics, and two-step truncating-division statistic the Spark
    * side computes in DECIMAL(38,0) — generated so the 10 product
    * columns and 6 pair rows can't drift between the engines.
    */
  private def corrMatrixOracleSql: String = {
    val names = Seq("qty", "price", "disc", "tax")
    val defs = Seq(
      "CAST(l_quantity AS BIGINT) AS qty",
      "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS price",
      "CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc",
      "CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS tax")
    val prods = for (i <- names.indices; j <- i until names.length) yield {
      val (a, b) = (names(i), names(j))
      // BIGINT multiply mirrors the Spark side's long products (both
      // raise loudly on overflow); the HUGEINT widening happens at
      // the A/B/C stage, same as the operator.
      s"SUM($a * $b) AS p_${a}_$b"
    }
    val sums = names.map(n => s"CAST(SUM($n) AS BIGINT) AS s_$n")
    val pairRows = (for {
      i <- names.indices; j <- (i + 1) until names.length
    } yield {
      val (a, b) = (names(i), names(j))
      s"""SELECT '$a~$b' AS pair, n, s_$a AS sum_x, s_$b AS sum_y,
             n::HUGEINT * p_${a}_$b - s_$a::HUGEINT * s_$b AS a_num,
             n::HUGEINT * p_${a}_$a - s_$a::HUGEINT * s_$a AS b_den,
             n::HUGEINT * p_${b}_$b - s_$b::HUGEINT * s_$b AS c_den
           FROM s"""
    }).mkString("\n         UNION ALL\n")
    s"""WITH v AS (SELECT ${defs.mkString(",\n           ")} FROM lineitem),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             ${(sums ++ prods).mkString(",\n             ")}
           FROM v),
         m AS ($pairRows)
         SELECT pair, n, sum_x, sum_y,
           CAST(a_num AS BIGINT) AS a_num,
           CAST(CASE WHEN b_den * c_den < 1000000 THEN 0
             ELSE (CASE WHEN a_num < 0 THEN -1
                        WHEN a_num > 0 THEN 1 ELSE 0 END) *
               ((a_num * a_num) // ((b_den * c_den) // 1000000))
           END AS BIGINT) AS r2_signed_ppm
         FROM m"""
  }

  /** Shared (doc_id, score, is_en) SQL body — the q212/q218 scored
    * frame (Experiment.rocAucScored's twin).
    */
  private def scoredDocsSql: String = {
    val scores = TextAnalysis.langMarkers.map { case (lang, ws) =>
      lang -> s"len(regexp_extract_all(text, '\\b(${ws.mkString("|")})\\b'))"
    }
    val best = scores.map(_._2).reduce((a, b) => s"GREATEST($a, $b)")
    val en = scores.toMap.apply("en")
    val nTok = """CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_extract_all(trim(text), '\S+')) END"""
    val nStop = s"len(regexp_extract_all(text, '\\b(${TextAnalysis.stopwords.mkString("|")})\\b'))"
    s"""SELECT doc_id,
           CAST(FLOOR(1000000.0 * (CAST($nStop AS DOUBLE) /
             CAST(GREATEST($nTok, 1) AS DOUBLE))) AS BIGINT) AS score,
           ($en = $best AND $best > 0) AS is_en
         FROM documents"""
  }

  /** SQL twin of Experiment.rocAuc: the q41 stopword/token twins for
    * the score, the q40 marker argmax for the label (en is FIRST in
    * the declared tie order, so pred = 'en' iff en-score == best and
    * best > 0), then the doubled-rank Mann-Whitney identity.
    */
  private def rocAucOracle: String = {
    s"""WITH sc AS (
         $scoredDocsSql),
       $scoreRankCtes,
       agg AS (
         SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(c) - SUM(p) AS BIGINT) AS n_neg,
           CAST(SUM(p * (2 * cum + c + 1)) AS BIGINT) AS r2_pos
         FROM rk)
       SELECT n_pos, n_neg,
         CAST(r2_pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
         CASE WHEN n_pos = 0 OR n_neg = 0 THEN -1
           ELSE CAST(FLOOR(1000000.0 *
             CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE) /
             (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)))
             AS BIGINT) END AS auc_micro
       FROM agg"""
  }

  /** SQL twin of Experiment.calibrationBins (q218). */
  private def calibrationBinsOracle: String =
    s"""WITH sc AS (
         $scoredDocsSql),
       b AS (
         SELECT LEAST(CAST(FLOOR(CAST(score AS DOUBLE) / 100000.0)
           AS BIGINT), 9) AS bin, score, is_en
         FROM sc),
       g AS (
         SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(score) AS BIGINT) AS ssum,
           CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS pos
         FROM b GROUP BY 1)
       SELECT bin, n,
         CAST(ssum // n AS BIGINT) AS mean_score_micro,
         CAST((pos * 1000000) // n AS BIGINT) AS rate_micro,
         CAST(ssum // n - (pos * 1000000) // n AS BIGINT) AS gap_micro,
         CAST((CAST(n AS HUGEINT) * (ssum // n - (pos * 1000000) // n) *
           (ssum // n - (pos * 1000000) // n)) // 1000000 AS BIGINT)
           AS weighted_sq_gap_micro
       FROM g"""

  /** SQL twin of Experiment.langIdKappa (q225). */
  private def langIdKappaOracle: String =
    s"""WITH cells AS (
         SELECT t.lang_true, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT doc_id, lang AS lang_true FROM documents) t
         JOIN ($langIdOracle) p USING (doc_id)
         GROUP BY 1, 2),
       r AS (SELECT lang_true AS k, CAST(SUM(n) AS BIGINT) AS r
             FROM cells GROUP BY 1),
       c AS (SELECT lang_pred AS k, CAST(SUM(n) AS BIGINT) AS c
             FROM cells GROUP BY 1),
       rc AS (SELECT CAST(SUM(COALESCE(r.r, 0) * COALESCE(c.c, 0))
           AS BIGINT) AS src
         FROM r FULL OUTER JOIN c USING (k)),
       d AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
           CAST(SUM(CASE WHEN lang_true = lang_pred THEN n ELSE 0 END)
             AS BIGINT) AS sdiag
         FROM cells)
       SELECT d.nn AS n, d.sdiag AS n_agree, rc.src AS sum_rc,
         CASE WHEN d.nn * d.nn = rc.src THEN -1
           ELSE CAST(FLOOR(1000000.0 *
             CAST(d.nn * d.sdiag - rc.src AS DOUBLE) /
             CAST(d.nn * d.nn - rc.src AS DOUBLE)) AS BIGINT) END
           AS kappa_micro
       FROM d, rc"""

  /** SQL twin of TextAnalysis.langId: same marker sets, same argmax
    * tie order.
    */
  private def langIdOracle: String = {
    val scores = TextAnalysis.langMarkers.map { case (lang, ws) =>
      lang -> s"len(regexp_extract_all(text, '\\b(${ws.mkString("|")})\\b'))"
    }
    val best = scores.map(_._2).reduce((a, b) => s"GREATEST($a, $b)")
    val cases = scores.map { case (lang, s) =>
      s"WHEN $s = best AND best > 0 THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id,
       CASE ${cases} ELSE 'und' END AS lang_pred,
       CAST(best AS BIGINT) AS marker_hits
       FROM (SELECT doc_id, text, $best AS best FROM documents)"""
  }
}
