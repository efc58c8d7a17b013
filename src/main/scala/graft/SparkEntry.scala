package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CanonProbes, Dedup, Events, Maintenance, Multimodal, Relational, Similarity, StreamingBatch, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §6
  * (oracle-parity rules). Every operator claimed done in SURVEY.md has a
  * `queries` entry; SQL-expressible ones also have an `oracleSql` entry
  * that DuckDB runs over the same parquet tables.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q17MultiJoinChain(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Every builder starts from an EMPTY [[graft.plans.MvRegistry]]: the
    * MV entries (c16/c16b/s17) register their rollup at build time and
    * the rewrite fires lazily when the harness executes the returned
    * DataFrame, so a `finally`-unregister inside the entry would defeat
    * the rewrite — instead the registration is scoped to last exactly
    * until the NEXT entry is built. Verify and Bench both build+execute
    * entries strictly sequentially, so no other query's aggregate can be
    * silently answered from a stale rollup (which would contaminate its
    * bench timing and tie its correctness to summary freshness).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> { (s: SparkSession, d: String) =>
        graft.plans.MvRegistry.clear()
        graft.plans.StatsPlanner.StatsRegistry.clear()
        fn(s, d)
      }
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 relational
    "q1_agg"                 -> (Relational.q1Agg _),
    "q2_filter_project"      -> (Relational.q2FilterProject _),
    "q3_join_agg"            -> (Relational.q3JoinAgg _),
    "q4_broadcast_join"      -> (Relational.q4BroadcastJoin _),
    "q5_semi_join"           -> (Relational.q5SemiJoin _),
    "q6_anti_join"           -> (Relational.q6AntiJoin _),
    "q7_window"              -> (Relational.q7Window _),
    "q8_distinct"            -> (Relational.q8Distinct _),
    "q9_topk_group"          -> (Relational.q9TopkGroup _),
    "q10_rollup"             -> (Relational.q10Rollup _),
    "q11_percentile"         -> (Relational.q11Percentile _),
    "q12_setops"             -> (Relational.q12Setops _),
    "q13_conditional_agg"    -> (Relational.q13ConditionalAgg _),
    "q14_string_funcs"       -> (Relational.q14StringFuncs _),
    "q15_casts_nulls"        -> (Relational.q15CastsNulls _),
    "q16_correlated_subquery" -> (Relational.q16CorrelatedSubquery _),
    "q17_multi_join_chain"   -> (Relational.q17MultiJoinChain _),
    "q18_having"             -> (Relational.q18Having _),
    // §2.2 events
    "e1_time_bucket"         -> (Events.e1TimeBucket _),
    "e2_sessionize"          -> (Events.e2Sessionize _),
    "e3_json_extract"        -> (Events.e3JsonExtract _),
    "e4_funnel"              -> (Events.e4Funnel _),
    "e5_retention"           -> (Events.e5Retention _),
    "e6_dedup_latest"        -> (Events.e6DedupLatest _),
    // §2.4 dedup
    "d1_dedup_exact"         -> (Dedup.d1DedupExact _),
    "d2_dedup_minhash_lsh"   -> ((s, d) => Dedup.d2MinhashLsh(s, d)),
    "d3_dedup_simhash"       -> ((s, d) => Dedup.d3Simhash(s, d)),
    "d4_ngram_jaccard"       -> ((s, d) => Dedup.d4NgramJaccard(s, d)),
    "d5_dedup_embedding"     -> ((s, d) => Dedup.d5DedupEmbedding(s, d)),
    // §2.5 similarity
    "v1_knn_brute"           -> ((s, d) => Similarity.v1KnnBrute(s, d)),
    "v2_knn_lsh"             -> ((s, d) => Similarity.v2KnnLsh(s, d)),
    "v3_vector_stats"        -> (Similarity.v3VectorStats _),
    // §2.6 text analysis
    "t1_lang_id"             -> (TextAnalysis.t1LangId _),
    "t2_quality_score"       -> (TextAnalysis.t2QualityScore _),
    "t3_token_count"         -> (TextAnalysis.t3TokenCount _),
    "t4_fingerprint"         -> (TextAnalysis.t4Fingerprint _),
    "t4_fingerprint_rolling" -> (TextAnalysis.t4FingerprintRolling _),
    "t5_ngram_freq"          -> (TextAnalysis.t5NgramFreq _),
    // §2.3 streaming (one-shot AvailableNow harnesses; s3/s4 are
    // ScalaTest-only — their semantics need multi-batch state)
    "s1_ingest_parquet"      -> (StreamingBatch.s1IngestParquet _),
    "s2_stream_window_agg"   -> (StreamingBatch.s2StreamWindowAgg _),
    // §2.7 multimodal
    "m1_binary_meta"         -> (Multimodal.m1BinaryMeta _),
    // widened coverage (round 1, phase 5)
    "e7_asof_join"           -> (Events.e7AsofJoin _),
    "q19_range_join"         -> (Relational.q19RangeJoin _),
    "q20_pivot"              -> (Relational.q20Pivot _),
    "t6_hash_sample"         -> (TextAnalysis.t6HashSample _),
    "t22_mixture_sample"     -> (TextAnalysis.t22MixtureSample _),
    "t23_token_mixture"      -> (TextAnalysis.t23TokenMixture _),
    "d6_dedup_clusters"      -> (Dedup.d6DedupClusters _),
    "c1_compact"             -> (Maintenance.c1Compact _),
    "q21_window_analytics"   -> (Relational.q21WindowAnalytics _),
    "q22_grouping_sets"      -> (Relational.q22GroupingSets _),
    "q23_approx_distinct"    -> (Relational.q23ApproxDistinct _),
    "e8_resample"            -> (Events.e8Resample _),
    "e9_collect_nested"      -> (Events.e9CollectNested _),
    "p1_curate"              -> (graft.operators.Curate.p1Curate _),
    "p4_curate_mixture"      -> ((s, d) => graft.operators.Curate.p4CurateMixture(s, d)),
    "t7_unigram_logprob"     -> (TextAnalysis.t7UnigramLogprob _),
    "q24_topk_custom"        -> (Relational.q24TopkCustom _),
    "d7_dedup_apply"         -> (Dedup.d7DedupApply _),
    "v4_centroids"           -> (Similarity.v4Centroids _),
    "t8_normalize"           -> (TextAnalysis.t8Normalize _),
    "q25_window_correlated"  -> (Relational.q25WindowCorrelated _),
    "e10_funnel_windowed"    -> (Events.e10FunnelWindowed _),
    "q26_cube"               -> (Relational.q26Cube _),
    "q27_argmax"             -> (Relational.q27ArgMax _),
    "q28_string_agg"         -> (Relational.q28StringAgg _),
    "e11_event_gaps"         -> (Events.e11EventGaps _),
    "d8_intradoc_dup"        -> (Dedup.d8IntraDocDup _),
    "q29_range_frame"        -> (Relational.q29RangeFrame _),
    "q30_full_outer"         -> (Relational.q30FullOuter _),
    "m2_media_manifest"      -> (Multimodal.m2MediaManifest _),
    "e12_outliers"           -> (Events.e12Outliers _),
    "q31_date_funcs"         -> (Relational.q31DateFuncs _),
    "t9_tfidf"               -> (TextAnalysis.t9Tfidf _),
    "e13_transitions"        -> (Events.e13Transitions _),
    "q32_null_aggs"          -> (Relational.q32NullAggs _),
    "e14_sliding_rate"       -> (Events.e14SlidingRate _),
    "q33_order_deltas"       -> (Relational.q33OrderDeltas _),
    "t10_vocab_prune"        -> ((s, d) => TextAnalysis.t10VocabPrune(s, d)),
    "e15_active_users"       -> (Events.e15ActiveUsers _),
    // round 2
    "d5b_dedup_embedding_blocked" -> ((s, d) => Dedup.d5bDedupEmbeddingBlocked(s, d)),
    "q34_approx_percentile"  -> ((s, d) => Relational.q34ApproxPercentile(s, d)),
    // GK sketch with rank error ≤ n/1e7: exact for any group under 10M
    // rows, so the driver hash-gates the same operator the rows-only q34
    // runs at production accuracy (the v2_exhaustive promotion pattern)
    "q34_exact"              -> ((s, d) => Relational.q34ApproxPercentile(s, d, accuracy = 10000000)),
    "c2_merge_upsert"        -> (Maintenance.c2MergeUpsert _),
    "c2b_time_travel"        -> (Maintenance.c2bTimeTravel _),
    "t11_blocklist"          -> ((s, d) => TextAnalysis.t11Blocklist(s, d)),
    "e16_histogram"          -> (Events.e16Histogram _),
    "q35_salted_join"        -> (Relational.q35SaltedJoin _),
    "q36_decimal_agg"        -> (Relational.q36DecimalAgg _),
    "m3_frame_sample"        -> ((s, d) => Multimodal.m3FrameSample(s, d)),
    "t12_heavy_hitters"      -> ((s, d) => TextAnalysis.t12HeavyHitters(s, d)),
    "p2_curate_neardup"      -> (graft.operators.Curate.p2CurateNearDup _),
    "p3_curate_keepbest"     -> (graft.operators.Curate.p3CurateKeepBest _),
    "q37_auto_topk"          -> (Relational.q37AutoTopk _),
    "v5_knn_graph"           -> ((s, d) => Similarity.v5KnnGraph(s, d)),
    "c3_orc_roundtrip"       -> (Maintenance.c3OrcRoundtrip _),
    "c4_backfill"            -> (Maintenance.c4Backfill _),
    "s4_stream_session"      -> (StreamingBatch.s4StreamSession _),
    "s3_stream_dedup"        -> (StreamingBatch.s3StreamDedup _),
    "s5_stream_stream_join"  -> (StreamingBatch.s5StreamStreamJoin _),
    "s6_foreachbatch_upsert" -> (StreamingBatch.s6ForeachBatchUpsert _),
    "e17_session_window"     -> (Events.e17SessionWindow _),
    "e18_sequence_funnel"    -> (Events.e18SequenceFunnel _),
    "s7_stream_session_window" -> (StreamingBatch.s7StreamSessionWindow _),
    "e19_wau_sketch"         -> (Events.e19WauSketch _),
    "t13_bigram_logprob"     -> (TextAnalysis.t13BigramLogprob _),
    "v6_centroid_sim"        -> (Similarity.v6CentroidSim _),
    "t14_stratified_sample"  -> (TextAnalysis.t14StratifiedSample _),
    "m4_media_neardup"       -> ((s, d) => Multimodal.m4MediaNearDup(s, d)),
    "s8_stream_outer_join"   -> (StreamingBatch.s8StreamOuterJoin _),
    "s9_restart_session"     -> (StreamingBatch.s9RestartSession _),
    "d10_containment"        -> ((s, d) => Dedup.d10Containment(s, d)),
    "e20_churn"              -> ((s, d) => Events.e20Churn(s, d)),
    "v7_knn_ivf"             -> ((s, d) => Similarity.v7KnnIvf(s, d)),
    // exact configurations of the ANN operators: v7 probing every cell and
    // v10 re-ranking a corpus-sized shortlist are provably equivalent to
    // v1 (ScalaTest-asserted), so they get v1's hard DuckDB oracle —
    // driver-gating the IVF/PQ machinery, not just the rows-only checks
    "v7_exhaustive"          -> ((s, d) => Similarity.v7KnnIvf(s, d, nProbe = 16)),
    "v10_exact"              -> ((s, d) => Similarity.v10KnnPq(s, d, shortlist = Int.MaxValue)),
    // one table, one plane, multiprobe: the query probes BOTH sides of
    // the single hyperplane, so every vector is a candidate — exhaustive
    "v2_exhaustive"          -> ((s, d) => Similarity.v2KnnLsh(s, d, nTables = 1, planesPerTable = 1)),
    "c5_range_layout"        -> (Maintenance.c5RangeLayout _),
    "c6_incremental_rollup"  -> (Maintenance.c6IncrementalRollup _),
    "e21_ewma"               -> ((s, d) => Events.e21Ewma(s, d)),
    "t15_pack"               -> ((s, d) => TextAnalysis.t15Pack(s, d)),
    "t16_decontaminate"      -> ((s, d) => TextAnalysis.t16Decontaminate(s, d)),
    "q38_grouping_id"        -> (Relational.q38GroupingId _),
    "q39_running_distinct"   -> (Relational.q39RunningDistinct _),
    "e22_mad_outliers"       -> ((s, d) => Events.e22MadOutliers(s, d)),
    "e23_new_vs_returning"   -> (Events.e23NewVsReturning _),
    "e24_decay_score"        -> (Events.e24DecayScore _),
    "t17_pii_redact"         -> (TextAnalysis.t17PiiRedact _),
    "t18_repetition"         -> (TextAnalysis.t18Repetition _),
    "v8_range_search"        -> ((s, d) => Similarity.v8RangeSearch(s, d)),
    "c7_retention_vacuum"    -> (Maintenance.c7RetentionVacuum _),
    "m5_balanced_sample"     -> ((s, d) => Multimodal.m5BalancedSample(s, d)),
    "s10_stream_static_join" -> (StreamingBatch.s10StreamStaticJoin _),
    "q40_gaps_islands"       -> (Relational.q40GapsIslands _),
    "c8_incremental_quantiles" -> ((s, d) => Maintenance.c8IncrementalQuantiles(s, d)),
    // KLL at k=65535 retains every value below 64Ki per merged group —
    // no compaction, exact quantiles — so the driver hash-gates the
    // same incremental-merge operator c8 runs at production k (the
    // q34_exact promotion pattern for the KLL family)
    "c8_exact"               -> ((s, d) => Maintenance.c8IncrementalQuantiles(s, d, k = 65535)),
    "d11_keep_best"          -> (Dedup.d11KeepBest _),
    "q42_not_in_null"        -> (Relational.q42NotInNull _),
    // gate config: GK accuracy >> n at gate SFs, so each threshold is
    // rank-exact (element at ceil(q*n)) and the oracle is a hard hash
    // gate; the production default (10^4) is bounded in ScalaTest
    "q43_rfm"                -> ((s, dir) => Relational.q43Rfm(s, dir, accuracy = 10000000)),
    "c9_table_stats"         -> (Maintenance.c9TableStats _),
    "q44_typed_stats"        -> (graft.api.TypedOps.q44TypedStats _),
    "q45_mom_growth"         -> (Relational.q45MomGrowth _),
    "e29_conversion_latency" -> (Events.e29ConversionLatency _),
    "s13_stream_dedup_index" -> (StreamingBatch.s13StreamDedupIndex _),
    "e30_bot_cadence"        -> ((s, d) => Events.e30BotCadence(s, d)),
    "q46_forall_suppliers"   -> (Relational.q46ForallSuppliers _),
    "d13_cluster_stats"      -> (Dedup.d13ClusterStats _),
    "e28_cooccurrence_pmi"   -> (Events.e28CooccurrencePmi _),
    "t20_type_token_ratio"   -> (TextAnalysis.t20TypeTokenRatio _),
    "e27_audience_overlap"   -> (Events.e27AudienceOverlap _),
    "e26_gap_fill"           -> (Events.e26GapFill _),
    "s12_stream_quantile"    -> ((s, d) => StreamingBatch.s12StreamQuantile(s, d)),
    // the stream-maintained quantile store at the exact-KLL config
    // (c8_exact's k=65535): the landed sketches retain every value, so
    // the streaming fold is hash-gated against the same sorted-list rank
    "s12_exact"              -> ((s, d) => StreamingBatch.s12StreamQuantile(s, d, k = 65535)),
    "e25_seasonal_baseline"  -> (Events.e25SeasonalBaseline _),
    "q41_share_of_total"     -> (Relational.q41ShareOfTotal _),
    "t19_crossdoc_ngram"     -> ((s, d) => TextAnalysis.t19CrossdocNgram(s, d)),
    "v9_pagerank"            -> ((s, d) => Similarity.v9PageRank(s, d)),
    "s11_stream_distinct"    -> (StreamingBatch.s11StreamDistinct _),
    "q47_ntile"              -> (Relational.q47Ntile _),
    "q48_unpivot"            -> (Relational.q48Unpivot _),
    "e31_path_trigrams"      -> (Events.e31PathTrigrams _),
    "d14_fuzzy_pairs"        -> ((s, d) => Dedup.d14FuzzyPairs(s, d)),
    "q49_setops_all"         -> (Relational.q49SetopsAll _),
    "t21_zipf_slope"         -> (TextAnalysis.t21ZipfSlope _),
    "s14_stream_topk"        -> (StreamingBatch.s14StreamTopk _),
    "s15_ingest_csv"         -> (StreamingBatch.s15IngestCsv _),
    "s16_ingest_proto"       -> (StreamingBatch.s16IngestProto _),
    "s34_ingest_avro"        -> (StreamingBatch.s34IngestAvro _),
    "s17_stream_mv"          -> (StreamingBatch.s17StreamMv _),
    "q50_lateral_topn"       -> (Relational.q50LateralTopn _),
    "c10_fk_audit"           -> (Maintenance.c10FkAudit _),
    "v10_knn_pq"             -> ((s, d) => Similarity.v10KnnPq(s, d)),
    "m6_shard_plan"          -> ((s, d) => Multimodal.m6ShardPlan(s, d)),
    // gate config: rank-exact GK edges (see q43_rfm note above)
    "c11_equidepth_hist"     -> ((s, dir) => Maintenance.c11EquidepthHist(s, dir, accuracy = 10000000)),
    "c26_compaction_plan"    -> ((s, dir) => Maintenance.c26CompactionPlan(s, dir)),
    "c27_version_diff"       -> (Maintenance.c27VersionDiff _),
    "c28_wap"                -> (Maintenance.c28Wap _),
    "c12_bucketed_join"      -> (Maintenance.c12BucketedJoin _),
    "c13_dpp_join"           -> (Maintenance.c13DppJoin _),
    "c14_zorder_layout"      -> (Maintenance.c14ZorderLayout _),
    "c15_bloom_index"        -> (Maintenance.c15BloomIndex _),
    "c16_mv_rewrite"         -> (Maintenance.c16MvRewrite _),
    "c17_gdpr_delete"        -> (Maintenance.c17GdprDelete _),
    "c16b_mv_filter"         -> (Maintenance.c16bMvRewriteFiltered _),
    "c16c_mv_month"          -> (Maintenance.c16cMvMonthRollup _),
    "c16d_mv_multi"          -> (Maintenance.c16dMvMultiMeasure _),
    "c16f_mv_join"           -> (Maintenance.c16fMvJoin _),
    "c16g_mv_dim_measure"    -> (Maintenance.c16gMvJoinDimMeasure _),
    "c16h_mv_distinct"       -> (Maintenance.c16hMvDistinct _),
    "c19_stats_join"         -> (Maintenance.c19StatsJoin _),
    "c19b_stats_broadcast"   -> (Maintenance.c19bStatsBroadcast _),
    // round 9
    "t28_semantic_decontaminate" -> ((s, d) => TextAnalysis.t28SemanticDecontaminate(s, d)),
    "t29_bpe_pair_stats"     -> ((s, d) => TextAnalysis.t29BpePairStats(s, d)),
    "t30_gopher_rules"       -> (TextAnalysis.t30GopherRules _),
    "s22_stream_curate"      -> ((s, d) => StreamingBatch.s22StreamCurate(s, d)),
    "s40_stream_dedup_compact" -> (StreamingBatch.s40StreamDedupCompact _),
    "c22_mv_retraction"      -> (Maintenance.c22MvRetraction _),
    "p6_curate_decontam"     -> ((s, d) => graft.operators.Curate.p6CurateDecontam(s, d)),
    "e33_cusum_drift"        -> (Events.e33CusumDrift _),
    "m10_contrastive_pairs"  -> ((s, d) => Multimodal.m10ContrastivePairs(s, d)),
    "c16e_mv_select"         -> (Maintenance.c16eMvSelection _),
    "s18_stream_mv_month"    -> (StreamingBatch.s18StreamMvMonth _),
    "c18_changelog"          -> (Maintenance.c18Changelog _),
    "d15_fuzzy_clusters"     -> (Dedup.d15FuzzyClusters _),
    "e32_attribution"        -> (Events.e32Attribution _),
    // round 7: REAL image decode (javax.imageio) — driver-gated
    "m7_image_decode"        -> (Multimodal.m7ImageDecode _),
    "m8_image_neardup"       -> ((s, d) => Multimodal.m8ImageNearDup(s, d)),
    // round 8: substring dedup, BM25 retrieval, stream-fed star MV
    "d16_substring_dedup"    -> ((s, d) => Dedup.d16SubstringDedup(s, d)),
    "t24_bm25"               -> ((s, d) => TextAnalysis.t24Bm25(s, d)),
    "s19_stream_star_mv"     -> (StreamingBatch.s19StreamStarMv _),
    // round 8: one-pass expectation suite, perplexity gate, SemDeDup
    "c20_expectations"       -> (Maintenance.c20Expectations _),
    "t25_perplexity"         -> (TextAnalysis.t25PerplexityFilter _),
    "d17_semdedup"           -> ((s, d) => Dedup.d17SemDedup(s, d)),
    // round 8: the LLM-era curation chain (t25 → d17 → d16 composed)
    "p5_curate_llm"          -> ((s, d) => graft.operators.Curate.p5CurateLlm(s, d)),
    // round 8: streaming SemDeDup (order-insensitive pair index ≡ d17)
    "s20_stream_semdedup"    -> ((s, d) => StreamingBatch.s20StreamSemDedup(s, d)),
    // round 8: MMR diversified re-rank, schema evolution across store gens
    "v11_mmr"                -> ((s, d) => Similarity.v11Mmr(s, d)),
    "c21_schema_evolution"   -> (Maintenance.c21SchemaEvolution _),
    // round 8: naive-Bayes domain classifier (fit + predict as one plan)
    "t26_domain_nb"          -> (TextAnalysis.t26DomainNb _),
    // round 8: REAL audio decode (javax.sound.sampled) — driver-gated
    "m9_wav_decode"          -> (Multimodal.m9WavDecode _),
    // round 8: hybrid metadata-filtered vector top-k
    "v12_filtered_knn"       -> ((s, d) => Similarity.v12FilteredKnn(s, d)),
    // round 8: URL-canonicalization dedup (crawl-pipeline stage)
    "d18_url_dedup"          -> (Dedup.d18UrlDedup _),
    // round 8: DSIR-style importance weighting (hashed-bigram domain ratio)
    "t27_dsir"               -> ((s, d) => TextAnalysis.t27Dsir(s, d)),
    // round 8: watermark late-data audit (drop semantics oracle-replayed)
    "s21_late_data"          -> (StreamingBatch.s21LateDataAudit _),
    // round 9 (cont.): soft dedup weighting, Markov next-event model
    "d20_soft_dedup"         -> (Dedup.d20SoftDedup _),
    "e34_markov_next"        -> (Events.e34MarkovNext _),
    // round 9 (cont.): recursive hierarchy closure by repeated squaring
    "q51_hierarchy"          -> (Relational.q51Hierarchy _),
    "q79_recursive_native"   -> (Relational.q79RecursiveNative _),
    // round 9 (cont.): explicit zone-map skipping index
    "c23_zone_map"           -> (Maintenance.c23ZoneMap _),
    // round 9 (cont.): CDC apply with tombstones under reversed delivery
    "s23_stream_cdc"         -> (StreamingBatch.s23StreamCdc _),
    // round 9 (cont.): SQ8 quantized ANN (deterministic → fully oracle-gated)
    "v13_knn_sq8"            -> ((s, d) => Similarity.v13KnnSq8(s, d)),
    // round 9 (cont.): incremental frontier dedup via broadcast bloom
    "d21_incremental_dedup"  -> (Dedup.d21IncrementalDedup _),
    // round 9 (cont.): stupid-backoff bigram LM scoring of held-out docs
    "t31_backoff_lm"         -> (TextAnalysis.t31BackoffLm _),
    // round 9 (cont.): real-decode audio VAD segmentation
    "m11_audio_segments"     -> ((s, d) => Multimodal.m11AudioSegments(s, d)),
    // round 9 (cont.): online bloom-gated frontier dedup
    "s24_stream_bloom_dedup" -> (StreamingBatch.s24StreamBloomDedup _),
    // round 9 (cont.): partition-spec evolution behind one reader
    "c24_partition_evolution" -> (Maintenance.c24PartitionEvolution _),
    // round 9 (cont.): the audio curation chain (decode→VAD→gate→shards)
    "p7_curate_audio"        -> ((s, d) => graft.operators.Curate.p7CurateAudio(s, d)),
    // round 9 (cont.): native as-of join (custom physical operator)
    "e7b_asof_native"        -> (Events.e7bAsofNative _),
    // round 9 (cont.): streaming as-of join (O(1)-state per key)
    "s25_stream_asof"        -> (StreamingBatch.s25StreamAsof _),
    // round 9 (cont.): zero-copy shallow clone + divergence
    "c25_shallow_clone"      -> (Maintenance.c25ShallowClone _),
    // round 9 (cont.): the composed IVF→SQ8→rerank production ANN stack,
    // registered at its provably-exact configuration
    "v14_ivf_sq8"            -> ((s, d) => Similarity.v14KnnIvfSq8(s, d)),
    // round 9 (cont.): real-decode box-average image resize
    "m12_image_resize"       -> ((s, d) => Multimodal.m12ImageResize(s, d)),
    // round 9 (cont.): chi-square independence test as a relational plan
    "e36_chi_square"         -> (Events.e36ChiSquare _),
    // round 10: TPC-H Q8-shape market share (conditional agg over a star)
    "q52_market_share"       -> (Relational.q52MarketShare _),
    "q53_interval_overlap"   -> (Relational.q53IntervalOverlap _),
    "q54_copurchase"         -> ((s, dir) => Relational.q54Copurchase(s, dir)),
    // round 10: graft.IngestMain's full service path under the oracle gate
    "s26_daemon_ingest"      -> (StreamingBatch.s26DaemonIngest _),
    // round 10: incremental dedup -> gate -> OCC store publish, reported
    // from the LANDED version
    "p8_curate_incremental"  -> ((s, d) => graft.operators.Curate.p8CurateIncremental(s, d)),
    // round 10: burst islands — hourly rate vs per-type mean, cross-multiplied exact
    "e37_burst_windows"      -> (Events.e37BurstWindows _),
    // round 10: scene segmentation over the synthetic frame model (m11's shape on the frame axis)
    "m13_scene_segments"     -> ((s, d) => Multimodal.m13SceneSegments(s, d)),
    // round 13: m13 over the REAL multi-frame GIF decode path (same oracle
    // gates decode + segmentation — m14b's discipline)
    "m13b_scene_real"        -> ((s, d) => Multimodal.m13bSceneReal(s, d)),
    // round 10: per-doc trigram novelty vs the reference half
    "t32_ngram_novelty"      -> (TextAnalysis.t32NgramNovelty _),
    // round 10: t32's streaming twin — frontier docs scored per micro-batch
    // against the static reference gram set (shares t32's oracle)
    "s27_stream_novelty"     -> (StreamingBatch.s27StreamNovelty _),
    // round 10: hybrid dense+lexical retrieval fused by reciprocal rank fusion
    "v15_hybrid_rrf"         -> ((s, d) => Similarity.v15HybridRrf(s, d)),
    // round 10: triangles + clustering coefficient over the kNN graph
    "v16_triangle_count"     -> ((s, d) => Similarity.v16TriangleCount(s, d)),
    "v17_embedding_drift"    -> (Similarity.v17EmbeddingDrift _),
    // round 10: autocorrelation of the hourly count series (seasonality fingerprint)
    "e38_acf"                -> ((s, d) => Events.e38Acf(s, d)),
    "e39_rate_limit"         -> ((s, d) => Events.e39RateLimit(s, d)),
    "e40_psi_drift"          -> (Events.e40PsiDrift _),
    // round 10: RAKE keyword extraction (phrase runs + deg/freq scoring)
    "t33_rake_keywords"      -> ((s, d) => TextAnalysis.t33RakeKeywords(s, d)),
    "t34_entropy"            -> (TextAnalysis.t34Entropy _),
    "t36_winnowing"          -> ((s, d) => TextAnalysis.t36Winnowing(s, d)),
    "t35_src_overlap"        -> ((s, d) => TextAnalysis.t35SrcOverlap(s, d)),
    // round 10: perceptual dHash image fingerprint + dup clusters
    "m14_dhash"              -> ((s, d) => Multimodal.m14DHash(s, d)),
    "m14b_dhash_real"        -> ((s, d) => Multimodal.m14bDHashReal(s, d)),
    "m15_image_sharpness"    -> (Multimodal.m15ImageSharpness _),
    "m16_audio_clipping"     -> ((s, d) => Multimodal.m16AudioClipping(s, d)),
    "p9_curate_multimodal"   -> ((s, d) => graft.operators.Curate.p9CurateMultimodal(s, d)),
    // round 10: e37's streaming twin — OCC-folded hourly counts, shared oracle
    "s28_stream_bursts"      -> (StreamingBatch.s28StreamBursts _),
    "s29_schema_drift"       -> (StreamingBatch.s29SchemaDrift _),
    "s30_stream_psi"         -> (StreamingBatch.s30StreamPsi _),
    // round 11: exact weighted median per supplier (integral-weight crossing)
    "q55_weighted_median"    -> (Relational.q55WeightedMedian _),
    // round 11: Heaps' law vocabulary-growth fit (bucket-grain prefix sums)
    "t37_heaps_law"          -> ((s, d) => TextAnalysis.t37HeapsLaw(s, d)),
    // gate config: rank-exact GK per-component edges (c11 discipline)
    "v18_component_quantiles" -> ((s, d) => Similarity.v18ComponentQuantiles(s, d, accuracy = 10000000)),
    // round 11: real-decode luminance/exposure screen
    "m17_exposure"           -> (Multimodal.m17Exposure _),
    // round 11: e39's streaming twin — OCC-folded (user, sec) counts, shared oracle
    "s31_stream_rate_limit"  -> ((s, d) => StreamingBatch.s31StreamRateLimit(s, d)),
    // round 11: snapshot-diff incremental consumption at file grain
    "c29_incremental_scan"   -> (Maintenance.c29IncrementalScan _),
    // round 11: PMI collocation mining (thresholded, rounded-score top-k)
    "t38_pmi_collocations"   -> ((s, d) => TextAnalysis.t38PmiCollocations(s, d)),
    // gate config: rank-exact GK median/MAD (v18/c11 discipline)
    "v19_norm_outliers"      -> ((s, d) => Similarity.v19NormOutliers(s, d, accuracy = 10000000)),
    // round 11: layout-health skew/Gini report at manifest grain
    "c30_skew_report"        -> (Maintenance.c30SkewReport _),
    // round 11: real-decode SNR screen (m11's energy windows, mean split)
    "m18_audio_snr"          -> ((s, d) => Multimodal.m18AudioSnr(s, d)),
    // round 11: one-pass GramianAgg covariance audit (custom aggregate)
    "v20_correlated_dims"    -> ((s, d) => Similarity.v20CorrelatedDims(s, d)),
    // round 11: v20's OCC-folded streaming twin (exact integer sums ⇒
    // bit-identical to the batch aggregate under any batch chop)
    "s32_stream_covariance"  -> ((s, d) => StreamingBatch.s32StreamCovariance(s, d)),
    // round 11: TPC-H Q21 shape — EXISTS/NOT-EXISTS pair collapsed into
    // one conditional-aggregation pass over the order grain
    "q56_blame_supplier"     -> ((s, d) => Relational.q56BlameSupplier(s, d)),
    // round 11: exponential retention-decay fit (e5's curve -> half-life)
    "e41_retention_halflife" -> ((s, d) => Events.e41RetentionHalflife(s, d)),
    // round 11: SQ8 quantization-error audit (femto-unit exact sums)
    "v21_sq8_distortion"     -> ((s, d) => Similarity.v21Sq8Distortion(s, d)),
    // round 11: subword/word fertility per language (regex vs whitespace)
    "t39_tokenizer_fertility" -> (TextAnalysis.t39TokenizerFertility _),
    // round 11: COW write-amplification summary over the c2b merge store
    "c31_write_amplification" -> (Maintenance.c31WriteAmplification _),
    // round 11: DAU/MAU engagement ratio per month
    "e42_stickiness"         -> (Events.e42Stickiness _),
    // round 11: vocabulary coverage at tokenizer budget cut points
    "t40_vocab_coverage"     -> ((s, d) => TextAnalysis.t40VocabCoverage(s, d)),
    // round 11: real-decode tone entropy (pico-unit exact term sums)
    "m19_image_entropy"      -> (Multimodal.m19ImageEntropy _),
    // round 11: vocabulary-state streaming entropy monitor (OCC-folded)
    "s33_stream_entropy"     -> (StreamingBatch.s33StreamTokenEntropy _),
    // round 11: customer revenue decile lift table (exact decimal cuts)
    "q57_decile_lift"        -> (Relational.q57DecileLift _),
    // round 11: Goh-Barabási burstiness over exact integer gap moments
    "e43_burstiness"         -> (Events.e43Burstiness _),
    // round 11: centroid assignment-margin audit (exact decimal margins)
    "v22_centroid_margin"    -> (Similarity.v22CentroidMargin _),
    // round 12: Pareto frontier via per-size min + size-grain suffix window
    "q58_skyline"            -> (Relational.q58Skyline _),
    // round 12: semi-additive closing balance (interval-grain range join)
    "q59_semi_additive"      -> (Relational.q59SemiAdditive _),
    // round 12: engagement inequality from the per-type count histogram
    "e44_engagement_gini"    -> (Events.e44EngagementGini _),
    // round 12: per-language doc-length log-normal fit (decimal-exact)
    "t41_length_lognormal"   -> (TextAnalysis.t41LengthLognormal _),
    // round 12: kNN mutual-edge fraction per label (graph quality)
    "v23_knn_mutuality"      -> ((s, d) => Similarity.v23KnnMutuality(s, d)),
    // round 12: two wire formats fanned into one landed table
    "s35_multi_topic_fanin"  -> (StreamingBatch.s35MultiTopicFanin _),
    // round 12: snapshot expiry audit over SnapshotStore.vacuum
    "c33_version_gc"         -> (Maintenance.c33VersionGc _),
    // round 12: SCD2 dimension build from the event stream
    "c34_scd2_build"         -> (Maintenance.c34Scd2Build _),
    // round 12: ABC revenue classes via a global running-sum window
    "q60_abc_class"          -> (Relational.q60AbcClass _),
    // round 12: seasonal-naive backtest on a dense generated spine
    "e45_forecast_backtest"  -> (Events.e45ForecastBacktest _),
    // round 12: Kneser-Ney bigram cross-entropy per document
    "t42_kneser_ney"         -> ((s, d) => TextAnalysis.t42KneserNey(s, d)),
    // round 12: c34's SCD2 dimension maintained online (OCC fold)
    "s36_stream_scd2"        -> (StreamingBatch.s36StreamScd2 _),
    // round 12: MinHash estimate vs exact Jaccard on the verified pairs
    "d22_minhash_fidelity"   -> ((s, d) => Dedup.d22MinhashFidelity(s, d)),
    // round 12: simplified (centroid) silhouette per label
    "v24_silhouette"         -> (Similarity.v24Silhouette _),
    // round 12: real-decode RMS silence trim per clip
    "m20_audio_trim"         -> (Multimodal.m20AudioTrim _),
    // round 12: merge-on-read deletes via key deletion vectors
    "c35_merge_on_read"      -> (Maintenance.c35MergeOnRead _),
    // round 12: Jensen-Shannon divergence between source slices
    "t43_js_divergence"      -> (TextAnalysis.t43JsDivergence _),
    // round 12: MAD-gated anomalies over the seasonal-naive residuals
    "e46_seasonal_anomalies" -> (Events.e46SeasonalAnomalies _),
    // round 13: cohort LTV matrix (integer-cents money, co-partitioned join)
    "q61_cohort_ltv"         -> (Relational.q61CohortLtv _),
    // round 13: repurchase-interval week-bucket histogram
    "q62_repurchase_curve"   -> (Relational.q62RepurchaseCurve _),
    // round 13: discrete inter-event survival curve per type
    "e47_survival"           -> (Events.e47Survival _),
    // round 13: hourly peak detection with integer-exact prominence gate
    "e48_peaks"              -> (Events.e48Peaks _),
    // round 13: LSH banding plan audit (explicit-squaring probabilities)
    "d23_lsh_plan"           -> ((s, d) => Dedup.d23LshPlan(s, d)),
    // round 13: Flesch readability screen (map-only, regex counts)
    "t44_readability"        -> (TextAnalysis.t44Readability _),
    // round 13: tri-modal decode integrity audit over the media store
    "m21_media_integrity"    -> (Multimodal.m21MediaIntegrity _),
    // round 13: stream-maintained decayed heavy hitters (exact 2^day weights)
    "s37_stream_decay_topk"  -> (StreamingBatch.s37StreamDecayTopk _),
    // round 13: stats-staleness audit (stored-vs-actual min/max/ndv)
    "c36_stats_staleness"    -> (Maintenance.c36StatsStaleness _),
    // round 13: hash-gated LSH recall audit over deterministic hyperplanes
    "v25_hyperplane_recall"  -> ((s, d) => Similarity.v25HyperplaneRecall(s, d)),
    // round 13: video curation pipeline over the real GIF decode path
    "p10_curate_video"       -> ((s, d) => graft.operators.Curate.p10CurateVideo(s, d)),
    // round 13: exact largest-remainder bridge allocation (to-the-cent)
    "q63_supplier_allocation" -> (Relational.q63SupplierAllocation _),
    // round 13: two-filter agreement audit (Pearson + median confusion)
    "t45_filter_agreement"   -> (TextAnalysis.t45FilterAgreement _),
    // round 13: motion profile computed inside the real frame decode
    "m22_motion_profile"     -> ((s, d) => Multimodal.m22MotionProfile(s, d)),
    // round 13: rollup with share-of-parent at every grain
    "q64_rollup_share"       -> (Relational.q64RollupShare _),
    // round 13: leave-one-out kNN label accuracy per class
    "v26_knn_label_accuracy" -> ((s, d) => Similarity.v26KnnLabelAccuracy(s, d)),
    // round 13: near-dup cluster purity vs language/source metadata
    "d24_cluster_purity"     -> (Dedup.d24ClusterPurity _),
    // round 13: per-stage curation attrition report (docs + tokens)
    "t46_stage_attrition"    -> (TextAnalysis.t46StageAttrition _),
    // round 13: t46 maintained live by the stream fold (bit-identical)
    "s38_stream_attrition"   -> (StreamingBatch.s38StreamAttrition _),
    // round 14: global decimal running revenue (GlobalPrefixSumExec path)
    "q65_cum_revenue"        -> (Relational.q65CumRevenue _),
    // round 14: global tie-heavy rank (GlobalRankExec tie-aware stitch)
    "q66_quantity_rank"      -> (Relational.q66QuantityRank _),
    // round 14: hour-of-day concentration + entropy per event type
    "e49_hour_entropy"       -> (Events.e49HourEntropy _),
    // round 14: word burstiness (variance-to-mean over-dispersion)
    "t47_word_burstiness"    -> ((s, d) => TextAnalysis.t47WordBurstiness(s, d)),
    // round 14: per-source duplicate-rate crawl telemetry
    "d25_source_dup_rate"    -> (Dedup.d25SourceDupRate _),
    // round 14: pairwise-cosine histogram over a capped sample
    "v27_pair_distance_hist" -> ((s, d) => Similarity.v27PairDistanceHist(s, d)),
    // round 14: per-clip scene tempo stats off the real GIF decode
    "m23_scene_stats"        -> (Multimodal.m23SceneStats _),
    // round 14: stream-maintained last-touch registry (bucketed store)
    "s39_stream_last_touch"  -> (StreamingBatch.s39StreamLastTouch _),
    // round 14: compaction + orphan GC over the bucketed dedup index
    "c37_compact_index"      -> (Maintenance.c37CompactIndex _),
    // round 14: global spend percentile (PercentRankTies exec path)
    "q67_spend_percentile"   -> (Relational.q67SpendPercentile _),
    // round 14: cross-source duplication matrix (syndication detection)
    "d26_cross_source_dups"  -> (Dedup.d26CrossSourceDups _),
    // round 14: language-id confusion matrix vs metadata ground truth
    "t48_lang_confusion"     -> (TextAnalysis.t48LangConfusion _),
    // round 14: audio crest factor off the real WAV decode
    "m24_audio_crest"        -> (Multimodal.m24AudioCrest _),
    "m25_gradient_anisotropy" -> (Multimodal.m25GradientAnisotropy _),
    // round 14: session-length distribution (bounce rate + histogram)
    "e50_session_shape"      -> (Events.e50SessionShape _),
    // round 14: hard-negative margins per sampled query
    "v28_hard_negatives"     -> ((s, d) => Similarity.v28HardNegatives(s, d)),
    "v29_degree_hist"        -> ((s, d) => Similarity.v29DegreeHist(s, d)),
    "v30_knn_graph_search"   -> ((s, d) => Similarity.v30KnnGraphSearch(s, d)),
    "v30_exhaustive"         -> ((s, d) => Similarity.v30Exhaustive(s, d)),
    // round 14: top-1/5/10%% customer revenue concentration
    "q68_top_customer_share" -> (Relational.q68TopCustomerShare _),
    "q69_price_band_cume"    -> (Relational.q69PriceBandCume _),
    // round 14: exact audience-overlap (Jaccard) matrix per type pair
    "e51_type_overlap"       -> (Events.e51TypeOverlap _),
    "q70_record_orders"      -> (Relational.q70RecordOrders _),
    "q71_retention_by_nation" -> (Relational.q71RetentionByNation _),
    "q72_day_close_cum"      -> (Relational.q72DayCloseCumRevenue _),
    "e52_high_watermark"     -> (Events.e52HighWatermark _),
    "e53_peak_concurrency"   -> (Events.e53PeakConcurrency _),
    "e54_global_interarrival" -> (Events.e54GlobalInterarrival _),
    "e55_day_record"         -> (Events.e55DayRecord _),
    // round 14: trigram head-coverage curve (top-k occurrence share)
    "t49_ngram_coverage"     -> (TextAnalysis.t49NgramCoverage _),
    "t50_paragraph_dedup"    -> (TextAnalysis.t50ParagraphDedup _),
    // round 14: dup-cluster size histogram at the prefix grain
    "d27_cluster_size_hist"  -> (Dedup.d27ClusterSizeHist _),
    // d6's cluster map, kept under d28's registered name (one CC implementation)
    "d28_cc_bigstar"         -> (Dedup.d6DedupClusters _),
    // round 16: decimal prefix-sum gate, decimals born exact from cents
    "q73_cents_decimal"      -> (Relational.q73CentsDecimal _),
    // round 16: global running average — the avg(long) decomposition
    "q74_running_avg"        -> (Relational.q74RunningAvg _),
    // round 16: share-of-total — agg OVER () constants, zero exchanges
    "q75_share_global"       -> (Relational.q75ShareGlobal _),
    // round 16: nth_value in both from-start frames (thirteenth idiom)
    "q76_fifth_largest"      -> (Relational.q76FifthLargest _),
    "q77_frame_bounds"       -> (Relational.q77FrameBounds _),
    "q78_first_nonnull_running" -> (Relational.q78FirstNonnullRunning _),
    // round 16: mixed global window — three rewritable idioms + a stock
    // first_value remainder, the split-rewrite gate at data grain
    "e56_mixed_report"       -> (Events.e56MixedReport _),
    // round 16: sliding exact p95 per type (nearest-rank, keyed window)
    "e57_rolling_p95"        -> (Events.e57RollingP95 _),
    // round 16: token-budget planner — the plan-level mixture report
    "t51_token_budget"       -> (TextAnalysis.t51TokenBudget _),
    "t52_split_leakage"      -> (TextAnalysis.t52SplitLeakage _),
    "t53_budget_sample"      -> (TextAnalysis.t53BudgetSample _),
    "e58_locf"               -> (Events.e58Locf _),
    "e59_offset_ignore_nulls" -> (Events.e59OffsetIgnoreNulls _),
    "e57b_rolling_p95_wide"  -> (Events.e57bRollingP95Wide _),
    "s41_stream_locf"        -> (StreamingBatch.s41StreamLocf _),
    "s42_stream_locf_ooo"    -> (StreamingBatch.s42StreamLocfOoo _),
    "s43_stream_asof_ooo"    -> (StreamingBatch.s43StreamAsofOoo _),
    "s44_stream_locf_tws"    -> (StreamingBatch.s44StreamLocfTws _),
    "s45_stream_rolling_p95" -> (StreamingBatch.s45StreamRollingQuantile _),
    "s46_stream_rollq_ooo"   -> (StreamingBatch.s46StreamRollingQuantileOoo _),
    // round 16: canon-probe battery — one-row primitives that turn the
    // next driver-DuckDB divergence into a table lookup (see
    // operators/CanonProbes.scala scaladoc for the measured semantics)
    "pb01_round_half_int"    -> (CanonProbes.pb01RoundHalfInt _),
    "pb02_round_repr_half"   -> (CanonProbes.pb02RoundReprHalf _),
    "pb03_round_nonrepr"     -> (CanonProbes.pb03RoundNonRepr _),
    "pb04_cast_double_dec"   -> (CanonProbes.pb04CastDoubleDec _),
    "pb05_round_then_cast"   -> (CanonProbes.pb05RoundThenCast _),
    "pb06_cents_path"        -> (CanonProbes.pb06CentsPath _),
    "pb07_formula_agree"     -> (CanonProbes.pb07FormulaAgree _),
    "pb08_book_total"        -> (CanonProbes.pb08BookTotal _),
    "pb09_transcendental"    -> (CanonProbes.pb09Transcendental _),
    "pb10_dec_sum_width"     -> (CanonProbes.pb10DecSumWidth _),
    "pb11_int_dec_exact"     -> (CanonProbes.pb11IntDecExact _),
    "pb12_dec_trailing_zero"    -> (CanonProbes.pb12DecTrailingZero _),
    "pb13_dec_no_trailing_zero" -> (CanonProbes.pb13DecNoTrailingZero _)
  )

  /** DuckDB-runnable ANSI SQL oracle per query (same tables, same column
    * names, same rounding, same ORDER BY — SURVEY.md §6).
    */
  // shared by v1 and the exact ANN configurations (v7_exhaustive /
  // v10_exact), which are ScalaTest-proven equal to brute force
  /** SemDeDup replay (see Dedup.d17SemDedup): shared by d17 and its
    * streaming twin s20 — the pair index is arrival-order-insensitive,
    * so both builds produce the identical table.
    */
  private val semDedupSql =
    """WITH comp AS (SELECT vec_id, label, u.i AS idx, CAST(u.v AS DOUBLE) AS v FROM (
      |  SELECT vec_id, label,
      |   unnest([{'i': i-1, 'v': embedding[i]} FOR i IN range(1, len(embedding)+1)]) AS u
      |  FROM embeddings)),
      |cen AS (SELECT label AS c_label, idx AS c_idx, round(avg(v), 4) + 0.0 AS c
      | FROM comp GROUP BY 1, 2),
      |dist AS (SELECT vec_id, c_label,
      |  sum(CAST(round((v - c) * (v - c), 10) AS DECIMAL(24,12))) AS dist
      | FROM comp JOIN cen ON idx = c_idx GROUP BY 1, 2),
      |assign AS (SELECT vec_id, CAST(c_label AS BIGINT) AS cluster FROM (
      |  SELECT vec_id, c_label,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn FROM dist)
      | WHERE rn = 1),
      |m AS (SELECT e.vec_id, cluster, embedding::DOUBLE[] AS emb
      | FROM embeddings e JOIN assign ON e.vec_id = assign.vec_id),
      |dup AS (SELECT DISTINCT b.vec_id FROM m a JOIN m b
      |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      | WHERE list_dot_product(a.emb, b.emb)
      |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4)
      |SELECT m.vec_id, cluster, dup.vec_id IS NULL AS keep
      |FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id ORDER BY m.vec_id""".stripMargin

  private val asofSql =
    """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM e WHERE event_type = 'click')
      |SELECT p.event_id AS p_event_id, p.user_id, c.event_id AS click_event_id,
      | epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY p_event_id""".stripMargin

  // v25: the DuckDB side of the hyperplane recall audit renders its
  // plane literals from the SAME formula the engine evaluates
  // (Similarity.v25Plane) — one source of truth, integer weights that
  // widen exactly to double in both engines.
  private val v25Sql: String = {
    val planes = (0 until 4)
      .map(j => graft.operators.Similarity.v25Plane(j, 64).map(_.toInt).mkString("[", ", ", "]"))
    def pd(j: Int) = s"list_dot_product(emb, ${planes(j)}::DOUBLE[])"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |b AS (SELECT vec_id, emb,
       |  (CASE WHEN ${pd(0)} > 0 THEN 1 ELSE 0 END)
       | + 2*(CASE WHEN ${pd(1)} > 0 THEN 1 ELSE 0 END)
       | + 4*(CASE WHEN ${pd(2)} > 0 THEN 1 ELSE 0 END)
       | + 8*(CASE WHEN ${pd(3)} > 0 THEN 1 ELSE 0 END) AS bucket FROM e),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS q_b FROM b WHERE vec_id < 50),
       |ex AS (SELECT q_id, c_id FROM (
       |  SELECT q.q_id, c.vec_id AS c_id,
       |   row_number() OVER (PARTITION BY q.q_id ORDER BY
       |     list_dot_product(q.q_emb, c.emb)
       |      / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(c.emb, c.emb))) DESC,
       |     c.vec_id) AS rn
       |  FROM b c JOIN q ON c.vec_id <> q.q_id) WHERE rn <= 10),
       |cand AS (SELECT q.q_id, c.vec_id AS c_id,
       |   list_dot_product(q.q_emb, c.emb)
       |    / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cos
       | FROM b c JOIN q ON c.bucket = q.q_b AND c.vec_id <> q.q_id),
       |ap AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
       |   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM cand) WHERE rn <= 10),
       |nc AS (SELECT q_id, count(*) AS n_cands FROM cand GROUP BY 1),
       |h AS (SELECT ap.q_id, count(*) AS n_hits FROM ap
       | JOIN ex ON ap.q_id = ex.q_id AND ap.c_id = ex.c_id GROUP BY 1)
       |SELECT q.q_id, coalesce(nc.n_cands, 0) AS n_cands, coalesce(h.n_hits, 0) AS n_hits,
       | round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0, 4) AS recall
       |FROM q LEFT JOIN nc ON q.q_id = nc.q_id LEFT JOIN h ON q.q_id = h.q_id
       |ORDER BY 1""".stripMargin
  }

  // t46/s38 share one oracle: the streaming fold is bit-identical to
  // the batch report by construction (min-struct keeper commutativity)
  private val t46Sql: String =
    """WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |f AS (SELECT d.doc_id, CAST(len(tk) AS BIGINT) AS nt,
        |  (k.doc_id IS NOT NULL) AS k1,
        |  (len(tk) BETWEEN 20 AND 1000
        |   AND CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |     / greatest(len(tk), 1) <= 0.5
        |   AND CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1) >= 0.2) AS kq,
        |  substr(md5(d.text), 1, 1) IN ('0','1','2','3','4','5','6','7') AS ks
        | FROM (SELECT doc_id, text, list_filter(string_split(text,' '), x -> x <> '') AS tk
        |       FROM documents) d
        | LEFT JOIN kept k ON d.doc_id = k.doc_id),
        |a AS (SELECT count(*) AS d0, CAST(sum(nt) AS BIGINT) AS t0,
        |  CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |  CAST(sum(CASE WHEN k1 THEN nt ELSE 0 END) AS BIGINT) AS t1,
        |  CAST(sum(CASE WHEN k1 AND kq THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |  CAST(sum(CASE WHEN k1 AND kq THEN nt ELSE 0 END) AS BIGINT) AS t2,
        |  CAST(sum(CASE WHEN k1 AND kq AND ks THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |  CAST(sum(CASE WHEN k1 AND kq AND ks THEN nt ELSE 0 END) AS BIGINT) AS t3
        | FROM f)
        |SELECT v.stage_id, v.stage,
        | CASE v.stage_id WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2 ELSE d3 END AS n_docs,
        | CASE v.stage_id WHEN 0 THEN t0 WHEN 1 THEN t1 WHEN 2 THEN t2 ELSE t3 END AS n_tokens,
        | round(CASE v.stage_id WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2 ELSE d3 END
        |   / CAST(d0 AS DOUBLE), 4) AS doc_share_of_raw
        |FROM a, (VALUES (0,'raw'),(1,'exact_dedup'),(2,'quality'),(3,'sample')) v(stage_id, stage)
        |ORDER BY 1""".stripMargin

  private val s22Sql =
    """WITH t AS (SELECT doc_id, text,
      |  list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
      |q AS (SELECT doc_id, md5(text) AS fp FROM t
      |  WHERE len(tk) >= 10
      |   AND CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1) >= 0.3)
      |SELECT min(doc_id) AS doc_id, fp, CAST(2 * count(*) AS BIGINT) AS n_copies
      |FROM q GROUP BY fp ORDER BY doc_id""".stripMargin

  private val knnExactSql =
    """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_emb FROM embeddings),
      |sc AS (SELECT q_id, c_id,
      |  list_dot_product(q_emb, c_emb)
      |   / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))) AS cos
      | FROM c JOIN q ON c_id <> q_id),
      |r AS (SELECT q_id, c_id, cos,
      |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM sc)
      |SELECT q_id, rn, c_id, round(cos, 4) AS cos FROM r WHERE rn <= 5
      |ORDER BY q_id, rn""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "v7_exhaustive" -> knnExactSql,
    "v10_exact" -> knnExactSql,
    "v2_exhaustive" -> knnExactSql,
    // v14 registers AT the exhaustive config (nProbe=nLists, full
    // shortlist), so the composed IVF→SQ8→rerank pipeline must equal
    // exact brute force; production-config recall is ScalaTest-bounded
    "v14_ivf_sq8" -> knnExactSql,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q2_filter_project" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 25""".stripMargin,
    "q3_join_agg" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        | CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-01-01'
        |GROUP BY 1,2 ORDER BY revenue DESC, l_orderkey""".stripMargin,
    "q4_broadcast_join" ->
      """SELECT n_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_mktsegment = 'MACHINERY'
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderdate >= TIMESTAMP '2000-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q6_anti_join" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q7_window" ->
      """SELECT l_suppkey, rn, l_orderkey, running_qty FROM (
        | SELECT l_suppkey, l_orderkey,
        |  row_number() OVER w AS rn,
        |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_qty
        | FROM lineitem
        | WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |) WHERE rn <= 5 ORDER BY l_suppkey, rn""".stripMargin,
    "q8_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem WHERE l_quantity > 10""".stripMargin,
    "q9_topk_group" ->
      """SELECT o_orderpriority, rn, o_orderkey, price FROM (
        | SELECT o_orderpriority, o_orderkey, round(o_totalprice,2) AS price,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders
        |) WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q10_rollup" ->
      """SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
        | round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q11_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5),2) AS med_price,
        | round(quantile_cont(l_extendedprice, 0.9),2) AS p90_price,
        | round(quantile_cont(l_quantity, 0.25),2) AS p25_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_setops" ->
      """SELECT nk, tag FROM (
        | SELECT nk, 'both' AS tag FROM
        |  (SELECT DISTINCT c_nationkey AS nk FROM customer
        |   INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
        | UNION ALL
        | SELECT nk, 'customer_only' AS tag FROM
        |  (SELECT DISTINCT c_nationkey AS nk FROM customer
        |   EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        |) ORDER BY tag, nk""".stripMargin,
    "q13_conditional_agg" ->
      """SELECT c_nationkey,
        | round(sum(CASE WHEN c_mktsegment='BUILDING' THEN c_acctbal ELSE 0 END),2) AS building_bal,
        | CAST(sum(CASE WHEN c_mktsegment='MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n_machinery,
        | CAST(sum(CASE WHEN c_mktsegment='AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS n_auto,
        | count(*) AS n_total
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS ub, substr(p_name,1,8) AS prefix8,
        | CAST(length(p_name) AS INT) AS name_len,
        | p_brand || '#' || p_type AS tag,
        | replace(p_name, ' ', '_') AS snake
        |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin,
    "q15_casts_nulls" ->
      """SELECT o_orderkey,
        | CAST(floor(o_totalprice/1000) AS BIGINT) AS price_k,
        | coalesce(nullif(o_orderstatus,'O'),'OPEN') AS status_alt,
        | CAST(o_orderdate AS DATE) AS od
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q16_correlated_subquery" ->
      """SELECT c_custkey, round(c_acctbal,2) AS ab FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "q17_multi_join_chain" ->
      """SELECT r_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_having" ->
      """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY 1 HAVING count(*) >= 15 ORDER BY o_custkey""".stripMargin,
    // §2.2 events — oracles truncate ts to microseconds to match Spark's
    // nanos→micros normalization (SURVEY.md §3/§6).
    "e1_time_bucket" ->
      """SELECT CAST(epoch_ms(date_trunc('hour', ts))/1000 AS BIGINT) AS bucket_s,
        | event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "e2_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS nf
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (SELECT user_id, ts,
        |  CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        | epoch_us(min(ts))//1000000 AS start_s
        |FROM s2 GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "e3_json_extract" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(json_extract_string(props,'$.k')) AS n_with_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "e4_funnel" ->
      """WITH e AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events),
        |agg AS (SELECT user_id,
        |  min(CASE WHEN event_type='signup' THEN ts END) AS first_signup,
        |  min(CASE WHEN event_type='purchase' THEN ts END) AS first_purchase
        | FROM e GROUP BY 1)
        |SELECT user_id,
        | CASE WHEN first_signup IS NOT NULL AND first_purchase IS NOT NULL
        |       AND first_purchase > first_signup THEN 1 ELSE 0 END AS converted
        |FROM agg ORDER BY user_id""".stripMargin,
    "e5_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
        | count(DISTINCT e.user_id) AS users
        |FROM e JOIN cohort ON e.user_id = cohort.user_id
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "e6_dedup_latest" ->
      """SELECT user_id, event_id, event_type, round(value,2) AS value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        | FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // §2.4 dedup (d2's oracle is the EXACT τ=0.5 pair set — the LSH path
    // is deterministic and its verify stage makes it equal to exact).
    "d1_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "d2_dedup_minhash_lsh" ->
      """WITH s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // d3 (round-8 promotion): the md5-derived 64-bit token hash is exact
    // integer arithmetic both engines share, so DuckDB replays the
    // signature votes and xor/bit_count hamming bit-for-bit. The Spark
    // side emits only band-join candidates, but 4×16-bit bands are EXACT
    // for hamming ≤ 3 (pigeonhole), so the all-pairs oracle is the same
    // set.
    "d3_dedup_simhash" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
        |  FROM documents),
        |th AS (SELECT doc_id, CAST('0x' || substr(md5(tkn), 1, 16) AS UBIGINT) AS h
        |  FROM (SELECT doc_id, unnest(l) AS tkn FROM tk)),
        |votes AS (SELECT doc_id, b.b AS b,
        |   sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, generate_series(0, 63) b(b) GROUP BY 1, 2),
        |sig AS (SELECT d.doc_id,
        |   COALESCE(sum(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << b ELSE CAST(0 AS UBIGINT) END), 0) AS sim
        |  FROM documents d LEFT JOIN votes ON d.doc_id = votes.doc_id GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "d4_ngram_jaccard" ->
      """WITH s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3 AND doc_id < 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "d5_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // §2.5 similarity
    "v1_knn_brute" -> knnExactSql,
    // v30's exact twin: the identical pool->top-k selection over the
    // complete candidate set — v1's oracle replays it (graph search
    // itself is recall-inherent and stays rows-only + ScalaTest floor)
    "v30_exhaustive" -> knnExactSql,
    "v3_vector_stats" ->
      """WITH e AS (SELECT label, CAST(len(embedding) AS INT) AS dim,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings)
        |SELECT label, count(*) AS n, min(dim) AS min_dim, max(dim) AS max_dim,
        | round(avg(nrm), 4) AS avg_norm, round(min(nrm), 4) AS min_norm,
        | round(max(nrm), 4) AS max_norm
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    // §2.6 text analysis
    "t2_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents)
        |SELECT doc_id, CAST(length(text) AS INT) AS n_chars_m, CAST(len(tk) AS INT) AS n_tokens,
        | round(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / greatest(len(tk), 1), 4) AS avg_tok_len,
        | round(CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / greatest(len(tk), 1), 4) AS stop_ratio,
        | round(CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1), 4) AS distinct_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    "t3_token_count" ->
      """SELECT doc_id,
        | CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS INT) AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Fletcher-style position-weighted modular checksum: md5-derived
    // token hashes, exact BIGINT arithmetic on both engines
    "t4_fingerprint_rolling" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
        |  FROM documents),
        |tok AS (SELECT doc_id, ord, CAST('0x' || substr(md5(tkn), 1, 8) AS BIGINT) AS th
        |  FROM (SELECT doc_id, unnest(l) AS tkn, unnest(range(1, len(l) + 1)) AS ord FROM tk))
        |SELECT d.doc_id,
        | CAST(COALESCE(sum(th), 0) % 34359738337 AS BIGINT) AS fp_sum,
        | CAST(COALESCE(sum(ord * th), 0) % 34359738337 AS BIGINT) AS fp_pos
        |FROM documents d LEFT JOIN tok ON d.doc_id = tok.doc_id
        |GROUP BY 1 ORDER BY d.doc_id""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5, CAST(length(text) AS INT) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_ngram_freq" ->
      """SELECT bg, count(*) AS n FROM (
        | SELECT unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS bg
        | FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents))
        |GROUP BY bg ORDER BY n DESC, bg""".stripMargin,
    // §2.3 streaming: the landed data must aggregate to what DuckDB
    // computes straight from the source table.
    "s1_ingest_parquet" ->
      """SELECT CAST(ts AS DATE) AS dt, CAST(strftime(ts, '%H') AS INT) AS hr,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "s2_stream_window_agg" ->
      """SELECT CAST(epoch_ms(date_trunc('hour', ts))/1000 AS BIGINT) AS bucket_s,
        | event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // §2.7 multimodal (metadata fields are the deterministic fake-decode)
    "m1_binary_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        | CAST(32 + octet_length(encode(text)) % 64 AS INT) AS w,
        | CAST(32 + (octet_length(encode(text)) * 7) % 64 AS INT) AS h,
        | CAST(1 + doc_id % 5 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e7_asof_join" -> asofSql,
    // e7b/s25: the NATIVE AsofJoinExec and the STREAMING state machine
    // must both be value-identical to the composed form (e7) and to
    // DuckDB's own ASOF JOIN — one oracle, three execution strategies
    "e7b_asof_native" -> asofSql,
    "s25_stream_asof" -> asofSql,
    // s43 (round 18): the watermark-buffered out-of-order state machine
    // is held to the SAME ASOF answer as e7/e7b/s25
    "s43_stream_asof_ooo" -> asofSql,
    "q19_range_join" ->
      """SELECT label, count(*) AS n, round(sum(l_extendedprice),2) AS sum_price
        |FROM lineitem JOIN (VALUES (0,10,'low'),(10,25,'mid'),(25,100,'high')) r(lo,hi,label)
        | ON l_quantity > r.lo AND l_quantity <= r.hi
        |GROUP BY label ORDER BY label""".stripMargin,
    "q20_pivot" ->
      """SELECT o_orderpriority,
        | round(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END),2) AS F,
        | round(sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END),2) AS O,
        | round(sum(CASE WHEN o_orderstatus='P' THEN o_totalprice END),2) AS P
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "t6_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(text),1,1) IN ('0','1') ORDER BY doc_id""".stripMargin,
    // temperature mixture sampling: integer counts until the one double
    // division, sqrt (IEEE-exact) for alpha=0.5, decimal-quantized
    // normalizer sum, rates rounded to 6dp BEFORE the integer hash
    // threshold — the accept set is engine-independent
    // token-budget mixture: identical algebra over exact BIGINT token
    // sums instead of doc counts
    "t23_token_mixture" ->
      """WITH c AS (SELECT lang,
        |  CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_i
        | FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_i) AS nt FROM c),
        |pw AS (SELECT lang, CAST(n_i AS DOUBLE) / nt AS s_i,
        |        sqrt(CAST(n_i AS DOUBLE) / nt) AS p_i FROM c, t),
        |z AS (SELECT CAST(sum(CAST(p_i AS DECIMAL(20,15))) AS DOUBLE) AS zp FROM pw),
        |r AS (SELECT lang, p_i / zp / s_i AS rate FROM pw, z),
        |m AS (SELECT max(rate) AS rmax FROM r),
        |f AS (SELECT lang, round(rate / rmax, 6) AS rate FROM r, m)
        |SELECT d.doc_id, d.lang, f.rate
        |FROM documents d JOIN f USING (lang)
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      < CAST(floor(rate * 4294967296) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin,
    "t22_mixture_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n_i FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_i) AS nt FROM c),
        |pw AS (SELECT lang, CAST(n_i AS DOUBLE) / nt AS s_i,
        |        sqrt(CAST(n_i AS DOUBLE) / nt) AS p_i FROM c, t),
        |z AS (SELECT CAST(sum(CAST(p_i AS DECIMAL(20,15))) AS DOUBLE) AS zp FROM pw),
        |r AS (SELECT lang, p_i / zp / s_i AS rate FROM pw, z),
        |m AS (SELECT max(rate) AS rmax FROM r),
        |f AS (SELECT lang, round(rate / rmax, 6) AS rate FROM r, m)
        |SELECT d.doc_id, d.lang, f.rate
        |FROM documents d JOIN f USING (lang)
        |WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      < CAST(floor(rate * 4294967296) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin,
    // m25: both gradient sums replayed from the pixel generator — any
    // decoder stride/row-order/bit-depth drift shifts every term
    "m25_gradient_anisotropy" ->
      """WITH m AS (SELECT doc_id, CAST(4 + doc_id % 13 AS BIGINT) AS w,
        |  CAST(4 + (doc_id*7) % 11 AS BIGINT) AS h FROM documents),
        |gxt AS (SELECT doc_id, sum(abs(
        |   (doc_id*31 + (y.y*w + x.x + 1)*7919) % 256
        | - (doc_id*31 + (y.y*w + x.x)*7919) % 256)) AS gx
        | FROM m, generate_series(0, 15) x(x), generate_series(0, 14) y(y)
        | WHERE x.x <= w - 2 AND y.y <= h - 1 GROUP BY 1),
        |gyt AS (SELECT doc_id, sum(abs(
        |   (doc_id*31 + ((y.y+1)*w + x.x)*7919) % 256
        | - (doc_id*31 + (y.y*w + x.x)*7919) % 256)) AS gy
        | FROM m, generate_series(0, 15) x(x), generate_series(0, 14) y(y)
        | WHERE x.x <= w - 1 AND y.y <= h - 2 GROUP BY 1)
        |SELECT m.doc_id, m.w, m.h,
        | CAST(gx AS BIGINT) AS gx_l1, CAST(gy AS BIGINT) AS gy_l1,
        | round(gx * 1.0 / (gx + gy), 6) AS h_share
        |FROM m JOIN gxt USING (doc_id) JOIN gyt USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // v29: all-pairs cos >= 0.5 degrees + the degree-0 population;
    // float->double dots are bit-identical on both engines
    "v29_degree_hist" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        | FROM n a JOIN n b ON a.vec_id < b.vec_id
        | WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.5),
        |deg AS (SELECT v, count(*) AS dg
        | FROM (SELECT ia AS v FROM p UNION ALL SELECT ib FROM p) GROUP BY 1),
        |alln AS (SELECT n.vec_id, CAST(coalesce(deg.dg, 0) AS INT) AS degree
        | FROM n LEFT JOIN deg ON n.vec_id = deg.v)
        |SELECT degree, count(*) AS n_vectors FROM alln GROUP BY 1 ORDER BY 1""".stripMargin,
    // t50: fixed 10-token chunk hashes; a chunk is duplicated when its
    // corpus frequency >= 2; flag docs over 30% duplicated chunks
    "t50_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |c AS (SELECT doc_id,
        |  unnest([md5(array_to_string(ts[(i*10+1):(i*10+10)], ' '))
        |          FOR i IN range(0, CAST(ceil(len(ts)/10.0) AS INT))]) AS h
        | FROM t WHERE len(ts) > 0),
        |f AS (SELECT h, count(*) AS cf FROM c GROUP BY 1),
        |p AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN f.cf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        | FROM c JOIN f USING (h) GROUP BY 1)
        |SELECT doc_id, n_chunks, n_dup_chunks,
        | round(n_dup_chunks * 1.0 / n_chunks, 6) AS dup_share,
        | (n_dup_chunks * 1.0 / n_chunks >= 0.3) AS flagged
        |FROM p ORDER BY doc_id""".stripMargin,
    // d28: d6's GraphX cluster map under its registered name; its
    // oracle is d6's transitive closure
    "d28_cc_bigstar" ->
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges)
        |SELECT a AS doc_id, min(b) AS canonical_id FROM allr GROUP BY 1 ORDER BY 1""".stripMargin,
    "d6_dedup_clusters" ->
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges)
        |SELECT a AS doc_id, min(b) AS canonical_id FROM allr GROUP BY 1 ORDER BY 1""".stripMargin,
    "c1_compact" ->
      """SELECT CAST(ts AS DATE) AS dt, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_window_analytics" ->
      """SELECT l_orderkey, l_linenumber, qty_lag, qty_lead, qtile, pr FROM (
        | SELECT l_orderkey, l_linenumber,
        |  lag(l_quantity) OVER w AS qty_lag,
        |  lead(l_quantity) OVER w AS qty_lead,
        |  ntile(4) OVER w AS qtile,
        |  round(percent_rank() OVER w, 6) AS pr
        | FROM lineitem WHERE l_returnflag = 'R'
        | WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber))
        |ORDER BY l_orderkey, l_linenumber, pr, qtile, qty_lag NULLS FIRST, qty_lead NULLS FIRST""".stripMargin,
    "q22_grouping_sets" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS st, coalesce(o_orderpriority,'ALL') AS pri,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY st, pri""".stripMargin,
    "e8_resample" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
        |b AS (SELECT min(h) AS mn, max(h) AS mx FROM e),
        |spine AS (
        | SELECT t.event_type, gs.h
        | FROM (SELECT DISTINCT event_type FROM e) t
        | CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b) gs),
        |cnt AS (SELECT event_type, h, count(*) AS cnt FROM e GROUP BY 1,2)
        |SELECT CAST(epoch_ms(s.h)/1000 AS BIGINT) AS bucket_s, s.event_type,
        | coalesce(cnt.cnt, 0) AS n
        |FROM spine s LEFT JOIN cnt ON s.h = cnt.h AND s.event_type = cnt.event_type
        |ORDER BY 1, 2""".stripMargin,
    "e9_collect_nested" ->
      """SELECT user_id, count(*) AS n,
        | string_agg(event_type, '|' ORDER BY event_id) AS types_s
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the full mixture-curation chain recomputed end-to-end: t22's rate
    // arithmetic, the quality gates, keep-min dedup, m6's shard algebra
    "p4_curate_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n_i FROM documents GROUP BY 1),
        |t0 AS (SELECT sum(n_i) AS nt FROM c),
        |pw AS (SELECT lang, CAST(n_i AS DOUBLE) / nt AS s_i,
        |        sqrt(CAST(n_i AS DOUBLE) / nt) AS p_i FROM c, t0),
        |z AS (SELECT CAST(sum(CAST(p_i AS DECIMAL(20,15))) AS DOUBLE) AS zp FROM pw),
        |r AS (SELECT lang, p_i / zp / s_i AS rate FROM pw, z),
        |m0 AS (SELECT max(rate) AS rmax FROM r),
        |f AS (SELECT lang, round(rate / rmax, 6) AS rate FROM r, m0),
        |acc AS (SELECT d.doc_id, d.text, d.n_chars
        | FROM documents d JOIN f USING (lang)
        | WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |       < CAST(floor(rate * 4294967296) AS BIGINT)),
        |g0 AS (SELECT doc_id, text, n_chars,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM acc),
        |g AS (SELECT doc_id, text, n_chars, CAST(len(tk) AS INT) AS n_tokens,
        |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |    / greatest(len(tk), 1) AS sr
        | FROM g0),
        |gg AS (SELECT doc_id, text, n_chars FROM g
        | WHERE n_tokens BETWEEN 20 AND 1000 AND sr <= 0.5),
        |kept AS (SELECT min(doc_id) AS doc_id FROM gg GROUP BY md5(text)),
        |sv AS (SELECT gg.doc_id, gg.n_chars,
        |  ((gg.doc_id & 2147483647) * 2654435761) % 4294967296 AS rk
        | FROM gg JOIN kept USING (doc_id)),
        |b AS (SELECT *, rk % 8 AS bkt FROM sv),
        |p AS (SELECT bkt, doc_id, n_chars,
        |  COALESCE(sum(n_chars) OVER (PARTITION BY bkt ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        | FROM b)
        |SELECT bkt * 100000 + CAST(floor(prefix / 5000.0) AS BIGINT) AS shard_id,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | min(doc_id) AS first_doc
        |FROM p GROUP BY 1 ORDER BY shard_id""".stripMargin,
    "p1_curate" ->
      """WITH kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |t AS (SELECT d.doc_id, d.lang, d.text,
        |  list_filter(string_split(d.text, ' '), x -> x <> '') AS tk
        | FROM documents d JOIN kept k ON d.doc_id = k.doc_id),
        |q AS (SELECT doc_id, lang, text, CAST(len(tk) AS INT) AS n_tokens,
        |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |    / greatest(len(tk), 1) AS sr,
        |  CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1) AS dr
        | FROM t)
        |SELECT doc_id, lang, n_tokens FROM q
        |WHERE n_tokens BETWEEN 20 AND 1000 AND sr <= 0.5 AND dr >= 0.2
        |  AND substr(md5(text),1,1) IN ('0','1','2','3','4','5','6','7')
        |ORDER BY doc_id""".stripMargin,
    "t7_unigram_logprob" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        | FROM documents),
        |freq AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM freq)
        |SELECT doc_id, round(sum(ln(CAST(c AS DOUBLE) / s)) / count(*), 3) AS avg_logprob
        |FROM tok JOIN freq USING (t) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q24_topk_custom" ->
      """SELECT o_orderpriority, rn, o_orderkey, price FROM (
        | SELECT o_orderpriority, o_orderkey, round(o_totalprice,2) AS price,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders
        |) WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "d7_dedup_apply" ->
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges),
        |comp AS (SELECT a AS doc_id, min(b) AS canonical_id FROM allr GROUP BY 1)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> canonical_id)
        |ORDER BY doc_id""".stripMargin,
    // v17: half-centroid drift replayed — v4's rounded elementwise means
    // per half, component products quantized decimal before the sums
    "v17_embedding_drift" ->
      """WITH cut AS (SELECT CAST(floor((max(vec_id)+1)/2.0) AS BIGINT) AS cut FROM embeddings),
        |h AS (SELECT vec_id, label, embedding,
        |  CASE WHEN vec_id < cut THEN 'a' ELSE 'b' END AS half FROM embeddings, cut),
        |ex AS (SELECT label, half,
        |  unnest([{'i': i-1, 'v': embedding[i]} FOR i IN range(1, len(embedding)+1)]) AS u FROM h),
        |cen AS (SELECT label, half, u.i AS idx, round(avg(u.v), 4) + 0.0 AS c
        | FROM ex GROUP BY 1, 2, 3),
        |d AS (SELECT a.label,
        |  sum(CAST(round(a.c*b.c, 12) AS DECIMAL(24,12))) AS dab,
        |  sum(CAST(round(a.c*a.c, 12) AS DECIMAL(24,12))) AS daa,
        |  sum(CAST(round(b.c*b.c, 12) AS DECIMAL(24,12))) AS dbb
        | FROM cen a JOIN cen b ON a.label = b.label AND a.idx = b.idx
        | WHERE a.half = 'a' AND b.half = 'b' GROUP BY 1),
        |nn AS (SELECT label,
        |  CAST(sum(CASE WHEN half='a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN half='b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        | FROM h GROUP BY 1)
        |SELECT d.label, n_a, n_b,
        | round(CAST(dab AS DOUBLE)/(sqrt(CAST(daa AS DOUBLE))*sqrt(CAST(dbb AS DOUBLE))), 6) AS centroid_cos
        |FROM d JOIN nn ON d.label = nn.label ORDER BY d.label""".stripMargin,
    "v4_centroids" ->
      """SELECT label, CAST(u.i AS INT) AS idx, round(avg(u.v), 4) + 0.0 AS c FROM (
        | SELECT label, unnest([{'i': i-1, 'v': embedding[i]} FOR i IN range(1, len(embedding)+1)]) AS u
        | FROM embeddings)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t8_normalize" ->
      """SELECT doc_id,
        | trim(regexp_replace(upper(text), '\s+', ' ', 'g')) AS norm,
        | CAST(length(trim(regexp_replace(upper(text), '\s+', ' ', 'g'))) AS INT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q25_window_correlated" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS p FROM (
        | SELECT o_orderkey, o_totalprice,
        |  avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cavg
        | FROM orders)
        |WHERE o_totalprice > cavg ORDER BY o_orderkey""".stripMargin,
    "e10_funnel_windowed" ->
      """WITH e AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events),
        |su AS (SELECT user_id, min(CASE WHEN event_type='signup' THEN ts END) AS fs
        |       FROM e GROUP BY 1 HAVING min(CASE WHEN event_type='signup' THEN ts END) IS NOT NULL),
        |conv AS (SELECT DISTINCT p.user_id FROM e p JOIN su ON p.user_id = su.user_id
        |         WHERE p.event_type = 'purchase' AND p.ts >= su.fs
        |           AND p.ts <= su.fs + INTERVAL 24 HOUR)
        |SELECT su.user_id, CASE WHEN conv.user_id IS NULL THEN 0 ELSE 1 END AS converted_24h
        |FROM su LEFT JOIN conv ON su.user_id = conv.user_id
        |ORDER BY su.user_id""".stripMargin,
    "q26_cube" ->
      """SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
        | round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q27_argmax" ->
      """SELECT c_nationkey,
        | arg_max(c_name, c_acctbal) AS richest,
        | arg_min(c_name, c_acctbal) AS poorest,
        | round(max(c_acctbal),2) AS max_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "q28_string_agg" ->
      """SELECT o_orderpriority,
        | string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "e11_event_gaps" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(date_trunc('microseconds', ts)) AS tus FROM events),
        |g AS (SELECT user_id,
        |  (tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)) / 1000000.0 AS gap_s
        | FROM e)
        |SELECT user_id, count(*) AS n_gaps, round(avg(gap_s), 2) AS avg_gap_s,
        | round(max(gap_s), 2) AS max_gap_s
        |FROM g WHERE gap_s IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "d8_intradoc_dup" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents),
        |s AS (SELECT doc_id, CAST(len(ts) AS INT) AS n_tok,
        |  CAST(len(list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)])) AS INT) AS n_distinct
        | FROM t WHERE len(ts) >= 3)
        |SELECT doc_id, n_tok - 2 AS n_shingles, n_distinct,
        | round(1.0 - CAST(n_distinct AS DOUBLE) / (n_tok - 2), 4) AS dup_ratio
        |FROM s ORDER BY doc_id""".stripMargin,
    "q29_range_frame" ->
      """SELECT o_orderkey, o_custkey, rev_30d FROM (
        | SELECT o_orderkey, o_custkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY CAST(epoch_ms(o_orderdate)/1000 AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2) AS rev_30d
        | FROM orders WHERE o_custkey <= 100)
        |ORDER BY o_orderkey, o_custkey, rev_30d""".stripMargin,
    "q30_full_outer" ->
      """SELECT coalesce(c.nk, s.nk) AS nationkey,
        | coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1) s
        | ON c.nk = s.nk
        |ORDER BY nationkey""".stripMargin,
    "m2_media_manifest" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        | CAST(max(octet_length(encode(text))) AS INT) AS max_bytes,
        | CAST(sum(1 + doc_id % 5) AS BIGINT) AS total_frames
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "e12_outliers" ->
      """SELECT event_id, event_type, round(value, 2) AS value FROM (
        | SELECT event_id, event_type, value,
        |  avg(value) OVER w + 2.5 * stddev_samp(value) OVER w AS thr
        | FROM events WINDOW w AS (PARTITION BY event_type))
        |WHERE value > thr ORDER BY event_id""".stripMargin,
    "q31_date_funcs" ->
      """SELECT o_orderkey,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        | last_day(CAST(o_orderdate AS DATE)) AS eom,
        | CAST(year(o_orderdate) AS INT) AS y,
        | CAST(month(o_orderdate) AS INT) AS m,
        | CAST(dayofweek(o_orderdate) AS INT) AS dow0
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "t9_tfidf" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS t
        | FROM documents),
        |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
        |tf AS (SELECT doc_id, t, count(*) AS tc FROM tok GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        |SELECT tf.doc_id, tf.t,
        | round((CAST(tc AS DOUBLE) / len) * ln(n.n / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN n
        |ORDER BY tf.doc_id, tf.t""".stripMargin,
    "e13_transitions" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
        |g AS (SELECT event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        | FROM e)
        |SELECT prev_type, event_type AS next_type, count(*) AS n
        |FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q32_null_aggs" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        | count(CASE WHEN c_acctbal > 0 THEN c_acctbal END) AS n_pos,
        | round(sum(CASE WHEN c_acctbal > 0 THEN c_acctbal END), 2) AS sum_pos,
        | round(avg(CASE WHEN c_acctbal > 0 THEN c_acctbal END), 4) AS avg_pos,
        | round(min(CASE WHEN c_acctbal > 0 THEN c_acctbal END), 2) AS min_pos
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    // q53: sweep-line replayed — +1/-1 day deltas, running sum over the
    // day-grain table, per-month peak with earliest-day tie-break
    "q53_interval_overlap" ->
      """WITH spans AS (
        | SELECT CAST(o_orderdate AS DATE) AS open_day, CAST(l_shipdate AS DATE) AS ship_day
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deltas AS (
        | SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM (
        |  SELECT open_day AS day, 1 AS delta FROM spans
        |  UNION ALL
        |  SELECT ship_day AS day, -1 AS delta FROM spans)
        | GROUP BY day),
        |conc AS (SELECT day, sum(net) OVER (ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_lines FROM deltas),
        |m AS (SELECT date_trunc('month', day)::DATE AS month, day, open_lines FROM conc),
        |pk AS (SELECT month, CAST(max(open_lines) AS BIGINT) AS peak_open FROM m GROUP BY 1)
        |SELECT m.month, pk.peak_open, min(day) AS peak_day
        |FROM m JOIN pk ON m.month = pk.month AND m.open_lines = pk.peak_open
        |GROUP BY m.month, pk.peak_open ORDER BY m.month""".stripMargin,
    // c26: the greedy bin-pack replayed — preceding cumulative rows over
    // the (day, hour) inventory, bin = cum_before // target
    "c26_compaction_plan" ->
      """WITH files AS (SELECT CAST(ts AS DATE) AS dt, CAST(hour(ts) AS BIGINT) AS hr,
        |  count(*) AS n_rows FROM events GROUP BY 1, 2),
        |c AS (SELECT dt, hr, n_rows,
        |  coalesce(sum(n_rows) OVER (PARTITION BY dt ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        | FROM files)
        |SELECT dt, CAST(cum_before // 200 AS BIGINT) AS bin, count(*) AS n_files,
        | CAST(sum(n_rows) AS BIGINT) AS n_rows, min(hr) AS first_hr, max(hr) AS last_hr
        |FROM c GROUP BY dt, cum_before // 200 ORDER BY dt, bin""".stripMargin,
    // s29: the drift rule replayed over the batch table (the staged
    // producer adds v2_score exactly on event_id % 7 = 0)
    "s29_schema_drift" ->
      """SELECT route, n_rows, n_users FROM (
        | SELECT 'drift' AS route, count(*) AS n_rows, count(DISTINCT user_id) AS n_users
        | FROM events WHERE event_id % 7 = 0
        | UNION ALL
        | SELECT 'ok' AS route, count(*) AS n_rows, count(DISTINCT user_id) AS n_users
        | FROM events WHERE event_id % 7 <> 0)
        |ORDER BY route""".stripMargin,
    // q54: same distinct + bounded self-join + support filter
    "q54_copurchase" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
        |FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY part_a, part_b""".stripMargin,
    // s30 shares e40's oracle: the landed OCC counts must yield the
    // identical batch statistic (as-of-triad discipline)
    "s30_stream_psi" -> psiSql,
    // c27: both versions replayed (v1 = latest over the early half, v2 =
    // latest over all — the merge's latest-wins closure), full-outer diff
    "c27_version_diff" ->
      """WITH e AS (SELECT user_id, event_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS tus FROM events),
        |b AS (SELECT min(tus) AS mn, max(tus) AS mx FROM e),
        |v1 AS (SELECT user_id, event_id AS old_event_id FROM (
        |  SELECT user_id, event_id,
        |   row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM e, b WHERE 2*tus < mn + mx) WHERE rn = 1),
        |v2 AS (SELECT user_id, event_id AS new_event_id FROM (
        |  SELECT user_id, event_id,
        |   row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM e) WHERE rn = 1)
        |SELECT coalesce(v1.user_id, v2.user_id) AS user_id,
        | CASE WHEN v1.user_id IS NULL THEN 'added'
        |      WHEN v2.user_id IS NULL THEN 'removed'
        |      WHEN old_event_id <> new_event_id THEN 'updated'
        |      ELSE 'unchanged' END AS change,
        | old_event_id, new_event_id
        |FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
        |ORDER BY user_id""".stripMargin,
    // e40: PSI replayed — shared integer bins, per-bin term quantized to
    // decimal(20,10) before the per-type sum (also gates s30)
    "e40_psi_drift" -> psiSql,
    // m16: clipping replayed from the generating PCM formulas; runs via
    // the islands delta over clipped sample positions
    "m16_audio_clipping" ->
      """WITH m AS (SELECT doc_id, CAST(64 + doc_id % 41 AS BIGINT) AS n FROM documents),
        |s AS (SELECT doc_id, n, i.i,
        |  ((doc_id*31 + i.i*i.i*7919) % 65536) - 32768 AS v
        | FROM m, generate_series(0, 104) i(i) WHERE i.i < n),
        |c AS (SELECT doc_id, n, i, abs(v) >= 20000 AS clip FROM s),
        |runs AS (SELECT doc_id, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        | FROM c WHERE clip),
        |rl AS (SELECT doc_id, max(cnt) AS max_run FROM (
        |  SELECT doc_id, grp, count(*) AS cnt FROM runs GROUP BY 1, 2) GROUP BY 1),
        |agg AS (SELECT doc_id, any_value(n) AS n_samples,
        |  CAST(sum(CASE WHEN clip THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        | FROM c GROUP BY 1)
        |SELECT a.doc_id, a.n_samples, a.n_clipped,
        | coalesce(rl.max_run, 0) AS max_run,
        | a.n_clipped * 2 < a.n_samples AS keep
        |FROM agg a LEFT JOIN rl ON a.doc_id = rl.doc_id ORDER BY a.doc_id""".stripMargin,
    // e39: the same RANGE frame over epoch seconds, reduced per user —
    // shared verbatim by s31, its OCC-folded streaming twin
    "e39_rate_limit" -> rateLimitSql,
    "s31_stream_rate_limit" -> rateLimitSql,
    "e14_sliding_rate" ->
      """WITH e AS (SELECT event_id, event_type,
        |  epoch_us(date_trunc('microseconds', ts)) // 1000000 AS tus_s FROM events)
        |SELECT event_id, event_type, n_5min FROM (
        | SELECT event_id, event_type,
        |  count(*) OVER (PARTITION BY event_type ORDER BY tus_s
        |    RANGE BETWEEN 300 PRECEDING AND CURRENT ROW) AS n_5min
        | FROM e)
        |WHERE event_id % 97 = 0 ORDER BY event_id""".stripMargin,
    "q33_order_deltas" ->
      """SELECT o_orderkey, o_custkey, delta FROM (
        | SELECT o_orderkey, o_custkey,
        |  round(o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey), 2) AS delta
        | FROM orders)
        |WHERE delta IS NOT NULL ORDER BY o_orderkey, o_custkey, delta""".stripMargin,
    "t10_vocab_prune" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |tok AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS t
        |        FROM documents),
        |df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
        |SELECT t, df FROM df CROSS JOIN n
        |WHERE df >= 2 AND df <= CAST(0.5 * n.n AS BIGINT) ORDER BY t""".stripMargin,
    "d5b_dedup_embedding_blocked" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "c2_merge_upsert" ->
      """SELECT user_id, event_id, event_type, round(value,2) AS value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        | FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "c2b_time_travel" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |   epoch_us(date_trunc('microseconds', ts)) AS tus FROM events),
        |b AS (SELECT min(tus) AS mn, max(tus) AS mx FROM e)
        |SELECT user_id, event_id, event_type, round(value,2) AS value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        | FROM e, b WHERE 2*tus < mn + mx
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q38_grouping_id" ->
      """SELECT
        | CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
        | CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
        | CAST(2 * grouping(l_returnflag) + grouping(l_linestatus) AS INT) AS gid,
        | round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,
    "d10_containment" ->
      """WITH s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3 AND doc_id < 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 4) AS containment
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 4) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "e20_churn" ->
      """WITH u AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_day FROM events GROUP BY 1),
        |b AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events)
        |SELECT user_id, last_day,
        | CASE WHEN date_diff('day', last_day, mxd) >= 7 THEN 1 ELSE 0 END AS churned
        |FROM u CROSS JOIN b ORDER BY user_id""".stripMargin,
    "t14_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CASE WHEN lang = 'en'
        |  THEN substr(md5(text),1,1) IN ('0','1','2','3','4','5','6','7')
        |  ELSE substr(md5(text),1,1) IN ('0','1') END
        |ORDER BY doc_id""".stripMargin,
    "t13_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents),
        |bg AS (SELECT doc_id, unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS bg FROM t),
        |cb AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |cu AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1)
        |SELECT bg.doc_id,
        | round(avg(ln(CAST(cb.c2 AS DOUBLE) / cu.c1)), 3) AS avg_bg_logprob
        |FROM bg JOIN cb USING (bg) JOIN cu ON split_part(bg.bg, ' ', 1) = cu.w1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "v6_centroid_sim" ->
      """WITH cen AS (
        | SELECT label, CAST(u.i AS INT) AS idx, avg(u.v) AS c FROM (
        |  SELECT label, unnest([{'i': i-1, 'v': embedding[i]} FOR i IN range(1, len(embedding)+1)]) AS u
        |  FROM embeddings)
        | GROUP BY 1, 2),
        |nrm AS (SELECT label, sqrt(sum(c*c)) AS n FROM cen GROUP BY 1),
        |dt AS (SELECT a.label AS label_a, b.label AS label_b, sum(a.c*b.c) AS d
        |       FROM cen a JOIN cen b ON a.idx = b.idx AND a.label < b.label GROUP BY 1,2)
        |SELECT label_a, label_b, round(d / (x.n * y.n), 4) AS cos
        |FROM dt JOIN nrm x ON label_a = x.label JOIN nrm y ON label_b = y.label
        |ORDER BY label_a, label_b""".stripMargin,
    "e17_session_window" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS nf
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (SELECT user_id, ts,
        |  CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM s)
        |SELECT user_id, epoch_us(min(ts))//1000000 AS start_s, count(*) AS n_events
        |FROM s2 GROUP BY user_id, session_id ORDER BY user_id, start_s""".stripMargin,
    // same oracle as e17: the native streaming session aggregation must
    // reproduce the batch sessions
    "s7_stream_session_window" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS nf
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (SELECT user_id, ts,
        |  CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM s)
        |SELECT user_id, epoch_us(min(ts))//1000000 AS start_s, count(*) AS n_events
        |FROM s2 GROUP BY user_id, session_id ORDER BY user_id, start_s""".stripMargin,
    "e18_sequence_funnel" ->
      """WITH e AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events),
        |fs AS (SELECT user_id, min(CASE WHEN event_type='signup' THEN ts END) AS fs
        |       FROM e GROUP BY 1
        |       HAVING min(CASE WHEN event_type='signup' THEN ts END) IS NOT NULL),
        |fc AS (SELECT e.user_id, min(e.ts) AS fc FROM e JOIN fs ON e.user_id = fs.user_id
        |       WHERE e.event_type = 'click' AND e.ts > fs.fs GROUP BY 1),
        |dn AS (SELECT DISTINCT e.user_id FROM e JOIN fc ON e.user_id = fc.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > fc.fc)
        |SELECT fs.user_id,
        | CASE WHEN fc.user_id IS NULL THEN 0 ELSE 1 END AS reached_click,
        | CASE WHEN dn.user_id IS NULL THEN 0 ELSE 1 END AS completed
        |FROM fs LEFT JOIN fc ON fs.user_id = fc.user_id
        | LEFT JOIN dn ON fs.user_id = dn.user_id
        |ORDER BY fs.user_id""".stripMargin,
    // e6's shape: the incrementally-merged store must equal the batch
    // latest-event-per-key view
    "s6_foreachbatch_upsert" ->
      """SELECT user_id, event_id, event_type, round(value,2) AS value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        | FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // the oracle sees the ORIGINAL table; the stream consumed every event
    // twice — a dedup miss doubles the counts
    "s3_stream_dedup" ->
      """SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "s8_stream_outer_join" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
        |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM e WHERE event_type = 'click')
        |SELECT p.p_id, c.c_id, epoch_us(p.p_ts) - epoch_us(c.c_ts) AS gap_us
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        | AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        |ORDER BY p_id, c_id NULLS FIRST""".stripMargin,
    "s5_stream_stream_join" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
        |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM e WHERE event_type = 'click')
        |SELECT p.p_id, c.c_id, epoch_us(p.p_ts) - epoch_us(c.c_ts) AS gap_us
        |FROM p JOIN c ON p.user_id = c.user_id
        | AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        |ORDER BY p_id, c_id""".stripMargin,
    // same oracle as s4/e2: sessions spanning the stop/restart must be
    // identical to batch sessionization (checkpoint state recovery)
    "s9_restart_session" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS nf
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (SELECT user_id, ts,
        |  CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        | epoch_us(min(ts))//1000000 AS start_s
        |FROM s2 GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // identical to e2's oracle: streaming stateful sessionization must
    // reproduce the batch sessionization exactly
    "s4_stream_session" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS nf
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (SELECT user_id, ts,
        |  CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        | epoch_us(min(ts))//1000000 AS start_s
        |FROM s2 GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "c4_backfill" ->
      """SELECT CAST(ts AS DATE) AS dt, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // c6: merging materialized partials must equal the full recompute
    "c6_incremental_rollup" ->
      """SELECT event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value,
        | round(sum(value) / count(*), 4) AS avg_value,
        | round(min(value), 2) AS min_value,
        | round(max(value), 2) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "e21_ewma" ->
      """WITH se AS (
        | SELECT CAST(epoch_ms(date_trunc('hour', ts))/1000 AS BIGINT) AS bucket_s,
        |  event_type, count(*) AS x
        | FROM events GROUP BY 1,2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY bucket_s) AS rn FROM se)
        |SELECT a.event_type, a.bucket_s, a.x,
        | round(sum(b.x * pow(0.7, a.rn - b.rn)) / sum(pow(0.7, a.rn - b.rn)), 4) AS ewma,
        | CASE WHEN a.x > 2 * round(sum(b.x * pow(0.7, a.rn - b.rn)) / sum(pow(0.7, a.rn - b.rn)), 4)
        |  THEN 1 ELSE 0 END AS spike
        |FROM r a JOIN r b
        | ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 47 AND a.rn
        |GROUP BY a.event_type, a.bucket_s, a.x, a.rn
        |ORDER BY a.event_type, a.bucket_s""".stripMargin,
    "t15_pack" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS tok,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS part
        | FROM documents),
        |p AS (SELECT part, doc_id, tok,
        |  COALESCE(sum(tok) OVER (PARTITION BY part ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        | FROM t)
        |SELECT part, CAST(pre // 2048 AS BIGINT) AS bin_id, count(*) AS n_docs,
        | CAST(sum(tok) AS BIGINT) AS total_tokens
        |FROM p GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "t16_decontaminate" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct([ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]
        |    FOR i IN range(1, len(ts)-3)]) AS sh
        | FROM tk WHERE len(ts) >= 5),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh
        | WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,1) = '0'),
        |corp AS (SELECT doc_id, unnest(sh) AS g FROM sh
        | WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,1) <> '0')
        |SELECT c.doc_id, count(*) AS n_hits
        |FROM corp c JOIN bench b ON c.g = b.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // c5: the clustered layout must be semantically invisible — same
    // range query over the RAW table
    "c5_range_layout" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_extendedprice), 2) AS revenue,
        | round(avg(l_discount), 6) AS avg_disc
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t1_lang_id" ->
      """WITH t AS (SELECT doc_id, lang AS lang_meta,
        |  list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents)
        |SELECT doc_id, lang_meta,
        | CASE WHEN g['hits'] > 0 THEN g['lang'] ELSE 'und' END AS lang_pred
        |FROM (
        | SELECT doc_id, lang_meta, list_max([
        |  {'hits': len(list_filter(tk, x -> x IN ('der','die','das','und','ist','ein','zu','den'))), 'lang': 'de'},
        |  {'hits': len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))), 'lang': 'en'},
        |  {'hits': len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','es'))), 'lang': 'es'},
        |  {'hits': len(list_filter(tk, x -> x IN ('le','la','de','et','un','une','est','que'))), 'lang': 'fr'},
        |  {'hits': len(list_filter(tk, x -> x IN ('的','是','了','在','我','有','和','不'))), 'lang': 'zh'}
        | ]) AS g FROM t)
        |ORDER BY doc_id""".stripMargin,
    "c3_orc_roundtrip" ->
      """SELECT CAST(ts AS DATE) AS dt, count(*) AS n,
        | count(DISTINCT user_id) AS n_users, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "v5_knn_graph" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |sc AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        |  list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        | FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT q_id, c_id, cos,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM sc)
        |SELECT q_id, c_id, round(cos, 4) AS cos FROM r WHERE rn <= 3
        |ORDER BY q_id, round(cos, 4) DESC, c_id""".stripMargin,
    "q37_auto_topk" ->
      """SELECT o_orderpriority, o_orderkey, price FROM (
        | SELECT o_orderpriority, o_orderkey, round(o_totalprice,2) AS price,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders
        |) WHERE rn <= 3
        |ORDER BY o_orderpriority, price DESC, o_orderkey""".stripMargin,
    "p2_curate_neardup" ->
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges),
        |comp AS (SELECT a AS doc_id, min(b) AS canonical_id FROM allr GROUP BY 1),
        |t AS (SELECT d.doc_id, d.lang, d.text,
        |  list_filter(string_split(d.text, ' '), x -> x <> '') AS tk
        | FROM documents d
        | WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> canonical_id)),
        |q AS (SELECT doc_id, lang, text, CAST(len(tk) AS INT) AS n_tokens,
        |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |    / greatest(len(tk), 1) AS sr,
        |  CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1) AS dr
        | FROM t)
        |SELECT doc_id, lang, n_tokens FROM q
        |WHERE n_tokens BETWEEN 20 AND 1000 AND sr <= 0.5 AND dr >= 0.2
        |  AND substr(md5(text),1,1) IN ('0','1','2','3','4','5','6','7')
        |ORDER BY doc_id""".stripMargin,
    "t12_heavy_hitters" ->
      """WITH tok AS (
        | SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS t
        | FROM documents),
        |n AS (SELECT count(*) AS n_tok FROM tok)
        |SELECT t, count(*) AS cnt FROM tok CROSS JOIN n
        |GROUP BY t, n_tok HAVING count(*) > n_tok / 50
        |ORDER BY t""".stripMargin,
    "t11_blocklist" ->
      """WITH t AS (SELECT doc_id, lang,
        |  list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents)
        |SELECT doc_id, lang, CAST(len(tk) AS INT) AS n_tokens FROM t
        |WHERE len(list_filter(tk, x -> x IN ('slow','dup','leak'))) = 0
        |ORDER BY doc_id""".stripMargin,
    "e16_histogram" ->
      """SELECT event_type,
        | CAST(least(greatest(floor(value/5.0), 0), 19) AS INT) AS bucket, count(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q35_salted_join" ->
      """SELECT o_orderpriority, round(sum(l_extendedprice),2) AS sum_price, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q36_decimal_agg" ->
      """SELECT l_returnflag,
        | CAST(CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
        | CAST(CAST(sum(CAST(round(l_discount, 2) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc,
        | count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "m3_frame_sample" ->
      """SELECT doc_id, CAST(1 + doc_id % 5 AS INT) AS n_frames,
        | array_to_string(range(0, CAST(1 + doc_id % 5 AS INT), 2), ',') AS frame_idx,
        | CAST(len(range(0, CAST(1 + doc_id % 5 AS INT), 2)) AS INT) AS n_sampled
        |FROM documents ORDER BY doc_id""".stripMargin,
    // e27 (round-9 promotion): theta sketches are EXACT below their
    // nominal-entry budget (4096) and the staged corpora top out at 150
    // distinct users per event type, so the sketch intersections equal
    // the true set intersections and the driver can hash-gate the query
    // like any relational one. Above the budget the operator degrades to
    // the documented relative error — the ScalaTest exactness gate and
    // the overlap(A,A)=|A| identity still cover that regime.
    "e27_audience_overlap" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        | CAST(count(*) AS BIGINT) AS overlap_est
        |FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type <= b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q34_exact: with rank error < 1 the GK sketch returns the first
    // retained sample at Spark's target rank ceil(p·n) (1-indexed, the
    // Postgres percentile_disc convention) — replayed here by direct
    // sorted-list indexing so the rank algebra is explicit in the text
    "q34_exact" ->
      """WITH a AS (SELECT l_returnflag,
        |  list_sort(list(l_extendedprice)) AS ep,
        |  list_sort(list(l_quantity)) AS qt,
        |  count(*) AS n
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        | round(ep[CAST(ceil(0.5*n) AS BIGINT)], 2) AS med_price,
        | round(ep[CAST(ceil(0.9*n) AS BIGINT)], 2) AS p90_price,
        | round(qt[CAST(ceil(0.25*n) AS BIGINT)], 2) AS p25_qty
        |FROM a ORDER BY l_returnflag""".stripMargin,
    // t28: semantic decontamination — exact by construction (no ANN
    // shortcut), so the whole corpus×benchmark max-cosine is replayed;
    // doubles are identical on both engines (d5's ::DOUBLE[] discipline),
    // argmax ties break to the smaller benchmark id on both sides
    "t28_semantic_decontaminate" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |  substr(md5(CAST(vec_id AS VARCHAR)),1,1) = '0' AS is_bench FROM embeddings),
        |b AS (SELECT vec_id AS b_id, emb AS b_emb FROM e WHERE is_bench),
        |c AS (SELECT vec_id, emb FROM e WHERE NOT is_bench),
        |p AS (SELECT c.vec_id, b.b_id,
        |  list_dot_product(c.emb, b.b_emb)
        |   / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(b.b_emb, b.b_emb))) AS cos
        | FROM c CROSS JOIN b),
        |m AS (SELECT vec_id, max(cos) AS mc FROM p GROUP BY 1),
        |am AS (SELECT p.vec_id, min(p.b_id) AS bench_id
        | FROM p JOIN m ON p.vec_id = m.vec_id AND p.cos = m.mc GROUP BY 1)
        |SELECT m.vec_id, round(m.mc, 4) AS max_cos, am.bench_id,
        | m.mc >= 0.4 AS contaminated
        |FROM m JOIN am USING (vec_id) ORDER BY m.vec_id""".stripMargin,
    // t29: first-round BPE pair statistics — exact integer counts with
    // the canonical (count desc, pair lexico) rank determinism; the
    // series bound derives from the measured max word length (the t4
    // lesson: no hard-coded caps)
    "t29_bpe_pair_stats" ->
      """WITH w AS (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS w
        |  FROM documents),
        |wf AS (SELECT w, count(*) AS wf FROM w GROUP BY 1),
        |p AS (SELECT substr(wf.w, t.i, 1) AS l, substr(wf.w, t.i + 1, 1) AS r, wf.wf
        | FROM wf, (SELECT unnest(range(1, (SELECT max(length(w)) FROM wf))) AS i) t
        | WHERE t.i < length(wf.w)),
        |c AS (SELECT l, r, CAST(sum(wf) AS BIGINT) AS cnt FROM p GROUP BY 1, 2),
        |rk AS (SELECT row_number() OVER (ORDER BY cnt DESC, l, r) AS rank, l, r, cnt FROM c)
        |SELECT CAST(rank AS INT) AS rank, l, r, cnt FROM rk
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // t30: every rule replayed on the rounded metrics both engines
    // compute identically (plain-ASCII classes are Java-regex/RE2 safe)
    "t30_gopher_rules" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(tk) AS INT) AS n_words,
        |  round(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |    / greatest(len(tk), 1), 4) AS mean_word_len,
        |  round(CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
        |    / greatest(len(tk), 1), 4) AS alpha_frac,
        |  CAST(len(list_filter(tk, x -> x IN ('the','be','to','of','and','that','have','with'))) AS INT) AS n_stop
        | FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop,
        | n_words >= 50 AND n_words <= 100000 AS ok_word_count,
        | mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_word_len,
        | alpha_frac >= 0.8 AS ok_alpha,
        | n_stop >= 2 AS ok_stop,
        | (n_words >= 50 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |  AND alpha_frac >= 0.8 AND n_stop >= 2 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // m10: in-batch hard-negative mining replayed per md5 bucket —
    // identical doubles (d5 discipline), (cos desc, id) rank ties
    "m10_contrastive_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |  CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS b
        | FROM embeddings),
        |p AS (SELECT a.vec_id AS doc_id, c.vec_id AS neg_id,
        |  list_dot_product(a.emb, c.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cos
        | FROM e a JOIN e c ON a.b = c.b AND a.vec_id <> c.vec_id),
        |r AS (SELECT doc_id, neg_id, cos,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY cos DESC, neg_id) AS neg_rank FROM p)
        |SELECT doc_id, CAST(neg_rank AS INT) AS neg_rank, neg_id, round(cos, 4) AS cos
        |FROM r WHERE neg_rank <= 4 ORDER BY doc_id, neg_rank""".stripMargin,
    // e33: the CUSUM recursion replayed via the same closed form
    // (running sum + running min of the decimal-centered series) — any
    // drift in the reduction or the decimal discipline fails the hash
    "e33_cusum_drift" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |mu AS (SELECT event_type, CAST(round(avg(n), 6) AS DECIMAL(18,6)) AS mu
        |  FROM daily GROUP BY 1),
        |c AS (SELECT day, daily.event_type, n,
        |  sum(CAST(n AS DECIMAL(18,6)) - mu)
        |    OVER (PARTITION BY daily.event_type ORDER BY day) AS c
        | FROM daily JOIN mu ON daily.event_type = mu.event_type),
        |s AS (SELECT day, event_type, n, c,
        |  least(CAST(0 AS DECIMAL(18,6)),
        |    min(c) OVER (PARTITION BY event_type ORDER BY day)) AS cmin
        | FROM c)
        |SELECT s.day, s.event_type, CAST(s.n AS BIGINT) AS n,
        | CAST(s.c - s.cmin AS DOUBLE) AS cusum,
        | (s.c - s.cmin) > mu.mu AS drift_alarm
        |FROM s JOIN mu ON s.event_type = mu.event_type
        |ORDER BY s.day, s.event_type""".stripMargin,
    // p6: the whole gopher→decontaminate→budget chain as ONE oracle —
    // any drift in rule thresholds, the cosine screen, the bench
    // holdout, or the per-source running cut fails the hash
    "p6_curate_decontam" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
        |m AS (SELECT doc_id, source, len(tk) AS n_words,
        |  round(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |    / greatest(len(tk), 1), 4) AS mwl,
        |  round(CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
        |    / greatest(len(tk), 1), 4) AS af,
        |  len(list_filter(tk, x -> x IN ('the','be','to','of','and','that','have','with'))) AS ns
        | FROM t),
        |g AS (SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_tokens FROM m
        | WHERE n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        |  AND af >= 0.8 AND ns >= 2
        |  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |  substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0' AS is_bench FROM embeddings),
        |mx AS (SELECT c.vec_id AS doc_id, max(list_dot_product(c.emb, b.emb)
        |   / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(b.emb, b.emb)))) AS mc
        | FROM e c CROSS JOIN e b WHERE NOT c.is_bench AND b.is_bench GROUP BY 1),
        |s AS (SELECT g.* FROM g JOIN mx USING (doc_id) WHERE mx.mc < 0.4),
        |r AS (SELECT doc_id, source, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_tokens
        | FROM s)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM r
        |WHERE cum_tokens <= 600 ORDER BY doc_id""".stripMargin,
    // s22: the landed curation index must equal the batch replay of the
    // same gate+dedup algebra; the stream stages every doc TWICE, so
    // copy counts double and the canonical min-id is unchanged
    "s22_stream_curate" -> s22Sql,
    // c37: the compacted+GC'd index must serve the IDENTICAL report —
    // compaction is storage layout, never content
    "c37_compact_index" -> s22Sql,
    // s40: the same fold under every-batch auto-compaction — identical index
    "s40_stream_dedup_compact" -> s22Sql,
    // c8_exact: uncompacted KLL returns the element at inclusive rank
    // ceil(p·n) — replayed by sorted-list indexing per type (the
    // q34_exact convention)
    "c8_exact" ->
      """WITH a AS (SELECT event_type, list_sort(list(value)) AS vs, count(*) AS n
        | FROM events GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        | round(vs[CAST(ceil(0.5*n) AS BIGINT)], 2) AS p50_approx,
        | round(vs[CAST(ceil(0.95*n) AS BIGINT)], 2) AS p95_approx,
        | round(vs[CAST(ceil(0.99*n) AS BIGINT)], 2) AS p99_approx
        |FROM a ORDER BY event_type""".stripMargin,
    // s12_exact: same rank algebra as c8_exact — the streaming fold must
    // land the identical exact quantiles
    "s12_exact" ->
      """WITH a AS (SELECT event_type, list_sort(list(value)) AS vs, count(*) AS n
        | FROM events GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        | round(vs[CAST(ceil(0.5*n) AS BIGINT)], 2) AS p50_approx,
        | round(vs[CAST(ceil(0.95*n) AS BIGINT)], 2) AS p95_approx,
        | round(vs[CAST(ceil(0.99*n) AS BIGINT)], 2) AS p99_approx
        |FROM a ORDER BY event_type""".stripMargin,
    // c22: the IVM contract — the signed-fold-maintained summary must
    // equal a from-scratch recompute of the post-changelog state
    "c22_mv_retraction" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
        |kept AS (SELECT e.ts, e.event_type, e.value FROM events e CROSS JOIN b
        |  WHERE NOT (epoch_us(e.ts) < (b.mn + b.mx) // 2 AND e.event_id % 7 = 0))
        |SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
        |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e15_active_users" ->
      """WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM daily),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM daily GROUP BY 1),
        |wau AS (SELECT days.day, count(DISTINCT d.user_id) AS wau
        |        FROM days JOIN daily d ON d.day <= days.day AND d.day >= days.day - 6
        |        GROUP BY 1)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "q39_running_distinct" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |  CASE WHEN row_number() OVER (PARTITION BY o_custkey, o_orderpriority
        |    ORDER BY o_orderdate, o_orderkey) = 1 THEN 1 ELSE 0 END AS f
        | FROM orders)
        |SELECT o_custkey, o_orderkey,
        | CAST(sum(f) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_prio_seen
        |FROM r ORDER BY 1, 2""".stripMargin,
    "e22_mad_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad,
        |  max(m.med) AS med
        | FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_id, e.event_type, round(e.value, 2) AS value
        |FROM events e JOIN mad m USING (event_type)
        |WHERE e.value > m.med + 3 * m.mad
        |ORDER BY e.event_id""".stripMargin,
    "t17_pii_redact" ->
      """WITH r AS (SELECT doc_id,
        |  text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail-' || CAST(doc_id AS VARCHAR)
        |   || '.example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |   || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS raw
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        | CAST(len(regexp_extract_all(raw, '\+?[0-9][0-9-]{6,}[0-9]')) AS INT) AS n_phone,
        | CAST(len(regexp_extract_all(raw, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ip,
        | regexp_replace(regexp_replace(regexp_replace(raw,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+?[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g'),
        |   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted
        |FROM r ORDER BY doc_id""".stripMargin,
    "t18_repetition" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts
        |  FROM documents),
        |t AS (SELECT doc_id, ts FROM tk WHERE len(ts) >= 2),
        |w AS (SELECT doc_id, unnest(ts) AS w FROM t),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1,2),
        |ws AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_distinct,
        |  max(c*len(w)) AS topwc, sum(c*len(w)) AS totwc FROM wc GROUP BY 1),
        |bg AS (SELECT doc_id, unnest([ts[i]||' '||ts[i+1] FOR i IN range(1, len(ts))]) AS g FROM t),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1,2),
        |bs AS (SELECT doc_id, max(c) AS topb, sum(c) AS n_bi FROM bc GROUP BY 1)
        |SELECT ws.doc_id,
        | round(1.0 - CAST(n_distinct AS DOUBLE)/n_tok, 4) AS dup_word_ratio,
        | round(CAST(topwc AS DOUBLE)/totwc, 4) AS top_word_char_ratio,
        | round(CAST(topb AS DOUBLE)/n_bi, 4) AS top_bigram_ratio
        |FROM ws JOIN bs ON ws.doc_id = bs.doc_id ORDER BY 1""".stripMargin,
    "v8_range_search" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm
        |  FROM e WHERE vec_id % 20 = 0),
        |c AS (SELECT vec_id AS c_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm
        |  FROM e WHERE vec_id % 20 <> 0)
        |SELECT q_id, c_id,
        | round(list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm), 4) AS cos
        |FROM q, c
        |WHERE list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) >= 0.4
        |ORDER BY q_id, c_id""".stripMargin,
    "c7_retention_vacuum" ->
      """WITH b AS (SELECT max(CAST(ts AS DATE)) AS mx FROM events)
        |SELECT CAST(ts AS DATE) AS dt, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events, b WHERE CAST(ts AS DATE) >= b.mx - 6
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "m5_balanced_sample" ->
      """WITH m AS (SELECT doc_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS modality,
        |  md5(CAST(doc_id AS VARCHAR)) AS rk,
        |  CAST(strlen(text) AS INT) AS n_bytes
        | FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY modality ORDER BY rk DESC, doc_id) AS rn
        |  FROM m)
        |SELECT modality, doc_id, n_bytes FROM r WHERE rn <= 20 ORDER BY 1, 2""".stripMargin,
    "s10_stream_static_join" ->
      """WITH j AS (SELECT e.user_id, e.value, COALESCE(n.n_name, 'unknown') AS nation
        |  FROM events e
        |  LEFT JOIN customer c ON e.user_id = c.c_custkey
        |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |SELECT nation, count(*) AS n, count(DISTINCT user_id) AS n_users,
        | round(sum(value), 2) AS sum_value
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q40_gaps_islands" ->
      """WITH days AS (SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS day FROM orders),
        |r AS (SELECT o_custkey, day,
        |  day - CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY day) AS INTEGER) AS grp
        | FROM days)
        |SELECT o_custkey, min(day) AS run_start, max(day) AS run_end, count(*) AS n_days
        |FROM r GROUP BY o_custkey, grp HAVING count(*) >= 2
        |ORDER BY o_custkey, run_start""".stripMargin,
    // c28: WAP replayed — same fused audit over the derived candidates,
    // published iff every check is green
    "c28_wap" ->
      """WITH clean AS (SELECT event_type, CAST(ts AS DATE) AS dt, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |a1 AS (SELECT * FROM clean
        | UNION ALL SELECT NULL, DATE '2024-01-01', 0),
        |r1 AS (SELECT
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key,
        |  CAST(sum(CASE WHEN n <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS non_positive,
        |  CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS BIGINT) AS empty FROM a1),
        |r2 AS (SELECT
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key,
        |  CAST(sum(CASE WHEN n <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS non_positive,
        |  CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS BIGINT) AS empty FROM clean)
        |SELECT * FROM (
        | SELECT 1 AS attempt, 'empty' AS check_name, empty AS violations, empty = 0 AS passed,
        |  (null_key = 0 AND non_positive = 0 AND empty = 0) AS published FROM r1
        | UNION ALL SELECT 1, 'non_positive', non_positive, non_positive = 0,
        |  (null_key = 0 AND non_positive = 0 AND empty = 0) FROM r1
        | UNION ALL SELECT 1, 'null_key', null_key, null_key = 0,
        |  (null_key = 0 AND non_positive = 0 AND empty = 0) FROM r1
        | UNION ALL SELECT 2, 'empty', empty, empty = 0,
        |  (null_key = 0 AND non_positive = 0 AND empty = 0) FROM r2
        | UNION ALL SELECT 2, 'non_positive', non_positive, non_positive = 0,
        |  (null_key = 0 AND non_positive = 0 AND empty = 0) FROM r2
        | UNION ALL SELECT 2, 'null_key', null_key, null_key = 0,
        |  (null_key = 0 AND non_positive = 0 AND empty = 0) FROM r2)
        |ORDER BY attempt, check_name""".stripMargin,
    // t36: winnowing replayed — positioned grams, window cover join, the
    // same h*2^20 + (2^20-1-pos) rightmost-min encoding
    "t36_winnowing" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        | FROM documents),
        |g0 AS (SELECT doc_id, len(ts) - 4 - 3 AS n_windows,
        |  unnest([{'pos': i, 'g': ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]}
        |    FOR i IN range(1, len(ts) - 3)]) AS u
        | FROM t WHERE len(ts) >= 8),
        |g AS (SELECT doc_id, n_windows, u.pos AS pos,
        |  CAST('0x' || substr(md5(u.g), 1, 8) AS BIGINT) AS h FROM g0),
        |wins AS (SELECT doc_id, pos AS wid FROM g WHERE pos <= n_windows),
        |sel AS (SELECT w.doc_id, w.wid,
        |  min(g.h * 1048576 + (1048575 - g.pos)) AS s
        | FROM wins w JOIN g ON g.doc_id = w.doc_id AND g.pos BETWEEN w.wid AND w.wid + 3
        | GROUP BY 1, 2),
        |fp AS (SELECT DISTINCT doc_id, s // 1048576 AS h, 1048575 - (s % 1048576) AS pos FROM sel)
        |SELECT doc_id, pos, h FROM fp ORDER BY doc_id, pos""".stripMargin,
    // t34: entropy replayed with the identical decimal quantization of
    // each c*ln(c) term before the per-doc sum
    "t34_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS w
        | FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |  sum(CAST(c AS DECIMAL(8,0)) * CAST(round(ln(c), 9) AS DECIMAL(20,10))) AS sclnc
        | FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types,
        | round(ln(CAST(n_tokens AS DOUBLE)) - CAST(sclnc AS DOUBLE)/n_tokens, 6) AS entropy
        |FROM a ORDER BY doc_id""".stripMargin,
    // t35: the overlap matrix replayed on literal gram strings (t19's
    // hash-vs-string discipline: the gate certifies no collision)
    "t35_src_overlap" ->
      """WITH t AS (SELECT source, doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts
        | FROM documents),
        |sh AS (SELECT source, doc_id,
        |  list_distinct([ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]
        |    FOR i IN range(1, len(ts)-3)]) AS g
        | FROM t WHERE len(ts) >= 5),
        |g0 AS (SELECT DISTINCT source, unnest(g) AS g FROM sh),
        |sz AS (SELECT source, count(*) AS n FROM g0 GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        | FROM g0 a JOIN g0 b USING (g) WHERE a.source < b.source GROUP BY 1, 2)
        |SELECT src_a, src_b, za.n AS n_a, zb.n AS n_b, n_shared,
        | round(CAST(n_shared AS DOUBLE)/(za.n + zb.n - n_shared), 6) AS jaccard
        |FROM p JOIN sz za ON za.source = src_a JOIN sz zb ON zb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "t19_crossdoc_ngram" ->
      """WITH s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]
        |    FOR i IN range(1, len(ts)-3)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 5),
        |g AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |c AS (SELECT g, count(*) AS nd FROM g GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        | CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        | round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)/count(*), 4) AS shared_frac
        |FROM g JOIN c USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "v9_pagerank" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |sc AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        |  list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        | FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT q_id, c_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM sc),
        |knn AS (SELECT q_id AS src, c_id AS dst FROM r WHERE rn <= 3),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
        |p0 AS (SELECT vec_id AS id, 1.0/nn.n AS pr FROM e, nn),
        |p1 AS (SELECT p.id, 0.15/nn.n + 0.85*coalesce(c.cin, 0) AS pr
        |  FROM p0 p CROSS JOIN nn LEFT JOIN
        |   (SELECT k.dst, sum(q.pr/3.0) AS cin FROM knn k JOIN p0 q ON q.id = k.src GROUP BY k.dst) c
        |  ON c.dst = p.id),
        |p2 AS (SELECT p.id, 0.15/nn.n + 0.85*coalesce(c.cin, 0) AS pr
        |  FROM p1 p CROSS JOIN nn LEFT JOIN
        |   (SELECT k.dst, sum(q.pr/3.0) AS cin FROM knn k JOIN p1 q ON q.id = k.src GROUP BY k.dst) c
        |  ON c.dst = p.id),
        |p3 AS (SELECT p.id, 0.15/nn.n + 0.85*coalesce(c.cin, 0) AS pr
        |  FROM p2 p CROSS JOIN nn LEFT JOIN
        |   (SELECT k.dst, sum(q.pr/3.0) AS cin FROM knn k JOIN p2 q ON q.id = k.src GROUP BY k.dst) c
        |  ON c.dst = p.id),
        |p4 AS (SELECT p.id, 0.15/nn.n + 0.85*coalesce(c.cin, 0) AS pr
        |  FROM p3 p CROSS JOIN nn LEFT JOIN
        |   (SELECT k.dst, sum(q.pr/3.0) AS cin FROM knn k JOIN p3 q ON q.id = k.src GROUP BY k.dst) c
        |  ON c.dst = p.id),
        |p5 AS (SELECT p.id, 0.15/nn.n + 0.85*coalesce(c.cin, 0) AS pr
        |  FROM p4 p CROSS JOIN nn LEFT JOIN
        |   (SELECT k.dst, sum(q.pr/3.0) AS cin FROM knn k JOIN p4 q ON q.id = k.src GROUP BY k.dst) c
        |  ON c.dst = p.id)
        |SELECT p.id AS vec_id, round(p.pr * nn.n, 4) AS rank_norm
        |FROM p5 p CROSS JOIN nn ORDER BY vec_id""".stripMargin,
    "s11_stream_distinct" ->
      """SELECT CAST(epoch_ms(date_trunc('hour', ts))/1000 AS BIGINT) AS bucket_s,
        | count(DISTINCT user_id) AS uniques
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "d11_keep_best" ->
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges),
        |cm AS (SELECT a AS doc_id, min(b) AS cluster_id FROM allr GROUP BY 1),
        |mem AS (SELECT cm.cluster_id, cm.doc_id, length(d.text) AS len
        |  FROM cm JOIN documents d USING (doc_id)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY len DESC, doc_id) AS rn
        |  FROM mem)
        |SELECT cluster_id, max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
        | CAST(max(CASE WHEN rn = 1 THEN len END) AS INT) AS keep_len,
        | count(*) AS n_members
        |FROM r GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "e23_new_vs_returning" ->
      """WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |fd AS (SELECT user_id, min(day) AS first_day FROM daily GROUP BY 1)
        |SELECT day, count(*) AS active,
        | CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        | CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning
        |FROM daily JOIN fd USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "e24_decay_score" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
        |  WHERE value IS NOT NULL),
        |b AS (SELECT max(day) AS mxd FROM ev)
        |SELECT user_id,
        | round(sum(value * (1.0 / (1.0 + datediff('day', day, mxd)))), 4) AS score,
        | count(*) AS n_scored
        |FROM ev, b GROUP BY 1 ORDER BY 1""".stripMargin,
    "e25_seasonal_baseline" ->
      """WITH cells AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, CAST(hour(ts) AS INT) AS hod, count(*) AS n
        | FROM events GROUP BY 1, 2, 3),
        |base AS (
        | SELECT event_type, hod, round(CAST(sum(n) AS DOUBLE)/count(*), 4) AS base_n
        | FROM cells GROUP BY 1, 2)
        |SELECT c.event_type, c.hod, max(b.base_n) AS base_n, max(c.n) AS max_n,
        | CAST(sum(CASE WHEN c.n >= b.base_n * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_anom_days
        |FROM cells c JOIN base b ON c.event_type = b.event_type AND c.hod = b.hod
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q42_not_in_null" ->
      """SELECT
        | (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)) AS n_with_null,
        | (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey <> 7)) AS n_without_null""".stripMargin,
    "e26_gap_fill" ->
      """SELECT event_id, user_id,
        | round(last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS last_error_value
        |FROM events ORDER BY event_id""".stripMargin,
    "p3_curate_keepbest" ->
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges),
        |comp AS (SELECT a AS doc_id, min(b) AS cid FROM allr GROUP BY 1),
        |mem AS (SELECT comp.doc_id, comp.cid, length(d.text) AS len
        |  FROM comp JOIN documents d USING (doc_id)),
        |rk AS (SELECT doc_id, row_number() OVER (PARTITION BY cid ORDER BY len DESC, doc_id) AS rn
        |  FROM mem),
        |dropped AS (SELECT doc_id FROM rk WHERE rn > 1),
        |t AS (SELECT d.doc_id, d.lang, d.text,
        |  list_filter(string_split(d.text, ' '), x -> x <> '') AS tk
        | FROM documents d
        | WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)),
        |q AS (SELECT doc_id, lang, text, CAST(len(tk) AS INT) AS n_tokens,
        |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
        |    / greatest(len(tk), 1) AS sr,
        |  CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1) AS dr,
        |  len(list_filter(tk, x -> x IN ('slow','dup','leak'))) AS nb
        | FROM t)
        |SELECT doc_id, lang, n_tokens FROM q
        |WHERE n_tokens BETWEEN 20 AND 1000 AND sr <= 0.5 AND dr >= 0.2 AND nb = 0
        |  AND substr(md5(text),1,1) IN ('0','1','2','3','4','5','6','7')
        |ORDER BY doc_id""".stripMargin,
    // identical to d2's oracle: the streamed index must converge to the
    // exact batch pair set
    "s13_stream_dedup_index" ->
      """WITH s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "e30_bot_cadence" ->
      """WITH g AS (
        | SELECT user_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        | FROM events),
        |a AS (SELECT user_id, count(*) AS n_gaps,
        |  round(avg(gap_us) / 1e6, 2) AS avg_gap_s,
        |  round(stddev_samp(gap_us) / avg(gap_us), 4) AS gap_cv
        | FROM g WHERE gap_us IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps, avg_gap_s, gap_cv, gap_cv < 0.2 AS is_bot
        |FROM a WHERE n_gaps >= 5 ORDER BY user_id""".stripMargin,
    "q46_forall_suppliers" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_suppkey = s_suppkey AND l_quantity > 48 AND l_discount >= 0.095)
        | AND EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
        |ORDER BY s_suppkey""".stripMargin,
    "e29_conversion_latency" ->
      """WITH fs AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |lat AS (SELECT e.user_id, min(epoch_us(e.ts) - epoch_us(fs.signup_ts)) AS lat_us
        |  FROM events e JOIN fs USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= fs.signup_ts GROUP BY 1)
        |SELECT CAST(least(floor(lat_us / 3600000000), 72) AS INT) AS lat_hours,
        | count(*) AS n_users
        |FROM lat GROUP BY 1 ORDER BY 1""".stripMargin,
    "d13_cluster_stats" ->
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges),
        |comp AS (SELECT a AS doc_id, min(b) AS canonical_id FROM allr GROUP BY 1),
        |cs AS (SELECT canonical_id, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        | CAST(sum(cluster_size - 1) AS BIGINT) AS n_droppable
        |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,
    // d20 shares d6's exact-Jaccard cluster replay; weight = 1/|cluster|
    // with singletons (absent from the map) at weight 1
    "d20_soft_dedup" ->
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges),
        |comp AS (SELECT a AS doc_id, min(b) AS canonical_id FROM allr GROUP BY 1),
        |cs AS (SELECT canonical_id, count(*) AS n FROM comp GROUP BY 1),
        |m AS (SELECT comp.doc_id, cs.n FROM comp JOIN cs USING (canonical_id))
        |SELECT d.doc_id, CAST(COALESCE(m.n, 1) AS INT) AS cluster_size,
        | round(CAST(1 AS DOUBLE) / COALESCE(m.n, 1), 6) AS weight
        |FROM documents d LEFT JOIN m USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // v13: the whole SQ8 prefilter→rerank chain is deterministic (floor
    // quantization, integer dots exact in doubles), so it hash-gates like
    // an exact query — no sketch exemption needed
    "v13_knn_sq8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |  greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-30) AS mx
        | FROM embeddings),
        |qz AS (SELECT vec_id, emb,
        |  list_transform(emb, x -> CAST(floor(x * (127.0 / mx) + 0.5) AS DOUBLE)) AS q8
        | FROM e),
        |qs AS (SELECT vec_id AS q_id, q8 AS q_q8 FROM qz WHERE vec_id < 10),
        |sl AS (SELECT q_id, c.vec_id AS c_id,
        |  row_number() OVER (PARTITION BY q_id
        |    ORDER BY list_dot_product(q_q8, c.q8)
        |      / (sqrt(list_dot_product(q_q8, q_q8)) * sqrt(list_dot_product(c.q8, c.q8)))
        |      DESC, c.vec_id) AS srn
        | FROM qz c JOIN qs ON c.vec_id <> q_id),
        |cand AS (SELECT q_id, c_id FROM sl WHERE srn <= 20),
        |ex AS (SELECT q_id, c_id,
        |  list_dot_product(q.emb, c.emb)
        |   / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cos
        | FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.c_id),
        |r AS (SELECT q_id, c_id, cos,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM ex)
        |SELECT q_id, rn, c_id, round(cos, 4) AS cos FROM r WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,
    // s23: CDC apply under newest-first delivery — the store must land on
    // the latest non-deleted row per key regardless of arrival order
    "s23_stream_cdc" ->
      """WITH ch AS (SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events)
        |SELECT user_id, event_id, event_type, round(value, 2) AS value
        |FROM ch WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    // c23: the zone-map-pruned scan must be value-identical to the raw
    // full scan under the same predicate (decimal sums both sides)
    "c23_zone_map" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | count(DISTINCT user_id) AS n_users
        |FROM events WHERE value >= 100.0 AND value <= 120.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q51: the log-round repeated-squaring closure must equal the
    // sequential recursive-CTE semantics exactly — depth AND subtree size
    "q51_hierarchy" ->
      """WITH RECURSIVE
        |par AS (SELECT c_custkey AS k,
        |  CASE WHEN c_custkey = 0 THEN NULL
        |   ELSE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % c_custkey
        |  END AS p
        | FROM customer),
        |walk(k, anc, d) AS (
        | SELECT k, p, 1 FROM par WHERE p IS NOT NULL
        | UNION ALL
        | SELECT w.k, pp.p, w.d + 1 FROM walk w JOIN par pp ON pp.k = w.anc
        | WHERE pp.p IS NOT NULL),
        |dep AS (SELECT k, max(d) AS depth FROM walk GROUP BY 1),
        |st AS (SELECT anc AS k, count(DISTINCT walk.k) AS n_desc FROM walk GROUP BY 1)
        |SELECT p.k AS c_custkey,
        | CAST(COALESCE(dep.depth, 0) AS BIGINT) AS depth,
        | CAST(COALESCE(st.n_desc, 0) + 1 AS BIGINT) AS subtree_size
        |FROM par p LEFT JOIN dep ON dep.k = p.k LEFT JOIN st ON st.k = p.k
        |ORDER BY 1""".stripMargin,
    // q79 (round 18): Spark's native WITH RECURSIVE, held to the SAME
    // recursive answer as q51's log-round closure
    "q79_recursive_native" ->
      """WITH RECURSIVE
        |par AS (SELECT c_custkey AS k,
        |  CASE WHEN c_custkey = 0 THEN NULL
        |   ELSE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % c_custkey
        |  END AS p
        | FROM customer),
        |walk(k, anc, dist) AS (
        | SELECT k, p, 1 FROM par WHERE p IS NOT NULL
        | UNION ALL
        | SELECT w.k, pp.p, w.dist + 1 FROM walk w JOIN par pp ON pp.k = w.anc
        | WHERE pp.p IS NOT NULL),
        |dep AS (SELECT k, max(dist) AS depth FROM walk GROUP BY 1),
        |st AS (SELECT anc AS k, count(DISTINCT walk.k) AS n_desc FROM walk GROUP BY 1)
        |SELECT p.k AS c_custkey,
        | CAST(COALESCE(dep.depth, 0) AS BIGINT) AS depth,
        | CAST(COALESCE(st.n_desc, 0) + 1 AS BIGINT) AS subtree_size
        |FROM par p LEFT JOIN dep ON dep.k = p.k LEFT JOIN st ON st.k = p.k
        |ORDER BY 1""".stripMargin,
    // e34: Laplace-smoothed transition argmax; probabilities rounded to
    // 6dp BEFORE the argmax so the tie-break is engine-independent
    "e34_markov_next" ->
      """WITH tr AS (SELECT prev_type, event_type AS next_type, count(*) AS n FROM (
        |  SELECT event_type,
        |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        | WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT event_type) AS v FROM events),
        |t AS (SELECT prev_type, sum(n) AS tot FROM tr GROUP BY 1),
        |p AS (SELECT tr.prev_type, tr.next_type, tr.n,
        |  round(CAST(tr.n + 1 AS DOUBLE) / (t.tot + v.v), 6) AS p
        | FROM tr JOIN t USING (prev_type) CROSS JOIN v),
        |r AS (SELECT *, row_number() OVER (PARTITION BY prev_type ORDER BY p DESC, next_type) AS rn
        | FROM p)
        |SELECT prev_type, next_type AS pred_next, p AS prob, CAST(n AS BIGINT) AS n_obs
        |FROM r WHERE rn = 1 ORDER BY prev_type""".stripMargin,
    "q45_mom_growth" ->
      """WITH m AS (
        | SELECT r_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
        |  round(sum(o_totalprice), 2) AS rev
        | FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2)
        |SELECT r_name, mth, rev,
        | round(rev / lag(rev) OVER (PARTITION BY r_name ORDER BY mth) - 1.0, 6) AS mom
        |FROM m ORDER BY r_name, mth""".stripMargin,
    "e28_cooccurrence_pmi" ->
      """WITH cells AS (
        | SELECT DISTINCT user_id, date_trunc('hour', ts) AS h, event_type FROM events),
        |n AS (SELECT count(*) AS n_cells FROM (SELECT DISTINCT user_id, h FROM cells)),
        |p AS (SELECT event_type, count(*) AS c FROM cells GROUP BY 1)
        |SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS c_ab,
        | round(ln(CAST(count(*) AS DOUBLE) * max(n.n_cells) / max(pa.c) / max(pb.c)), 4) AS pmi
        |FROM cells a
        |JOIN cells b ON a.user_id = b.user_id AND a.h = b.h AND a.event_type < b.event_type
        |JOIN p pa ON pa.event_type = a.event_type
        |JOIN p pb ON pb.event_type = b.event_type
        |CROSS JOIN n
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t20_type_token_ratio" ->
      """WITH tok AS (
        | SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        | FROM documents)
        |SELECT lang, count(*) AS n_tokens, count(DISTINCT t) AS n_types,
        | round(CAST(count(DISTINCT t) AS DOUBLE) / count(*), 6) AS ttr
        |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin,
    "q44_typed_stats" ->
      """SELECT event_type, count(*) AS n,
        | round(avg(value), 4) AS avg_value,
        | round(var_samp(value), 4) AS var_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "c9_table_stats" ->
      """SELECT count(*) AS n_rows,
        | CAST(min(l_orderkey) AS VARCHAR) AS l_orderkey_min,
        | CAST(max(l_orderkey) AS VARCHAR) AS l_orderkey_max,
        | count(DISTINCT l_orderkey) AS l_orderkey_ndv,
        | CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_orderkey_nulls,
        | CAST(CAST(min(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS l_quantity_min,
        | CAST(CAST(max(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS l_quantity_max,
        | count(DISTINCT l_quantity) AS l_quantity_ndv,
        | CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_nulls,
        | CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS l_shipdate_min,
        | CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS l_shipdate_max,
        | count(DISTINCT l_shipdate) AS l_shipdate_ndv,
        | CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_shipdate_nulls,
        | CAST(min(l_returnflag) AS VARCHAR) AS l_returnflag_min,
        | CAST(max(l_returnflag) AS VARCHAR) AS l_returnflag_max,
        | count(DISTINCT l_returnflag) AS l_returnflag_ndv,
        | CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_returnflag_nulls
        |FROM lineitem""".stripMargin,
    "q43_rfm" ->
      """WITH base AS (
        | SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_day,
        |  count(*) AS frequency, round(sum(o_totalprice), 2) AS monetary
        | FROM orders GROUP BY 1),
        |mx AS (SELECT max(last_day) AS mxd FROM base),
        |wr AS (SELECT b.*, CAST(mxd - last_day AS INT) AS recency_days FROM base b, mx),
        |a AS (SELECT
        |  list_sort(list(CAST(recency_days AS DOUBLE))) AS sr,
        |  list_sort(list(CAST(frequency AS DOUBLE))) AS sfq,
        |  list_sort(list(CAST(monetary AS DOUBLE))) AS sm,
        |  count(*) AS cnt FROM wr),
        |th AS (SELECT
        |  [round(sr[CAST(ceil(0.2*cnt) AS BIGINT)], 4), round(sr[CAST(ceil(0.4*cnt) AS BIGINT)], 4),
        |   round(sr[CAST(ceil(0.6*cnt) AS BIGINT)], 4), round(sr[CAST(ceil(0.8*cnt) AS BIGINT)], 4)] AS tr,
        |  [round(sfq[CAST(ceil(0.2*cnt) AS BIGINT)], 4), round(sfq[CAST(ceil(0.4*cnt) AS BIGINT)], 4),
        |   round(sfq[CAST(ceil(0.6*cnt) AS BIGINT)], 4), round(sfq[CAST(ceil(0.8*cnt) AS BIGINT)], 4)] AS tf,
        |  [round(sm[CAST(ceil(0.2*cnt) AS BIGINT)], 4), round(sm[CAST(ceil(0.4*cnt) AS BIGINT)], 4),
        |   round(sm[CAST(ceil(0.6*cnt) AS BIGINT)], 4), round(sm[CAST(ceil(0.8*cnt) AS BIGINT)], 4)] AS tm
        | FROM a)
        |SELECT o_custkey, recency_days, frequency, monetary,
        | CAST(6 - (1 + CASE WHEN recency_days > tr[1] THEN 1 ELSE 0 END
        |   + CASE WHEN recency_days > tr[2] THEN 1 ELSE 0 END
        |   + CASE WHEN recency_days > tr[3] THEN 1 ELSE 0 END
        |   + CASE WHEN recency_days > tr[4] THEN 1 ELSE 0 END) AS INT) AS r_score,
        | CAST(1 + CASE WHEN frequency > tf[1] THEN 1 ELSE 0 END
        |   + CASE WHEN frequency > tf[2] THEN 1 ELSE 0 END
        |   + CASE WHEN frequency > tf[3] THEN 1 ELSE 0 END
        |   + CASE WHEN frequency > tf[4] THEN 1 ELSE 0 END AS INT) AS f_score,
        | CAST(1 + CASE WHEN monetary > tm[1] THEN 1 ELSE 0 END
        |   + CASE WHEN monetary > tm[2] THEN 1 ELSE 0 END
        |   + CASE WHEN monetary > tm[3] THEN 1 ELSE 0 END
        |   + CASE WHEN monetary > tm[4] THEN 1 ELSE 0 END AS INT) AS m_score
        |FROM wr, th ORDER BY o_custkey""".stripMargin,
    "q41_share_of_total" ->
      """WITH rev AS (
        | SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue
        | FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2)
        |SELECT r_name, n_name, revenue,
        | round(revenue / sum(revenue) OVER (PARTITION BY r_name), 6) AS region_share
        |FROM rev ORDER BY r_name, n_name""".stripMargin,
    "q47_ntile" ->
      """WITH t AS (
        | SELECT c_mktsegment, c_acctbal,
        |  CAST(ntile(4) OVER (PARTITION BY c_mktsegment
        |                      ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
        | FROM customer)
        |SELECT c_mktsegment, quartile, count(*) AS n,
        | round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
        |FROM t GROUP BY 1, 2 ORDER BY c_mktsegment, quartile""".stripMargin,
    "q48_unpivot" ->
      """WITH wide AS (
        | SELECT l_returnflag,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS gross,
        |  CAST(round(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS discount_amt,
        |  CAST(round(sum(CAST(l_extendedprice*l_tax AS DECIMAL(18,6))), 2) AS DOUBLE) AS tax_amt
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, measure, amount FROM (
        | SELECT l_returnflag, 'gross' AS measure, gross AS amount FROM wide
        | UNION ALL
        | SELECT l_returnflag, 'discount_amt', discount_amt FROM wide
        | UNION ALL
        | SELECT l_returnflag, 'tax_amt', tax_amt FROM wide)
        |ORDER BY l_returnflag, measure""".stripMargin,
    "e31_path_trigrams" ->
      """WITH t AS (
        | SELECT event_type AS e1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        | FROM events)
        |SELECT e1 || '>' || e2 || '>' || e3 AS trigram, count(*) AS n
        |FROM t WHERE e3 IS NOT NULL
        |GROUP BY 1 HAVING count(*) >= 10
        |ORDER BY n DESC, trigram""".stripMargin,
    "d14_fuzzy_pairs" ->
      """WITH t AS (
        | SELECT doc_id, lang, source, substr(text, 1, 60) AS head,
        |  row_number() OVER (PARTITION BY lang, source
        |                     ORDER BY substr(text, 1, 60), doc_id) AS rn
        | FROM documents),
        |p AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
        | FROM t a JOIN t b
        |  ON a.lang = b.lang AND a.source = b.source
        |  AND b.rn BETWEEN a.rn + 1 AND a.rn + 10)
        |SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b, dist
        |FROM p WHERE dist <= 40
        |ORDER BY id_a, id_b""".stripMargin,
    "q49_setops_all" ->
      """WITH cn AS (SELECT c_nationkey AS nk FROM customer),
        | sn AS (SELECT s_nationkey AS nk FROM supplier),
        | bag AS (
        |  SELECT nk, 'both_bag' AS tag FROM (SELECT nk FROM cn INTERSECT ALL SELECT nk FROM sn)
        |  UNION ALL
        |  SELECT nk, 'customer_extra' FROM (SELECT nk FROM cn EXCEPT ALL SELECT nk FROM sn))
        |SELECT nk, tag, count(*) AS n FROM bag
        |GROUP BY 1, 2 ORDER BY tag, nk""".stripMargin,
    "t21_zipf_slope" ->
      """WITH toks AS (
        | SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        | FROM documents),
        |f AS (SELECT lang, tok, count(*) AS f FROM toks GROUP BY 1, 2),
        |r AS (SELECT lang, f, tok,
        |  row_number() OVER (PARTITION BY lang ORDER BY f DESC, tok) AS rank FROM f),
        |k AS (SELECT lang,
        |  CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(12,10)) AS x,
        |  CAST(round(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(12,10)) AS y
        | FROM r WHERE rank <= 1000),
        |g AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |  CAST(sum(x*y) AS DOUBLE) AS sxy, CAST(sum(x*x) AS DOUBLE) AS sxx
        | FROM k GROUP BY 1)
        |SELECT lang, CAST(n AS BIGINT) AS n_types,
        | round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS zipf_slope
        |FROM g ORDER BY lang""".stripMargin,
    "s14_stream_topk" ->
      """WITH toks AS (
        | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        | FROM documents)
        |SELECT tok, count(*) AS n FROM toks
        |GROUP BY 1 ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "s16_ingest_proto" ->
      """SELECT CAST(ts AS DATE) AS dt, CAST(strftime(ts, '%H') AS INT) AS hr,
        | count(*) AS n, round(sum(value), 2) AS sum_value,
        | CAST(0 AS BIGINT) AS n_corrupt
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "s15_ingest_csv" ->
      """SELECT CAST(ts AS DATE) AS dt, CAST(strftime(ts, '%H') AS INT) AS hr,
        | count(*) AS n, round(sum(value), 2) AS sum_value,
        | CAST(0 AS BIGINT) AS n_corrupt
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "s34_ingest_avro" ->
      """SELECT CAST(ts AS DATE) AS dt, CAST(strftime(ts, '%H') AS INT) AS hr,
        | count(*) AS n, round(sum(value), 2) AS sum_value,
        | CAST(0 AS BIGINT) AS n_corrupt
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q50_lateral_topn" ->
      """SELECT r_name, n_name, rev FROM region,
        | LATERAL (SELECT n_name, round(sum(o_totalprice), 2) AS rev
        |   FROM nation, customer, orders
        |   WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        |     AND o_custkey = c_custkey
        |   GROUP BY n_name ORDER BY rev DESC, n_name LIMIT 2)
        |ORDER BY r_name, rev DESC, n_name""".stripMargin,
    "c10_fk_audit" ->
      """SELECT * FROM (
        | SELECT 'orders_orphan_custkey' AS "check", count(*) AS n
        |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        | UNION ALL
        | SELECT 'lineitem_orphan_orderkey', count(*)
        |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        | UNION ALL
        | SELECT 'customer_duplicate_key', count(*)
        |  FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)
        | UNION ALL
        | SELECT 'lineitem_null_shipdate', count(*)
        |  FROM lineitem WHERE l_shipdate IS NULL
        | UNION ALL
        | SELECT 'lineitem_discount_out_of_range', count(*)
        |  FROM lineitem WHERE l_discount < 0 OR l_discount > 1
        |) ORDER BY "check"""".stripMargin,
    "m6_shard_plan" ->
      """WITH t AS (
        | SELECT doc_id, n_chars,
        |  ((doc_id & 2147483647) * 2654435761) % 4294967296 AS rk
        | FROM documents),
        |b AS (SELECT *, rk % 8 AS bkt FROM t),
        |p AS (SELECT bkt, doc_id, n_chars,
        |  COALESCE(sum(n_chars) OVER (PARTITION BY bkt ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        | FROM b)
        |SELECT bkt * 100000 + CAST(floor(prefix / 5000.0) AS BIGINT) AS shard_id,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | min(doc_id) AS first_doc
        |FROM p GROUP BY 1 ORDER BY shard_id""".stripMargin,
    // m7/m8: the Spark side DECODES genuine PNG bytes (javax.imageio);
    // the oracle recomputes what a correct decode must return from the
    // deterministic generating arithmetic (PNG is lossless, so the
    // decoded samples must equal the encoded formulas exactly). Feature
    // sums are exact integers carried in doubles, so cosine agrees
    // bit-for-bit across engines (sqrt/divide on identical doubles).
    "m7_image_decode" ->
      """WITH m AS (SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS w,
        |  CAST(4 + (doc_id*7) % 11 AS INT) AS h FROM documents)
        |SELECT m.doc_id, w, h, CAST(w*h AS INT) AS n_px,
        | CAST(sum((m.doc_id*31 + t.i*7919) % 256) AS BIGINT) AS px_sum
        |FROM m JOIN generate_series(0, 223) t(i) ON t.i < m.w * m.h
        |GROUP BY 1, 2, 3, 4 ORDER BY doc_id""".stripMargin,
    "m8_image_neardup" ->
      """WITH px AS (SELECT doc_id, t.i AS i,
        |  CASE WHEN t.i = 0 THEN (doc_id*11) % 16
        |       ELSE (((doc_id % 25) * 8 + t.i // 32 + 1) * ((doc_id % 25) * 8 + t.i // 32 + 1)
        |             * 2654435761) % 4294967296 // 16777216 END AS v
        | FROM documents, generate_series(0, 255) t(i)),
        |f AS (SELECT doc_id, CAST(i // 32 AS INT) AS k, CAST(sum(v) AS DOUBLE) AS fv
        | FROM px GROUP BY 1, 2),
        |v AS (SELECT doc_id, list(fv ORDER BY k) AS emb FROM f GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        | FROM v a JOIN v b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(cos, 4) AS cos FROM p WHERE cos >= 0.998
        |ORDER BY id_a, id_b""".stripMargin,
    // m4 (round-8 promotion): the stand-in featurizer is centered byte
    // stride-sums — exact integers replayed here from the text column
    // (pure-ASCII fixtures: byte == code point) — and the verify dot
    // runs in doubles on both sides, so the full decode→featurize→
    // verify chain is hash-gated like m8.
    "m4_media_neardup" ->
      """WITH ch AS (SELECT doc_id,
        |  generate_subscripts(string_split(text, ''), 1) AS i,
        |  unnest(list_transform(string_split(text, ''), c -> unicode(c))) - 100 AS b
        | FROM documents),
        |f AS (SELECT doc_id, (i-1) % 8 AS dd, CAST(sum(b) AS DOUBLE) AS v
        | FROM ch GROUP BY 1, 2),
        |emb AS (SELECT doc_id, list(v ORDER BY dd) AS e FROM f GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  list_dot_product(a.e, b.e)
        |   / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos
        | FROM emb a JOIN emb b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(cos, 4) AS cos FROM p WHERE cos >= 0.98
        |ORDER BY id_a, id_b""".stripMargin,
    "c13_dpp_join" ->
      """WITH dim AS (
        | SELECT DISTINCT CAST(ts AS DATE) AS dt FROM events ORDER BY 1 LIMIT 3)
        |SELECT e.dt, count(*) AS n, round(sum(e.value), 2) AS sum_value
        |FROM (SELECT CAST(ts AS DATE) AS dt, value FROM events) e
        |JOIN dim ON e.dt = dim.dt
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "c17_gdpr_delete" ->
      """SELECT user_id, event_id, event_type, round(value,2) AS value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        | FROM events WHERE user_id % 100 <> 7
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "s17_stream_mv" ->
      """SELECT event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value,
        | round(min(value), 2) AS min_value,
        | round(max(value), 2) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "c16b_mv_filter" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type <> 'view'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // CDC between store versions: both versions recomputed from raw
    // events (c2b's exact integer midpoint split) and diffed
    "c18_changelog" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |   epoch_us(date_trunc('microseconds', ts)) AS tus FROM events),
        |b AS (SELECT min(tus) AS mn, max(tus) AS mx FROM e),
        |v1 AS (SELECT user_id, event_id AS old_event, round(value,2) AS old_value FROM (
        |  SELECT user_id, event_id, value,
        |   row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM e, b WHERE 2*tus < mn + mx) WHERE rn = 1),
        |v2 AS (SELECT user_id, event_id AS new_event, round(value,2) AS new_value FROM (
        |  SELECT user_id, event_id, value,
        |   row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM e) WHERE rn = 1)
        |SELECT user_id,
        | CASE WHEN old_event IS NULL THEN 'insert'
        |      WHEN new_event IS NULL THEN 'delete'
        |      ELSE 'update' END AS op,
        | old_event, new_event, old_value, new_value
        |FROM v1 FULL OUTER JOIN v2 USING (user_id)
        |WHERE old_event IS NULL OR new_event IS NULL OR old_event <> new_event
        |ORDER BY user_id""".stripMargin,
    // streaming month dashboard: stream-maintained day partials,
    // month regrouping at query time; oracle from raw events
    "s18_stream_mv_month" ->
      """SELECT date_trunc('month', CAST(ts AS DATE)) AS month_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // MV selection: value parity vs raw regardless of which summary the
    // optimizer picks (the routing itself is ScalaTest-pinned)
    "c16e_mv_select" ->
      """SELECT event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value,
        | round(max(value), 2) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // multi-measure MV dashboard (quantity + revenue from one partials
    // table, grouping coarser than the summary); oracle from raw
    // lineitem, avg as sum/count
    "c16d_mv_multi" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(max(l_quantity), 2) AS max_qty,
        | round(sum(l_extendedprice), 2) AS revenue,
        | round(sum(l_extendedprice) / count(*), 4) AS avg_price,
        | round(min(l_extendedprice), 2) AS min_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // month-grain dashboard answered from day-grain partials: the
    // oracle recomputes from raw events; avg as sum/count so both
    // engines evaluate the identical double division
    "c16c_mv_month" ->
      """SELECT date_trunc('month', CAST(ts AS DATE)) AS month_start, event_type,
        | count(*) AS n,
        | round(sum(value), 2) AS sum_value,
        | round(sum(value) / count(*), 4) AS avg_value,
        | round(min(value), 2) AS min_value,
        | round(max(value), 2) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // stats-driven join: the catalog only moves the physical plan, so
    // the oracle is the plain relational join
    "c19_stats_join" ->
      """SELECT n_name, count(*) AS n, round(sum(s_acctbal), 2) AS sum_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // c19b: transparent catalog broadcast — the rule moves only the
    // physical plan (inline require pins it), values are the plain join
    "c19b_stats_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // star-join MV dashboard: the oracle recomputes from raw events
    // with the category dim inlined as VALUES; avg as sum/count so
    // both engines evaluate the identical double division
    "c16f_mv_join" ->
      """WITH dim(etype, category) AS (VALUES
        |  ('click', 'engagement'), ('view', 'engagement'),
        |  ('signup', 'acquisition'), ('purchase', 'revenue'),
        |  ('error', 'ops'))
        |SELECT category, count(*) AS n,
        | round(sum(value), 2) AS sum_value,
        | round(sum(value) / count(*), 4) AS avg_value
        |FROM events JOIN dim ON event_type = etype
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // dim-side measure through the star join: sum(weight) has no
    // partials anywhere — the rewrite weights the dim constant by the
    // summary row count; the oracle recomputes from raw rows (weights
    // are multiples of 0.5, exact in doubles both ways)
    "c16g_mv_dim_measure" ->
      """WITH dim AS (SELECT etype, category, CAST(weight AS DOUBLE) AS weight
        |  FROM (VALUES
        |   ('click', 'engagement', 1.5), ('view', 'engagement', 0.5),
        |   ('signup', 'acquisition', 4.0), ('purchase', 'revenue', 9.5),
        |   ('error', 'ops', 0.0)) v(etype, category, weight))
        |SELECT category, count(*) AS n,
        | round(sum(weight), 2) AS sum_weight,
        | round(min(weight), 2) AS min_weight,
        | round(sum(value), 2) AS sum_value
        |FROM events JOIN dim ON event_type = etype
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // distinct-over-dims dashboard answered from the rollup; the
    // oracle recomputes from raw events
    "c16h_mv_distinct" ->
      """SELECT event_type,
        | count(DISTINCT CAST(ts AS DATE)) AS n_days,
        | count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "c16_mv_rewrite" ->
      """SELECT event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value,
        | round(sum(value) / count(*), 4) AS avg_value,
        | round(min(value), 2) AS min_value,
        | round(max(value), 2) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "c15_bloom_index" ->
      """SELECT count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)""".stripMargin,
    "c14_zorder_layout" ->
      """WITH b AS (SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
        |  min(l_suppkey) AS smn, max(l_suppkey) AS smx FROM lineitem)
        |SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem, b
        |WHERE l_partkey >= pmn + (pmx - pmn) // 4 AND l_partkey < pmn + (pmx - pmn) // 2
        |  AND l_suppkey >= smn + (smx - smn) // 4 AND l_suppkey < smn + (smx - smn) // 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "c12_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // rank-exact GK edge = the element at rank ceil(q*n) (q34_exact
    // discipline), replayed as a sorted-list index
    "c11_equidepth_hist" ->
      """WITH src AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
        |a AS (SELECT list_sort(list(v)) AS sv, count(*) AS cnt FROM src),
        |th AS (SELECT [
        |  round(sv[CAST(ceil(0.125*cnt) AS BIGINT)], 4),
        |  round(sv[CAST(ceil(0.25*cnt) AS BIGINT)], 4),
        |  round(sv[CAST(ceil(0.375*cnt) AS BIGINT)], 4),
        |  round(sv[CAST(ceil(0.5*cnt) AS BIGINT)], 4),
        |  round(sv[CAST(ceil(0.625*cnt) AS BIGINT)], 4),
        |  round(sv[CAST(ceil(0.75*cnt) AS BIGINT)], 4),
        |  round(sv[CAST(ceil(0.875*cnt) AS BIGINT)], 4)] AS t FROM a),
        |binned AS (SELECT CAST(1
        |  + CASE WHEN v > t[1] THEN 1 ELSE 0 END
        |  + CASE WHEN v > t[2] THEN 1 ELSE 0 END
        |  + CASE WHEN v > t[3] THEN 1 ELSE 0 END
        |  + CASE WHEN v > t[4] THEN 1 ELSE 0 END
        |  + CASE WHEN v > t[5] THEN 1 ELSE 0 END
        |  + CASE WHEN v > t[6] THEN 1 ELSE 0 END
        |  + CASE WHEN v > t[7] THEN 1 ELSE 0 END AS BIGINT) AS bin, v
        | FROM src, th)
        |SELECT bin, count(*) AS n, round(min(v), 2) AS lo, round(max(v), 2) AS hi
        |FROM binned GROUP BY 1 ORDER BY bin""".stripMargin,
    "d15_fuzzy_clusters" ->
      """WITH RECURSIVE t AS (
        | SELECT doc_id, lang, source, substr(text, 1, 60) AS head,
        |  row_number() OVER (PARTITION BY lang, source
        |                     ORDER BY substr(text, 1, 60), doc_id) AS rn
        | FROM documents),
        |cand AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM t a JOIN t b
        |  ON a.lang = b.lang AND a.source = b.source
        |  AND b.rn BETWEEN a.rn + 1 AND a.rn + 10
        | WHERE levenshtein(a.head, b.head) <= 40),
        |pairs AS (
        | SELECT least(ia, ib) AS ia, greatest(ia, ib) AS ib FROM cand),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges),
        |cm AS (SELECT a AS doc_id, min(b) AS cluster_id FROM allr GROUP BY 1)
        |SELECT cluster_id, count(*) AS n_members, max(doc_id) AS max_doc
        |FROM cm GROUP BY 1 ORDER BY cluster_id""".stripMargin,
    "e32_attribution" ->
      """WITH t AS (
        | SELECT user_id, ts, event_id, event_type, value,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        | FROM events),
        |a AS (SELECT *,
        |  last_value(CASE WHEN event_type = 'click' THEN k END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_k
        | FROM t)
        |SELECT last_click_k % 10 AS campaign, count(*) AS n_purchases,
        | round(sum(value), 2) AS revenue
        |FROM a WHERE event_type = 'purchase' AND last_click_k IS NOT NULL
        |GROUP BY 1 ORDER BY campaign""".stripMargin,
    // round 8 — d16: same whitespace tokenizer, k-gram keys replayed as
    // plain strings, identical gaps-and-islands interval merge
    "d16_substring_dedup" ->
      """WITH d AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
        | FROM documents),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
        |  array_to_string(toks[i+1:i+8], ' ') AS g
        | FROM d, unnest(range(0, len(toks) - 8 + 1)) t(i)),
        |dup AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, start, start + 7 AS e FROM g JOIN dup USING (g)),
        |brk AS (SELECT doc_id, start, e,
        |  CASE WHEN start > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY start
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
        |   THEN 1 ELSE 0 END AS b
        | FROM hits),
        |isl AS (SELECT doc_id, start, e,
        |  sum(b) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
        | FROM brk)
        |SELECT doc_id, min(start) AS span_start, max(e) AS span_end,
        | max(e) - min(start) + 1 AS span_tokens
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    // t24: identical BM25 algebra; rank on the ROUNDED score + doc_id so
    // the top-k cutoff can't flip on fp noise
    "t24_bm25" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        | FROM documents),
        |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
        |ad AS (SELECT avg(len) AS avgdl FROM dl),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tc FROM tok
        |  WHERE t IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |  ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
        |   * (tf.tc * 2.2) / (tf.tc + 1.2 * (1 - 0.75 + 0.75 * dl.len / ad.avgdl)) AS s
        | FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad)
        |SELECT doc_id, round(sum(s), 6) AS score
        |FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    // s19: the stream-built rollup + join rewrite answer; the oracle
    // recomputes the star dashboard from raw events
    "s19_stream_star_mv" ->
      """WITH dim(etype, category) AS (VALUES
        |  ('click', 'engagement'), ('view', 'engagement'),
        |  ('signup', 'acquisition'), ('purchase', 'revenue'),
        |  ('error', 'ops'))
        |SELECT category, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events JOIN dim ON event_type = etype
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // c20: identical expectation algebra; sums cast BIGINT (DuckDB sums
    // int to HUGEINT), "check" quoted (reserved word)
    "c20_expectations" ->
      """WITH li AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ship_nn,
        |  count(DISTINCT l_orderkey * 8 + l_linenumber) AS pk_d,
        |  round(min(l_quantity), 2) AS min_qty,
        |  CAST(sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS disc_ok,
        |  CAST(sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT) AS rf_ok
        | FROM lineitem),
        |ord AS (SELECT count(*) AS o_n,
        |  CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fk_ok
        | FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT * FROM (
        | SELECT 'lineitem_discount_in_unit_range' AS "check", round(disc_ok / n, 6) AS metric, disc_ok = n AS passed FROM li
        | UNION ALL SELECT 'lineitem_pk_uniqueness', round(pk_d / n, 6), pk_d = n FROM li
        | UNION ALL SELECT 'lineitem_quantity_min_nonneg', min_qty, min_qty >= 0.0 FROM li
        | UNION ALL SELECT 'lineitem_returnflag_accepted', round(rf_ok / n, 6), rf_ok = n FROM li
        | UNION ALL SELECT 'lineitem_shipdate_completeness', round(ship_nn / n, 6), ship_nn = n FROM li
        | UNION ALL SELECT 'orders_custkey_containment', round(fk_ok / o_n, 6), fk_ok = o_n FROM ord
        |) ORDER BY "check"""".stripMargin,
    // t25: same bigram-LM algebra, decimal-quantized ln sums (the t21
    // discipline), identical ntile ordering (score DESC, doc_id)
    "t25_perplexity" ->
      """WITH tk AS (SELECT doc_id, lang,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
        | FROM documents),
        |bg AS (SELECT doc_id, lang,
        |  unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS bg
        | FROM tk),
        |cb AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |cu AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1 FROM bg GROUP BY 1),
        |sc AS (SELECT doc_id, lang, count(*) AS n_bigrams,
        |  sum(CAST(round(ln(CAST(c2 AS DOUBLE) / c1), 9) AS DECIMAL(20,10))) AS slp
        | FROM bg JOIN cb USING (bg) JOIN cu ON string_split(bg.bg, ' ')[1] = cu.w1
        | GROUP BY 1, 2),
        |r AS (SELECT doc_id, lang, n_bigrams,
        |  round(CAST(slp AS DOUBLE) / n_bigrams, 6) AS score FROM sc),
        |t AS (SELECT doc_id, lang, n_bigrams, score,
        |  CAST(ntile(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS BIGINT) AS tercile
        | FROM r)
        |SELECT doc_id, lang, n_bigrams, score, tercile, tercile <= 2 AS keep
        |FROM t ORDER BY doc_id""".stripMargin,
    // d17: centroids/assignment replayed with the same rounding and
    // decimal-quantized distances; verify cosine via list_dot_product.
    // s20 is the STREAMING build of the identical result (pair index ≡
    // batch), so it shares the oracle text.
    "d17_semdedup" -> semDedupSql,
    "s20_stream_semdedup" -> semDedupSql,
    // p5: the ENTIRE curation chain replayed — t25's gate, d17's drops
    // restricted to survivors, d16's spans over what's kept
    "p5_curate_llm" ->
      """WITH tk AS (SELECT doc_id, lang,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
        | FROM documents),
        |bgx AS (SELECT doc_id, lang,
        |  unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS bg
        | FROM tk),
        |cb AS (SELECT bg, count(*) AS c2 FROM bgx GROUP BY 1),
        |cu AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1 FROM bgx GROUP BY 1),
        |sc AS (SELECT doc_id, lang, count(*) AS n_bigrams,
        |  sum(CAST(round(ln(CAST(c2 AS DOUBLE) / c1), 9) AS DECIMAL(20,10))) AS slp
        | FROM bgx JOIN cb USING (bg) JOIN cu ON string_split(bgx.bg, ' ')[1] = cu.w1
        | GROUP BY 1, 2),
        |t AS (SELECT doc_id, CAST(ntile(3) OVER (PARTITION BY lang
        |  ORDER BY round(CAST(slp AS DOUBLE) / n_bigrams, 6) DESC, doc_id) AS BIGINT) AS tercile
        | FROM sc),
        |k1 AS (SELECT doc_id FROM t WHERE tercile <= 2),
        |comp AS (SELECT vec_id, label, u.i AS idx, CAST(u.v AS DOUBLE) AS v FROM (
        |  SELECT vec_id, label,
        |   unnest([{'i': i-1, 'v': embedding[i]} FOR i IN range(1, len(embedding)+1)]) AS u
        |  FROM embeddings)),
        |cen AS (SELECT label AS c_label, idx AS c_idx, round(avg(v), 4) + 0.0 AS c
        | FROM comp GROUP BY 1, 2),
        |dist AS (SELECT vec_id, c_label,
        |  sum(CAST(round((v - c) * (v - c), 10) AS DECIMAL(24,12))) AS dist
        | FROM comp JOIN cen ON idx = c_idx GROUP BY 1, 2),
        |assign AS (SELECT vec_id, c_label AS cluster FROM (
        |  SELECT vec_id, c_label,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn FROM dist)
        | WHERE rn = 1),
        |m AS (SELECT e.vec_id, cluster, embedding::DOUBLE[] AS emb
        | FROM embeddings e JOIN assign USING (vec_id) JOIN k1 ON e.vec_id = k1.doc_id),
        |sdup AS (SELECT DISTINCT b.vec_id AS doc_id FROM m a JOIN m b
        |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        | WHERE list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4),
        |k2 AS (SELECT doc_id FROM k1 WHERE doc_id NOT IN (SELECT doc_id FROM sdup)),
        |d AS (SELECT tk.doc_id, ts AS toks FROM tk JOIN k2 USING (doc_id)),
        |g AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
        |  array_to_string(toks[i+1:i+8], ' ') AS g
        | FROM d, unnest(range(0, len(toks) - 8 + 1)) t(i)),
        |dupg AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, start, start + 7 AS e FROM g JOIN dupg USING (g)),
        |brk AS (SELECT doc_id, start, e,
        |  CASE WHEN start > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY start
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
        |   THEN 1 ELSE 0 END AS b
        | FROM hits),
        |isl AS (SELECT doc_id, start, e,
        |  sum(b) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
        | FROM brk),
        |spans AS (SELECT doc_id, min(start) AS s0, max(e) AS e0 FROM isl GROUP BY doc_id, island),
        |rem AS (SELECT doc_id, CAST(sum(e0 - s0 + 1) AS BIGINT) AS removed_tokens
        | FROM spans GROUP BY 1)
        |SELECT d2.doc_id, d2.lang, CAST(len(d2.ts) AS BIGINT) AS n_tokens,
        | coalesce(rem.removed_tokens, 0) AS removed_tokens,
        | CAST(len(d2.ts) AS BIGINT) - coalesce(rem.removed_tokens, 0) AS kept_tokens
        |FROM (SELECT tk.doc_id, lang, ts FROM tk JOIN k2 USING (doc_id)) d2
        |LEFT JOIN rem ON d2.doc_id = rem.doc_id
        |ORDER BY d2.doc_id""".stripMargin,
    // v11: the 5 greedy MMR rounds unrolled; λ=0.5 (exact in IEEE AND as
    // a SQL literal), scores rounded before each argmax, vec_id tiebreak
    "v11_mmr" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
        |c AS (SELECT vec_id, emb,
        |  list_dot_product(emb, qe)
        |   / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qe, qe))) AS rel
        | FROM e, q WHERE vec_id <> 0),
        |s1 AS (SELECT vec_id, emb, round(0.5 * rel, 6) AS score FROM c
        | ORDER BY score DESC, vec_id LIMIT 1),
        |p1 AS (SELECT vec_id, emb FROM s1),
        |c2 AS (SELECT c.vec_id, c.emb, c.rel,
        |  (SELECT max(list_dot_product(c.emb, p.emb)
        |    / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(p.emb, p.emb))))
        |   FROM p1 p) AS mx
        | FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM p1)),
        |s2 AS (SELECT vec_id, emb, round(0.5 * rel - 0.5 * mx, 6) AS score FROM c2
        | ORDER BY score DESC, vec_id LIMIT 1),
        |p2 AS (SELECT * FROM p1 UNION ALL SELECT vec_id, emb FROM s2),
        |c3 AS (SELECT c.vec_id, c.emb, c.rel,
        |  (SELECT max(list_dot_product(c.emb, p.emb)
        |    / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(p.emb, p.emb))))
        |   FROM p2 p) AS mx
        | FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM p2)),
        |s3 AS (SELECT vec_id, emb, round(0.5 * rel - 0.5 * mx, 6) AS score FROM c3
        | ORDER BY score DESC, vec_id LIMIT 1),
        |p3 AS (SELECT * FROM p2 UNION ALL SELECT vec_id, emb FROM s3),
        |c4 AS (SELECT c.vec_id, c.emb, c.rel,
        |  (SELECT max(list_dot_product(c.emb, p.emb)
        |    / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(p.emb, p.emb))))
        |   FROM p3 p) AS mx
        | FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM p3)),
        |s4 AS (SELECT vec_id, emb, round(0.5 * rel - 0.5 * mx, 6) AS score FROM c4
        | ORDER BY score DESC, vec_id LIMIT 1),
        |p4 AS (SELECT * FROM p3 UNION ALL SELECT vec_id, emb FROM s4),
        |c5 AS (SELECT c.vec_id, c.emb, c.rel,
        |  (SELECT max(list_dot_product(c.emb, p.emb)
        |    / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(p.emb, p.emb))))
        |   FROM p4 p) AS mx
        | FROM c WHERE c.vec_id NOT IN (SELECT vec_id FROM p4)),
        |s5 AS (SELECT vec_id, emb, round(0.5 * rel - 0.5 * mx, 6) AS score FROM c5
        | ORDER BY score DESC, vec_id LIMIT 1)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS rank, vec_id, score FROM s1
        | UNION ALL SELECT 2, vec_id, score FROM s2
        | UNION ALL SELECT 3, vec_id, score FROM s3
        | UNION ALL SELECT 4, vec_id, score FROM s4
        | UNION ALL SELECT 5, vec_id, score FROM s5)
        |ORDER BY rank""".stripMargin,
    // c21: same generation split (pivot = min day + 15), same float
    // round-trip for gen1 (CAST AS REAL), same evolution defaults
    "c21_schema_evolution" ->
      """WITH pv AS (SELECT min(CAST(ts AS DATE)) + 15 AS pv FROM events),
        |g1 AS (SELECT event_type,
        |  CAST(CAST(CAST(value AS REAL) AS DOUBLE) AS DECIMAL(18,6)) AS v
        | FROM events, pv WHERE CAST(ts AS DATE) < pv),
        |g2 AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
        |  CASE WHEN user_id % 2 = 0 THEN 'web' ELSE 'app' END AS channel
        | FROM events, pv WHERE CAST(ts AS DATE) >= pv)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS generation, event_type, count(*) AS n,
        |  CAST(round(sum(v), 2) AS DOUBLE) AS sum_value,
        |  CAST(0 AS BIGINT) AS n_channel_known
        | FROM g1 GROUP BY 2
        | UNION ALL
        | SELECT 2, event_type, count(*), CAST(round(sum(v), 2) AS DOUBLE),
        |  CAST(sum(CASE WHEN channel <> 'unknown' THEN 1 ELSE 0 END) AS BIGINT)
        | FROM g2 GROUP BY 2)
        |ORDER BY generation, event_type""".stripMargin,
    // t26: identical NB algebra — decimal-quantized ln, decimal(8,0)
    // counts so the product scale matches, argmax on the exact decimal
    "t26_domain_nb" ->
      """WITH tok AS (SELECT doc_id, source, t AS w, count(*) AS cnt FROM (
        |  SELECT doc_id, source,
        |   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |  FROM documents) GROUP BY 1, 2, 3),
        |cc AS (SELECT source AS c, w, CAST(sum(cnt) AS BIGINT) AS c_wc FROM tok GROUP BY 1, 2),
        |tc AS (SELECT c, CAST(sum(c_wc) AS BIGINT) AS tkn_c FROM cc GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v_size FROM cc),
        |pr AS (SELECT source AS c, count(*) AS n_c FROM documents GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT d.doc_id, d.source, d.c,
        |  sum(CAST(d.cnt AS DECIMAL(8,0))
        |    * CAST(round(ln((coalesce(cc.c_wc, 0) + 1) / (d.tkn_c + v.v_size)), 9) AS DECIMAL(20,10))) AS sw
        | FROM (SELECT tok.doc_id, tok.source, tc.c, tok.w, tok.cnt, tc.tkn_c
        |        FROM tok CROSS JOIN tc) d
        | LEFT JOIN cc ON d.w = cc.w AND d.c = cc.c CROSS JOIN v
        | GROUP BY 1, 2, 3),
        |tot AS (SELECT sc.doc_id, sc.source, sc.c,
        |  sc.sw + CAST(round(ln(pr.n_c / n.n_docs), 9) AS DECIMAL(20,10)) AS score
        | FROM sc JOIN pr ON sc.c = pr.c CROSS JOIN n),
        |r AS (SELECT doc_id, source, c, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn FROM tot)
        |SELECT doc_id, source, c AS pred_source,
        | round(CAST(score AS DOUBLE), 6) AS score, c = source AS correct
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // m9: the oracle recomputes the decoded sample statistics from the
    // generating arithmetic (PCM-in-WAV is lossless, so a correct RIFF
    // parse must return the encoded int16 samples exactly); every output
    // is an exact integer, so the hash compare is engine-independent
    "m9_wav_decode" ->
      """WITH n AS (SELECT doc_id, 64 + doc_id % 41 AS ns FROM documents),
        |s AS (SELECT n.doc_id, n.ns,
        |  ((n.doc_id*31 + t.i*t.i*7919) % 65536) - 32768 AS v
        | FROM n JOIN generate_series(0, 104) t(i) ON t.i < n.ns)
        |SELECT doc_id, CAST(8000 AS INT) AS sr, CAST(ns AS BIGINT) AS n_samples,
        | CAST(sum(v) AS BIGINT) AS sum_s, CAST(max(abs(v)) AS BIGINT) AS peak,
        | CAST(sum(v*v) AS BIGINT) AS sum_sq
        |FROM s GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    // c25: a clone that mutated its source (or a source leaking into the
    // diverged clone) fails this both-sides hash
    "c25_shallow_clone" ->
      """WITH latest AS (SELECT user_id, value FROM (
        |  SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1)
        |SELECT side, count(*) AS n_users,
        | CAST(sum(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mod7,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        | SELECT 'source' AS side, user_id, value FROM latest
        | UNION ALL
        | SELECT 'clone' AS side, user_id, value FROM latest WHERE user_id % 7 <> 0)
        |GROUP BY side ORDER BY side""".stripMargin,
    // p7: m11's VAD algebra + speech-density gate + m6's shard packing
    // replayed end-to-end in exact integers
    "p7_curate_audio" ->
      """WITH n AS (SELECT doc_id, 64 + doc_id % 41 AS ns FROM documents),
        |s AS (SELECT n.doc_id, t.i AS i,
        |  ((n.doc_id*31 + t.i*t.i*7919) % 65536) - 32768 AS v
        | FROM n JOIN generate_series(0, 104) t(i) ON t.i < n.ns),
        |w AS (SELECT doc_id, CAST(i // 16 AS BIGINT) AS w_idx, count(*) AS len_w,
        |  CAST(sum(v*v) AS BIGINT) AS sq_w
        | FROM s GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(sum(sq_w) AS BIGINT) AS tot_sq,
        |  CAST(sum(len_w) AS BIGINT) AS tot_len FROM w GROUP BY 1),
        |f AS (SELECT w.* FROM w JOIN tt USING (doc_id)
        | WHERE sq_w * tot_len >= tot_sq * len_w),
        |vv AS (SELECT doc_id, w_idx,
        |  w_idx - row_number() OVER (PARTITION BY doc_id ORDER BY w_idx) AS grp FROM f),
        |r AS (SELECT doc_id, grp, count(*) AS run FROM vv GROUP BY 1, 2),
        |m AS (SELECT doc_id, max(run) AS max_run, CAST(sum(run) AS BIGINT) AS n_voiced
        | FROM r GROUP BY 1),
        |g AS (SELECT m.doc_id, m.n_voiced FROM m JOIN n USING (doc_id)
        | WHERE m.max_run >= 2
        |   AND m.n_voiced * 2 >= CAST(floor((n.ns + 15) / 16.0) AS BIGINT)),
        |b AS (SELECT doc_id, n_voiced,
        |  ((doc_id & 2147483647) * 2654435761) % 4294967296 AS rk FROM g),
        |p AS (SELECT doc_id, n_voiced, rk, rk % 4 AS bkt,
        |  COALESCE(sum(n_voiced) OVER (PARTITION BY rk % 4 ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        | FROM b)
        |SELECT bkt * 100000 + CAST(floor(prefix / 60.0) AS BIGINT) AS shard_id,
        | count(*) AS n_clips, CAST(sum(n_voiced) AS BIGINT) AS total_voiced,
        | min(doc_id) AS first_doc
        |FROM p GROUP BY 1 ORDER BY shard_id""".stripMargin,
    // c24: the two-generation reader must equal the raw-table scan under
    // the same derived split-day arithmetic
    "c24_partition_evolution" ->
      """WITH b AS (SELECT CAST(min(ts) AS DATE) + 1 AS d1,
        |  CAST(min(ts) AS DATE)
        |   + CAST(datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) // 2 AS INT) + 1 AS d2
        | FROM events)
        |SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE CAST(ts AS DATE) = b.d1
        |   OR (CAST(ts AS DATE) = b.d2 AND CAST(strftime(ts, '%H') AS INT) BETWEEN 6 AND 11)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // s24: the online dedup must land exactly "every doc after its URL's
    // first" — the bloom is a prefilter, never the answer
    "s24_stream_bloom_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  'https://' || source || '.example.com/page/' || CAST(doc_id % 60 AS VARCHAR) AS canonical_url
        | FROM documents),
        |f AS (SELECT canonical_url, min(doc_id) AS ref_doc_id FROM u GROUP BY 1)
        |SELECT u.doc_id, u.canonical_url, f.ref_doc_id
        |FROM u JOIN f USING (canonical_url)
        |WHERE u.doc_id > f.ref_doc_id
        |ORDER BY u.doc_id""".stripMargin,
    // e36: per-cell terms quantized to 6dp BEFORE the statistic's sum
    // (decimal-carried), so the chi² hash is engine-independent; the
    // cell table is a DENSE domain cross (empty cells contribute their
    // (0-exp)^2/exp term), mirroring the Spark-side spine
    "e36_chi_square" ->
      """WITH e AS (SELECT event_type,
        |  CAST(dayofweek(ts) AS INT) IN (0, 6) AS is_weekend FROM events),
        |obs0 AS (SELECT event_type, is_weekend, count(*) AS obs FROM e GROUP BY 1, 2),
        |cells AS (SELECT et.event_type, wk.is_weekend, coalesce(o.obs, 0) AS obs
        | FROM (SELECT DISTINCT event_type FROM e) et
        | CROSS JOIN (SELECT DISTINCT is_weekend FROM e) wk
        | LEFT JOIN obs0 o ON o.event_type = et.event_type AND o.is_weekend = wk.is_weekend),
        |rt AS (SELECT event_type, sum(obs) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT is_weekend, sum(obs) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT sum(obs) AS n FROM cells),
        |terms AS (SELECT c.event_type, c.is_weekend, c.obs,
        |  CAST(rt.rt AS DOUBLE) * ct.ct / n.n AS exp,
        |  round((c.obs - CAST(rt.rt AS DOUBLE) * ct.ct / n.n)
        |      * (c.obs - CAST(rt.rt AS DOUBLE) * ct.ct / n.n)
        |      / (CAST(rt.rt AS DOUBLE) * ct.ct / n.n), 6) AS term
        | FROM cells c JOIN rt USING (event_type) JOIN ct USING (is_weekend) CROSS JOIN n),
        |k AS (SELECT round(CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 4) AS chi2,
        |  CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT is_weekend) - 1) AS BIGINT) AS df
        | FROM terms)
        |SELECT event_type, is_weekend, obs, round(exp, 4) AS expected, term, chi2, df
        |FROM terms CROSS JOIN k
        |ORDER BY event_type, is_weekend""".stripMargin,
    // m12: box-average resize replayed from the generating pixel
    // arithmetic — wrong box boundaries / rounding fail the hash
    "m12_image_resize" ->
      """WITH m AS (SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS w,
        |  CAST(4 + (doc_id*7) % 11 AS INT) AS h FROM documents),
        |px AS (SELECT m.doc_id, w, h, t.i AS i,
        |  (m.doc_id*31 + t.i*7919) % 256 AS v
        | FROM m JOIN generate_series(0, 223) t(i) ON t.i < w*h),
        |b AS (SELECT doc_id,
        |  CAST(((i // w) * 2) // h AS BIGINT) AS ty,
        |  CAST(((i % w) * 2) // w AS BIGINT) AS tx, v
        | FROM px)
        |SELECT doc_id, ty, tx, CAST(count(*) AS BIGINT) AS n_px,
        | CAST(sum(v) // count(*) AS BIGINT) AS v
        |FROM b GROUP BY 1, 2, 3 ORDER BY doc_id, ty, tx""".stripMargin,
    // m11: decode→window→adaptive-gate→islands, all exact integers; the
    // oracle replays the WAV store's generating arithmetic like m9
    "m11_audio_segments" ->
      """WITH n AS (SELECT doc_id, 64 + doc_id % 41 AS ns FROM documents),
        |s AS (SELECT n.doc_id, t.i AS i,
        |  ((n.doc_id*31 + t.i*t.i*7919) % 65536) - 32768 AS v
        | FROM n JOIN generate_series(0, 104) t(i) ON t.i < n.ns),
        |w AS (SELECT doc_id, CAST(i // 16 AS BIGINT) AS w_idx, count(*) AS len_w,
        |  CAST(sum(v*v) AS BIGINT) AS sq_w
        | FROM s GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(sum(sq_w) AS BIGINT) AS tot_sq,
        |  CAST(sum(len_w) AS BIGINT) AS tot_len FROM w GROUP BY 1),
        |f AS (SELECT w.* FROM w JOIN tt USING (doc_id)
        | WHERE sq_w * tot_len >= tot_sq * len_w),
        |v AS (SELECT doc_id, w_idx,
        |  w_idx - row_number() OVER (PARTITION BY doc_id ORDER BY w_idx) AS grp FROM f),
        |r AS (SELECT doc_id, grp, count(*) AS run FROM v GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_segments, CAST(max(run) AS BIGINT) AS max_run,
        | CAST(sum(run) AS BIGINT) AS n_voiced
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // v12: v1's exact-kNN algebra with the metadata predicate applied to
    // the candidate side before ranking
    "v12_filtered_knn" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_emb FROM embeddings WHERE label < 5),
        |sc AS (SELECT q_id, c_id,
        |  list_dot_product(q_emb, c_emb)
        |   / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))) AS cos
        | FROM c JOIN q ON c_id <> q_id),
        |r AS (SELECT q_id, c_id, cos,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM sc)
        |SELECT q_id, rn, c_id, round(cos, 4) AS cos FROM r WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,
    // d18: the oracle PREDICTS the canonical URL from the generating
    // arithmetic (source + doc_id), so the Spark-side regex
    // canonicalizer is what the hash gate actually checks
    "d18_url_dedup" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |  'https://' || source || '.example.com/page/' || CAST(doc_id % 60 AS VARCHAR) AS canon
        | FROM documents),
        |r AS (SELECT canon, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY canon ORDER BY n_chars DESC, doc_id) AS rn FROM c),
        |g AS (SELECT canon, CAST(count(*) AS BIGINT) AS n_dups,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars FROM c GROUP BY 1)
        |SELECT g.canon AS canonical_url, r.doc_id AS keep_id, g.n_dups, g.max_chars
        |FROM g JOIN r ON g.canon = r.canon AND r.rn = 1
        |ORDER BY canonical_url""".stripMargin,
    // t31: stupid backoff (Brants 2007) — train on even ids, score odd;
    // both arms fire and the 0.4 penalties replay exactly
    "t31_backoff_lm" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        | FROM documents),
        |mt AS (SELECT * FROM t WHERE doc_id % 2 = 0),
        |st AS (SELECT * FROM t WHERE doc_id % 2 = 1),
        |mbg AS (SELECT bg, count(*) AS c2 FROM (
        |  SELECT unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS bg FROM mt)
        | GROUP BY 1),
        |mu AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(ts) AS w FROM mt) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS nt FROM mu),
        |sb AS (SELECT doc_id, unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS bg
        | FROM st),
        |sp AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
        | FROM sb),
        |j AS (SELECT sp.doc_id, mbg.c2, a.c1 AS c1prev, b.c1 AS c1cur, tot.nt
        | FROM sp LEFT JOIN mbg USING (bg)
        | LEFT JOIN mu a ON a.w = sp.w1
        | LEFT JOIN mu b ON b.w = sp.w2
        | CROSS JOIN tot),
        |sc AS (SELECT doc_id, c2,
        |  CASE WHEN c2 IS NOT NULL THEN CAST(c2 AS DOUBLE) / c1prev
        |       ELSE 0.4 * (CASE WHEN c1cur IS NOT NULL THEN CAST(c1cur AS DOUBLE) / nt
        |                        ELSE 0.4 / nt END)
        |  END AS sc
        | FROM j)
        |SELECT doc_id, round(avg(ln(sc)), 3) AS avg_logscore,
        | CAST(sum(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
        | count(*) AS n_pos
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    // d21: the bloom prefilter is performance-only — the exact confirm
    // join makes the answer identical to this plain reference join
    "d21_incremental_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  'https://' || source || '.example.com/page/' || CAST(doc_id % 60 AS VARCHAR) AS canonical_url
        | FROM documents),
        |cut AS (SELECT CAST(floor((max(doc_id)+1)/2.0) AS BIGINT) AS cut FROM documents),
        |old AS (SELECT u.* FROM u, cut WHERE doc_id < cut),
        |nw AS (SELECT u.* FROM u, cut WHERE doc_id >= cut),
        |refs AS (SELECT canonical_url, min(doc_id) AS ref_doc_id FROM old GROUP BY 1)
        |SELECT nw.doc_id, nw.canonical_url, refs.ref_doc_id
        |FROM nw JOIN refs USING (canonical_url)
        |ORDER BY nw.doc_id""".stripMargin,
    // t27: identical DSIR algebra — md5-derived bucket ids, 9-decimal
    // quantized log-ratios carried as decimals, keep on the exact sum
    "t27_dsir" ->
      """WITH t AS (SELECT doc_id, lang,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |bg AS (SELECT doc_id, lang,
        |  unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS bg FROM t),
        |f AS (SELECT doc_id, lang,
        |  CAST('0x' || substr(md5(bg), 1, 8) AS BIGINT) % 256 AS b, count(*) AS cnt
        | FROM bg GROUP BY 1, 2, 3),
        |bs AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS BIGINT) AS ct
        | FROM f GROUP BY 1),
        |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS stot, CAST(sum(ct) AS BIGINT) AS ttot FROM bs),
        |w AS (SELECT b,
        |  CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (ttot + 256)), 9) AS DECIMAL(20,10))
        |  - CAST(round(ln(CAST(cs + 1 AS DOUBLE) / (stot + 256)), 9) AS DECIMAL(20,10)) AS wb
        | FROM bs CROSS JOIN tot),
        |sc AS (SELECT f.doc_id, f.lang, CAST(sum(f.cnt) AS BIGINT) AS n_feats,
        |  sum(CAST(f.cnt AS DECIMAL(8,0)) * w.wb) AS lw
        | FROM f JOIN w USING (b) GROUP BY 1, 2)
        |SELECT doc_id, lang, n_feats, round(CAST(lw AS DOUBLE), 6) AS logw, lw > 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,
    // s21: the oracle replays Spark's watermark algebra exactly — per
    // arrival batch, max event time floored to MILLISECONDS
    // (EventTimeStats precision) minus the 2 h delay; a row survives iff
    // its day-window end exceeds the watermark in force DURING its batch
    // (equality drops, matching the engine's <= predicate). The in-force
    // watermark reflects stats through batch N-2 (measured on 4.1.2:
    // batch N's offsets/watermark are planned before batch N-1's
    // event-time stats commit), hence the 2-PRECEDING frame.
    "s21_late_data" ->
      """WITH m AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events),
        |e AS (SELECT ts, event_type, value, CAST(ts AS DATE) AS day,
        |  CAST(date_diff('day', m.d0, CAST(ts AS DATE)) // 3 AS INT)
        |  + CASE user_id % 7 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS arr
        | FROM events CROSS JOIN m),
        |fm AS (SELECT arr, max(epoch_us(ts)) AS mx FROM e GROUP BY 1),
        |wm AS (SELECT arr,
        |  (max(mx) OVER (ORDER BY arr ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) // 1000) * 1000
        |  - 7200000000 AS wm_us
        | FROM fm),
        |acc AS (SELECT e.day, e.event_type, e.value FROM e JOIN wm USING (arr)
        | WHERE wm.wm_us IS NULL OR epoch_us(CAST(e.day + 1 AS TIMESTAMP)) > wm.wm_us)
        |SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
        |FROM acc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q52: decimal(18,6) revenue terms before the sums (q3 discipline),
    // 2dp-rounded decimals cast to double, share divided as doubles
    "q52_market_share" ->
      """WITH sup AS (SELECT s_suppkey, (r_name = 'ASIA') AS is_asia
        | FROM supplier JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey),
        |rev AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6)) AS rv, is_asia
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN sup ON l_suppkey = s_suppkey),
        |agg AS (SELECT o_year, round(sum(rv), 2) AS total,
        |  round(sum(CASE WHEN is_asia THEN rv ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS asia
        | FROM rev GROUP BY 1)
        |SELECT o_year, CAST(total AS DOUBLE) AS total_revenue,
        | CAST(asia AS DOUBLE) AS asia_revenue,
        | round(CAST(asia AS DOUBLE) / CAST(total AS DOUBLE), 6) AS asia_share
        |FROM agg ORDER BY o_year""".stripMargin,
    // s26: the daemon lands the same exactly-once (dt, hr) table s1's
    // library call does — the oracle is the raw-events truth
    "s26_daemon_ingest" ->
      """SELECT CAST(ts AS DATE) AS dt, CAST(strftime(ts, '%H') AS INT) AS hr,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // p8: the full incremental chain replayed — content-segment frontier
    // URLs, the exact dup set (the bloom is a prefilter only), the token
    // gate, and the per-source landed report
    "p8_curate_incremental" ->
      """WITH u AS (SELECT doc_id, source,
        |  source || '/' || substr(md5(text), 1, 2) AS url_key,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        | FROM documents),
        |cut AS (SELECT CAST(floor((max(doc_id)+1)/2.0) AS BIGINT) AS cut FROM documents),
        |old AS (SELECT u.* FROM u, cut WHERE doc_id < cut),
        |nw AS (SELECT u.* FROM u, cut WHERE doc_id >= cut),
        |dup AS (SELECT DISTINCT nw.doc_id FROM nw
        |  JOIN (SELECT DISTINCT url_key FROM old) o USING (url_key))
        |SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM nw
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup) AND n_tokens BETWEEN 5 AND 2000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "v16_triangle_count" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |sc AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        |  list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        | FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT q_id, c_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM sc),
        |und AS (SELECT DISTINCT least(q_id, c_id) AS a, greatest(q_id, c_id) AS b
        | FROM r WHERE rn <= 3),
        |tri AS (SELECT e1.a, e1.b, e2.b AS c
        | FROM und e1 JOIN und e2 ON e1.b = e2.a
        | JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT v AS vec_id, count(*) AS n_tri FROM (
        |  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        | GROUP BY 1),
        |deg AS (SELECT v AS vec_id, count(*) AS degree FROM (
        |  SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY 1)
        |SELECT deg.vec_id, deg.degree,
        | CAST(coalesce(pn.n_tri, 0) AS BIGINT) AS n_tri,
        | CASE WHEN deg.degree >= 2
        |  THEN round(CAST(coalesce(pn.n_tri, 0) AS DOUBLE) * 2 / (deg.degree * (deg.degree - 1)), 4)
        |  ELSE 0.0 END AS clustering
        |FROM deg LEFT JOIN pn USING (vec_id)
        |ORDER BY deg.vec_id""".stripMargin,
    // m14: the synthetic pixel model replayed through the same 8x8
    // nearest-neighbor grid + 56-bit difference hash (all integer)
    "m14_dhash" ->
      """WITH m AS (SELECT doc_id, CAST(4 + doc_id % 13 AS BIGINT) AS w,
        |  CAST(4 + (doc_id*7) % 11 AS BIGINT) AS h FROM documents),
        |b AS (SELECT m.doc_id, w, h, r.r, c.c
        | FROM m, generate_series(0, 7) r(r), generate_series(0, 6) c(c)),
        |g AS (SELECT doc_id, r, c,
        |  (doc_id*31 + (least((r*h)//8, h-1)*w + least((c*w)//8, w-1))*7919) % 256 AS g1,
        |  (doc_id*31 + (least((r*h)//8, h-1)*w + least(((c+1)*w)//8, w-1))*7919) % 256 AS g2
        | FROM b),
        |hsh AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN g1 > g2 THEN CAST(power(2, r*7+c) AS BIGINT) ELSE 0 END) AS BIGINT) AS dhash
        | FROM g GROUP BY 1),
        |grp AS (SELECT dhash, count(*) AS n_same, min(doc_id) AS canonical_id
        | FROM hsh GROUP BY 1)
        |SELECT h.doc_id, h.dhash, grp.n_same, grp.canonical_id
        |FROM hsh h JOIN grp USING (dhash) ORDER BY h.doc_id""".stripMargin,
    // m14b: the REAL ImageIO decode path must reproduce the synthetic
    // pixel model bit-for-bit (the staged PNGs encode it), so the same
    // replay gates the decode itself — m8's two-stage discipline
    "m14b_dhash_real" ->
      """WITH m AS (SELECT doc_id, CAST(4 + doc_id % 13 AS BIGINT) AS w,
        |  CAST(4 + (doc_id*7) % 11 AS BIGINT) AS h FROM documents),
        |b AS (SELECT m.doc_id, w, h, r.r, c.c
        | FROM m, generate_series(0, 7) r(r), generate_series(0, 6) c(c)),
        |g AS (SELECT doc_id, r, c,
        |  (doc_id*31 + (least((r*h)//8, h-1)*w + least((c*w)//8, w-1))*7919) % 256 AS g1,
        |  (doc_id*31 + (least((r*h)//8, h-1)*w + least(((c+1)*w)//8, w-1))*7919) % 256 AS g2
        | FROM b),
        |hsh AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN g1 > g2 THEN CAST(power(2, r*7+c) AS BIGINT) ELSE 0 END) AS BIGINT) AS dhash
        | FROM g GROUP BY 1),
        |grp AS (SELECT dhash, count(*) AS n_same, min(doc_id) AS canonical_id
        | FROM hsh GROUP BY 1)
        |SELECT h.doc_id, h.dhash, grp.n_same, grp.canonical_id
        |FROM hsh h JOIN grp USING (dhash) ORDER BY h.doc_id""".stripMargin,
    // m15: the real-decode Laplacian replayed from the generating pixel
    // arithmetic (constant series bounded by max dims, filtered per-row)
    "m15_image_sharpness" ->
      """WITH m AS (SELECT doc_id, CAST(4 + doc_id % 13 AS BIGINT) AS w,
        |  CAST(4 + (doc_id*7) % 11 AS BIGINT) AS h FROM documents),
        |px AS (SELECT doc_id, w, h, x.x, y.y,
        |  (doc_id*31 + (y.y*w + x.x)*7919) % 256 AS p,
        |  (doc_id*31 + (y.y*w + x.x - 1)*7919) % 256 AS pl,
        |  (doc_id*31 + (y.y*w + x.x + 1)*7919) % 256 AS pr,
        |  (doc_id*31 + ((y.y-1)*w + x.x)*7919) % 256 AS pu,
        |  (doc_id*31 + ((y.y+1)*w + x.x)*7919) % 256 AS pd
        | FROM m, generate_series(1, 14) x(x), generate_series(1, 12) y(y)
        | WHERE x.x <= w - 2 AND y.y <= h - 2)
        |SELECT doc_id, w, h, (w-2)*(h-2) AS n_interior,
        | CAST(sum(abs(4*p - pl - pr - pu - pd)) AS BIGINT) AS sharp_l1
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // p9: the multimodal chain replayed end-to-end — pixel model →
    // dhash + Laplacian → sharpness gate → min-id dedup among survivors
    // → md5 shard; stage order is part of the hash
    "p9_curate_multimodal" ->
      """WITH m AS (SELECT doc_id, CAST(4 + doc_id % 13 AS BIGINT) AS w,
        |  CAST(4 + (doc_id*7) % 11 AS BIGINT) AS h FROM documents),
        |b AS (SELECT m.doc_id, w, h, r.r, c.c
        | FROM m, generate_series(0, 7) r(r), generate_series(0, 6) c(c)),
        |g AS (SELECT doc_id, r, c,
        |  (doc_id*31 + (least((r*h)//8, h-1)*w + least((c*w)//8, w-1))*7919) % 256 AS g1,
        |  (doc_id*31 + (least((r*h)//8, h-1)*w + least(((c+1)*w)//8, w-1))*7919) % 256 AS g2
        | FROM b),
        |hsh AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN g1 > g2 THEN CAST(power(2, r*7+c) AS BIGINT) ELSE 0 END) AS BIGINT) AS dhash
        | FROM g GROUP BY 1),
        |px AS (SELECT m.doc_id, w, h, x.x, y.y,
        |  (doc_id*31 + (y.y*w + x.x)*7919) % 256 AS p,
        |  (doc_id*31 + (y.y*w + x.x - 1)*7919) % 256 AS pl,
        |  (doc_id*31 + (y.y*w + x.x + 1)*7919) % 256 AS pr,
        |  (doc_id*31 + ((y.y-1)*w + x.x)*7919) % 256 AS pu,
        |  (doc_id*31 + ((y.y+1)*w + x.x)*7919) % 256 AS pd
        | FROM m, generate_series(1, 14) x(x), generate_series(1, 12) y(y)
        | WHERE x.x <= w - 2 AND y.y <= h - 2),
        |sharp AS (SELECT doc_id, (w-2)*(h-2) AS n_interior,
        |  CAST(sum(abs(4*p - pl - pr - pu - pd)) AS BIGINT) AS sharp_l1
        | FROM px GROUP BY doc_id, w, h),
        |feat AS (SELECT hsh.doc_id, dhash, sharp_l1, n_interior
        | FROM hsh JOIN sharp ON hsh.doc_id = sharp.doc_id),
        |gated AS (SELECT * FROM feat WHERE sharp_l1 >= n_interior * 150),
        |canon AS (SELECT * FROM (SELECT *,
        |  min(doc_id) OVER (PARTITION BY dhash) AS canonical_id FROM gated)
        | WHERE doc_id = canonical_id)
        |SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard,
        | count(*) AS n_imgs, CAST(sum(n_interior) AS BIGINT) AS n_px,
        | CAST(sum(sharp_l1) AS BIGINT) AS sum_sharp
        |FROM canon GROUP BY 1 ORDER BY shard""".stripMargin,
    // t33: RAKE replayed — zipped parallel unnests give (pos, w), runs
    // via the islands delta, word scores quantized decimal(16,6) before
    // the exact phrase sum
    "t33_rake_keywords" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        | FROM documents),
        |tok0 AS (SELECT doc_id,
        |  unnest(range(1, len(ts)+1)) AS pos, unnest(ts) AS w FROM t),
        |tok AS (SELECT * FROM tok0
        | WHERE w NOT IN ('the','a','of','and','to','in','is','it')),
        |runs AS (SELECT doc_id, pos, w,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM tok),
        |withlen AS (SELECT *, count(*) OVER (PARTITION BY doc_id, grp) AS plen FROM runs),
        |ws AS (SELECT doc_id, w,
        |  CAST(round(CAST(sum(plen) AS DOUBLE) / count(*), 6) AS DECIMAL(16,6)) AS wscore
        | FROM withlen GROUP BY 1, 2),
        |ph AS (SELECT wl.doc_id, wl.grp,
        |  string_agg(wl.w, ' ' ORDER BY wl.pos) AS phrase,
        |  count(*) AS n_words, sum(ws.wscore) AS ps
        | FROM withlen wl JOIN ws ON wl.doc_id = ws.doc_id AND wl.w = ws.w
        | GROUP BY 1, 2),
        |r AS (SELECT doc_id, phrase, n_words, ps,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY ps DESC, phrase) AS rank FROM ph)
        |SELECT doc_id, CAST(rank AS INT) AS rank, phrase, n_words,
        | CAST(round(ps, 4) AS DOUBLE) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // e38: dense-spine hourly series; deviations quantized to
    // decimal(16,8) before any product (t21 discipline), double
    // division once per (type, lag)
    "e38_acf" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |b AS (SELECT min(h) AS mn, max(h) AS mx FROM e),
        |spine AS (SELECT t.event_type, gs.h
        | FROM (SELECT DISTINCT event_type FROM e) t
        | CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b) gs),
        |cnt AS (SELECT event_type, h, count(*) AS x FROM e GROUP BY 1, 2),
        |series AS (SELECT s.event_type, s.h, coalesce(cnt.x, 0) AS x
        | FROM spine s LEFT JOIN cnt ON s.h = cnt.h AND s.event_type = cnt.event_type),
        |st AS (SELECT event_type,
        |  CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 9) AS DECIMAL(20,10)) AS xbar
        | FROM series GROUP BY 1),
        |dv AS (SELECT s.event_type, s.h,
        |  CAST(round(s.x - st.xbar, 8) AS DECIMAL(19,8)) AS dev
        | FROM series s JOIN st USING (event_type)),
        |ld AS (SELECT event_type, h, dev,
        |  lead(dev, 1) OVER w AS d1, lead(dev, 2) OVER w AS d2, lead(dev, 3) OVER w AS d3,
        |  lead(dev, 4) OVER w AS d4, lead(dev, 5) OVER w AS d5, lead(dev, 6) OVER w AS d6
        | FROM dv WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        |ag AS (SELECT event_type, sum(dev*dev) AS den,
        |  sum(dev*d1) AS n1, sum(dev*d2) AS n2, sum(dev*d3) AS n3,
        |  sum(dev*d4) AS n4, sum(dev*d5) AS n5, sum(dev*d6) AS n6
        | FROM ld GROUP BY 1)
        |SELECT event_type, lag,
        | round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
        |FROM ag
        | CROSS JOIN LATERAL (VALUES (1, n1), (2, n2), (3, n3), (4, n4), (5, n5), (6, n6)) v(lag, num)
        |ORDER BY event_type, lag""".stripMargin,
    // e37: burst hour iff 2*cnt*n_hours >= 3*total (1.5x mean,
    // cross-multiplied — no division anywhere), islands via the
    // hour-index - row_number delta
    "e37_burst_windows" -> burstSql,
    "s28_stream_bursts" -> burstSql,
    // m13: the synthetic frame model replayed (m11's oracle discipline);
    // scene = running sum of |delta| >= 96 cuts
    "m13_scene_segments" ->
      """WITH n AS (SELECT doc_id, 24 + doc_id % 40 AS nf FROM documents),
        |f AS (SELECT n.doc_id, t.i AS i, (n.doc_id*31 + t.i*t.i*7919) % 256 AS v
        | FROM n JOIN generate_series(0, 63) t(i) ON t.i < n.nf),
        |c AS (SELECT doc_id, i, v,
        |  CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
        |       OR abs(v - lag(v) OVER (PARTITION BY doc_id ORDER BY i)) >= 96
        |  THEN 1 ELSE 0 END AS cut
        | FROM f),
        |sc AS (SELECT doc_id, i, v,
        |  sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS scene_id FROM c)
        |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
        | CAST(min(i) AS BIGINT) AS start_f, CAST(max(i) AS BIGINT) AS end_f,
        | count(*) AS n_frames, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // m13b: identical oracle to m13 — the GIF frames encode the same luma
    // model, so the hash gates the real frame decode itself
    "m13b_scene_real" ->
      """WITH n AS (SELECT doc_id, 24 + doc_id % 40 AS nf FROM documents),
        |f AS (SELECT n.doc_id, t.i AS i, (n.doc_id*31 + t.i*t.i*7919) % 256 AS v
        | FROM n JOIN generate_series(0, 63) t(i) ON t.i < n.nf),
        |c AS (SELECT doc_id, i, v,
        |  CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
        |       OR abs(v - lag(v) OVER (PARTITION BY doc_id ORDER BY i)) >= 96
        |  THEN 1 ELSE 0 END AS cut
        | FROM f),
        |sc AS (SELECT doc_id, i, v,
        |  sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS scene_id FROM c)
        |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
        | CAST(min(i) AS BIGINT) AS start_f, CAST(max(i) AS BIGINT) AS end_f,
        | count(*) AS n_frames, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // t32 + s27: distinct-trigram novelty of each frontier doc vs the
    // reference half's trigram set — ONE oracle pins the batch query
    // AND the streaming scoring pipeline (the as-of-triad discipline)
    "t32_ngram_novelty" -> noveltySql,
    "s27_stream_novelty" -> noveltySql,
    // v15: both arms' ranks recomputed (cosine rank, token-Jaccard
    // rank), RRF from INTEGER ranks, rounded BEFORE the fusion rank
    "v15_hybrid_rrf" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_emb FROM embeddings),
        |vsc AS (SELECT q_id, c_id,
        |  list_dot_product(q_emb, c_emb)
        |   / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))) AS cos
        | FROM c JOIN q ON c_id <> q_id),
        |vr AS (SELECT q_id, c_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn_vec FROM vsc),
        |tk AS (SELECT doc_id,
        |  list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS t FROM documents),
        |lsc AS (SELECT qt.doc_id AS q_id, ct.doc_id AS c_id,
        |  len(list_intersect(qt.t, ct.t)) AS inter,
        |  len(qt.t) + len(ct.t) - len(list_intersect(qt.t, ct.t)) AS uni
        | FROM tk ct JOIN tk qt ON qt.doc_id < 10 AND ct.doc_id <> qt.doc_id),
        |lr AS (SELECT q_id, c_id,
        |  row_number() OVER (PARTITION BY q_id
        |    ORDER BY (CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE)/uni ELSE 0.0 END) DESC, c_id) AS rn_lex
        | FROM lsc),
        |f AS (SELECT vr.q_id, vr.c_id,
        |  round(CAST(1 AS DOUBLE)/(60 + rn_vec) + CAST(1 AS DOUBLE)/(60 + rn_lex), 6) AS rrf,
        |  rn_vec, rn_lex
        | FROM vr JOIN lr ON vr.q_id = lr.q_id AND vr.c_id = lr.c_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rn FROM f)
        |SELECT q_id, rn, c_id, rrf, rn_vec, rn_lex FROM r WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,
    // q55: identical total order (price, orderkey, linenumber) ⇒ both
    // engines cross the half-weight point at the identical row
    "q55_weighted_median" ->
      """WITH t AS (SELECT l_suppkey, l_extendedprice AS price,
        |  sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cum,
        |  sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_suppkey) AS tot
        | FROM lineitem)
        |SELECT l_suppkey, round(min(price), 2) AS w_median,
        | CAST(max(tot) AS BIGINT) AS total_qty
        |FROM t WHERE cum * 2 >= tot GROUP BY 1 ORDER BY l_suppkey""".stripMargin,
    // t37: same bucket-grain prefix sums, same decimal-quantized fit
    "t37_heaps_law" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
        |tb AS (SELECT doc_id // 16 AS b, count(*) AS toks FROM tok GROUP BY 1),
        |nb AS (SELECT fd // 16 AS b, count(*) AS neww FROM (
        |  SELECT tok, min(doc_id) AS fd FROM tok GROUP BY 1) GROUP BY 1),
        |j AS (SELECT coalesce(tb.b, nb.b) AS b, coalesce(toks, 0) AS toks,
        |  coalesce(neww, 0) AS neww FROM tb FULL OUTER JOIN nb ON tb.b = nb.b),
        |c AS (SELECT b, sum(toks) OVER (ORDER BY b) AS t_cum,
        |  sum(neww) OVER (ORDER BY b) AS v_cum FROM j),
        |p AS (SELECT CAST(round(ln(CAST(t_cum AS DOUBLE)), 9) AS DECIMAL(12,10)) AS x,
        |  CAST(round(ln(CAST(v_cum AS DOUBLE)), 9) AS DECIMAL(12,10)) AS y,
        |  t_cum, v_cum FROM c),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |  CAST(sum(x*y) AS DOUBLE) AS sxy, CAST(sum(x*x) AS DOUBLE) AS sxx,
        |  CAST(max(t_cum) AS BIGINT) AS tokens_final,
        |  CAST(max(v_cum) AS BIGINT) AS vocab_final FROM p)
        |SELECT CAST(n AS BIGINT) AS n_points, tokens_final, vocab_final,
        | round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) + 0.0 AS heaps_beta,
        | round(exp((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n), 6) AS heaps_k
        |FROM a""".stripMargin,
    // v18: gate accuracy ≫ n ⇒ GK edges are EXACTLY the rank-⌈q·n⌉
    // elements, replayable as sorted-list indexes (c11 discipline)
    "v18_component_quantiles" ->
      """WITH x AS (SELECT t.i AS component, CAST(embedding[t.i + 1] AS DOUBLE) AS v
        |  FROM embeddings JOIN generate_series(0, 255) t(i) ON t.i < len(embedding)),
        |a AS (SELECT component, list_sort(list(v)) AS sv, count(*) AS cnt
        |  FROM x GROUP BY 1)
        |SELECT CAST(component AS INT) AS component, CAST(cnt AS BIGINT) AS n,
        | round(sv[greatest(1, CAST(ceil(0.01*cnt) AS BIGINT))], 6) AS p01,
        | round(sv[CAST(ceil(0.5*cnt) AS BIGINT)], 6) AS p50,
        | round(sv[CAST(ceil(0.99*cnt) AS BIGINT)], 6) AS p99
        |FROM a ORDER BY component""".stripMargin,
    // m17: replay the generating pixel formulas — gates decode AND class
    "m17_exposure" ->
      """WITH m AS (SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS w,
        |  CAST(4 + (doc_id*7) % 11 AS INT) AS h FROM documents),
        |px AS (SELECT m.doc_id, (m.doc_id*31 + t.i*7919) % 256 AS v
        | FROM m JOIN generate_series(0, 223) t(i) ON t.i < m.w * m.h),
        |tone AS (SELECT doc_id, v // 32 AS tone, count(*) AS c FROM px GROUP BY 1, 2),
        |dom AS (SELECT doc_id, tone, c,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tone) AS rn FROM tone),
        |st AS (SELECT doc_id, count(*) AS n_px, sum(v) AS sv FROM px GROUP BY 1)
        |SELECT st.doc_id, CAST(st.n_px AS BIGINT) AS n_px,
        | round(CAST(sv AS DOUBLE) / st.n_px, 6) AS px_mean,
        | CAST(d.tone AS INT) AS dom_tone,
        | round(CAST(d.c AS DOUBLE) / st.n_px, 6) AS dom_share,
        | CASE WHEN CAST(sv AS DOUBLE) / st.n_px < 96 THEN 'dark'
        |      WHEN CAST(sv AS DOUBLE) / st.n_px > 160 THEN 'bright'
        |      ELSE 'ok' END AS exposure
        |FROM st JOIN dom d ON st.doc_id = d.doc_id AND d.rn = 1
        |ORDER BY st.doc_id""".stripMargin,
    // c29: the added partitions are exactly the days past the ⌈D/3⌉ cutoff
    "c29_incremental_scan" ->
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT day, row_number() OVER (ORDER BY day) AS rn,
        |  count(*) OVER () AS nd FROM days),
        |cut AS (SELECT day AS cutday FROM r WHERE rn = CAST(ceil(nd / 3.0) AS BIGINT)),
        |nw AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events, cut
        | WHERE CAST(ts AS DATE) > cutday)
        |SELECT event_type, count(*) AS n_new, count(DISTINCT day) AS n_days,
        | min(day) AS d_min, max(day) AS d_max
        |FROM nw GROUP BY 1 ORDER BY event_type""".stripMargin,
    // t38: identical scalar division/log sequence; order by ROUNDED pmi
    "t38_pmi_collocations" ->
      """WITH t AS (SELECT list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents),
        |bg AS (SELECT unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS bg FROM t),
        |cu AS (SELECT unnest(ts) AS w FROM t),
        |c1t AS (SELECT w, count(*) AS c1 FROM cu GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c1) FROM c1t) AS n1, (SELECT count(*) FROM bg) AS n2),
        |cand AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1 HAVING count(*) >= 5),
        |j AS (SELECT cand.bg, c2, a.c1 AS c1a, b.c1 AS c1b,
        |  round(ln((CAST(c2 AS DOUBLE) / n2) /
        |    ((CAST(a.c1 AS DOUBLE) / n1) * (CAST(b.c1 AS DOUBLE) / n1))), 6) AS pmi
        | FROM cand
        | JOIN c1t a ON split_part(cand.bg, ' ', 1) = a.w
        | JOIN c1t b ON split_part(cand.bg, ' ', 2) = b.w
        | CROSS JOIN tot)
        |SELECT bg, c2, c1a, c1b, pmi FROM j
        |ORDER BY pmi DESC, bg LIMIT 20""".stripMargin,
    // v19: GK at gate accuracy ⇒ median/MAD are the exact rank elements,
    // replayed as sorted-list indexes over round-9 norms
    "v19_norm_outliers" ->
      """WITH e AS (SELECT label,
        |  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 9) AS nrm
        | FROM embeddings),
        |m AS (SELECT label, list_sort(list(nrm)) AS sv, count(*) AS cnt FROM e GROUP BY 1),
        |md AS (SELECT label, sv[CAST(ceil(0.5*cnt) AS BIGINT)] AS med FROM m),
        |dv AS (SELECT e.label, nrm, round(abs(nrm - med), 9) AS dev
        | FROM e JOIN md USING (label)),
        |m2 AS (SELECT label, list_sort(list(dev)) AS dl, count(*) AS cnt FROM dv GROUP BY 1),
        |mad AS (SELECT label, dl[CAST(ceil(0.5*cnt) AS BIGINT)] AS mad FROM m2)
        |SELECT dv.label, count(*) AS n, round(max(med), 6) AS med_norm,
        | round(max(mad), 6) AS mad_norm,
        | CAST(sum(CASE WHEN dev > 3.0*mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | round(CAST(sum(CASE WHEN dev > 3.0*mad THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        |   AS outlier_share
        |FROM dv JOIN md USING (label) JOIN mad USING (label)
        |GROUP BY 1 ORDER BY dv.label""".stripMargin,
    // c30: exact integer sums; the two final divisions replay verbatim
    "c30_skew_report" ->
      """WITH f AS (SELECT CAST(ts AS DATE) AS dt, CAST(strftime(ts, '%H') AS INT) AS hr,
        |  count(*) AS n_rows FROM events GROUP BY 1, 2),
        |r AS (SELECT dt, n_rows,
        |  row_number() OVER (PARTITION BY dt ORDER BY n_rows, hr) AS rn FROM f),
        |a AS (SELECT dt, count(*) AS n_files, sum(n_rows) AS total_rows,
        |  max(n_rows) AS max_rows, sum(rn * n_rows) AS wsum FROM r GROUP BY 1)
        |SELECT dt, n_files, CAST(total_rows AS BIGINT) AS total_rows, max_rows,
        | round(CAST(max_rows AS DOUBLE) * n_files / total_rows, 6) AS skew_ratio,
        | round(2.0 * wsum / CAST(n_files * total_rows AS DOUBLE)
        |   - CAST(n_files + 1 AS DOUBLE) / n_files, 6) AS gini
        |FROM a ORDER BY dt""".stripMargin,
    // m18: m11's window-energy replay + the same mean split; doubles
    // only in the final divisions + log10
    "m18_audio_snr" ->
      """WITH n AS (SELECT doc_id, 64 + doc_id % 41 AS ns FROM documents),
        |s AS (SELECT n.doc_id, t.i AS i,
        |  ((n.doc_id*31 + t.i*t.i*7919) % 65536) - 32768 AS v
        | FROM n JOIN generate_series(0, 104) t(i) ON t.i < n.ns),
        |w AS (SELECT doc_id, CAST(i // 16 AS BIGINT) AS w_idx, count(*) AS len_w,
        |  CAST(sum(v*v) AS BIGINT) AS sq_w
        | FROM s GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(sum(sq_w) AS BIGINT) AS tot_sq,
        |  CAST(sum(len_w) AS BIGINT) AS tot_len FROM w GROUP BY 1),
        |a AS (SELECT w.doc_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN sq_w * tot_len >= tot_sq * len_w THEN 1 ELSE 0 END) AS BIGINT) AS n_signal,
        |  CAST(sum(CASE WHEN sq_w * tot_len >= tot_sq * len_w THEN sq_w ELSE 0 END) AS BIGINT) AS sig_sq,
        |  CAST(sum(CASE WHEN sq_w * tot_len >= tot_sq * len_w THEN len_w ELSE 0 END) AS BIGINT) AS sig_len,
        |  CAST(sum(CASE WHEN sq_w * tot_len >= tot_sq * len_w THEN 0 ELSE sq_w END) AS BIGINT) AS noise_sq,
        |  CAST(sum(CASE WHEN sq_w * tot_len >= tot_sq * len_w THEN 0 ELSE len_w END) AS BIGINT) AS noise_len
        | FROM w JOIN tt USING (doc_id) GROUP BY 1)
        |SELECT doc_id, n_windows, n_signal,
        | CASE WHEN noise_len > 0 AND noise_sq > 0 THEN
        |   round(10.0 * log10((CAST(sig_sq AS DOUBLE) / sig_len)
        |     / (CAST(noise_sq AS DOUBLE) / noise_len)), 6)
        | END AS snr_db
        |FROM a ORDER BY doc_id""".stripMargin,
    // v20/s32: the same micro-unit quantization (⌊v·10⁶+0.5⌋), exact
    // integer moment sums, identical scalar covariance arithmetic —
    // shared because the streaming fold is bit-identical to one batch
    "v20_correlated_dims" -> covSql,
    "s32_stream_covariance" -> covSql,
    "q56_blame_supplier" -> q56Sql,
    "e41_retention_halflife" -> e41Sql,
    "v21_sq8_distortion" -> v21Sql,
    // t39: both engines run leftmost-greedy matching on the same simple
    // alternation, so the segmentations agree token-for-token
    "t39_tokenizer_fertility" ->
      """WITH t AS (SELECT lang,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS words,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS subwords
        | FROM documents)
        |SELECT lang, count(*) AS n_docs, CAST(sum(words) AS BIGINT) AS words,
        | CAST(sum(subwords) AS BIGINT) AS subwords,
        | round(CAST(sum(subwords) AS DOUBLE) / sum(words), 6) AS fertility
        |FROM t GROUP BY 1 ORDER BY lang""".stripMargin,
    // c31: c27's version replay reduced to the scalar amplification row
    "c31_write_amplification" ->
      """WITH e AS (SELECT user_id, event_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS tus FROM events),
        |b AS (SELECT min(tus) AS mn, max(tus) AS mx FROM e),
        |v1 AS (SELECT user_id, event_id AS old_event_id FROM (
        |  SELECT user_id, event_id,
        |   row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM e, b WHERE 2*tus < mn + mx) WHERE rn = 1),
        |v2 AS (SELECT user_id, event_id AS new_event_id FROM (
        |  SELECT user_id, event_id,
        |   row_number() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM e) WHERE rn = 1),
        |j AS (SELECT old_event_id, new_event_id
        | FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN old_event_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1_rows,
        |  CAST(sum(CASE WHEN new_event_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2_rows,
        |  CAST(sum(CASE WHEN new_event_id IS NOT NULL
        |    AND (old_event_id IS NULL OR old_event_id <> new_event_id)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS changed,
        |  CAST(sum(CASE WHEN old_event_id IS NOT NULL AND old_event_id = new_event_id
        |    THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
        | FROM j)
        |SELECT v1_rows, v2_rows, changed, unchanged,
        | CASE WHEN changed > 0 THEN round(CAST(v2_rows AS DOUBLE) / changed, 4) END
        |   AS amplification
        |FROM a""".stripMargin,
    "e42_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT date_trunc('month', day) AS month, day, count(*) AS dau
        | FROM ud GROUP BY 1, 2),
        |dm AS (SELECT month, count(*) AS n_days, sum(dau) AS sum_dau FROM dau GROUP BY 1),
        |mau AS (SELECT date_trunc('month', day) AS month, count(DISTINCT user_id) AS mau
        | FROM ud GROUP BY 1)
        |SELECT CAST(dm.month AS DATE) AS month, n_days, mau,
        | round(CAST(sum_dau AS DOUBLE) / n_days, 4) AS avg_dau,
        | round(CAST(sum_dau AS DOUBLE) / n_days / mau, 6) AS stickiness
        |FROM dm JOIN mau USING (month) ORDER BY month""".stripMargin,
    "t40_vocab_coverage" ->
      """WITH f AS (SELECT tok, count(*) AS f FROM (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents) GROUP BY 1),
        |r AS (SELECT tok, f, row_number() OVER (ORDER BY f DESC, tok) AS rank,
        |  sum(f) OVER (ORDER BY f DESC, tok ROWS UNBOUNDED PRECEDING) AS cum FROM f),
        |t AS (SELECT CAST(sum(f) AS BIGINT) AS total_tokens, count(*) AS n_types FROM f)
        |SELECT CAST(rank AS INT) AS cut_n, CAST(cum AS BIGINT) AS covered_tokens,
        | total_tokens, n_types,
        | round(CAST(cum AS DOUBLE) / total_tokens, 6) AS coverage
        |FROM r, t WHERE rank IN (5, 10, 20) ORDER BY cut_n""".stripMargin,
    // m19: same pixel replay as m17; identical per-tone term arithmetic
    "m19_image_entropy" ->
      """WITH m AS (SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS w,
        |  CAST(4 + (doc_id*7) % 11 AS INT) AS h FROM documents),
        |px AS (SELECT m.doc_id, m.w * m.h AS n, (m.doc_id*31 + t.i*7919) % 256 AS v
        | FROM m JOIN generate_series(0, 223) t(i) ON t.i < m.w * m.h),
        |tone AS (SELECT doc_id, any_value(n) AS n, v // 32 AS tn, count(*) AS c
        | FROM px GROUP BY doc_id, v // 32),
        |q AS (SELECT doc_id, any_value(n) AS n_px, count(*) AS n_tones,
        |  CAST(sum(CAST(floor((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n) * 1e12 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS sq
        | FROM tone GROUP BY 1)
        |SELECT doc_id, CAST(n_px AS BIGINT) AS n_px, CAST(n_tones AS INT) AS n_tones,
        | -sq AS entropy_q12, -CAST(sq AS DOUBLE) / 1e12 AS entropy
        |FROM q ORDER BY doc_id""".stripMargin,
    // s33: the folded (token, count) table equals the batch counts under
    // any chop, so the oracle recomputes straight from raw documents
    "s33_stream_entropy" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents),
        |c AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
        |a AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |  CAST(sum(CAST(cnt AS DECIMAL(12,0))
        |    * CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(20,10))) AS DOUBLE) AS sclnc
        | FROM c)
        |SELECT n_tokens, n_types,
        | round(ln(CAST(n_tokens AS DOUBLE)) - sclnc / n_tokens, 6) AS entropy
        |FROM a""".stripMargin,
    "q57_decile_lift" ->
      """WITH spend AS (SELECT o_custkey,
        |  sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS spend FROM orders GROUP BY 1),
        |tl AS (SELECT o_custkey, spend,
        |  ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile FROM spend),
        |g AS (SELECT decile, count(*) AS n_customers, sum(spend) AS rev FROM tl GROUP BY 1),
        |t AS (SELECT sum(rev) AS total_rev FROM g),
        |c AS (SELECT decile, n_customers, rev,
        |  sum(rev) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_rev FROM g)
        |SELECT CAST(c.decile AS INT) AS decile, n_customers,
        | CAST(rev AS DOUBLE) AS revenue,
        | round(CAST(rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6) AS share,
        | round(CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6) AS cum_share
        |FROM c, t ORDER BY decile""".stripMargin,
    // e43: exact integer gap moments; identical scalar mu/sigma/B math
    "e43_burstiness" ->
      """WITH e AS (SELECT user_id, event_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS tus FROM events),
        |g AS (SELECT user_id,
        |  (tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)) // 1000000
        |    AS gap FROM e),
        |a AS (SELECT user_id, count(*) AS n_gaps, CAST(sum(gap) AS BIGINT) AS sg,
        |  CAST(sum(gap*gap) AS BIGINT) AS sg2
        | FROM g WHERE gap IS NOT NULL GROUP BY 1),
        |m AS (SELECT user_id, n_gaps, sg, sg2,
        |  CAST(sg AS DOUBLE) / n_gaps AS mu,
        |  sqrt(greatest((CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n_gaps) / n_gaps,
        |    0.0)) AS sigma
        | FROM a)
        |SELECT user_id, n_gaps, round(mu, 4) AS mean_gap_s,
        | CASE WHEN sigma + mu > 0 THEN round((sigma - mu) / (sigma + mu), 6) END
        |   AS burstiness
        |FROM m ORDER BY user_id""".stripMargin,
    // v22: rounded centroids + decimal-quantized dot terms ⇒ exact
    // similarities, margins, and confusion comparisons in both engines
    "v22_centroid_margin" ->
      """WITH cen AS (SELECT label AS c_label, idx, round(avg(v), 4) + 0.0 AS c FROM (
        |  SELECT label, CAST(u.i AS INT) AS idx, CAST(u.v AS DOUBLE) AS v FROM (
        |   SELECT label, unnest([{'i': i-1, 'v': embedding[i]}
        |     FOR i IN range(1, len(embedding)+1)]) AS u
        |   FROM embeddings)) GROUP BY 1, 2),
        |e AS (SELECT vec_id, label, CAST(u.i AS INT) AS idx, CAST(u.v AS DOUBLE) AS v FROM (
        |  SELECT vec_id, label, unnest([{'i': i-1, 'v': embedding[i]}
        |    FOR i IN range(1, len(embedding)+1)]) AS u
        |  FROM embeddings)),
        |t AS (SELECT vec_id, e.label, c_label,
        |  CAST(round(v * c, 9) AS DECIMAL(20,10)) AS t
        | FROM e JOIN cen ON e.idx = cen.idx),
        |sims AS (SELECT vec_id, label, c_label, sum(t) AS sim FROM t GROUP BY 1, 2, 3),
        |p AS (SELECT vec_id, label,
        |  max(CASE WHEN c_label = label THEN sim END) AS own,
        |  max(CASE WHEN c_label <> label THEN sim END) AS best_other
        | FROM sims GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        | round(CAST(sum(own - best_other) AS DOUBLE) / count(*), 6) AS mean_margin,
        | CAST(sum(CASE WHEN own <= best_other THEN 1 ELSE 0 END) AS BIGINT) AS n_confused,
        | round(CAST(sum(CASE WHEN own <= best_other THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS confused_share
        |FROM p GROUP BY 1 ORDER BY label""".stripMargin,
    // q58: the DEFINITIONAL strict-dominance anti-join — independent of
    // the engine's linear per-size-min + suffix-min plan
    "q58_skyline" ->
      """SELECT p_partkey, p_size, p_retailprice AS price FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_size, p_partkey""".stripMargin,
    // q59: carry-forward balances via per-customer windows (the direct
    // form — the engine collapses customers to interval grain first)
    "q59_semi_additive" ->
      """WITH o AS (SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS m,
        |   o_orderdate, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |b AS (SELECT o_custkey, m, cents AS balance FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey, m
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM o) WHERE rn = 1),
        |iv AS (SELECT o_custkey, m, balance,
        |  lead(m) OVER (PARTITION BY o_custkey ORDER BY m) AS m_to FROM b),
        |sp AS (SELECT DISTINCT m AS sm FROM o)
        |SELECT sp.sm AS month, count(*) AS n_accounts,
        | CAST(sum(iv.balance) AS BIGINT) / 100.0 AS book_balance
        |FROM iv JOIN sp ON sp.sm >= iv.m AND (iv.m_to IS NULL OR sp.sm < iv.m_to)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "e44_engagement_gini" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt FROM events GROUP BY 1,2),
        |r AS (SELECT event_type, cnt,
        |  row_number() OVER (PARTITION BY event_type ORDER BY cnt, user_id) AS i FROM c)
        |SELECT event_type, count(*) AS n_users, CAST(sum(cnt) AS BIGINT) AS total_events,
        | round((CAST(2*sum(i*cnt) AS DOUBLE) - (count(*)+1)*CAST(sum(cnt) AS DOUBLE))
        |   / (count(*)*CAST(sum(cnt) AS DOUBLE)), 6) AS gini
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // t41: same decimal-quantized ln sums (t34's discipline) so both
    // engines fold exactly
    "t41_length_lognormal" ->
      """WITH x AS (SELECT lang, CAST(round(ln(CAST(n_chars AS DOUBLE)), 9) AS DECIMAL(14,9)) AS lx
        |  FROM documents WHERE n_chars > 0),
        |g AS (SELECT lang, count(*) AS n_docs, sum(lx) AS slx,
        |  sum(CAST(lx*lx AS DECIMAL(28,18))) AS slx2 FROM x GROUP BY 1)
        |SELECT lang, n_docs, round(CAST(slx AS DOUBLE)/n_docs, 6) AS mu,
        | round(sqrt(greatest(CAST(slx2 AS DOUBLE)/n_docs
        |   - (CAST(slx AS DOUBLE)/n_docs)*(CAST(slx AS DOUBLE)/n_docs), 0.0)), 6) AS sigma,
        | round(exp(CAST(slx AS DOUBLE)/n_docs), 2) AS fit_median_chars
        |FROM g ORDER BY lang""".stripMargin,
    // v23: v5's exact kNN edge set (same rank tiebreak), reversed-pair
    // self-join for mutuality, label-grain report
    "v23_knn_mutuality" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |sc AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        |  list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
        | FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (SELECT q_id, c_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM sc),
        |ed AS (SELECT q_id, c_id FROM r WHERE rn <= 3),
        |m AS (SELECT ed.q_id FROM ed JOIN ed ed2 ON ed.q_id = ed2.c_id AND ed.c_id = ed2.q_id),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |pe AS (SELECT label, count(*) AS n_edges FROM ed JOIN lab ON ed.q_id = lab.vec_id GROUP BY 1),
        |pm AS (SELECT label, count(*) AS n_mutual FROM m JOIN lab ON m.q_id = lab.vec_id GROUP BY 1)
        |SELECT pe.label, pe.n_edges, coalesce(pm.n_mutual, 0) AS n_mutual,
        | round(coalesce(pm.n_mutual, 0)*1.0 / pe.n_edges, 6) AS mutual_frac
        |FROM pe LEFT JOIN pm ON pe.label = pm.label ORDER BY pe.label""".stripMargin,
    // s35: each topic must independently reproduce the events table
    "s35_multi_topic_fanin" ->
      """WITH t AS (SELECT 'events_avro' AS topic, ts, value FROM events
        | UNION ALL SELECT 'events_csv' AS topic, ts, value FROM events)
        |SELECT topic, CAST(ts AS DATE) AS dt, count(*) AS n,
        | round(sum(value), 2) AS sum_value, CAST(0 AS BIGINT) AS n_corrupt
        |FROM t GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // c33: versions 1..2 fell out of the keep-last-2 window (NULL stats
    // — their data is gone); kept versions re-aggregate their slice
    "c33_version_gc" ->
      """WITH v AS (SELECT unnest([1,2,3,4]) AS version)
        |SELECT CAST(v.version AS BIGINT) AS version,
        | CASE WHEN v.version >= 3 THEN 'kept' ELSE 'expired' END AS status,
        | CASE WHEN v.version >= 3 THEN (SELECT count(DISTINCT event_type) FROM events
        |   WHERE date_part('day', ts) <= 7*v.version) END AS n_types,
        | CASE WHEN v.version >= 3 THEN (SELECT count(*) FROM events
        |   WHERE date_part('day', ts) <= 7*v.version) END AS n_events
        |FROM v ORDER BY version""".stripMargin,
    "c34_scd2_build" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(date_trunc('microseconds', ts)) AS tus FROM events),
        |m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM m),
        |g AS (SELECT user_id, run, event_type, min(tus) AS valid_from_us,
        |  count(*) AS n_events FROM r GROUP BY 1,2,3),
        |f AS (SELECT user_id, event_type, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run) AS valid_to_us,
        |  n_events FROM g)
        |SELECT user_id, event_type, valid_from_us, valid_to_us,
        | CAST(n_events AS BIGINT) AS n_events, (valid_to_us IS NULL) AS is_current
        |FROM f ORDER BY user_id, valid_from_us""".stripMargin,
    // s36 shares c34's oracle verbatim: the streaming fold must land the
    // same dimension the one-shot batch build computes
    "s36_stream_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(date_trunc('microseconds', ts)) AS tus FROM events),
        |m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM m),
        |g AS (SELECT user_id, run, event_type, min(tus) AS valid_from_us,
        |  count(*) AS n_events FROM r GROUP BY 1,2,3),
        |f AS (SELECT user_id, event_type, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run) AS valid_to_us,
        |  n_events FROM g)
        |SELECT user_id, event_type, valid_from_us, valid_to_us,
        | CAST(n_events AS BIGINT) AS n_events, (valid_to_us IS NULL) AS is_current
        |FROM f ORDER BY user_id, valid_from_us""".stripMargin,
    "q60_abc_class" ->
      """WITH r AS (SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2)))
        |   AS DECIMAL(28,2)) AS rev FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS DECIMAL(28,2)) AS total_rev FROM r),
        |c AS (SELECT rev, sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev FROM r)
        |SELECT CASE WHEN cum_rev*100 <= total_rev*80 THEN 'A'
        |            WHEN cum_rev*100 <= total_rev*95 THEN 'B'
        |            ELSE 'C' END AS abc_class,
        | count(*) AS n_parts, CAST(CAST(sum(rev) AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
        | round(CAST(sum(rev) AS DOUBLE) / CAST(any_value(total_rev) AS DOUBLE), 6) AS share
        |FROM c, t GROUP BY 1 ORDER BY 1""".stripMargin,
    // e45: dense generated spine (days 8-28 × hours 0-23 per type), the
    // forecast join keyed on (type, day−7, hour); sMAPE terms quantized
    "e45_forecast_backtest" ->
      """WITH c AS (SELECT event_type, date_part('day', ts) AS dm,
        |   date_part('hour', ts) AS hr, count(*) AS c FROM events GROUP BY 1,2,3),
        |sp AS (SELECT ty.event_type, d.dm, h.hr
        |  FROM (SELECT DISTINCT event_type FROM events) ty,
        |       (SELECT unnest(range(8, 29)) AS dm) d,
        |       (SELECT unnest(range(0, 24)) AS hr) h),
        |sc AS (SELECT sp.event_type, sp.dm, sp.hr,
        |  coalesce(a.c, 0) AS a, coalesce(f.c, 0) AS f
        | FROM sp
        | LEFT JOIN c a ON sp.event_type = a.event_type AND sp.dm = a.dm AND sp.hr = a.hr
        | LEFT JOIN c f ON sp.event_type = f.event_type AND sp.dm = f.dm + 7 AND sp.hr = f.hr),
        |sm AS (SELECT event_type, abs(a - f) AS ae,
        |  CASE WHEN a + f = 0 THEN CAST(0 AS DECIMAL(12,10))
        |       ELSE CAST(round(CAST(2*abs(a - f) AS DOUBLE) / (a + f), 9) AS DECIMAL(12,10))
        |  END AS smape_t
        | FROM sc)
        |SELECT event_type, count(*) AS n_points,
        | round(CAST(sum(ae) AS DOUBLE) / count(*), 6) AS mae,
        | round(CAST(sum(smape_t) AS DOUBLE) / count(*), 6) AS smape
        |FROM sm GROUP BY 1 ORDER BY 1""".stripMargin,
    // t42: the KN formula evaluated in DOUBLE end-to-end on both engines
    // (DuckDB parses bare 0.75 as DECIMAL — cast explicitly), ln terms
    // quantized to decimal before the per-doc fold
    "t42_kneser_ney" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents),
        |bg AS (SELECT doc_id, unnest([{'v': ts[i], 'w': ts[i+1]} FOR i IN range(1, len(ts))]) AS p FROM t),
        |o AS (SELECT doc_id, p.v AS v, p.w AS w FROM bg),
        |cvw AS (SELECT v, w, count(*) AS cvw FROM o GROUP BY 1,2),
        |cv AS (SELECT v, CAST(sum(cvw) AS BIGINT) AS cv, count(*) AS n1v FROM cvw GROUP BY 1),
        |n1w AS (SELECT w, count(*) AS n1w FROM cvw GROUP BY 1),
        |nb AS (SELECT count(*) AS nb FROM cvw),
        |model AS (SELECT v, w,
        |  greatest(CAST(cvw AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / cv
        |   + CAST(0.75 AS DOUBLE) * n1v / cv * n1w / nb AS p
        | FROM cvw JOIN cv USING (v) JOIN n1w USING (w), nb),
        |s AS (SELECT o.doc_id, CAST(round(ln(model.p), 9) AS DECIMAL(14,9)) AS lp
        | FROM o JOIN model ON o.v = model.v AND o.w = model.w)
        |SELECT doc_id, count(*) AS n_bigrams,
        | round(-CAST(sum(lp) AS DOUBLE) / count(*), 6) AS h_kn
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // d22: the PORTABLE md5 minhash (60-bit from 15 hex digits — min
    // agrees across signed/unsigned) replayed per component; the exact
    // pair set is d2's oracle verbatim
    "d22_minhash_fidelity" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents),
        |s AS (SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM t WHERE len(ts) >= 3),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |sg AS (SELECT doc_id, kk.k,
        |   min(CAST('0x' || substr(md5(e || '#' || kk.k), 1, 15) AS UBIGINT)) AS mh
        | FROM (SELECT doc_id, unnest(sh) AS e FROM s),
        |      (SELECT unnest(range(0, 16)) AS k) kk
        | GROUP BY 1, 2),
        |m AS (SELECT p.id_a, p.id_b, p.jaccard,
        |   round(CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 4) AS mh_est
        | FROM p JOIN sg x ON x.doc_id = p.id_a
        |        JOIN sg y ON y.doc_id = p.id_b AND x.k = y.k
        | GROUP BY 1, 2, 3)
        |SELECT id_a, id_b, jaccard, mh_est, round(abs(mh_est - jaccard), 4) AS abs_err
        |FROM m ORDER BY id_a, id_b""".stripMargin,
    // v24: v4's rounded centroids + decimal-quantized squared terms —
    // distances, silhouettes and their folds exact on both engines
    "v24_silhouette" ->
      """WITH cen AS (SELECT label AS c_label, idx, round(avg(v), 4) + 0.0 AS c FROM (
        |  SELECT label, CAST(u.i AS INT) AS idx, CAST(u.v AS DOUBLE) AS v FROM (
        |   SELECT label, unnest([{'i': i-1, 'v': embedding[i]}
        |     FOR i IN range(1, len(embedding)+1)]) AS u
        |   FROM embeddings)) GROUP BY 1, 2),
        |e AS (SELECT vec_id, label, CAST(u.i AS INT) AS idx, CAST(u.v AS DOUBLE) AS x FROM (
        |  SELECT vec_id, label, unnest([{'i': i-1, 'v': embedding[i]}
        |    FOR i IN range(1, len(embedding)+1)]) AS u
        |  FROM embeddings)),
        |d2 AS (SELECT vec_id, label, c_label,
        |  round(sqrt(CAST(sum(CAST(round((x - c)*(x - c), 12) AS DECIMAL(16,12))) AS DOUBLE)), 9) AS dist
        | FROM e JOIN cen USING (idx) GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |  max(CASE WHEN c_label = label THEN dist END) AS a,
        |  min(CASE WHEN c_label <> label THEN dist END) AS b
        | FROM d2 GROUP BY 1, 2),
        |si AS (SELECT label, CAST(round((b - a) / greatest(a, b), 9) AS DECIMAL(12,9)) AS si FROM ab)
        |SELECT label, count(*) AS n_vecs,
        | round(CAST(sum(si) AS DOUBLE) / count(*), 6) AS mean_silhouette,
        | CAST(sum(CASE WHEN si < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
        |FROM si GROUP BY 1 ORDER BY 1""".stripMargin,
    // m20: the oracle replays the store's generating PCM formula (m9's
    // discipline) and the same exact v²·n ≥ Σv² gate
    "m20_audio_trim" ->
      """WITH n AS (SELECT doc_id, 64 + doc_id % 41 AS ns FROM documents),
        |s AS (SELECT n.doc_id, n.ns, t.i,
        |  ((n.doc_id*31 + t.i*t.i*7919) % 65536) - 32768 AS v
        | FROM n JOIN generate_series(0, 104) t(i) ON t.i < n.ns),
        |q AS (SELECT doc_id, ns, CAST(sum(v*v) AS BIGINT) AS sum_sq FROM s GROUP BY 1,2),
        |k AS (SELECT s.doc_id, q.ns, min(s.i) AS f, max(s.i) AS l
        | FROM s JOIN q ON s.doc_id = q.doc_id
        | WHERE s.v * s.v * q.ns >= q.sum_sq GROUP BY 1, 2)
        |SELECT doc_id, CAST(ns AS BIGINT) AS n_samples, CAST(f AS BIGINT) AS trim_start,
        | CAST(l AS BIGINT) AS trim_end, CAST(l - f + 1 AS BIGINT) AS n_kept,
        | round(CAST(l - f + 1 AS DOUBLE) / ns, 6) AS kept_share
        |FROM k ORDER BY doc_id""".stripMargin,
    // c35: the served MOR read (base anti-join dv) must equal both
    // delete predicates applied to the raw rows
    "c35_merge_on_read" ->
      """SELECT event_type, count(*) AS n_rows, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE user_id % 7 <> 3 AND event_type <> 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // t43: dense (sources × types) spine so both engines see the same
    // support; p·ln(p/m) terms quantized before the per-pair fold
    "t43_js_divergence" ->
      """WITH c AS (SELECT source, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |  FROM documents),
        |cc AS (SELECT source, tok, count(*) AS c FROM c GROUP BY 1,2),
        |sp AS (SELECT s.source, t.tok
        |  FROM (SELECT DISTINCT source FROM cc) s, (SELECT DISTINCT tok FROM cc) t),
        |dense AS (SELECT sp.source, sp.tok, coalesce(cc.c, 0) AS c
        |  FROM sp LEFT JOIN cc ON sp.source = cc.source AND sp.tok = cc.tok),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM dense GROUP BY 1),
        |p AS (SELECT dense.source, tok, CAST(c AS DOUBLE) / tot AS p
        |  FROM dense JOIN tot ON dense.source = tot.source),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b, a.tok,
        |   a.p AS pa, b.p AS pb, (a.p + b.p)/2 AS m
        |  FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source),
        |terms AS (SELECT src_a, src_b,
        |   CASE WHEN pa > 0 THEN CAST(round(pa * ln(pa / m), 9) AS DECIMAL(14,9))
        |        ELSE CAST(0 AS DECIMAL(14,9)) END AS ta,
        |   CASE WHEN pb > 0 THEN CAST(round(pb * ln(pb / m), 9) AS DECIMAL(14,9))
        |        ELSE CAST(0 AS DECIMAL(14,9)) END AS tb
        |  FROM pairs)
        |SELECT src_a, src_b, count(*) AS n_types,
        | round(CAST(sum(ta) + sum(tb) AS DOUBLE) / 2, 6) AS js_divergence
        |FROM terms GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // e46: e45's residual spine + e22's quantile_cont MAD gate
    "e46_seasonal_anomalies" ->
      """WITH c AS (SELECT event_type, date_part('day', ts) AS dm,
        |   date_part('hour', ts) AS hr, count(*) AS c FROM events GROUP BY 1,2,3),
        |sp AS (SELECT ty.event_type, d.dm, h.hr
        |  FROM (SELECT DISTINCT event_type FROM events) ty,
        |       (SELECT unnest(range(8, 29)) AS dm) d,
        |       (SELECT unnest(range(0, 24)) AS hr) h),
        |sc AS (SELECT sp.event_type, sp.dm, sp.hr,
        |  coalesce(a.c, 0) AS a, coalesce(f.c, 0) AS f,
        |  coalesce(a.c, 0) - coalesce(f.c, 0) AS resid
        | FROM sp
        | LEFT JOIN c a ON sp.event_type = a.event_type AND sp.dm = a.dm AND sp.hr = a.hr
        | LEFT JOIN c f ON sp.event_type = f.event_type AND sp.dm = f.dm + 7 AND sp.hr = f.hr),
        |med AS (SELECT event_type, quantile_cont(resid, 0.5) AS med FROM sc GROUP BY 1),
        |mad AS (SELECT sc.event_type, quantile_cont(abs(sc.resid - m.med), 0.5) AS mad,
        |  max(m.med) AS med
        | FROM sc JOIN med m USING (event_type) GROUP BY 1)
        |SELECT sc.event_type, CAST(sc.dm AS INT) AS dm, CAST(sc.hr AS INT) AS hr,
        | CAST(sc.a AS BIGINT) AS actual, CAST(sc.f AS BIGINT) AS forecast,
        | CAST(sc.resid AS BIGINT) AS resid
        |FROM sc JOIN mad m USING (event_type)
        |WHERE abs(sc.resid - m.med) > 3 * m.mad
        |ORDER BY sc.event_type, dm, hr""".stripMargin,
    // q61: cohort = first-order month; age in integer month arithmetic
    // (no months_between doubles); money on q59's integer-cents path
    "q61_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS m,
        |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |c AS (SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY 1)
        |SELECT c.cohort_month,
        | CAST((year(o.m) - year(c.cohort_month)) * 12
        |      + (month(o.m) - month(c.cohort_month)) AS INT) AS age_months,
        | count(DISTINCT o.o_custkey) AS n_active,
        | CAST(sum(o.cents) AS BIGINT) / 100.0 AS revenue
        |FROM o JOIN c ON o.o_custkey = c.o_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q62: integer day gaps, integer week buckets; share is the one
    // double, rounded at the edge
    "q62_repurchase_curve" ->
      """WITH g AS (SELECT o_custkey,
        |  datediff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey), o_orderdate) AS gap_days
        | FROM orders),
        |b AS (SELECT CAST(least(gap_days // 7, 26) AS INT) AS week_bucket, gap_days
        | FROM g WHERE gap_days IS NOT NULL),
        |t AS (SELECT count(*) AS n_total FROM b)
        |SELECT week_bucket, count(*) AS n_gaps,
        | CAST(min(gap_days) AS INT) AS min_days, CAST(max(gap_days) AS INT) AS max_days,
        | round(count(*) / CAST(any_value(t.n_total) AS DOUBLE), 6) AS share
        |FROM b, t GROUP BY 1 ORDER BY 1""".stripMargin,
    // e47: µs-exact integer gaps (e11's epoch_us idiom); survival shares
    // are integer-count divisions rounded at the edge
    "e47_survival" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |   epoch_us(date_trunc('microseconds', ts)) AS tus FROM events),
        |g AS (SELECT event_type,
        |  tus - lag(tus) OVER (PARTITION BY user_id, event_type
        |    ORDER BY tus, event_id) AS gap_us
        | FROM e)
        |SELECT event_type, count(*) AS n_gaps,
        | round(sum(CASE WHEN gap_us > 60000000 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS s_1m,
        | round(sum(CASE WHEN gap_us > 300000000 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS s_5m,
        | round(sum(CASE WHEN gap_us > 900000000 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS s_15m,
        | round(sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS s_1h,
        | round(sum(CASE WHEN gap_us > 21600000000 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS s_6h,
        | round(sum(CASE WHEN gap_us > 86400000000 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS s_24h
        |FROM g WHERE gap_us IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    // e48: hourly peaks; the prominence gate is exact integer
    // cross-multiplication (28c > 5·Σ7), the reported ratio one rounded
    // double
    // d23: the band-plan probabilities are explicit repeated squarings
    // (exact IEEE multiplies) on the 4-dp-rounded jaccard, quantized to
    // decimal(12,9) per pair BEFORE the fold (order-independent sums)
    "d23_lsh_plan" ->
      """WITH s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3 AND doc_id < 1000),
        |p0 AS (SELECT round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS j
        | FROM s a JOIN s b ON a.doc_id < b.doc_id),
        |p AS (SELECT j, j >= 0.5 AS is_true,
        |   j*j AS j2, (j*j)*(j*j) AS j4, ((j*j)*(j*j))*((j*j)*(j*j)) AS j8
        | FROM p0 WHERE j >= 0.1),
        |e AS (SELECT is_true,
        |  1.0 - ((((1.0-j)*(1.0-j))*((1.0-j)*(1.0-j))) * (((1.0-j)*(1.0-j))*((1.0-j)*(1.0-j))))
        |      * ((((1.0-j)*(1.0-j))*((1.0-j)*(1.0-j))) * (((1.0-j)*(1.0-j))*((1.0-j)*(1.0-j)))) AS p16,
        |  1.0 - (((1.0-j2)*(1.0-j2))*((1.0-j2)*(1.0-j2)))
        |      * (((1.0-j2)*(1.0-j2))*((1.0-j2)*(1.0-j2))) AS p8,
        |  1.0 - ((1.0-j4)*(1.0-j4))*((1.0-j4)*(1.0-j4)) AS p4,
        |  1.0 - (1.0-j8)*(1.0-j8) AS p2
        | FROM p),
        |q AS (SELECT is_true,
        |  CAST(round(p16, 9) AS DECIMAL(12,9)) AS q16, CAST(round(p8, 9) AS DECIMAL(12,9)) AS q8,
        |  CAST(round(p4, 9) AS DECIMAL(12,9)) AS q4, CAST(round(p2, 9) AS DECIMAL(12,9)) AS q2
        | FROM e),
        |a AS (SELECT count(*) AS n_pairs, CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |  sum(q16) AS s16, sum(CASE WHEN is_true THEN q16 ELSE CAST(0 AS DECIMAL(12,9)) END) AS st16,
        |  sum(q8) AS s8, sum(CASE WHEN is_true THEN q8 ELSE CAST(0 AS DECIMAL(12,9)) END) AS st8,
        |  sum(q4) AS s4, sum(CASE WHEN is_true THEN q4 ELSE CAST(0 AS DECIMAL(12,9)) END) AS st4,
        |  sum(q2) AS s2, sum(CASE WHEN is_true THEN q2 ELSE CAST(0 AS DECIMAL(12,9)) END) AS st2
        | FROM q)
        |SELECT v.config, a.n_pairs, a.n_true,
        | round(CAST(CASE v.config WHEN '16x1' THEN s16 WHEN '8x2' THEN s8
        |   WHEN '4x4' THEN s4 ELSE s2 END AS DOUBLE), 4) AS exp_candidates,
        | round(CAST(CASE v.config WHEN '16x1' THEN st16 WHEN '8x2' THEN st8
        |   WHEN '4x4' THEN st4 ELSE st2 END AS DOUBLE) / a.n_true, 6) AS recall,
        | round(CAST(CASE v.config WHEN '16x1' THEN st16 WHEN '8x2' THEN st8
        |   WHEN '4x4' THEN st4 ELSE st2 END AS DOUBLE)
        |  / CAST(CASE v.config WHEN '16x1' THEN s16 WHEN '8x2' THEN s8
        |   WHEN '4x4' THEN s4 ELSE s2 END AS DOUBLE), 6) AS precision_proxy
        |FROM a, (VALUES ('16x1'),('8x2'),('4x4'),('2x8')) v(config)
        |ORDER BY config""".stripMargin,
    // t44: regex counts are integers; the Flesch formula is one double
    // expression with identical associativity, rounded at the edge
    "t44_readability" ->
      """WITH dcs AS (SELECT doc_id,
        |  len(list_filter(string_split(text,' '), x -> x <> '')) AS n_words,
        |  greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
        |  greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS n_syllables
        | FROM documents),
        |f AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_sentences AS BIGINT) AS n_sentences, CAST(n_syllables AS BIGINT) AS n_syllables,
        |  round(CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch
        | FROM dcs WHERE n_words > 0)
        |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
        | CASE WHEN flesch >= 60.0 THEN 'easy' WHEN flesch >= 30.0 THEN 'standard'
        |      ELSE 'hard' END AS band
        |FROM f ORDER BY doc_id""".stripMargin,
    // m21: the oracle expects every decode tally to equal the doc count —
    // ANY silent decoder divergence (image, audio, or video) fails the hash
    "m21_media_integrity" ->
      """SELECT count(*) AS n_docs, count(*) AS n_img_ok, count(*) AS n_audio_ok,
        | count(*) AS n_video_ok, count(*) AS n_all_ok FROM documents""".stripMargin,
    // s37: decay replayed from raw events as exact frontier-relative
    // 2^(32-age) weights (age clamped at 32) — batch-order independence
    // is what makes this oracle possible; scores provably fit BIGINT on
    // both engines (Σ n·wt ≤ N·2^32), so the portable surface is BIGINT
    "s37_stream_decay_topk" ->
      """WITH dc AS (SELECT user_id, CAST(ts AS DATE) AS dt, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT max(dt) AS dmax FROM dc),
        |sc AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(n * (CAST(1 AS BIGINT) << (32 - least(datediff('day', dt, a.dmax), 32)))) AS BIGINT) AS decayed_scaled
        | FROM dc, a GROUP BY 1)
        |SELECT user_id, n_events, decayed_scaled FROM sc
        |ORDER BY decayed_scaled DESC, user_id LIMIT 20""".stripMargin,
    // c36: stored stats = the pre-1997 snapshot; min/max surface as
    // strings (c9's convention), drift as one rounded double
    "c36_stats_staleness" ->
      """WITH o AS (SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS cents,
        |   o_orderdate FROM orders),
        |st AS (SELECT CAST(min(o_orderkey) AS VARCHAR) AS k_min, CAST(max(o_orderkey) AS VARCHAR) AS k_max,
        |  count(DISTINCT o_orderkey) AS k_ndv,
        |  CAST(min(cents) AS VARCHAR) AS c_min, CAST(max(cents) AS VARCHAR) AS c_max,
        |  count(DISTINCT cents) AS c_ndv,
        |  CAST(min(o_orderdate) AS VARCHAR) AS d_min, CAST(max(o_orderdate) AS VARCHAR) AS d_max,
        |  count(DISTINCT o_orderdate) AS d_ndv
        | FROM o WHERE o_orderdate < DATE '1997-01-01'),
        |ac AS (SELECT CAST(min(o_orderkey) AS VARCHAR) AS k_min, CAST(max(o_orderkey) AS VARCHAR) AS k_max,
        |  count(DISTINCT o_orderkey) AS k_ndv,
        |  CAST(min(cents) AS VARCHAR) AS c_min, CAST(max(cents) AS VARCHAR) AS c_max,
        |  count(DISTINCT cents) AS c_ndv,
        |  CAST(min(o_orderdate) AS VARCHAR) AS d_min, CAST(max(o_orderdate) AS VARCHAR) AS d_max,
        |  count(DISTINCT o_orderdate) AS d_ndv
        | FROM o),
        |u AS (
        | SELECT 'o_orderkey' AS column_name, st.k_min AS stored_min, st.k_max AS stored_max,
        |   st.k_ndv AS stored_ndv, ac.k_min AS actual_min, ac.k_max AS actual_max,
        |   ac.k_ndv AS actual_ndv FROM st, ac
        | UNION ALL SELECT 'cents', st.c_min, st.c_max, st.c_ndv, ac.c_min, ac.c_max, ac.c_ndv
        |   FROM st, ac
        | UNION ALL SELECT 'o_orderdate', st.d_min, st.d_max, st.d_ndv, ac.d_min, ac.d_max, ac.d_ndv
        |   FROM st, ac)
        |SELECT column_name, stored_min, stored_max, stored_ndv,
        | actual_min, actual_max, actual_ndv,
        | (stored_min <> actual_min OR stored_max <> actual_max OR stored_ndv <> actual_ndv) AS stale,
        | round(actual_ndv / CAST(stored_ndv AS DOUBLE), 4) AS ndv_drift
        |FROM u ORDER BY column_name""".stripMargin,
    // v25: the hyperplane literals are rendered from the SAME Scala
    // formula the engine uses (Similarity.v25Plane) — one source of truth
    "v25_hyperplane_recall" -> v25Sql,
    // p10: m13's scene formulas aggregated per clip, p7's gate+shard
    // arithmetic — the whole video pipeline replayed relationally
    "p10_curate_video" ->
      """WITH n AS (SELECT doc_id, 24 + doc_id % 40 AS nf FROM documents),
        |f AS (SELECT n.doc_id, t.i AS i, (n.doc_id*31 + t.i*t.i*7919) % 256 AS v
        | FROM n JOIN generate_series(0, 63) t(i) ON t.i < n.nf),
        |c AS (SELECT doc_id, i, v,
        |  CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
        |       OR abs(v - lag(v) OVER (PARTITION BY doc_id ORDER BY i)) >= 96
        |  THEN 1 ELSE 0 END AS cut
        | FROM f),
        |sc AS (SELECT doc_id, sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS scene_id FROM c),
        |sl AS (SELECT doc_id, scene_id, count(*) AS len FROM sc GROUP BY 1, 2),
        |pr AS (SELECT doc_id, CAST(max(scene_id) AS BIGINT) AS n_scenes,
        |  CAST(sum(len) AS BIGINT) AS n_frames, CAST(max(len) AS BIGINT) AS longest
        | FROM sl GROUP BY 1),
        |g AS (SELECT doc_id, n_frames FROM pr
        | WHERE n_scenes >= 2 AND longest*3 <= n_frames*2 AND n_frames >= 30),
        |b AS (SELECT doc_id, n_frames,
        |  ((doc_id & 2147483647) * 2654435761) % 4294967296 AS rk FROM g),
        |p AS (SELECT doc_id, n_frames, rk, rk % 4 AS bkt,
        |  COALESCE(sum(n_frames) OVER (PARTITION BY rk % 4 ORDER BY rk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        | FROM b)
        |SELECT bkt * 100000 + CAST(floor(prefix / 400.0) AS BIGINT) AS shard_id,
        | count(*) AS n_clips, CAST(sum(n_frames) AS BIGINT) AS total_frames,
        | min(doc_id) AS first_doc
        |FROM p GROUP BY 1 ORDER BY shard_id""".stripMargin,
    // d24: d6's recursive-CTE cluster replay joined to metadata — shares
    // d6's DuckDB cost class (excluded from the sf0.1 replay like d6)
    "d24_cluster_purity" ->
      """WITH RECURSIVE
        |s AS (
        | SELECT doc_id,
        |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents)
        | WHERE len(ts) >= 3),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
        |reach(a, b) AS (
        | SELECT a, b FROM edges
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |allr AS (SELECT a, b FROM reach UNION SELECT DISTINCT a, a FROM edges),
        |cm AS (SELECT a AS doc_id, min(b) AS canonical_id FROM allr GROUP BY 1),
        |j AS (SELECT cm.canonical_id, d.lang, d.source FROM cm JOIN documents d USING (doc_id)),
        |ag AS (SELECT canonical_id, count(*) AS n_members, count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT source) AS n_sources FROM j GROUP BY 1),
        |cl AS (SELECT canonical_id, lang, count(*) AS cl_n FROM j GROUP BY 1, 2),
        |dom AS (SELECT canonical_id, max(cl_n) AS dom_n FROM cl GROUP BY 1)
        |SELECT ag.canonical_id, ag.n_members, ag.n_langs, ag.n_sources,
        | round(dom.dom_n / CAST(ag.n_members AS DOUBLE), 4) AS lang_purity
        |FROM ag JOIN dom USING (canonical_id) ORDER BY 1""".stripMargin,
    // t46: p1's dedup/gate/sample predicates as cumulative conditional
    // sums over one scan, stacked into the 4-stage report
    "t46_stage_attrition" -> t46Sql,
    "s38_stream_attrition" -> t46Sql,
    // q63: exact integer largest-remainder allocation — DuckDB's windowed
    // BIGINT sums widen to HUGEINT mid-query (fine: only outputs are
    // BIGINT-cast); floors/remainders are pure integer ops both engines
    "q63_supplier_allocation" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS ls
        | FROM lineitem GROUP BY 1, 2),
        |o AS (SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS b FROM orders),
        |x AS (SELECT li.l_orderkey, li.l_suppkey, li.ls, o.b,
        |  CAST(sum(ls) OVER (PARTITION BY l_orderkey) AS BIGINT) AS t
        | FROM li JOIN o ON l_orderkey = o_orderkey),
        |y AS (SELECT l_orderkey, l_suppkey, ls, b, t,
        |  (b * ls) // t AS fa, (b * ls) % t AS frac FROM x),
        |z AS (SELECT l_orderkey, l_suppkey, ls, fa,
        |  b - CAST(sum(fa) OVER (PARTITION BY l_orderkey) AS BIGINT) AS leftover,
        |  row_number() OVER (PARTITION BY l_orderkey ORDER BY frac DESC, l_suppkey) AS rk
        | FROM y)
        |SELECT l_suppkey, count(*) AS n_orders,
        | CAST(sum(fa + CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS BIGINT) / 100.0 AS allocated,
        | CAST(sum(ls) AS BIGINT) / 100.0 AS line_revenue
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    // t45: t2's distinct ratio + t25's bigram score (p5's replay
    // fragments), decimal-quantized Pearson sums, quantile_cont medians
    "t45_filter_agreement" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts
        |  FROM documents),
        |qs AS (SELECT doc_id, CAST(round(CAST(len(list_distinct(ts)) AS DOUBLE)
        |   / greatest(len(ts), 1), 4) AS DECIMAL(10,4)) AS qd FROM tk),
        |bgx AS (SELECT doc_id, unnest([ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS bg
        | FROM tk),
        |cb AS (SELECT bg, count(*) AS c2 FROM bgx GROUP BY 1),
        |cu AS (SELECT string_split(bg,' ')[1] AS w1, count(*) AS c1 FROM bgx GROUP BY 1),
        |sc AS (SELECT doc_id, count(*) AS n_bigrams,
        |  sum(CAST(round(ln(CAST(c2 AS DOUBLE)/c1), 9) AS DECIMAL(20,10))) AS slp
        | FROM bgx JOIN cb USING (bg) JOIN cu ON string_split(bgx.bg,' ')[1] = cu.w1
        | GROUP BY 1),
        |ps AS (SELECT doc_id, CAST(round(CAST(slp AS DOUBLE)/n_bigrams, 6) AS DECIMAL(12,6)) AS pd
        | FROM sc),
        |jj AS (SELECT q.doc_id, qd, pd FROM qs q JOIN ps USING (doc_id)),
        |st AS (SELECT count(*) AS n, sum(qd) AS sx, sum(pd) AS sy, sum(qd*pd) AS sxy,
        |  sum(qd*qd) AS sxx, sum(pd*pd) AS syy,
        |  quantile_cont(CAST(qd AS DOUBLE), 0.5) AS mq,
        |  quantile_cont(CAST(pd AS DOUBLE), 0.5) AS mp FROM jj),
        |cf AS (SELECT
        |  CAST(sum(CASE WHEN CAST(qd AS DOUBLE) >= mq AND CAST(pd AS DOUBLE) >= mp THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
        |  CAST(sum(CASE WHEN CAST(qd AS DOUBLE) < mq AND CAST(pd AS DOUBLE) < mp THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop,
        |  CAST(sum(CASE WHEN CAST(qd AS DOUBLE) >= mq AND CAST(pd AS DOUBLE) < mp THEN 1 ELSE 0 END) AS BIGINT) AS n_q_only,
        |  CAST(sum(CASE WHEN CAST(qd AS DOUBLE) < mq AND CAST(pd AS DOUBLE) >= mp THEN 1 ELSE 0 END) AS BIGINT) AS n_p_only
        | FROM jj, st)
        |SELECT st.n AS n_docs,
        | round((st.n * CAST(st.sxy AS DOUBLE) - CAST(st.sx AS DOUBLE) * CAST(st.sy AS DOUBLE))
        |  / sqrt((st.n * CAST(st.sxx AS DOUBLE) - CAST(st.sx AS DOUBLE) * CAST(st.sx AS DOUBLE))
        |       * (st.n * CAST(st.syy AS DOUBLE) - CAST(st.sy AS DOUBLE) * CAST(st.sy AS DOUBLE))), 6) AS pearson_r,
        | cf.n_both_keep, cf.n_both_drop, cf.n_q_only, cf.n_p_only,
        | round((cf.n_both_keep + cf.n_both_drop) / CAST(st.n AS DOUBLE), 6) AS agreement
        |FROM st, cf""".stripMargin,
    // q64: one ROLLUP pass, grains split by grouping ids, parents
    // re-attached at metadata scale; NULL label columns never decide row
    // order (grain + non-null keys are unique), so Spark/DuckDB NULL
    // sort-order divergence cannot reorder the hash
    "q64_rollup_share" ->
      """WITH base AS (SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty, count(*) AS n,
        |  2*grouping(l_returnflag) + grouping(l_linestatus) AS gid
        | FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)),
        |ft AS (SELECT l_returnflag AS p_flag, qty AS flag_qty FROM base WHERE gid = 1),
        |gt AS (SELECT qty AS grand_qty FROM base WHERE gid = 3),
        |leaf AS (SELECT b.l_returnflag, b.l_linestatus, b.qty, b.n, 'leaf' AS grain,
        |  round(b.qty / CAST(ft.flag_qty AS DOUBLE), 6) AS share_of_parent
        | FROM base b JOIN ft ON b.l_returnflag = ft.p_flag WHERE b.gid = 0),
        |fr AS (SELECT l_returnflag, CAST(NULL AS VARCHAR) AS l_linestatus, qty, n,
        |  'subtotal' AS grain, round(qty / CAST(gt.grand_qty AS DOUBLE), 6) AS share_of_parent
        | FROM base, gt WHERE gid = 1),
        |gr AS (SELECT CAST(NULL AS VARCHAR) AS l_returnflag, CAST(NULL AS VARCHAR) AS l_linestatus,
        |  qty, n, 'total' AS grain, CAST(1.0 AS DOUBLE) AS share_of_parent FROM base WHERE gid = 3)
        |SELECT * FROM (SELECT * FROM leaf UNION ALL SELECT * FROM fr UNION ALL SELECT * FROM gr)
        |ORDER BY grain, l_returnflag, l_linestatus""".stripMargin,
    // v26: knnExactSql's shape extended with label joins; majority vote
    // tie-broken by smallest label in both engines
    "v26_knn_label_accuracy" ->
      """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS q_emb
        |  FROM embeddings WHERE vec_id < 200),
        |c AS (SELECT vec_id AS c_id, label AS c_label, embedding::DOUBLE[] AS c_emb FROM embeddings),
        |sc AS (SELECT q_id, q_label, c_id, c_label,
        |  list_dot_product(q_emb, c_emb)
        |   / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))) AS cos
        | FROM c JOIN q ON c_id <> q_id),
        |r AS (SELECT q_id, q_label, c_label,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn FROM sc),
        |v AS (SELECT q_id, q_label, c_label, count(*) AS cnt FROM r WHERE rn <= 5 GROUP BY 1, 2, 3),
        |p AS (SELECT q_id, q_label, c_label FROM (SELECT v.*,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cnt DESC, c_label) AS vr FROM v) WHERE vr = 1)
        |SELECT q_label AS label, count(*) AS n_queries,
        | CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        | round(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4) AS accuracy
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // m22: the motion profile replayed from the luma model with lag
    // windows — decode and profile gated together (m13b's oracle idea)
    "m22_motion_profile" ->
      """WITH n AS (SELECT doc_id, 24 + doc_id % 40 AS nf FROM documents),
        |f AS (SELECT n.doc_id, t.i AS i, (n.doc_id*31 + t.i*t.i*7919) % 256 AS v
        | FROM n JOIN generate_series(0, 63) t(i) ON t.i < n.nf),
        |dlt AS (SELECT doc_id, abs(v - lag(v) OVER (PARTITION BY doc_id ORDER BY i)) AS dl FROM f),
        |a AS (SELECT doc_id, count(*) + 1 AS n_frames, CAST(sum(dl) AS BIGINT) AS total_delta,
        |  CAST(max(dl) AS BIGINT) AS max_delta,
        |  CAST(sum(CASE WHEN dl >= 96 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
        | FROM dlt WHERE dl IS NOT NULL GROUP BY 1)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames, total_delta, max_delta, n_cuts,
        | CASE WHEN total_delta = 0 THEN 'static' WHEN n_cuts = 0 THEN 'smooth'
        |      WHEN 8*n_cuts >= n_frames THEN 'cutty' ELSE 'moderate' END AS motion_class
        |FROM a ORDER BY doc_id""".stripMargin,
    "e48_peaks" ->
      """WITH h AS (SELECT event_type,
        |   CAST(epoch_ms(date_trunc('hour', ts))/1000 AS BIGINT) AS hr_s, count(*) AS c
        | FROM events GROUP BY 1, 2),
        |x AS (SELECT event_type, hr_s, c,
        |  lag(c) OVER w AS prev_c, lead(c) OVER w AS next_c,
        |  sum(c) OVER (PARTITION BY event_type ORDER BY hr_s
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
        |  count(*) OVER (PARTITION BY event_type ORDER BY hr_s
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
        | FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr_s))
        |SELECT event_type, hr_s, CAST(c AS BIGINT) AS n_events,
        | round(c * 7.0 / sum7, 4) AS prominence
        |FROM x WHERE prev_c IS NOT NULL AND next_c IS NOT NULL AND n7 = 7
        | AND c > prev_c AND c > next_c AND c * 28 > sum7 * 5
        |ORDER BY 1, 2""".stripMargin,
    // q65 (rebuilt round 16): global running revenue in EXACT INTEGER
    // CENTS — rounds 14/15 were driver-hash-red on the
    // round(double,2)→DECIMAL path while the cents-path siblings
    // q70/q72 stayed green; the money now rides the proven BIGINT
    // formula and the rounded-double→decimal primitive moved to the
    // pb* probe battery.
    "q65_cum_revenue" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders)
        |SELECT o_orderkey, o_date, price_cents,
        | CAST(sum(price_cents) OVER (ORDER BY o_date, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |FROM o ORDER BY o_date, o_orderkey""".stripMargin,
    // q73 (round 16, surface migrated round 17): the decimal
    // GlobalPrefixSum leg's hash gate — decimals born exact from
    // integer cents (CAST(bigint AS DECIMAL(18,2)) is exact on both
    // engines, pb11), never from a rounded double; the r16 driver run
    // proved DECIMAL finals hit the harness's trailing-zero canon, so
    // the gate edge re-emits BIGINT cents derived FROM the decimal
    // cumulative sum (exact ×100 on integral-cents decimals — any
    // decimal-leg error still moves the surface one-for-one).
    "q73_cents_decimal" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(18,2)) AS price_dec
        |  FROM orders)
        |SELECT o_orderkey, o_date,
        | CAST(price_dec AS BIGINT) AS price_cents,
        | CAST(CAST(sum(price_dec) OVER (ORDER BY o_date, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS BIGINT) AS cum_cents
        |FROM o ORDER BY o_date, o_orderkey""".stripMargin,
    // q74 (round 16): the avg idiom — the oracle spells avg as
    // CAST(sum AS DOUBLE)/CAST(count AS DOUBLE) so both engines compute
    // ONE IEEE division of the same exact integers (bit-identical
    // doubles; Spark's stock avg would accumulate a running double)
    "q74_running_avg" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_date, cents,
        | CAST(sum(cents) OVER win AS DOUBLE) / CAST(count(cents) OVER win AS DOUBLE) AS avg_cents
        |FROM o WINDOW win AS (ORDER BY o_date, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_date, o_orderkey""".stripMargin,
    // q75 (round 16): agg OVER () constants (the twelfth idiom) — one
    // relation-wide value per aggregate, no exchange on the Spark side
    "q75_share_global" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, cents,
        | CAST(sum(cents) OVER () AS BIGINT) AS total_cents,
        | CAST(count(*) OVER () AS BIGINT) AS n_orders,
        | max(cents) OVER () AS max_cents,
        | CAST(sum(cents) OVER () AS DOUBLE) / CAST(count(cents) OVER () AS DOUBLE) AS avg_cents,
        | round(CAST(cents AS DOUBLE) / CAST(sum(cents) OVER () AS DOUBLE), 9) AS share
        |FROM o ORDER BY o_orderkey""".stripMargin,
    // q76 (round 16): nth_value in both from-start frames — the
    // thirteenth idiom's data-grain gate; total order, pure ANSI
    "q76_fifth_largest" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, cents,
        | nth_value(cents, 5) OVER (ORDER BY cents DESC, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fifth_largest,
        | nth_value(cents, 5) OVER (ORDER BY cents DESC, o_orderkey) AS fifth_so_far
        |FROM o ORDER BY o_orderkey""".stripMargin,
    // q77 (round 17): the frame-bound edge gate — offset-FOLLOWING /
    // offset-PRECEDING bounds on the constant first/last_value idiom,
    // plus the EMPTY-head-frame shape (UNBOUNDED PRECEDING..1
    // PRECEDING) that must stay stock and yield NULL at the head row
    "q77_frame_bounds" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, cents,
        | first_value(cents) OVER (ORDER BY cents DESC, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING) AS fv_follow,
        | last_value(cents) OVER (ORDER BY cents DESC, o_orderkey ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING) AS lv_precede,
        | first_value(cents) OVER (ORDER BY cents DESC, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fv_gap
        |FROM o ORDER BY o_orderkey""".stripMargin,
    // q78 (round 17): running IGNORE NULLS first_value — NULL until the
    // first non-null enters the frame (the r17 high-ADVICE fix at data
    // grain); the full-frame twin is the constant exec's leg
    "q78_first_nonnull_running" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
        |       ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents_nn
        |  FROM orders)
        |SELECT o_orderkey, o_date, cents_nn,
        | first_value(cents_nn IGNORE NULLS) OVER (ORDER BY o_date, o_orderkey) AS first_nonnull_running,
        | first_value(cents_nn IGNORE NULLS) OVER (ORDER BY o_date, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_nonnull_all
        |FROM o ORDER BY o_date, o_orderkey""".stripMargin,
    // e56 (round 16): the split-rewrite gate — three rewritable idioms
    // (default-RANGE count/sum/avg) + first_value, deterministic under
    // the (us, event_id) total order
    "e56_mixed_report" ->
      """WITH e AS (SELECT event_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS us, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, us, cents,
        | CAST(count(*) OVER win AS BIGINT) AS cum_n,
        | CAST(sum(cents) OVER win AS BIGINT) AS cum_cents,
        | CAST(sum(cents) OVER win AS DOUBLE) / CAST(count(cents) OVER win AS DOUBLE) AS avg_cents,
        | first_value(event_type) OVER win AS first_type
        |FROM e WINDOW win AS (ORDER BY us, event_id)
        |ORDER BY event_id""".stripMargin,
    // e57 (round 16): rolling p95 — BOTH engines build the explicit
    // sorted-list nearest-rank pick (no quantile-function interpolation
    // conventions anywhere); exact integer cents
    "e57_rolling_p95" ->
      """WITH e AS (SELECT event_id, event_type,
        |  epoch_us(date_trunc('microseconds', ts)) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_id, event_type, cents,
        |  list_sort(list(cents) OVER win) AS l
        | FROM e WINDOW win AS (PARTITION BY event_type ORDER BY us, event_id
        |   ROWS BETWEEN 99 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, cents,
        | CAST(len(l) AS BIGINT) AS n_win,
        | l[CAST(ceil(0.95 * len(l)) AS BIGINT)] AS p95_cents
        |FROM w ORDER BY event_id""".stripMargin,
    // t51 (round 16): token-budget planner — counts stay BIGINT, the
    // normalizer rides t23's decimal(20,15) quantization, targets floor
    // to integers BEFORE rates
    "t51_token_budget" ->
      """WITH c AS (SELECT lang,
        |  CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_i
        | FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_i) AS BIGINT) AS nt FROM c),
        |pw AS (SELECT lang, n_i, nt, sqrt(CAST(n_i AS DOUBLE) / nt) AS p_i FROM c, t),
        |z AS (SELECT CAST(sum(CAST(p_i AS DECIMAL(20,15))) AS DOUBLE) AS zp FROM pw),
        |b AS (SELECT lang, n_i AS avail_tokens, round(p_i / zp, 6) AS share,
        |  CAST(floor((nt / 2) * (p_i / zp)) AS BIGINT) AS target_tokens FROM pw, z)
        |SELECT lang, avail_tokens, share, target_tokens,
        | round(least(CAST(1.0 AS DOUBLE), CAST(target_tokens AS DOUBLE) / avail_tokens), 6) AS rate,
        | least(avail_tokens, target_tokens) AS expected_tokens,
        | CAST(ceil(CAST(target_tokens AS DOUBLE) / avail_tokens) AS BIGINT) AS epochs_needed
        |FROM b ORDER BY lang""".stripMargin,
    // t52 (round 17): deterministic id-hash split + cross-split content
    // leakage — md5 leading hex digit buckets (0-b/c-d/e-f), fp = md5
    // of the sorted distinct token set; leakage = fps in >=2 splits
    "t52_split_leakage" ->
      """WITH docs AS (SELECT doc_id, lang,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hx FROM documents),
        |sp AS (SELECT doc_id, lang, fp,
        |  CASE WHEN hx IN ('c','d') THEN 'val'
        |       WHEN hx IN ('e','f') THEN 'test' ELSE 'train' END AS split
        | FROM docs),
        |lk AS (SELECT lang, CAST(count(*) AS BIGINT) AS leaked_fps,
        |  CAST(sum(n_docs) AS BIGINT) AS leaked_docs
        | FROM (SELECT lang, fp, count(DISTINCT split) AS n_splits, count(*) AS n_docs
        |       FROM sp GROUP BY 1, 2)
        | WHERE n_splits >= 2 GROUP BY 1)
        |SELECT s.lang,
        | CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        | CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
        | CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        | CAST(coalesce(any_value(lk.leaked_fps), 0) AS BIGINT) AS leaked_fps,
        | CAST(coalesce(any_value(lk.leaked_docs), 0) AS BIGINT) AS leaked_docs
        |FROM sp s LEFT JOIN lk ON s.lang = lk.lang
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // t53 (round 17): weighted sample-budget apportionment — Hamilton /
    // largest-remainder in PURE INTEGER arithmetic (div/%; no float
    // quota exists to round differently), within-language draw by md5
    // hex order (deterministic, shard-order-independent)
    "t53_budget_sample" ->
      """WITH docs AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |st AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS w FROM docs GROUP BY 1),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS big_w FROM st),
        |al AS (SELECT lang, w, (w * 100) // big_w AS base, (w * 100) % big_w AS rem FROM st, t),
        |ar AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS extra_rank FROM al),
        |lo AS (SELECT 100 - sum(base) AS l FROM ar),
        |q AS (SELECT lang, w,
        |  CAST(base + CASE WHEN extra_rank <= l THEN 1 ELSE 0 END AS BIGINT) AS quota
        | FROM ar, lo),
        |rk AS (SELECT doc_id, lang, n_tokens,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY hx, doc_id) AS BIGINT) AS pick_rank
        | FROM docs)
        |SELECT rk.lang AS lang, doc_id, n_tokens, pick_rank, quota
        |FROM rk JOIN q ON rk.lang = q.lang WHERE pick_rank <= quota
        |ORDER BY rk.lang, pick_rank""".stripMargin,
    // e58 (round 17): LOCF — partitioned running last_value IGNORE
    // NULLS (DuckDB dialect puts IGNORE NULLS inside the call parens)
    "e58_locf" ->
      """WITH e AS (SELECT event_id, user_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS us,
        |  CASE WHEN event_type = 'click' THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS v_obs FROM events)
        |SELECT event_id, user_id, us, v_obs,
        | last_value(v_obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
        |FROM e ORDER BY event_id""".stripMargin,
    // s41 (round 17): streaming LOCF — the stateful fold must reproduce
    // e58's batch window EXACTLY, so the oracle is e58's SQL verbatim
    "s41_stream_locf" ->
      """WITH e AS (SELECT event_id, user_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS us,
        |  CASE WHEN event_type = 'click' THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS v_obs FROM events)
        |SELECT event_id, user_id, us, v_obs,
        | last_value(v_obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
        |FROM e ORDER BY event_id""".stripMargin,
    // e57b (round 18): e57's sorted-index definition at k=1000, the
    // two-heap exec gated against the SAME oracle formulation
    "e57b_rolling_p95_wide" ->
      """WITH e AS (SELECT event_id, event_type,
        |  epoch_us(date_trunc('microseconds', ts)) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_id, event_type, cents,
        |  list_sort(list(cents) OVER win) AS l
        | FROM e WINDOW win AS (PARTITION BY event_type ORDER BY us, event_id
        |   ROWS BETWEEN 999 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, cents,
        | CAST(len(l) AS BIGINT) AS n_win,
        | l[CAST(ceil(0.95 * len(l)) AS BIGINT)] AS p95_cents
        |FROM w ORDER BY event_id""".stripMargin,
    // e59 (round 18): global IGNORE NULLS lag/lead — DuckDB's IGNORE
    // NULLS is spelled INSIDE the call parens; semantics measured equal
    // (k-th non-null before/after under the same total order)
    "e59_offset_ignore_nulls" ->
      """WITH e AS (SELECT event_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS us,
        |  CASE WHEN event_type = 'click' THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS v_obs FROM events)
        |SELECT event_id, us, v_obs,
        | lag(v_obs, 2 IGNORE NULLS) OVER (ORDER BY us, event_id) AS prev2_nn,
        | lead(v_obs, 3 IGNORE NULLS) OVER (ORDER BY us, event_id) AS next3_nn
        |FROM e ORDER BY event_id""".stripMargin,
    // s42 (round 18): out-of-order streaming LOCF — the watermark-
    // buffered fold must reproduce e58's batch window under ADVERSARIAL
    // band-swapped arrival, so the oracle is again e58's SQL verbatim
    "s42_stream_locf_ooo" ->
      """WITH e AS (SELECT event_id, user_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS us,
        |  CASE WHEN event_type = 'click' THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS v_obs FROM events)
        |SELECT event_id, user_id, us, v_obs,
        | last_value(v_obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
        |FROM e ORDER BY event_id""".stripMargin,
    // s46 (round 18): out-of-order streaming rolling quantile — the
    // watermark buffer composed with the ring/two-heap fold, same
    // e57 oracle verbatim
    "s46_stream_rollq_ooo" ->
      """WITH e AS (SELECT event_id, event_type,
        |  epoch_us(date_trunc('microseconds', ts)) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_id, event_type, cents,
        |  list_sort(list(cents) OVER win) AS l
        | FROM e WINDOW win AS (PARTITION BY event_type ORDER BY us, event_id
        |   ROWS BETWEEN 99 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, cents,
        | CAST(len(l) AS BIGINT) AS n_win,
        | l[CAST(ceil(0.95 * len(l)) AS BIGINT)] AS p95_cents
        |FROM w ORDER BY event_id""".stripMargin,
    // s45 (round 18): streaming rolling quantile — e57's oracle
    // verbatim; the online fold must reproduce the batch sorted-index
    // window at every event
    "s45_stream_rolling_p95" ->
      """WITH e AS (SELECT event_id, event_type,
        |  epoch_us(date_trunc('microseconds', ts)) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_id, event_type, cents,
        |  list_sort(list(cents) OVER win) AS l
        | FROM e WINDOW win AS (PARTITION BY event_type ORDER BY us, event_id
        |   ROWS BETWEEN 99 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, cents,
        | CAST(len(l) AS BIGINT) AS n_win,
        | l[CAST(ceil(0.95 * len(l)) AS BIGINT)] AS p95_cents
        |FROM w ORDER BY event_id""".stripMargin,
    // s44 (round 18): the transformWithState+RocksDB twin of s42 —
    // third implementation pinned to the same e58 answer
    "s44_stream_locf_tws" ->
      """WITH e AS (SELECT event_id, user_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS us,
        |  CASE WHEN event_type = 'click' THEN NULL
        |       ELSE CAST(round(value * 100) AS BIGINT) END AS v_obs FROM events)
        |SELECT event_id, user_id, us, v_obs,
        | last_value(v_obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
        |FROM e ORDER BY event_id""".stripMargin,
    // pb01–pb11 (round 16): canon-probe battery. One-row queries, SAME
    // SQL text both engines, each isolating one arithmetic portability
    // primitive (CanonProbes.scala scaladoc has the measured local
    // semantics). A red probe in CORRECTNESS_r* names the divergent
    // primitive directly.
    "pb01_round_half_int" ->
      ("SELECT round(CAST(0.5 AS DOUBLE)) AS r_0_5, round(CAST(1.5 AS DOUBLE)) AS r_1_5, " +
        "round(CAST(2.5 AS DOUBLE)) AS r_2_5, round(CAST(-0.5 AS DOUBLE)) AS r_m0_5, " +
        "round(CAST(-2.5 AS DOUBLE)) AS r_m2_5"),
    "pb02_round_repr_half" ->
      ("SELECT round(CAST(0.125 AS DOUBLE), 2) AS r_0125, round(CAST(0.375 AS DOUBLE), 2) AS r_0375, " +
        "round(CAST(-0.125 AS DOUBLE), 2) AS r_m0125"),
    "pb03_round_nonrepr" ->
      ("SELECT round(CAST(2.675 AS DOUBLE), 2) AS r_2675, round(CAST(2.345 AS DOUBLE), 2) AS r_2345, " +
        "round(CAST(1.115 AS DOUBLE), 2) AS r_1115"),
    "pb04_cast_double_dec" ->
      ("SELECT CAST(CAST(CAST(0.125 AS DOUBLE) AS DECIMAL(18,2)) AS DOUBLE) AS c_0125, " +
        "CAST(CAST(CAST(1.005 AS DOUBLE) AS DECIMAL(18,2)) AS DOUBLE) AS c_1005, " +
        "CAST(CAST(CAST(2.675 AS DOUBLE) AS DECIMAL(18,2)) AS DOUBLE) AS c_2675, " +
        "CAST(CAST(CAST(-0.125 AS DOUBLE) AS DECIMAL(18,2)) AS DOUBLE) AS c_m0125"),
    "pb05_round_then_cast" ->
      ("SELECT CAST(CAST(round(CAST(0.125 AS DOUBLE), 2) AS DECIMAL(18,2)) AS DOUBLE) AS rc_0125, " +
        "CAST(CAST(round(CAST(2.675 AS DOUBLE), 2) AS DECIMAL(18,2)) AS DOUBLE) AS rc_2675"),
    "pb06_cents_path" ->
      ("SELECT CAST(round(CAST(1.005 AS DOUBLE) * 100) AS BIGINT) AS cents_1005, " +
        "CAST(round(CAST(2.675 AS DOUBLE) * 100) AS BIGINT) AS cents_2675, " +
        "CAST(round(CAST(0.125 AS DOUBLE) * 100) AS BIGINT) AS cents_0125"),
    "pb07_formula_agree" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CASE WHEN CAST(round(round(o_totalprice, 2) * 100) AS BIGINT)
        |   <> CAST(round(o_totalprice * 100) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
        |FROM orders""".stripMargin,
    "pb08_book_total" ->
      """SELECT count(*) AS n_orders,
        | CAST(CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS book_total_roundpath,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS book_cents
        |FROM orders""".stripMargin,
    "pb09_transcendental" ->
      ("SELECT round(ln(CAST(2 AS DOUBLE)), 10) AS ln2, round(exp(CAST(1 AS DOUBLE)), 10) AS e1, " +
        "round(power(CAST(2 AS DOUBLE), CAST(0.5 AS DOUBLE)), 10) AS pow_2_05, " +
        "round(sqrt(CAST(2 AS DOUBLE)), 10) AS sqrt2"),
    // pb10/pb11 surfaces DOUBLE since round 17 (decimal arithmetic
    // unchanged inside; the r16 reds were the harness's trailing-zero
    // decimal canon, confirmed by the pb12/pb13 discriminator pair)
    "pb10_dec_sum_width" ->
      ("SELECT CAST(CAST(CAST(1.10 AS DECIMAL(18,2)) + CAST(2.20 AS DECIMAL(18,2)) + " +
        "CAST(3.30 AS DECIMAL(18,2)) AS DECIMAL(18,2)) AS DOUBLE) AS sum_dec"),
    "pb11_int_dec_exact" ->
      ("SELECT CAST(CAST(CAST(12345 AS BIGINT) AS DECIMAL(18,2)) AS DOUBLE) AS int_as_dec, " +
        "CAST(CAST(CAST(123456789 AS DECIMAL(18,0)) * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,2)) AS DOUBLE) AS cents_as_dollars"),
    // pb12/pb13 (round 17): the trailing-zero discriminator pair the
    // r16 verdict ordered — identical literal-decimal construction,
    // pb12 carries a trailing zero (1.50), pb13 doesn't (1.51). pb12
    // red + pb13 green in the driver run confirms the harness's
    // DECIMAL rendering canon (engine arithmetic exonerated); the only
    // two gated queries allowed a DECIMAL final (PortableSurfaceSpec).
    "pb12_dec_trailing_zero" -> "SELECT CAST(1.50 AS DECIMAL(18,2)) AS v",
    "pb13_dec_no_trailing_zero" -> "SELECT CAST(1.51 AS DECIMAL(18,2)) AS v",
    // q66: global tie-heavy rank over quantity (50 distinct values)
    "q66_quantity_rank" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_quantity) AS INT) AS qty FROM lineitem)
        |SELECT l_orderkey, l_linenumber, qty,
        | CAST(rank() OVER (ORDER BY qty DESC) AS BIGINT) AS qty_rank
        |FROM li ORDER BY qty_rank, l_orderkey, l_linenumber""".stripMargin,
    // e49: hour-of-day entropy — s33's decimal-quantized Σ c·ln c fold
    "e49_hour_entropy" ->
      """WITH hc AS (SELECT event_type, CAST(hour(ts) AS INT) AS h, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |pk AS (SELECT event_type, h AS peak_hour, cnt AS peak_cnt,
        |  row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, h) AS rn FROM hc),
        |ag AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n, count(*) AS n_hours,
        |  CAST(sum(CAST(cnt AS DECIMAL(12,0))
        |    * CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(20,10))) AS DOUBLE) AS sclnc
        | FROM hc GROUP BY 1)
        |SELECT ag.event_type, ag.n, ag.n_hours, pk.peak_hour,
        | round(pk.peak_cnt / CAST(ag.n AS DOUBLE), 6) AS peak_share,
        | round(ln(CAST(ag.n AS DOUBLE)) - ag.sclnc / ag.n, 6) AS hour_entropy
        |FROM ag JOIN pk ON ag.event_type = pk.event_type AND pk.rn = 1
        |ORDER BY 1""".stripMargin,
    // t47: burstiness from three exact integer folds; the VMR is one
    // IEEE division of exact longs — bit-identical across engines
    "t47_word_burstiness" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents),
        |pd AS (SELECT w, doc_id, count(*) AS c FROM tok GROUP BY 1, 2),
        |ag AS (SELECT w, count(*) AS df, CAST(sum(c) AS BIGINT) AS tot,
        |  CAST(sum(c * c) AS BIGINT) AS ss FROM pd GROUP BY 1)
        |SELECT w, df, tot,
        | round(CAST(df * ss - tot * tot AS DOUBLE) / CAST(df * tot AS DOUBLE), 6) AS vmr
        |FROM ag WHERE df >= 25 ORDER BY vmr DESC, w LIMIT 20""".stripMargin,
    // d25: per-source dup rate at the 120-char-prefix fingerprint grain
    "d25_source_dup_rate" ->
      """WITH f AS (SELECT doc_id, source, md5(substr(text, 1, 120)) AS fp FROM documents),
        |k AS (SELECT fp, min(doc_id) AS keeper_id FROM f GROUP BY 1)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN doc_id <> keeper_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        | round(sum(CASE WHEN doc_id <> keeper_id THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |FROM f JOIN k USING (fp) GROUP BY 1 ORDER BY 1""".stripMargin,
    // v27: capped-sample pairwise cosine histogram (cos rounded to 9
    // decimals BEFORE bucketing; per-bucket sums in decimal)
    "v27_pair_distance_hist" ->
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        |  ORDER BY vec_id LIMIT 100),
        |p AS (SELECT round(list_dot_product(a.emb, b.emb)
        |   / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 9) AS cos
        | FROM s a JOIN s b ON a.vec_id < b.vec_id),
        |bk AS (SELECT CAST(greatest(-10, least(9, floor(cos * 10))) AS INT) AS bucket,
        |  cos FROM p)
        |SELECT bucket, count(*) AS n_pairs,
        | round(CAST(sum(CAST(cos AS DECIMAL(12,9))) AS DOUBLE) / count(*), 6) AS avg_cos
        |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin,
    // m23: scene tempo stats — m13's luma model replayed, then aggregated
    // per doc (the real GIF decode is gated through m13b's scene algebra)
    "m23_scene_stats" ->
      """WITH n AS (SELECT doc_id, 24 + doc_id % 40 AS nf FROM documents),
        |f AS (SELECT n.doc_id, t.i AS i, (n.doc_id*31 + t.i*t.i*7919) % 256 AS v
        | FROM n JOIN generate_series(0, 63) t(i) ON t.i < n.nf),
        |c AS (SELECT doc_id, i, v,
        |  CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
        |       OR abs(v - lag(v) OVER (PARTITION BY doc_id ORDER BY i)) >= 96
        |  THEN 1 ELSE 0 END AS cut
        | FROM f),
        |sc AS (SELECT doc_id, i, sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS scene_id FROM c),
        |sl AS (SELECT doc_id, scene_id, count(*) AS len FROM sc GROUP BY 1, 2),
        |ag AS (SELECT doc_id, count(*) AS n_scenes, CAST(sum(len) AS BIGINT) AS n_frames,
        |  CAST(max(len) AS BIGINT) AS max_scene_len FROM sl GROUP BY 1)
        |SELECT doc_id, n_scenes, n_frames, max_scene_len,
        | round(n_frames / CAST(n_scenes AS DOUBLE), 6) AS avg_scene_len,
        | round(n_scenes / CAST(n_frames AS DOUBLE), 6) AS cut_rate
        |FROM ag ORDER BY doc_id""".stripMargin,
    // s39: last-touch registry replayed from raw events — latest row per
    // user by (ts, event_id), active = within 30 min of the frontier
    "s39_stream_last_touch" ->
      """WITH l AS (SELECT user_id, ts, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events),
        |mx AS (SELECT max(ts) AS m FROM events)
        |SELECT event_type AS last_event_type, count(*) AS n_users
        |FROM l, mx WHERE rn = 1 AND ts >= m - INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q67: percent_rank is (rank-1)/(n-1) — the same IEEE double both
    // engines; cents-only order keeps ties tie-stable
    "q67_spend_percentile" ->
      """WITH sp AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, cents,
        | round(percent_rank() OVER (ORDER BY cents), 9) AS pct
        |FROM sp ORDER BY o_custkey""".stripMargin,
    // q70: global running max over the book order — gates the round-15
    // GlobalPrefixExtremum stitch at data grain, exact cents
    "q70_record_orders" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_date, cents,
        | max(cents) OVER (ORDER BY o_date, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS record_cents,
        | (cents = max(cents) OVER (ORDER BY o_date, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS is_record
        |FROM o ORDER BY o_date, o_orderkey""".stripMargin,
    // e52: the float leg of the extremum stitch — running max is pure
    // selection (no float arithmetic), so doubles replay bit-for-bit
    "e52_high_watermark" ->
      """WITH ev AS (SELECT event_id, ts, CAST(value AS DOUBLE) AS value FROM events)
        |SELECT event_id, round(value, 6) AS value,
        | round(max(value) OVER (ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS hwm,
        | round(value / max(value) OVER (ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS share_of_record
        |FROM ev ORDER BY event_id""".stripMargin,
    // q71: per-customer year flags then plain sums — the
    // many-distinct-counts-one-scan idiom
    "q71_retention_by_nation" ->
      """WITH f AS (SELECT o_custkey,
        |  max(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS f95,
        |  max(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS f96
        | FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1)
        |SELECT n.n_name AS nation,
        | CAST(sum(f95) AS BIGINT) AS n_1995,
        | CAST(sum(f96) AS BIGINT) AS n_1996,
        | CAST(sum(f95 * f96) AS BIGINT) AS n_both,
        | round(CAST(sum(f95 * f96) AS DOUBLE) / greatest(sum(f95), 1), 6) AS retention
        |FROM f JOIN customer c ON f.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // e53: interval sweep — e2's sessions as ±1 boundaries, global
    // running sum = live concurrency, peak per day; starts order before
    // ends at the same microsecond
    "e53_peak_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS nf
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (SELECT user_id, ts,
        |  CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM s),
        |sess AS (SELECT user_id, session_id,
        |  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
        | FROM s2 GROUP BY 1, 2),
        |b AS (SELECT start_us AS t_us, CAST(1 AS BIGINT) AS delta, user_id, session_id FROM sess
        | UNION ALL
        | SELECT end_us, CAST(-1 AS BIGINT), user_id, session_id FROM sess),
        |c AS (SELECT t_us,
        |  sum(delta) OVER (ORDER BY t_us, delta DESC, user_id, session_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        | FROM b)
        |SELECT CAST(make_timestamp(t_us) AS DATE) AS day,
        | count(*) AS n_boundaries,
        | CAST(max(conc) AS BIGINT) AS peak_concurrency
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // e55: the DEFAULT-frame running max (extremum through the day's
    // peer group) — pure selection, doubles replay bit-for-bit
    "e55_day_record" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS DATE) AS day,
        |  CAST(value AS DOUBLE) AS value FROM events)
        |SELECT event_id, day, round(value, 6) AS value,
        | round(max(value) OVER (ORDER BY day), 6) AS day_close_record
        |FROM ev ORDER BY event_id""".stripMargin,
    // q72: the DEFAULT-frame cumulative (RANGE through the day's peer
    // group) — sums in HUGEINT on DuckDB, cast back to BIGINT
    "q72_day_close_cum" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_date, cents,
        | CAST(sum(cents) OVER (ORDER BY o_date) AS BIGINT) AS day_close_cents
        |FROM o ORDER BY o_date, o_orderkey""".stripMargin,
    // e54: global lag/lead ride the GlobalOffsetWindow stitch — k=1
    // boundary values cross partitions as driver metadata
    "e54_global_interarrival" ->
      """WITH e AS (SELECT event_id,
        |  epoch_us(date_trunc('microseconds', ts)) AS us FROM events)
        |SELECT event_id,
        | us - lag(us, 1) OVER (ORDER BY us, event_id) AS gap_us,
        | lead(us, 1) OVER (ORDER BY us, event_id) - us AS next_gap_us
        |FROM e ORDER BY event_id""".stripMargin,
    // q69: global cume_dist over ~60-value price bands — peer groups
    // span many partitions; gates the round-15 CumeDistTies stitch
    "q69_price_band_cume" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(floor(o_totalprice / 10000) AS INT) AS band FROM orders)
        |SELECT o_orderkey, band,
        | round(cume_dist() OVER (ORDER BY band), 9) AS band_cume
        |FROM o ORDER BY o_orderkey""".stripMargin,
    // d26: unordered source pairs sharing a prefix fingerprint
    "d26_cross_source_dups" ->
      """WITH f AS (SELECT doc_id, source, md5(substr(text, 1, 120)) AS fp FROM documents),
        |p AS (SELECT a.source AS a_src, b.source AS b_src
        |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id)
        |SELECT least(a_src, b_src) AS source_a, greatest(a_src, b_src) AS source_b,
        | count(*) AS n_pairs
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // t48: t1's heuristic replayed, then the confusion cells + recall shares
    "t48_lang_confusion" ->
      """WITH t AS (SELECT doc_id, lang AS lang_meta,
        |  list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
        |pred AS (SELECT doc_id, lang_meta,
        | CASE WHEN g['hits'] > 0 THEN g['lang'] ELSE 'und' END AS lang_pred
        |FROM (
        | SELECT doc_id, lang_meta, list_max([
        |  {'hits': len(list_filter(tk, x -> x IN ('der','die','das','und','ist','ein','zu','den'))), 'lang': 'de'},
        |  {'hits': len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','it'))), 'lang': 'en'},
        |  {'hits': len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','es'))), 'lang': 'es'},
        |  {'hits': len(list_filter(tk, x -> x IN ('le','la','de','et','un','une','est','que'))), 'lang': 'fr'},
        |  {'hits': len(list_filter(tk, x -> x IN ('的','是','了','在','我','有','和','不'))), 'lang': 'zh'}
        | ]) AS g FROM t)),
        |cells AS (SELECT lang_meta AS actual, lang_pred AS predicted, count(*) AS n_docs
        | FROM pred GROUP BY 1, 2),
        |tot AS (SELECT actual, CAST(sum(n_docs) AS BIGINT) AS n_actual FROM cells GROUP BY 1)
        |SELECT c.actual, c.predicted, c.n_docs,
        | round(c.n_docs / CAST(t.n_actual AS DOUBLE), 6) AS share_of_actual,
        | c.actual = c.predicted AS is_correct
        |FROM cells c JOIN tot t USING (actual) ORDER BY 1, 2""".stripMargin,
    // m24: crest factor from the staged sample model — exact integer
    // peak/sum-of-squares, one sqrt + one division (IEEE-identical)
    "m24_audio_crest" ->
      """WITH m AS (SELECT doc_id, CAST(64 + doc_id % 41 AS BIGINT) AS n FROM documents),
        |sm AS (SELECT doc_id, n, i.i,
        |  ((doc_id*31 + i.i*i.i*7919) % 65536) - 32768 AS v
        | FROM m, generate_series(0, 104) i(i) WHERE i.i < n),
        |ag AS (SELECT doc_id, any_value(n) AS n_samples,
        |  CAST(max(abs(v)) AS BIGINT) AS peak, CAST(sum(v*v) AS BIGINT) AS sum_sq
        | FROM sm GROUP BY 1)
        |SELECT doc_id, n_samples, peak, sum_sq,
        | round(peak / sqrt(CAST(sum_sq AS DOUBLE) / n_samples), 6) AS crest
        |FROM ag ORDER BY doc_id""".stripMargin,
    // e50: e2's 30-minute sessions reduced to the length distribution
    "e50_session_shape" ->
      """WITH e AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS nf
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (SELECT user_id,
        |  sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM s),
        |lens AS (SELECT user_id, session_id, count(*) AS len FROM s2 GROUP BY 1, 2),
        |ag AS (SELECT count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN len = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
        |  CAST(sum(CASE WHEN len BETWEEN 2 AND 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_2_3,
        |  CAST(sum(CASE WHEN len BETWEEN 4 AND 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_4_7,
        |  CAST(sum(CASE WHEN len >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_8_plus,
        |  CAST(sum(len) AS BIGINT) AS n_events, CAST(max(len) AS BIGINT) AS max_len
        | FROM lens)
        |SELECT n_sessions, n_singleton, n_2_3, n_4_7, n_8_plus, max_len,
        | round(n_singleton / CAST(n_sessions AS DOUBLE), 6) AS bounce_rate,
        | round(n_events / CAST(n_sessions AS DOUBLE), 6) AS mean_len
        |FROM ag""".stripMargin,
    // v28: per query, best same-label vs best different-label cosine
    "v28_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, label AS c_label, embedding::DOUBLE[] AS c_emb FROM embeddings),
        |sc AS (SELECT q_id, q_label, c_id, c_label = q_label AS same,
        |  list_dot_product(q_emb, c_emb)
        |   / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))) AS cos
        | FROM c JOIN q ON c_id <> q_id),
        |r AS (SELECT q_id, q_label, c_id, same, cos,
        |  row_number() OVER (PARTITION BY q_id, same ORDER BY cos DESC, c_id) AS rn FROM sc),
        |sb AS (SELECT q_id, q_label AS label, c_id AS same_id, cos AS same_cos FROM r WHERE rn = 1 AND same),
        |db AS (SELECT q_id, c_id AS hard_negative_id, cos AS diff_cos FROM r WHERE rn = 1 AND NOT same)
        |SELECT sb.q_id, sb.label, sb.same_id, round(sb.same_cos, 4) AS same_cos,
        | db.hard_negative_id, round(db.diff_cos, 4) AS diff_cos,
        | round(sb.same_cos - db.diff_cos, 4) AS margin
        |FROM sb JOIN db USING (q_id) ORDER BY q_id""".stripMargin,
    // q68: tier cutoff rn <= ceil(n*p/100) via 100*rn <= n*p + 99 —
    // pure integer arithmetic, identical in both engines
    "q68_top_customer_share" ->
      """WITH sp AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents FROM sp),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn FROM sp),
        |tier AS (
        | SELECT p.p AS top_pct, count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS tier_cents,
        |  any_value(t.total_cents) AS total_cents
        | FROM r, t, (VALUES (1), (5), (10)) p(p)
        | WHERE r.rn * 100 <= t.n * p.p + 99 GROUP BY 1)
        |SELECT CAST(top_pct AS INT) AS top_pct, n_customers, tier_cents,
        | round(tier_cents / CAST(total_cents AS DOUBLE), 6) AS revenue_share
        |FROM tier ORDER BY top_pct""".stripMargin,
    // e51: exact Jaccard per type pair from one (type, user) dedup
    "e51_type_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS n_users FROM tu GROUP BY 1),
        |iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        | FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
        | GROUP BY 1, 2)
        |SELECT iv.type_a, iv.type_b, sa.n_users AS n_a, sb.n_users AS n_b, iv.n_both,
        | round(iv.n_both / CAST(sa.n_users + sb.n_users - iv.n_both AS DOUBLE), 6) AS jaccard
        |FROM iv JOIN sz sa ON sa.event_type = iv.type_a
        | JOIN sz sb ON sb.event_type = iv.type_b
        |ORDER BY 1, 2""".stripMargin,
    // t49: word trigrams ("a b c"), rank ties by gram string
    "t49_ngram_coverage" ->
      """WITH tok AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
        |g AS (SELECT tk[i.i] || ' ' || tk[i.i+1] || ' ' || tk[i.i+2] AS g
        | FROM tok, generate_series(1, 2000) i(i) WHERE i.i + 2 <= len(tk)),
        |c AS (SELECT g, count(*) AS c FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS total, count(*) AS n_types FROM c),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, g) AS rn FROM c),
        |tier AS (SELECT k.k AS top_k, count(*) AS n_grams, CAST(sum(c) AS BIGINT) AS occurrences,
        |  any_value(t.total) AS total, any_value(t.n_types) AS n_types
        | FROM r, t, (VALUES (10), (100), (1000)) k(k) WHERE r.rn <= k.k GROUP BY 1)
        |SELECT CAST(top_k AS INT) AS top_k, n_grams, occurrences, n_types,
        | round(occurrences / CAST(total AS DOUBLE), 6) AS coverage
        |FROM tier ORDER BY top_k""".stripMargin,
    // d27: cluster-size histogram at the 120-char-prefix grain
    "d27_cluster_size_hist" ->
      """WITH f AS (SELECT md5(substr(text, 1, 120)) AS fp FROM documents),
        |sz AS (SELECT fp, count(*) AS sz FROM f GROUP BY 1),
        |t AS (SELECT CAST(sum(sz) AS BIGINT) AS n_docs FROM sz)
        |SELECT CAST(sz AS BIGINT) AS cluster_size, count(*) AS n_clusters,
        | CAST(sz * count(*) AS BIGINT) AS docs_covered,
        | round(sz * count(*) / CAST(any_value(t.n_docs) AS DOUBLE), 6) AS corpus_share
        |FROM sz, t GROUP BY sz ORDER BY cluster_size""".stripMargin
  )

  private val v21Sql =
    """WITH e AS (SELECT label, embedding::DOUBLE[] AS emb,
      |  greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-30) AS mx
      | FROM embeddings),
      |u AS (SELECT label, mx, unnest(emb) AS v FROM e),
      |p AS (SELECT label,
      |  CAST(floor((v - floor(v * (127.0 / mx) + 0.5) * (mx / 127.0))
      |    * (v - floor(v * (127.0 / mx) + 0.5) * (mx / 127.0)) * 1e15 + 0.5) AS BIGINT) AS sq_q,
      |  CAST(floor(abs(v - floor(v * (127.0 / mx) + 0.5) * (mx / 127.0)) * 1e9 + 0.5) AS BIGINT) AS ae_q
      | FROM u),
      |a AS (SELECT label, CAST(count(*)/64 AS BIGINT) AS n_vecs,
      |  CAST(sum(sq_q) AS BIGINT) AS total_sqerr_q15, max(ae_q) AS mx_ae_q
      | FROM p GROUP BY 1)
      |SELECT label, n_vecs, total_sqerr_q15,
      | round(CAST(total_sqerr_q15 AS DOUBLE) / 1e15 * 1e6 / n_vecs / 64, 6) AS mse_e6,
      | CAST(mx_ae_q AS DOUBLE) / 1e9 AS max_abs_err
      |FROM a ORDER BY label""".stripMargin

  private val q56Sql =
    """WITH j AS (SELECT l.l_orderkey, l.l_suppkey,
      |  (CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)) > 90 AS late
      | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |g AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
      |  count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
      |  max(CASE WHEN late THEN l_suppkey END) AS blamed
      | FROM j GROUP BY 1)
      |SELECT s_name, count(*) AS numwait
      |FROM g JOIN supplier ON blamed = s_suppkey
      |WHERE n_supp > 1 AND n_late = 1
      |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin

  private val e41Sql =
    """WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
      |t AS (SELECT count(*) AS n_users FROM c),
      |r AS (SELECT (e.day - c.cohort_day) AS off, count(*) AS users
      | FROM e JOIN c USING (user_id)
      | WHERE (e.day - c.cohort_day) BETWEEN 1 AND 28 GROUP BY 1),
      |p AS (SELECT CAST(round(CAST(off AS DOUBLE), 9) AS DECIMAL(12,10)) AS x,
      |  CAST(round(ln(CAST(users AS DOUBLE) / n_users), 9) AS DECIMAL(12,10)) AS y
      | FROM r, t),
      |a AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(x) AS DOUBLE) AS sx,
      |  CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x*y) AS DOUBLE) AS sxy,
      |  CAST(sum(x*x) AS DOUBLE) AS sxx FROM p)
      |SELECT CAST(n AS BIGINT) AS n_points,
      | round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS decay_lambda,
      | CASE WHEN (n*sxy - sx*sy) / (n*sxx - sx*sx) < 0 THEN
      |   round(ln(2.0) / -((n*sxy - sx*sy) / (n*sxx - sx*sx)), 4) END AS half_life_days
      |FROM a""".stripMargin

  private val covSql =
    """WITH e AS (SELECT vec_id, u.i AS i, u.v AS v FROM (
        |  SELECT vec_id, unnest([{'i': i-1,
        |    'v': CAST(floor(embedding[i]*1000000.0 + 0.5) AS BIGINT)}
        |    FOR i IN range(1, len(embedding)+1)]) AS u
        |  FROM embeddings)),
        |s AS (SELECT i, sum(v) AS si, count(*) AS n FROM e GROUP BY 1),
        |g AS (SELECT a.i AS i, b.i AS j, sum(a.v*b.v) AS sij
        | FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
        |c AS (SELECT g.i, g.j,
        |  (CAST(g.sij AS DOUBLE) - CAST(sa.si AS DOUBLE)*sb.si/sa.n)/sa.n/1e12 AS cov
        | FROM g JOIN s sa ON g.i = sa.i JOIN s sb ON g.j = sb.i),
        |vr AS (SELECT i, cov AS var FROM c WHERE i = j),
        |p AS (SELECT c.i, c.j,
        |  round(c.cov, 6) + 0.0 AS cov,
        |  round(c.cov / sqrt(va.var * vb.var), 6) + 0.0 AS corr
        | FROM c JOIN vr va ON c.i = va.i JOIN vr vb ON c.j = vb.i
        | WHERE c.i < c.j AND va.var > 0 AND vb.var > 0)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, cov, corr FROM p
        |ORDER BY abs(corr) DESC, i, j LIMIT 20""".stripMargin

  /** e37/s28's shared burst oracle: one SQL pins the batch detector
    * and the streaming OCC-folded twin.
    */
  private val burstSql =
    """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
      | FROM events GROUP BY 1, 2),
      |base AS (SELECT event_type, sum(cnt) AS total, count(*) AS n_hours
      | FROM hourly GROUP BY 1),
      |b AS (SELECT h.event_type, h.h, h.cnt,
      |  CAST(epoch_us(h.h) // 3600000000 AS BIGINT) AS hi
      | FROM hourly h JOIN base USING (event_type)
      | WHERE h.cnt * base.n_hours * 2 >= base.total * 3),
      |g AS (SELECT *, hi - row_number() OVER (PARTITION BY event_type ORDER BY hi) AS grp FROM b)
      |SELECT event_type, min(h) AS start_h, max(h) AS end_h,
      | count(*) AS n_hours_burst, CAST(max(cnt) AS BIGINT) AS peak,
      | CAST(sum(cnt) AS BIGINT) AS n_events
      |FROM g GROUP BY event_type, grp
      |ORDER BY event_type, start_h""".stripMargin

  /** t32/s27's shared novelty oracle: one SQL pins the batch query and
    * the streaming scoring pipeline.
    */
  private val noveltySql =
    """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
      | FROM documents),
      |g0 AS (SELECT doc_id,
      |  unnest([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] FOR i IN range(1, len(ts)-1)]) AS g
      | FROM t),
      |g AS (SELECT DISTINCT doc_id, g FROM g0),
      |cut AS (SELECT CAST(floor((max(doc_id)+1)/2.0) AS BIGINT) AS cut FROM documents),
      |ref AS (SELECT DISTINCT g.g FROM g, cut WHERE doc_id < cut),
      |nw AS (SELECT g.* FROM g, cut WHERE doc_id >= cut),
      |nv AS (SELECT doc_id, count(*) AS n_novel FROM nw
      | WHERE g NOT IN (SELECT g FROM ref) GROUP BY 1)
      |SELECT nw.doc_id, count(*) AS n_grams,
      | CAST(coalesce(any_value(nv.n_novel), 0) AS BIGINT) AS n_novel,
      | round(CAST(coalesce(any_value(nv.n_novel), 0) AS DOUBLE) / count(*), 4) AS novelty
      |FROM nw LEFT JOIN nv USING (doc_id)
      |GROUP BY nw.doc_id ORDER BY nw.doc_id""".stripMargin

  /** Shared by e39 (batch RANGE frame over raw events) and s31 (the
    * same frame over the streaming store's folded (user, sec) counts —
    * equal because every event in one second shares its window).
    */
  private val rateLimitSql =
    """WITH e AS (SELECT user_id,
      |  epoch_us(date_trunc('microseconds', ts)) // 1000000 AS sec FROM events),
      |iw AS (SELECT user_id,
      |  count(*) OVER (PARTITION BY user_id ORDER BY sec
      |    RANGE BETWEEN 599 PRECEDING AND CURRENT ROW) AS in_window
      | FROM e)
      |SELECT user_id, count(*) AS n_events, max(in_window) AS max_burst,
      | max(in_window) >= 4 AS breach
      |FROM iw GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Shared by e40 (batch) and s30 (streaming fold) — one statistic, one
    * replay: PSI over first-half/second-half date cohorts and integer
    * value bins, each bin's term quantized to decimal before the sum.
    */
  private val psiSql =
    """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
      |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
      |b AS (SELECT event_type,
      |  CASE WHEN (day - d0) * 2 <= (d1 - d0) THEN 'a' ELSE 'b' END AS cohort,
      |  CAST(floor(value) AS BIGINT) AS bin FROM e, span),
      |cnt AS (SELECT event_type, cohort, bin, count(*) AS n FROM b GROUP BY 1, 2, 3),
      |tot AS (SELECT event_type, cohort, sum(n) AS t FROM cnt GROUP BY 1, 2),
      |sh AS (SELECT cnt.event_type, cnt.cohort, bin, CAST(n AS DOUBLE)/t AS p
      | FROM cnt JOIN tot ON cnt.event_type = tot.event_type AND cnt.cohort = tot.cohort),
      |j AS (SELECT a.event_type, a.bin,
      |  CAST(round((a.p - b.p) * ln(a.p / b.p), 9) AS DECIMAL(20,10)) AS term
      | FROM sh a JOIN sh b ON a.event_type = b.event_type AND a.bin = b.bin
      | WHERE a.cohort = 'a' AND b.cohort = 'b')
      |SELECT event_type, count(*) AS n_bins, round(CAST(sum(term) AS DOUBLE), 6) AS psi
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin
}
