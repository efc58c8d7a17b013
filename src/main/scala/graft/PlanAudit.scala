package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: `sbt "runMain graft.PlanAudit"`.
  *
  * Dumps the FORMATTED physical plan of representative queries so the
  * scale claims in SURVEY.md §5 (pushed filters, broadcast placement,
  * no cartesian products, custom-operator substitution) are directly
  * inspectable without running anything.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val targets = Seq(
      "q2_filter_project"           -> "predicate+projection pushdown to the parquet scan",
      "q17_multi_join_chain"        -> "5-table chain: dims broadcast, fact side never re-shuffled",
      "d2_dedup_minhash_lsh"        -> "LSH candidates as equi-joins carrying doc ids only",
      "d5b_dedup_embedding_blocked" -> "balanced block self-join — equi-join only, no cartesian",
      "e12_outliers"                -> "two-pass de-skewed outliers: groupBy + broadcast join back",
      "e15_active_users"            -> "WAU as explode+groupBy — pure equi-shuffle",
      "e14_sliding_rate"            -> "RANGE window over the per-second aggregate series",
      "q24_topk_custom"             -> "explicit TopKPerKey physical operator",
      "q37_auto_topk"               -> "window-top-k idiom auto-rewritten by TopKRewrite, which replaces Spark's inferred WindowGroupLimit",
      "q35_salted_join"             -> "deterministic salted join (salt visible in the join keys)",
      "v5_knn_graph"                -> "kNN graph: checkpointed edges (floored block join, each pair once, one explode for both directions, TopKPerKey ranking) + final sort",
      "t12_heavy_hitters"           -> "MisraGries partial aggregate + broadcast exact recount",
      "e21_ewma"                    -> "EWMA via contribution-explode + groupBy — no range join",
      "t15_pack"                    -> "sequence packing: per-hash-stream window, no global sort",
      "t16_decontaminate"           -> "benchmark shingle hashes broadcast; corpus probed in one pass",
      "c6_incremental_rollup"       -> "partial-merge rollup: re-aggregates the partial table only",
      "e22_mad_outliers"            -> "MAD outliers: two grouped percentiles broadcast back — no per-type window",
      "v8_range_search"             -> "radius search: query×block replication as a plain equi-join",
      "m5_balanced_sample"          -> "balanced sample through TopKPerKey — no per-modality window sort",
      "t18_repetition"              -> "repetition gates: (doc, term) partial aggs, no whole-doc reducer state",
      "t19_crossdoc_ngram"          -> "cross-doc dup grams: two equi-shuffles on an 8-byte hash key",
      "v9_pagerank"                 -> "PageRank: per-iteration equi-join + keyed sum over checkpointed edges",
      "q40_gaps_islands"            -> "islands via row_number delta: window + groupBy, both keyed on customer",
      "q43_rfm"                     -> "RFM scoring via broadcast percentile thresholds — no global ntile sort",
      "e27_audience_overlap"        -> "theta sketches: keyed agg to KB summaries, pair stage on a T-row table",
      "d11_keep_best"               -> "quality-aware canonical: per-cluster top-1 window over the cluster map",
      "d14_fuzzy_pairs"             -> "sorted-neighborhood fuzzy match: rank window + pure equi-join on exploded ranks (candidates = n*window), per-pair levenshtein verify",
      "e31_path_trigrams"           -> "path trigrams: per-user window leads + map-side-combined trigram count",
      "q48_unpivot"                 -> "unpivot as a zero-shuffle generator expand over the 3-row aggregate",
      "q50_lateral_topn"            -> "LATERAL subquery decorrelated to a ranked join — no per-row re-execution",
      "c10_fk_audit"                -> "integrity audit: anti-join counts with broadcast dims, one pass per check",
      "c12_bucketed_join"           -> "bucketed co-located fact-fact join: zero shuffle exchange below the join",
      "c13_dpp_join"                -> "dynamic partition pruning: runtime dim filter prunes fact partitions before read",
      "c14_zorder_layout"           -> "z-ordered box query: the 2-D predicate reaches the scan as PushedFilters, footer stats skip non-overlapping z-rectangles",
      "c15_bloom_index"             -> "bloom-indexed point lookup: the scan's file index holds ONLY the bloom-matched files (see Location path count), residual key filter pushed",
      "c16_mv_rewrite"              -> "MV rewrite: the aggregate scans the registered partials table (graft_c16 path), raw events never read",
      "c16b_mv_filter"              -> "filtered MV rewrite: dim-only predicate re-applied and PUSHED into the partials scan",
      "c17_gdpr_delete"             -> "GDPR delete read-back: the served store is the post-purge snapshot (single v= path), doomed keys removed by the broadcast anti-join rewrite",
      "s17_stream_mv"               -> "stream-maintained MV: the raw-events dashboard aggregate scans the stream-built state_v store",
      "c16c_mv_month"               -> "time-grain hierarchy MV: month grouping computed over the day-grain partials scan (trunc applied to the summary's dt), raw events never read",
      "c16d_mv_multi"               -> "multi-measure MV: quantity and revenue aggregates both resolve to one partials scan, grouping coarser than the summary",
      "m7_image_decode"             -> "real ImageIO decode: mapPartitions iterator over the staged PNG store, constant memory per task",
      "m8_image_neardup"            -> "image near-dup verify: balanced block self-join + codegen'd 8-term dot product, no cartesian, no HOF lambdas",
      "c16e_mv_select"              -> "MV selection: the type-grouped dashboard scans the T-row type rollup (graft_c16e path), not the day-by-type partials",
      "s18_stream_mv_month"         -> "streaming month dashboard: month regrouping over the stream-maintained day partials (graft_s17 state_v path)",
      "t22_mixture_sample"          -> "temperature mixture sample: KB rate table broadcast, one corpus scan, accept filter pushed per-row",
      "p4_curate_mixture"           -> "mixture curation capstone: broadcast rates -> pushed gates -> one content-hash shuffle -> bucket-keyed shard windows",
      "c18_changelog"               -> "CDC between store versions: one full-outer key join of two version scans, op classification per-row",
      "c16f_mv_join"                -> "star-join MV rewrite: the dim join commutes with the pre-grouping — the rollup scan replaces the fact INSIDE the broadcast join",
      "c19_stats_join"              -> "stats-driven join: broadcast side chosen from the STORED catalog estimate, not Spark's file sizing",
      "d16_substring_dedup"         -> "substring spans: gram explode + one cross-doc groupBy + equi-join back; interval merge windows over HIT positions only",
      "t24_bm25"                    -> "BM25: token stream filtered to query terms BEFORE the tf shuffle; df/N/avgdl as broadcast scalar aggregates",
      "c20_expectations"            -> "expectation suite: every scalar check fused into ONE aggregate pass; referential check via broadcast left join",
      "t25_perplexity"              -> "perplexity gate: bigram LM tables as keyed shuffles, per-language tercile window over the KB score table",
      "d17_semdedup"                -> "SemDeDup: broadcast centroid assignment + within-cluster pair equi-join — no cartesian, pair space cluster-bounded",
      "p5_curate_llm"               -> "LLM curation chain: t25 gate -> survivor-scoped cluster pairs -> survivor-scoped gram spans -> per-doc report",
      "t28_semantic_decontaminate"  -> "semantic decontamination: one corpus scan x broadcast benchmark + keyed max — no embedding shuffle, no pair table",
      "t29_bpe_pair_stats"          -> "BPE pair stats: corpus-scale word-freq aggregate; rank window runs on the alphabet²-sized model table",
      "c22_mv_retraction"           -> "IVM signed fold: summary ⊕ changelog deltas only — raw history never rescanned",
      "c19b_stats_broadcast"        -> "transparent catalog broadcast: hint-free join planned into BHJ from stored estimates (Spark sizing disabled at pin time)",
      "e33_cusum_drift"             -> "CUSUM drift: the sequential recursion as running-sum + running-min windows, keyed on event_type",
      "p6_curate_decontam"          -> "gopher -> decontaminate -> per-source budget: pushed gates, scan x broadcast benchmark, one window per source",
      "d20_soft_dedup"              -> "soft dedup: corpus scan + broadcast cluster-size map — one join, weights per-row",
      "e34_markov_next"             -> "Markov fit+predict: lag window -> keyed counts -> broadcast vocab -> argmax window on the types² model table",
      "c23_zone_map"                -> "zone-map skipping: scan planned over ONLY the map-admitted file paths (see Location count), residual range filter pushed",
      "v13_knn_sq8"                 -> "SQ8 ANN: quantized-cosine shortlist via TopKPerKey, exact rerank joins only the candidate rows",
      "d21_incremental_dedup"       -> "incremental dedup: bloom-bytes literal prefilter per-row, exact confirm join only on admitted candidates",
      "t31_backoff_lm"              -> "stupid backoff: two model aggregates + left joins; N as a 1-row broadcast; no per-position state",
      "m11_audio_segments"          -> "audio VAD: real decode emits per-window energy rows, adaptive gate via broadcast-free keyed join, islands window per clip",
      "c24_partition_evolution"     -> "partition evolution: two generation scans union'd, each with its own PartitionFilters",
      "p7_curate_audio"             -> "audio chain: decode stats joined to VAD runs, integer density gate, bucket-keyed shard windows",
      "q51_hierarchy"               -> "hierarchy closure: final depth/subtree aggregates over the squared closure (iterative joins happen pre-plan via localCheckpoint)",
      "e7b_asof_native"             -> "native as-of join: AsofJoinExec between the EnsureRequirements-planned exchanges and (key, time, tie) sorts",
      "v14_ivf_sq8"                 -> "IVF+SQ8+rerank: probed cells only reach the quantized kernel; TopKPerKey shortlists; full precision touches the shortlist",
      "m12_image_resize"            -> "real-decode resize: executor-side ImageIO + box sums, only thumbnail rows ride the shuffle",
      "e36_chi_square"              -> "chi-square test: one DENSE-spine contingency groupBy + broadcast marginals; statistic folded from quantized per-cell terms",
      "q52_market_share"            -> "market share: ONE fact-fact shuffle join; supplier/nation/region folded to a broadcast flag; asia+total in a single conditional-agg pass",
      "p8_curate_incremental"       -> "incremental publish: bloom-literal prefilter per-row, exact confirm semi-join, gate pushed, report scans the LANDED store version",
      "t26_domain_nb"               -> "sparse NB scoring: token stream probed by BROADCAST class-conditional joins (observed pairs only); missing mass on the docs x classes spine",
      "v15_hybrid_rrf"              -> "hybrid RRF: both arms rank with broadcast query sets; fusion joins the two rank tables on (q, c) — no score crosses arms",
      "v16_triangle_count"          -> "triangles: ordered two-hop equi-joins over the symmetrized kNN edge table (node-iterator), per-node counts via explode+groupBy",
      "e38_acf"                     -> "ACF: dense spine left-join + one window pass for all lags; decimal products aggregate exactly",
      "t33_rake_keywords"           -> "RAKE: posexplode -> islands window -> keyed word stats -> decimal phrase sums; per-doc windows only",
      "t32_ngram_novelty"           -> "trigram novelty: two keyed gram shuffles + left-anti join; frontier vs reference halves of one scan",
      "m14_dhash"                   -> "perceptual dHash: 56 integer grid lookups per row, one hash-equality groupBy (d1's exact-dedup shape on a perceptual key)",
      "q53_interval_overlap"        -> "sweep-line concurrency: fact join -> day-grain delta aggregate; the only unpartitioned window runs over calendar days (bounded by the date range, not volume)",
      "q54_copurchase"              -> "co-purchase pairs: distinct + per-order self-join (basket-bounded fanout) + pair count — never |parts|²",
      "e39_rate_limit"              -> "rate limit: RANGE frame per user over epoch seconds — keyed shuffle, no global sort, no time-band self-join",
      "e40_psi_drift"               -> "PSI drift: two keyed aggregates over (type, cohort, bin) + 1-row broadcast midpoint; decimal bin terms fold exactly",
      "t34_entropy"                 -> "token entropy: explode + two mergeable keyed aggregates; c·ln(c) terms quantized to decimal before the sum",
      "t35_src_overlap"             -> "source overlap matrix: per-source distinct gram hashes, pair equi-join on the 8-byte key, broadcast size table",
      "c26_compaction_plan"         -> "compaction planner: metadata-grain (day, hour) inventory + per-day cumulative window — no data rows touched",
      "c27_version_diff"            -> "version diff: one full-outer keyed join of two immutable version scans, per-row change classification",
      "m14b_dhash_real"             -> "real-decode dHash: executor-side ImageIO decode, ONE window over the hash key (each image decoded once)",
      "m15_image_sharpness"         -> "real-decode sharpness: mapPartitions decode + integer Laplacian; only scalar stats ride the shuffle",
      "t36_winnowing"               -> "winnowing: positioned gram hashes, bounded window-cover explode, rightmost-min as ONE keyed aggregate",
      "v17_embedding_drift"         -> "embedding drift: (label, half, component) keyed aggregates; cosine joins components, never arrays",
      "p9_curate_multimodal"        -> "multimodal capstone: ONE decode pass emits dhash+sharpness, gate -> dedup window -> shard aggregate",
      "q55_weighted_median"         -> "weighted median: ONE shuffle on the group key, both windows reuse the same exchange, crossing filter + min-reduce",
      "t37_heaps_law"               -> "Heaps fit: two keyed bucket aggregates; the only unpartitioned window runs over bucket-grain checkpoints, never documents",
      "v18_component_quantiles"     -> "component quantiles: posexplode -> ONE map-side-combined groupBy with bounded GK state per dimension",
      "v19_norm_outliers"           -> "norm outliers: per-row norms -> GK median/MAD as broadcast label tables -> one label-grain report aggregate",
      "m17_exposure"                -> "real-decode exposure: executor-side ImageIO + fixed 8-slot histogram; only the per-image scalar row shuffles",
      "c29_incremental_scan"        -> "incremental scan: the parquet Location lists ONLY the added day partitions (manifest diff happens before the plan)",
      "c30_skew_report"             -> "skew report: metadata-grain inventory + per-day rank window (≤24 rows) -> exact integer Gini sums",
      "t38_pmi_collocations"        -> "PMI collocations: two count shuffles; unigram table joins only the THRESHOLDED candidate side; 1-row totals broadcast",
      "m18_audio_snr"               -> "real-decode SNR: one decode per clip emits window energies; exact integer sums per side; doubles only in the final log",
      "v20_correlated_dims"         -> "Gramian audit: ONE custom-aggregate pass (O(d²) mergeable integer state) — no d²-per-row explode; driver folds model-sized sums",
      "q56_blame_supplier"          -> "sole-blame: EXISTS/NOT-EXISTS pair collapsed to one conditional-agg pass; ONE fact-fact shuffle; supplier names broadcast last",
      "e41_retention_halflife"      -> "retention decay: two keyed aggregates + 1-row broadcast total; decimal-quantized log-linear fit over ≤28 offset rows",
      "v21_sq8_distortion"          -> "SQ8 distortion: posexplode + ONE keyed aggregate; femto-unit integer sums — exact, order-free, map-side combined",
      "t39_tokenizer_fertility"     -> "fertility: two per-row size() projections + one keyed aggregate; integer sums, one final division",
      "c31_write_amplification"     -> "write amplification: c27's full-outer version join reduced to one scalar conditional-agg row",
      "e42_stickiness"              -> "DAU/MAU: one deduplicated (user, day) scan feeds both aggregates; month-grain join; integer-sum ratios",
      "t40_vocab_coverage"          -> "vocab coverage: one count shuffle; the only global sort runs over the TYPE table (Heaps-sublinear), probe rows broadcast",
      "m19_image_entropy"           -> "real-decode tone entropy: map-only decode + pico-unit exact term sums per image; scalar rows shuffle",
      "q57_decile_lift"             -> "decile lift: global row_number planned as GlobalRank (range exchange + offset stitch, checkpointed) + closed-form ntile + broadcast triangular fold — ZERO unpartitioned windows; exact decimal spend cuts",
      "e43_burstiness"              -> "burstiness: one keyed lag window + one keyed aggregate; exact integer gap moments, scalar B at the end",
      "q58_skyline"                 -> "skyline: per-size min aggregate -> suffix-min over the SIZE-grain table -> broadcast join back + one corpus filter; no self-join, no corpus window",
      "q59_semi_additive"           -> "semi-additive balance: customers collapsed to (from,to)-interval grain BEFORE the broadcast month-spine range join — months² rows meet the spine, never customers×months",
      "e44_engagement_gini"         -> "engagement gini: (type, count) histogram -> one type-keyed running-sum window over distinct counts -> closed-form exact decimal Σi·x sums; no per-user rank",
      "v23_knn_mutuality"           -> "kNN mutuality: v5's edge build read once — broadcast label join, count over the unordered (least, greatest) pair, one keyed aggregate; no self-join, corpus×k rows, never pairwise",
      "d4_ngram_jaccard"            -> "capped all-pairs Jaccard: BNLJ over checkpointed shingles, final order sorted inside one partition (no range sampler re-running the BNLJ)",
      "d10_containment"             -> "capped all-pairs containment: BNLJ over checkpointed shingles, final order sorted inside one partition (no range sampler re-running the BNLJ)",
      "p1_curate"                   -> "exact-dedup curation over the doc_id-floored documents scan: per-row token stats on every core",
      "c34_scd2_build"              -> "SCD2 build: change-marker + running-sum + lead windows ALL keyed on user_id; one keyed aggregate; rows out = runs",
      "s35_multi_topic_fanin"       -> "multi-topic fan-in read-back: the landed table partition-prunes on (topic, dt, hr) — one aggregate over the fanned-in store",
      "q60_abc_class"               -> "ABC classes: global running sum planned as GlobalPrefixSum (range exchange + decimal partial stitch) -> exact decimal class cuts -> 3-row report",
      "e45_forecast_backtest"       -> "forecast backtest: generated dense spine, forecast as a keyed (type, day-7, hour) equi-join — no window, no self-range-join",
      "t42_kneser_ney"              -> "Kneser-Ney: four keyed model aggregates over ONE bigram explode + 1-row broadcast total; scoring joins model keyed on (v, w)",
      "d22_minhash_fidelity"        -> "minhash fidelity: one corpus signature pass keyed-joined onto d2's verified pairs — the audit adds NO pair space",
      "v24_silhouette"              -> "simplified silhouette: corpus x broadcast centroid component join -> keyed (vec, label) sums — O(n·L), no pairwise",
      "m20_audio_trim"              -> "audio trim: map-only real decode, exact integer RMS gate in the partition iterator — one scalar row per clip, no shuffle of samples",
      "c35_merge_on_read"           -> "merge-on-read: base scan ANTI JOIN the unioned key vectors — deletes cost O(|dv|) write, the read pays one (broadcast-able) anti-join",
      "t43_js_divergence"           -> "JS divergence: ONE corpus count shuffle; spine/pair/term stages all on the vocabulary-sized model table",
      "e46_seasonal_anomalies"      -> "seasonal anomalies: generated spine + keyed forecast join -> two broadcast percentile aggregates -> one filter; no per-type window",
      "v22_centroid_margin"         -> "centroid margin: broadcast rounded-centroid model, dxL terms per vector map-side combined; exact decimal margins",
      "q61_cohort_ltv"              -> "cohort LTV: custkey-keyed first-order aggregate re-joined co-partitioned; months x ages model-sized output",
      "q62_repurchase_curve"        -> "repurchase curve: one keyed lag window -> model-sized week-bucket histogram + 1-row broadcast total",
      "e47_survival"                -> "inter-event survival: one keyed (user, type) lag window -> per-type conditional-count aggregate; no percentile machinery",
      "e48_peaks"                   -> "peak detection: hourly rollup map-side combined FIRST; lag/lead/7h windows all run over hours-per-type rows",
      "d23_lsh_plan"                -> "LSH band plan: capped ground-truth pair scan -> decimal-quantized probability folds -> 4-row stacked report",
      "t44_readability"             -> "readability: map-only regex counts, one scalar row per doc; no shuffle before the report sort",
      "c36_stats_staleness"         -> "stats staleness: two map-side-combined aggregate passes crossed into a 3-row stacked report",
      "v25_hyperplane_recall"       -> "LSH recall audit: bucket-equality candidate join + broadcast query side for both rankings; no crossJoin anywhere",
      "m13b_scene_real"             -> "real GIF scenes: mapPartitions frame decode -> ONE per-clip window pass + keyed groupBy (m13's algebra, real decode)",
      "m21_media_integrity"         -> "tri-modal integrity: ONE decode pass per doc over all three containers, scalar tallies only — map-only to a 1-row report",
      "s37_stream_decay_topk"       -> "decayed heavy hitters read-out: (day,user) state scan + broadcast min-day + exact shiftleft weights -> TakeOrdered(20)",
      "p10_curate_video"            -> "video curation: m13b scene profile -> integer gates -> bucket-keyed shard windows (m6's packing algebra)",
      "q63_supplier_allocation"     -> "largest-remainder allocation: order-keyed windows (basket-bounded) -> exact integer floors/remainders -> supplier-grain report",
      "t45_filter_agreement"        -> "filter agreement: two score scans joined on doc_id, 1-row broadcast stats, single confusion aggregate",
      "m22_motion_profile"          -> "motion profile: lag windows over the checkpointed decoded frame table",
      "d24_cluster_purity"          -> "cluster purity: checkpointed cluster map joined to metadata, two cluster-keyed aggregates — no pair space added",
      "t46_stage_attrition"         -> "stage attrition: one corpus scan computes all stage flags, single conditional-agg row stacked to the 4-stage report",
      "q65_cum_revenue"             -> "global decimal running revenue: GlobalPrefixSumExec (range exchange + BigDecimal partial stitch) — NO 1-task window",
      "q66_quantity_rank"           -> "global tie-heavy rank: GlobalRankExec tie-aware boundary stitch (50 distinct quantities, peer groups span partitions)",
      "e49_hour_entropy"            -> "hour entropy: (type,hour) rollup map-side combined; entropy via decimal-quantized Σ c·ln c; peak by keyed window over ≤24 rows/type",
      "t47_word_burstiness"         -> "word burstiness: two keyed count aggregates, exact long moments, TakeOrdered(20) — no global sort",
      "d25_source_dup_rate"         -> "source dup rate: fingerprint-grain keeper aggregate + one equi-join back + source-grain report; no pair space",
      "v27_pair_distance_hist"      -> "pair-distance histogram: capped 100-vector sample, broadcast self-join (bounded build), decimal bucket sums",
      "m23_scene_stats"             -> "scene tempo: checkpointed frame table -> m13b scenes -> one doc-keyed aggregate",
      "s39_stream_last_touch"       -> "last-touch read-out: bucketed user state scan + broadcast frontier + model-sized type report",
      "q67_spend_percentile"        -> "global spend percentile: PercentRankTies exec (range exchange + tie metadata + n off the offsets) — no 1-task window",
      "d26_cross_source_dups"       -> "cross-source dup matrix: fingerprint-equi self-join (pair space = dup groups only) -> unordered-pair aggregate",
      "c37_compact_index"           -> "compacted index read-out: one scan of the single post-GC version (compaction + GC happen before the plan)",
      "t48_lang_confusion"          -> "lang confusion: one corpus scan -> langs^2 cells + broadcast actual totals",
      "m24_audio_crest"             -> "audio crest: map-only real WAV decode, exact integer peak/sum-sq per clip; scalar rows shuffle",
      "e50_session_shape"           -> "session shape: one keyed lag window -> session-grain lengths -> single conditional-agg report row",
      "v28_hard_negatives"          -> "hard negatives: v1's broadcast-query shape + (q, same-flag)-keyed rank window; corpus never shuffled",
      "q68_top_customer_share"      -> "whale concentration: GlobalRank row_number + integer ceil cutoffs + 1-row broadcast totals per tier",
      "e51_type_overlap"            -> "audience overlap: one (type,user) dedup -> user-keyed self-equi-join -> types^2 matrix + broadcast sizes",
      "t49_ngram_coverage"          -> "ngram head coverage: one count shuffle; rank window over the TYPE table; integer tier cutoffs",
      "d27_cluster_size_hist"       -> "cluster-size histogram: two keyed aggregates + 1-row broadcast total; exact integers",
      "q69_price_band_cume"         -> "global cume_dist: CumeDistTies exec (range exchange + forward head-run stitch) — no 1-task window",
      "q70_record_orders"           -> "record orders: GlobalPrefixExtremum exec (per-partition max partials stitch the prefix) — no 1-task window",
      "q71_retention_by_nation"     -> "retention matrix: per-customer flag maxes -> broadcast nation join -> one keyed aggregate; zero distinct shuffles",
      "e52_high_watermark"          -> "value high-watermark: the FLOAT leg of GlobalPrefixExtremum (interpreted-ordering comparisons only)",
      "e53_peak_concurrency"        -> "peak concurrency: session bounds -> ±1 sweep riding GlobalPrefixSumExec -> day-grain peaks",
      "d28_cc_bigstar"              -> "d6's cluster map: GraphX CC over the checkpointed d2 pair graph; no cartesian",
      "t50_paragraph_dedup"         -> "paragraph dedup: chunk explode -> one corpus-frequency groupBy -> one hash-keyed join back",
      "v29_degree_hist"             -> "degree histogram: d5b's balanced block self-join pairs -> two keyed aggregates incl. the zero-degree join",
      "m25_gradient_anisotropy"     -> "real-decode gradient anisotropy: map-only decode, exact integer sums; scalar rows shuffle",
      "e54_global_interarrival"     -> "global lag/lead: two chained GlobalOffsetWindow execs over ONE exchange — k=1 boundary metadata, no 1-task window",
      "q72_day_close_cum"           -> "default-RANGE cumulative: GlobalRangePrefixSum exec (group-close prefixes + forward head-group chain) — no 1-task window",
      "e55_day_record"              -> "default-RANGE running max: the same exec's ExtremumK mode — no 1-task window",
      "q73_cents_decimal"           -> "decimal GlobalPrefixSum leg: decimals born exact from integer cents — no 1-task window",
      "q74_running_avg"             -> "avg decomposition: exact-long prefix sum + prefix count + one legacy divide — no 1-task window",
      "q75_share_global"            -> "agg OVER () constants: 7-deep GlobalScalarAgg chain, NO exchange/sort/buffer (only the output ORDER BY shuffles)",
      "q76_fifth_largest"           -> "nth_value in both from-start frames: GlobalKthValue constants + the CountK condition leg — no 1-task window",
      "e56_mixed_report"            -> "mixed global window: 4 range execs + the first_value constant exec over ONE exchange — ZERO stock windows",
      "e57_rolling_p95"             -> "keyed sliding exact p95: one (event_type) partitioned window, O(k log k)/row at k=100",
      "t51_token_budget"            -> "token-budget planner: two KB aggregates broadcast back, one corpus scan",
      "q77_frame_bounds"            -> "offset-bounded from-start/to-end frames: 2 GlobalFirstValue constants + the empty-head-frame leg on its own stock remainder (r17 bound checks)",
      "q78_first_nonnull_running"   -> "running IGNORE NULLS first_value: stock remainder (all-null head frames are NULL) + the full-frame twin on the ignoreNulls GlobalKthValue exec",
      "t52_split_leakage"           -> "split + leakage audit: two keyed aggregations (fp grain, lang grain), one broadcast-back join, no all-pairs",
      "e58_locf"                    -> "partitioned LOCF: hash-distributed (user_id) window, no global-window cliff",
      "t53_budget_sample"           -> "Hamilton apportionment: KB stratum aggregate + 3 scalar-broadcast fanouts + per-language top-k — integer div/% only",
      "e57b_rolling_p95_wide"       -> "rolling exact p95 at k=1000: RollingQuantileExec (two-heap, O(log k)/row) on one hash exchange — no per-row frame sort",
      "e59_offset_ignore_nulls"     -> "global IGNORE NULLS lag/lead: two GlobalOffsetWindow execs chained on ONE range exchange, tiebreak projected under it — zero stock windows",
      "q79_recursive_native"        -> "Spark 4 native WITH RECURSIVE: the engine's UnionLoop iteration over the md5 forest, one equi-join per level"
    )
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans (generated by `sbt \"runMain graft.PlanAudit\"`)\n"
    sb ++= s"\nSource data: `$sf`; plans are pre-execution (initial AQE plan).\n"
    sb ++= "\nNote: every nested-loop join in this file (t12, t24's N/avgdl, " +
      "c20's orders scalar) is a Cross join against a BROADCAST SINGLE-ROW " +
      "aggregate — the standard way to fold a scalar into a distributed plan " +
      "without a driver-side collect; each compares 1 row, not a pair space. " +
      "The exceptions are d4's and d10's, the ground-truth all-pairs joins, " +
      "capped to the first 1000 doc_ids.\n" +
      "\nThe full-surface lint inventory is COMMITTED at " +
      "`src/test/resources/lint_expected.tsv` and gated by `LintSurfaceSpec`: " +
      "every `SparkEntry.queries` plan is linted (global windows / cartesians / " +
      "nested-loop joins) and any drift from the committed inventory fails the " +
      "suite. Current inventory: 71 rows, ALL of them the documented " +
      "bounded idioms — scalar-fanout / capped-sample BNLJs, plus THREE " +
      "global windows: q58's ≤50-row p_size frontier suffix-min (model-" +
      "sized) and q77/q78's DELIBERATE stock remainders (the empty-head-" +
      "frame and running-IGNORE-NULLS shapes the round-17 guards must NOT " +
      "rewrite — each a single-expression remainder via the split; q60 " +
      "rides GlobalPrefixSumExec since round 14 and is flagged only for " +
      "its scalar BNLJ; t26's window line cleared in round 16 when the " +
      "scalar-constant idiom picked up its full-frame aggregate). Zero " +
      "cartesians.\n"
    targets.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name — $why\n\n```\n$plan```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${targets.size} plans)")
    spark.stop()
  }
}
