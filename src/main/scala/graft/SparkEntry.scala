package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a matching ANSI-SQL oracle in
  * [[oracleSql]] that DuckDB runs over the same parquet tables; column
  * names and types are aligned on both sides (aggregates go through
  * DECIMAL so results are exact and order-independent — see
  * [[graft.ops.RelationalQueries]]).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q3StarJoinRevenue(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Relational superset (SURVEY §2.3-§2.6)
    "q1_pricing_summary" -> (RelationalQueries.q1PricingSummary _),
    "q2_filter_pushdown" -> (RelationalQueries.q2FilterPushdown _),
    "q3_star_join"       -> (RelationalQueries.q3StarJoinRevenue _),
    "q4_top_customers"   -> (RelationalQueries.q4TopCustomers _),
    "q5_window_rank"     -> (RelationalQueries.q5WindowRank _),
    "q6_distinct_agg"    -> (RelationalQueries.q6DistinctAgg _),
    "q7_union_all"       -> (RelationalQueries.q7UnionAll _),
    "q8_anti_join"       -> (RelationalQueries.q8AntiJoin _),
    "q9_rollup"          -> (RelationalQueries.q9Rollup _),
    "q10_semi_join"      -> (RelationalQueries.q10SemiJoin _),
    "q11_time_bucket"    -> (RelationalQueries.q11TimeBucket _),
    "q12_sessionize"     -> (RelationalQueries.q12Sessionize _),
    "q13_argmax"         -> (RelationalQueries.q13ArgMax _),
    "q14_asof_join"      -> (RelationalQueries.q14AsOfJoin _),
    "q15_json_extract"   -> (RelationalQueries.q15JsonExtract _),
    "q16_salted_agg"     -> (RelationalQueries.q16SaltedAgg _),
    "q17_bucketed_join"  -> (RelationalQueries.q17BucketedJoin _),
    "q18_cube"           -> (RelationalQueries.q18Cube _),
    "q19_pivot"          -> (RelationalQueries.q19Pivot _),
    "q20_array_agg"      -> (RelationalQueries.q20ArrayAgg _),
    "q21_approx_distinct" -> (RelationalQueries.q21ApproxDistinct _),
    "q22_range_join"     -> (RelationalQueries.q22RangeJoin _),
    "q23_grouping_sets"  -> (RelationalQueries.q23GroupingSets _),
    "q24_left_join"      -> (RelationalQueries.q24LeftJoin _),
    "q25_set_ops"        -> (RelationalQueries.q25SetOps _),
    "q26_distribution_rank" -> (RelationalQueries.q26DistributionRank _),
    "q27_corr_subquery"  -> (RelationalQueries.q27CorrSubquery _),
    "q28_topk_agg"       -> ((s: SparkSession, d: String) => RelationalQueries.q28TopKAgg(s, d)),
    "q29_sql_interface"  -> (RelationalQueries.q29SqlInterface _),
    // WITH RECURSIVE hierarchy traversal with exact-integer path sums
    // (one ANSI text on both engines — the q29 recipe for recursion)
    "q40_recursive_cte"  -> (RelationalQueries.q40RecursiveCte _),
    "q30_full_outer"     -> (RelationalQueries.q30FullOuter _),
    "q31_moving_avg"     -> (RelationalQueries.q31MovingAvg _),
    "q32_unpivot"        -> (RelationalQueries.q32Unpivot _),
    "q33_event_funnel"   -> (RelationalQueries.q33EventFunnel _),
    "q34_event_gaps"     -> (RelationalQueries.q34EventGaps _),
    "q35_median_iqr"     -> (RelationalQueries.q35MedianIqr _),
    "q36_gap_fill"       -> (RelationalQueries.q36GapFill _),
    "q37_asof_custom"    -> (RelationalQueries.q37AsOfCustom _),
    "q38_asof_tolerance" -> ((s: SparkSession, d: String) => RelationalQueries.q38AsOfTolerance(s, d)),
    // interval-overlap join via binning (sessions × error-incident hours)
    "q39_interval_join"  -> ((s: SparkSession, d: String) => RelationalQueries.q39IntervalJoin(s, d)),
    // Reference-parity log surface (SURVEY §2.1-§2.6)
    "log_time_range"      -> (LogQueries.logTimeRange _),
    "log_filter_conj"     -> (LogQueries.logFilterConjunction _),
    "log_count"           -> (LogQueries.logCount _),
    "log_summary"         -> (LogQueries.logSummary _),
    "log_partition_slice" -> (LogQueries.logPartitionSlice _),
    "log_store_roundtrip" -> (LogQueries.logStoreRoundtrip _),
    "log_snapshot_read"   -> (LogQueries.logSnapshotRead _),
    // physical row-level purge: rewriteExcluding + expire, then the
    // single surviving readable version is read back under the oracle
    "log_purge"           -> (LogQueries.logPurge _),
    // snapshot-pinned derivation manifest: cites the store version it
    // derived from and proves the citation replays across compaction+GC
    "pipe_snapshot_pin"   -> (LogQueries.pipeSnapshotPin _),
    "log_dedup_bursts"    -> (LogQueries.logDedupBursts _),
    "log_volume_anomaly"  -> (LogQueries.logVolumeAnomaly _),
    "log_error_rate_sli"  -> (LogQueries.logErrorRateSli _),
    // SRE multi-window burn-rate paging over the SLI: day + trailing-7d
    // windows must BOTH exceed 2x budget before the alert fires
    "log_burn_rate"       -> (LogQueries.logBurnRate _),
    "log_top_messages"    -> ((s: SparkSession, d: String) => LogQueries.topMessages(s, d)),
    "log_hourly_profile"  -> (LogQueries.logHourlyProfile _),
    "log_cooccurrence"    -> (LogQueries.errorCooccurrence _),
    // Training-data pipeline: dedup (builder prompt + SURVEY §7.1 ops/)
    "dedup_exact_summary"  -> (Dedup.exactSummary _),
    // authority-based keeper election: integer-exact PageRank over the
    // near-dup graph, keeper per component by (pr DESC, doc_id)
    "dedup_pagerank"       -> ((s: SparkSession, d: String) => Dedup.pagerankKeepers(s, d)),
    "dedup_exact_keepers"  -> (Dedup.exactKeepers _),
    "dedup_ngram_jaccard"  -> (Dedup.ngramJaccard _),
    "dedup_minhash_lsh"    -> (Dedup.minhashLsh _),
    "dedup_simhash"        -> (Dedup.simhash _),
    "dedup_simhash_buckets" -> (Dedup.simhashBuckets _),
    "dedup_fuzzy_edit"   -> ((s: SparkSession, d: String) => Dedup.fuzzyEditDistance(s, d)),
    "dedup_embedding"      -> (Similarity.embeddingNearDup _),
    "dedup_semantic"       -> ((s: SparkSession, d: String) => Similarity.semanticDedup(s, d)),
    // keeper election reading the PERSISTED component table — the
    // SemDeDup deployment shape (assignment materialized once per
    // corpus version, every report probes it by doc_id)
    "dedup_semantic_indexed" -> ((s: SparkSession, d: String) => Similarity.semanticDedupIndexed(s, d)),
    "dedup_components"     -> ((s: SparkSession, d: String) => Dedup.dupComponents(s, d)),
    // The six dedup_hamming* entries are fixed layouts of one Hamming
    // pair planner (Dedup.Blocking): same rows, one shared oracle.
    "dedup_hamming"        -> ((s: SparkSession, d: String) => Dedup.hammingNearDup(s, d)),
    // persisted-index consumers (SURVEY §11): same rows as their twins,
    // but candidate generation reads the bucketed index tables and
    // plans Exchange-free (IndexTablesSpec proves the physical plan)
    "dedup_hamming_indexed" -> ((s: SparkSession, d: String) => Dedup.hammingNearDupIndexed(s, d)),
    "dedup_ngram_indexed"  -> (Dedup.ngramJaccardIndexed _),
    // persisted banded-signature twin: candidate generation off the
    // bucketed (bi, bk) table, Exchange-free; same rows/oracle
    "dedup_minhash_indexed" -> (Dedup.minhashLshIndexed _),
    // segment-merge shingle index: appends per batch, DF cap at read
    // time over summed per-segment stats (round-9 incremental form)
    "dedup_ngram_seg"      -> (Dedup.ngramJaccardSegmented _),
    // skew guard: hot blocks hash-split so no task owns a quadratic block
    "dedup_hamming_salted" -> ((s: SparkSession, d: String) => Dedup.hammingNearDup(s, d, Dedup.Salted)),
    // pair-of-chunks keys (2^26 key space): no birthday-collision growth
    "dedup_hamming_wide"   -> ((s: SparkSession, d: String) => Dedup.hammingNearDup(s, d, Dedup.Wide)),
    // wide keys plus the skew guard for pair keys that are still hot
    "dedup_hamming_wide_salted" -> ((s: SparkSession, d: String) => Dedup.hammingNearDup(s, d, Dedup.WideSalted)),
    // layout chosen per corpus from the two block-stats forecasts
    "dedup_hamming_auto"   -> ((s: SparkSession, d: String) => Dedup.hammingNearDupAuto(s, d)),
    "dedup_admission"      -> ((s: SparkSession, d: String) => Dedup.admissionGate(s, d)),
    // the deployed ingest-gate shape: probes the PERSISTED chunk index
    "dedup_admission_indexed" -> ((s: SparkSession, d: String) => Dedup.admissionGateIndexed(s, d)),
    "dedup_keep_best"      -> (Dedup.keepBest _),
    "dedup_containment"    -> ((s: SparkSession, d: String) => Dedup.containment(s, d)),
    // threshold tuning report: pairs/docs/corpus-fraction the Jaccard
    // gate would admit at 0.3/0.5/0.7/0.9, off the memoized pair stats
    "dedup_threshold_sweep" -> ((s: SparkSession, d: String) => Dedup.thresholdSweep(s, d)),
    "dedup_method_agreement" -> (Dedup.methodAgreement _),
    "dedup_cluster_stats"  -> (Dedup.clusterStats _),
    "dedup_block_stats"    -> ((s: SparkSession, d: String) => Dedup.blockStats(s, d)),
    // the same pre-flight for pair-of-chunks (2^26) keys — the forecast
    // that shows the birthday term gone before paying for either join
    "dedup_block_stats_wide" -> ((s: SparkSession, d: String) => Dedup.wideBlockStats(s, d)),
    "dedup_cross_source"   -> (Dedup.crossSourceLeakage _),
    // Lee et al. ExactSubstr: verbatim duplicate-text coverage per source
    "dedup_substr_coverage" -> ((s: SparkSession, d: String) => Dedup.exactSubstrCoverage(s, d)),
    "text_boilerplate"     -> ((s: SparkSession, d: String) => TextAnalysis.boilerplate(s, d)),
    // duplicate 8-gram occurrence rate per source (corpus repetition health)
    "text_ngram_novelty"   -> ((s: SparkSession, d: String) => TextAnalysis.ngramNovelty(s, d)),
    // integer-exact bigram-LM quality proxy (inverse conditional probability)
    "text_lm_bigram"       -> ((s: SparkSession, d: String) => TextAnalysis.lmBigram(s, d)),
    // Similarity search
    "ann_brute_topk" -> ((s: SparkSession, d: String) => Similarity.bruteForceTopK(s, d)),
    // hybrid lexical+vector retrieval (round 15): reciprocal-rank
    // fusion (k0=60) of the BM25 top-20 and exact-cosine top-20 —
    // rank-based, so the two score scales need no calibration
    "ann_hybrid_rrf" -> ((s: SparkSession, d: String) => Similarity.hybridRrfTopK(s, d)),
    // the deployment form of the hybrid (round 16): BOTH legs indexed —
    // BM25 off the bucketed postings + stat side tables, the vector
    // pool off the int8 two-stage server (sq8 shortlist 64 + exact
    // rerank); the oracle replays the indexed legs deterministically
    "ann_hybrid_rrf_indexed" -> ((s: SparkSession, d: String) => Similarity.hybridRrfTopKIndexed(s, d)),
    // two-stage Matryoshka serving: prefix-dim shortlist (32 of 64
    // dims, re-normed) + exact full-dim rerank — the deployment shape
    // emb_prefix_recall's report justifies (round-13)
    "ann_prefix_topk" -> ((s: SparkSession, d: String) => Similarity.prefixTopK(s, d)),
    // stage 1 served from the persisted NARROW prefix table — the
    // half-width scan the two-stage design exists for
    "ann_prefix_indexed" -> ((s: SparkSession, d: String) => Similarity.prefixTopKIndexed(s, d)),
    // the two scale levers composed: IVF list pruning OVER the prefix
    // space, then the exact full-dim rerank (round-13)
    "ann_prefix_ivf" -> ((s: SparkSession, d: String) => Similarity.prefixIvfTopK(s, d)),
    // Matryoshka truncation evaluation: prefix-dim recall vs full-dim
    // exact truth, per prefix length (the pre-flight for an 8x
    // storage/bandwidth cut via truncated embeddings)
    "emb_prefix_recall" -> ((s: SparkSession, d: String) => Similarity.prefixRecall(s, d)),
    // binary (sign-bit) quantization evaluation: integer-Hamming top-k
    // scored per query against the float-cosine truth (the 32x cut)
    "emb_sign_recall" -> ((s: SparkSession, d: String) => Similarity.signRecall(s, d)),
    // int8 symmetric absmax quantization (4x): exact integer-dot
    // ranking of the codes vs the float-cosine truth — completes the
    // prefix (2-8x) / int8 (4x) / sign (32x) compression frontier
    "emb_sq8_recall" -> ((s: SparkSession, d: String) => Similarity.sq8Recall(s, d)),
    // the int8 report made a SERVER: integer-dot shortlist over the
    // 64 B/vector codes, exact full-dim rerank (the shared two-stage
    // tail) — the 4x-bandwidth serving shape sq8_recall prices
    "ann_sq8_topk" -> ((s: SparkSession, d: String) => Similarity.sq8TopK(s, d)),
    "emb_hard_negatives" -> ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)),
    "ann_lsh_topk"   -> ((s: SparkSession, d: String) => Similarity.lshTopK(s, d)),
    "ann_ivf_topk"   -> ((s: SparkSession, d: String) => Similarity.ivfTopK(s, d)),
    // persisted-inverted-list twin (SURVEY §11's vectors+IVF table made
    // executable): assignment paid once at index build, same rows/oracle
    "ann_ivf_indexed" -> ((s: SparkSession, d: String) => Similarity.ivfTopKIndexed(s, d)),
    "ann_lsh_multiprobe" -> ((s: SparkSession, d: String) => Similarity.lshMultiProbeTopK(s, d)),
    // selectivity-adaptive filtered search: brute over a selective
    // predicate's subset, oversampled-probe IVF + post-filter over a
    // broad one — strategy chosen from exact pass-rate counts
    "ann_filtered_topk" -> ((s: SparkSession, d: String) => Similarity.filteredTopK(s, d)),
    // tombstone-masked serving (in-plan twin of the delete lifecycle:
    // candidates anti-joined against the deterministic tombstone set)
    "ann_ivf_deleted" -> ((s: SparkSession, d: String) => Similarity.ivfTopKDeleted(s, d)),
    // the prefix family's tombstone twin (round 14): two-stage prefix
    // serving with the declared delete set masked at the candidate
    // stage — one shared body with the served path, so the oracle
    // pins the delete semantics of all three prefix servers
    "ann_prefix_deleted" -> ((s: SparkSession, d: String) => Similarity.prefixTopKDeleted(s, d)),
    // late-interaction rerank: IVF shortlist re-scored by MaxSim over
    // the 8-subvector split (Σ_m max_p of floored sub-cosines)
    "ann_maxsim_topk" -> ((s: SparkSession, d: String) => Similarity.maxSimTopK(s, d)),
    "emb_centroid_update" -> (Similarity.centroidUpdate _),
    "ann_ivf_refined" -> ((s: SparkSession, d: String) => Similarity.ivfRefinedTopK(s, d)),
    // IVF inverted-list balance/skew pre-flight (load factor, cohesion)
    "ann_cell_stats"  -> ((s: SparkSession, d: String) => Similarity.ivfCellStats(s, d)),
    // per-source embedding centroid vs corpus centroid (drift monitor)
    "emb_source_drift" -> ((s: SparkSession, d: String) => Similarity.sourceCentroidDrift(s, d)),
    "emb_label_cohesion" -> (Similarity.labelCohesion _),
    "emb_label_separation" -> (Similarity.labelSeparation _),
    "emb_label_confusion"  -> (Similarity.labelConfusion _),
    "ann_pq_topk" -> ((s: SparkSession, d: String) => Similarity.pqTopK(s, d)),
    // IVF-PQ + exact refine: coarse quantizer prunes to nprobe lists
    // (literal partition predicate on the persisted code table), PQ
    // codes ADC-score just those lists, float cosine touches only the
    // shortlist — the FAISS IVFPQ+refine serving composition
    "ann_ivf_pq" -> ((s: SparkSession, d: String) => Similarity.ivfPqTopK(s, d)),
    "emb_dim_stats" -> (Similarity.dimStats _),
    "ann_recall" -> ((s: SparkSession, d: String) => Similarity.annRecall(s, d)),
    "emb_knn_graph" -> ((s: SparkSession, d: String) => Similarity.knnGraph(s, d)),
    "emb_outliers"  -> ((s: SparkSession, d: String) => Similarity.labelOutliers(s, d)),
    "emb_covariance" -> ((s: SparkSession, d: String) => Similarity.covariance(s, d)),
    // incremental twin: base-slice moments + batch-slice moments
    // combined by a 2,144-row add, then the same finisher — the
    // full-corpus oracle is the additivity proof
    "emb_moments_incr" -> ((s: SparkSession, d: String) => Similarity.covarianceIncremental(s, d)),
    // dominant eigenvector + explained-variance share by exact-integer
    // power iteration (distributed covariance pass, driver-side 64x64
    // eigen-iteration — the all-but-the-top / whitening pre-flight)
    "emb_pca" -> ((s: SparkSession, d: String) => Similarity.pcaPower(s, d)),
    // per-label energy share along the dominant direction (the
    // all-but-the-top pre-flight; scan-rate literal-array projection)
    "emb_top_dir" -> ((s: SparkSession, d: String) => Similarity.topDirEnergy(s, d)),
    // the removal itself: dominant-direction deflation with per-label
    // before/after cohesion deltas (scan-rate zip_with over the
    // driver-literal direction; round-10)
    "emb_abtt" -> ((s: SparkSession, d: String) => Similarity.allButTop(s, d)),
    "emb_pca_topk" -> ((s: SparkSession, d: String) => Similarity.pcaTopK(s, d)),
    "emb_whiten" -> ((s: SparkSession, d: String) => Similarity.whitenTopK(s, d)),
    // Text analysis + multimodal metadata
    "text_quality"     -> (TextAnalysis.quality _),
    "text_langid"      -> (TextAnalysis.langId _),
    "text_tokens"      -> (TextAnalysis.tokenStats _),
    "text_fingerprint" -> (TextAnalysis.fingerprint _),
    "text_rolling_hash" -> (TextAnalysis.rollingHash _),
    "mm_binary_meta"   -> (TextAnalysis.binaryMeta _),
    "mm_decode_features" -> (Multimodal.decodeFeatures _),
    "mm_frame_sample"    -> (Multimodal.frameSample _),
    // cross-document exact frame dedup (the video mirrored-upload check)
    "mm_frame_dedup"     -> (Multimodal.frameDedup _),
    "mm_resize_stub"     -> ((s: SparkSession, d: String) => Multimodal.resizeStub(s, d)),
    "mm_phash_neardup"   -> ((s: SparkSession, d: String) => Multimodal.phashNearDup(s, d)),
    // persisted decode-once twin: candidate join off the bucketed
    // media chunk index, zero decodes at query time
    "mm_phash_indexed"   -> ((s: SparkSession, d: String) => Multimodal.phashNearDupIndexed(s, d)),
    "mm_audio_energy"    -> (Multimodal.audioEnergy _),
    "text_bigram_rarity" -> (TextAnalysis.bigramRarity _),
    "text_top_terms"     -> ((s: SparkSession, d: String) => TextAnalysis.topTerms(s, d)),
    "text_length_hist"   -> (TextAnalysis.lengthHistogram _),
    "text_repetition"    -> (TextAnalysis.repetition _),
    "text_collocations"  -> ((s: SparkSession, d: String) => TextAnalysis.collocations(s, d)),
    "text_length_quantiles" -> (TextAnalysis.lengthQuantiles _),
    "text_vocab_stats"   -> (TextAnalysis.vocabStats _),
    "text_source_signatures" -> ((s: SparkSession, d: String) => TextAnalysis.sourceSignatures(s, d)),
    "text_source_drift"  -> (TextAnalysis.sourceDrift _),
    // BM25 lexical retrieval (round 15): more-like-this top-k over the
    // query docs' terms — integer micro-unit scoring so both engines
    // rank identically (the DSIR ln-truncation convention)
    "text_bm25_topk"     -> ((s: SparkSession, d: String) => TextAnalysis.bm25TopK(s, d)),
    // the same probe off the persisted bucketed postings table (the
    // inverted-index deployment shape; twin-alias oracle)
    "text_bm25_indexed"  -> ((s: SparkSession, d: String) => TextAnalysis.bm25TopKIndexed(s, d)),
    // exact-adjacency phrase retrieval (round 16): each query doc's
    // first bigram, top-5 other docs by occurrence count — verbatim
    // word-ORDER reuse, the positional complement of n-gram Jaccard
    "text_phrase_topk"   -> ((s: SparkSession, d: String) => TextAnalysis.phraseTopK(s, d)),
    // the same probe off the persisted positional postings table
    // (bucketed by term; twin-alias oracle)
    "text_phrase_indexed" -> ((s: SparkSession, d: String) => TextAnalysis.phraseTopKIndexed(s, d)),
    "text_bpe_pairs"     -> ((s: SparkSession, d: String) => TextAnalysis.bpePairs(s, d)),
    // iterative merge training — oracle unrolls the 10 merge rounds
    // (see bpeTrainOracle); also verified against a sequential
    // reference implementation in TextAnalysisSpec
    "text_bpe_train"     -> ((s: SparkSession, d: String) => TextAnalysis.bpeTrain(s, d)),
    // sampled-corpus training (round-15): the driver-paced merge loop
    // prices only the deterministic doc_id%100<50 half — the 32k-merge
    // production shape; oracle replays the sampled chain
    "text_bpe_train_sampled" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeTrain(s, d, sampleFraction = 0.5)),
    // the trained merges applied back to the corpus (per-doc symbol counts)
    "text_bpe_encode"    -> ((s: SparkSession, d: String) => TextAnalysis.bpeEncode(s, d)),
    // sample-trained merges applied to the FULL corpus in one
    // distributed pass (round-15) — training cost bounded by the
    // sample, encode coverage identical to full training
    "text_bpe_encode_sampled" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeEncodeSampled(s, d)),
    // encode served from the PERSISTED vocab table — train once, every
    // encode is a join (the deployed tokenizer shape; round-13)
    "text_bpe_encode_table" -> ((s: SparkSession, d: String) => TextAnalysis.bpeEncodeTable(s, d)),
    // per-source tokenizer fertility (tokens/word) + compression
    // (chars/token) under the trained vocabulary — the tokenizer-health
    // read the mixture/packing planners consume
    "text_bpe_fertility" -> ((s: SparkSession, d: String) => TextAnalysis.bpeFertility(s, d)),
    // sketch twin of text_length_quantiles — emits exact quantiles plus
    // per-percentile rank-error-bound flags, so the oracle hash-checks
    // the sketch contract (same pattern as q21_approx_distinct)
    "text_length_quantiles_approx" -> (TextAnalysis.lengthQuantilesApprox _),
    "pipe_quality_by_dup" -> (Pipeline.qualityByDup _),
    // Pipeline composition (curation stages chained in one plan)
    "pipe_stratified_sample" -> (Pipeline.stratifiedSample _),
    // cluster-balanced subsample: the stratum is LEARNED structure (the
    // IVF coarse quantizer), not the source column — caps dominant
    // semantic clusters before mixing
    "pipe_cluster_sample" -> ((s: SparkSession, d: String) =>
      Similarity.clusterBalancedSample(s, d)),
    "pipe_training_set"      -> (Pipeline.trainingSet _),
    "pipe_funnel"            -> (Pipeline.funnel _),
    "pipe_balanced_mixture"  -> (Pipeline.balancedMixture _),
    "pipe_token_shards"      -> ((s: SparkSession, d: String) => Pipeline.tokenShards(s, d)),
    // the shard/packing/budget math denominated in TRAINED-TOKENIZER
    // (BPE) tokens — the denominator a trainer actually provisions by;
    // all three ride one shared per-doc relation (bpeTokenRelation)
    "pipe_token_shards_bpe"  -> ((s: SparkSession, d: String) => Pipeline.tokenShardsBpe(s, d)),
    "pipe_packing_plan_bpe"  -> ((s: SparkSession, d: String) => Pipeline.packingPlanBpe(s, d)),
    "pipe_token_quota_bpe"   -> ((s: SparkSession, d: String) => Pipeline.tokenQuotaBpe(s, d)),
    // round-13: the rest of the budget family re-denominated in BPE
    // tokens — epoch planning, both mixtures, and the data card's
    // token columns all ride the SAME bpeTokenRelation denominator
    "pipe_epochs_plan_bpe"   -> ((s: SparkSession, d: String) => Pipeline.epochsPlanBpe(s, d)),
    "pipe_temperature_mixture_bpe" -> ((s: SparkSession, d: String) => Pipeline.temperatureMixtureBpe(s, d)),
    "pipe_balanced_mixture_bpe" -> ((s: SparkSession, d: String) => Pipeline.balancedMixtureBpe(s, d)),
    "pipe_data_card_bpe"     -> ((s: SparkSession, d: String) => Pipeline.dataCardBpe(s, d)),
    // chop-vs-pad sequence-packing forecast at a 512-token budget
    "pipe_packing_plan"      -> ((s: SparkSession, d: String) => Pipeline.packingPlan(s, d)),
    // near-dup-cluster-keyed train/val/test assignment (no split leakage)
    "pipe_leakage_split"     -> ((s: SparkSession, d: String) => Pipeline.leakageSafeSplit(s, d)),
    // deterministic token-budget quota fill per source (hash-order cumsum)
    "pipe_token_quota"       -> ((s: SparkSession, d: String) => Pipeline.tokenQuota(s, d)),
    // epoch/repeat plan under a per-source budget: data-constrained
    // scaling's 4-epoch usable-repetition cap, exact integers
    "pipe_epochs_plan"       -> ((s: SparkSession, d: String) => Pipeline.epochsPlan(s, d)),
    "pipe_temperature_mixture" -> (Pipeline.temperatureMixture _),
    "pipe_decontaminate"     -> ((s: SparkSession, d: String) => Pipeline.decontaminate(s, d)),
    // MinHash-banded NEAR-DUP decontamination: flags docs that ARE an
    // eval doc (edited/truncated), not ones sharing a stray phrase —
    // the precision counterpart to the any-overlap exact gate
    "pipe_decontaminate_fuzzy" -> ((s: SparkSession, d: String) => Pipeline.fuzzyDecontaminate(s, d)),
    "pipe_dup_weights"       -> (Pipeline.dupWeights _),
    "pipe_shuffle_shards"    -> ((s: SparkSession, d: String) => Pipeline.shuffleShards(s, d)),
    "pipe_chunk_windows"     -> ((s: SparkSession, d: String) => Pipeline.chunkWindows(s, d)),
    "pipe_curriculum"        -> (Pipeline.curriculumPhases _),
    "pipe_incremental_dedup" -> (Pipeline.incrementalDedup _),
    "pipe_gopher_quality"    -> (Pipeline.gopherQuality _),
    "pipe_curation_manifest" -> (Pipeline.curationManifest _),
    // the executable run: keep/drop + shard receipt + replay-proven
    // citation committed through ManifestLog under idempotency tags
    // (resumable — CurationRunSpec kills and resumes it); the row is
    // the shard receipt read back from the PINNED snapshot (round-10)
    "pipe_curation_run"      -> (CurationRun.runSelfContained _),
    "pipe_curation_delta"    -> (CurationRun.deltaRunSelfContained _),
    // takedown ∘ prior ≡ full-on-filtered: remove doc_id ≡ 0 (mod 13)
    // from a completed run's corpus, emit removals + survivor
    // corrections, receipt must equal a full run minus the removed set
    "pipe_takedown"          -> (CurationRun.takedownSelfContained _),
    // batch-bounded frozen-stat admission of the top decile + the
    // measured frozen-vs-exact divergence (the staleness price) —
    // round-12 verdict #1; the indexed twin probes the persisted
    // digest index + base-slice shingle segments
    "pipe_curation_admit"    -> (Pipeline.curationAdmit _),
    "pipe_curation_admit_indexed" -> (Pipeline.curationAdmitIndexed _),
    // per-source release datasheet: curation outcomes + token budget
    "pipe_data_card"         -> (Pipeline.dataCard _),
    "pipe_shard_manifest"    -> ((s: SparkSession, d: String) => Pipeline.shardManifest(s, d)),
    // the receipt's loop closed: shards physically written, re-read,
    // digests re-derived from the bytes on disk, equality required
    "pipe_export_verify"     -> ((s: SparkSession, d: String) => Pipeline.exportVerifySelfContained(s, d)),
    "pipe_dsir_weights"      -> ((s: SparkSession, d: String) => Pipeline.dsirWeights(s, d)),
    // bloom-sketch twin of pipe_decontaminate — emits the exact
    // contamination counts plus n_missed_by_bloom (no-false-negatives ⇒
    // always 0), so the oracle hash-checks the sketch contract (same
    // pattern as q21/quantiles_approx); the full superset proof stays
    // in PipelineSpec
    "pipe_decontaminate_bloom" -> ((s: SparkSession, d: String) => Pipeline.bloomDecontaminate(s, d)),
    "mm_modality_coverage"   -> (Pipeline.modalityCoverage _),
    "emb_cos_hist"           -> ((s: SparkSession, d: String) => Similarity.cosHistogram(s, d)),
    "emb_quantize_int8"      -> (Similarity.quantizeInt8 _),
  )

  // Shared DuckDB CTE: distinct 3-word shingles per doc (1-based list
  // indexing in DuckDB vs 0-based in Spark — same shingles).
  // shingle keys are 60-bit integers (first 15 md5 hex chars of the
  // trigram) — mirrors graft.ops.Dedup.shingles exactly
  private val shinglesCte =
    """sh AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
      |       UNNEST(range(1, len(w)-1)) AS u(i)
      |  WHERE len(w) >= 3
      |)""".stripMargin

  // Shared DuckDB CTE chain: the per-document curation gate inputs —
  // exact-dup window (md5-text groups) + the four Gopher quality flags
  // folded to ok_q. ONE definition: pipe_curation_manifest and
  // pipe_curation_run gate on exactly these thresholds, and a future
  // retune that edited only one copy would leave the other oracle
  // silently asserting the stale gate (the fork hazard every shared
  // CTE val here exists to prevent).
  private val curationGatesCte =
    """d AS (
      |  SELECT doc_id, source,
      |    doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_dup
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |pt AS (SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2),
      |q AS (
      |  SELECT doc_id, SUM(n) AS nw, SUM(n * length(tok)) AS sum_len,
      |    SUM(CASE WHEN tok IN ('the','a','of','and','to') THEN n ELSE 0 END) AS n_stop,
      |    MAX(n) AS max_tok
      |  FROM pt GROUP BY 1),
      |f AS (
      |  SELECT doc_id,
      |    (nw >= 25 AND nw <= 90 AND sum_len >= 4 * nw AND sum_len <= 5 * nw
      |     AND 50 * n_stop >= nw AND 25 * max_tok <= 3 * nw) AS ok_q
      |  FROM q)""".stripMargin

  // Shared DuckDB CTE chain: DF-capped shingles → Jaccard≥0.5 near-dup
  // pairs → connected components as a recursive CTE (`comp(doc_id,
  // comp_id)` = true component minimum — converges to the same fixpoint
  // as the Spark side's large-star/small-star loop without mirroring its
  // iteration count). Requires $shinglesCte under WITH RECURSIVE.
  // Shared DuckDB CTE chain: DF-capped shingles -> Jaccard>=0.5 near-dup
  // candidate pairs — Dedup.ngramPairs replayed in SQL, the base of every
  // ngram-pair consumer (components, cluster stats, cross-source,
  // method agreement). Requires $shinglesCte.
  // DF-capped shingle relation (Dedup.cappedShingles in SQL): drop
  // shingles present in >20% of the corpus before any pair generation.
  private val cappedShinglesCte =
    """hot AS (
      |  SELECT s FROM sh GROUP BY s
      |  HAVING COUNT(*) > GREATEST(2, CAST(FLOOR(0.2 * (SELECT COUNT(*) FROM documents)) AS BIGINT))),
      |shc AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot))""".stripMargin

  // Per-pair overlap stats over the capped relation (Dedup.shinglePairStats).
  private val pairStatsCte =
    s"""$cappedShinglesCte,
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val ngramPairsCte =
    s"""$pairStatsCte,
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM common JOIN sizes x ON doc_a = x.doc_id
      |              JOIN sizes y ON doc_b = y.doc_id
      |  WHERE floor(CAST(c AS DOUBLE) / (x.n + y.n - c) * 1000000) / 1000000 >= 0.5)""".stripMargin

  private val ngramComponentsCte =
    s"""$ngramPairsCte,
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      |  UNION
      |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
      |comp AS (SELECT src AS doc_id, MIN(dst) AS comp_id FROM reach GROUP BY src)""".stripMargin

  // Shared power-iteration CTE chain (emb_pca + emb_top_dir): the
  // BPE-oracle recipe — the iterative loop UNROLLED, every stage exact
  // integer arithmetic (HUGEINT) so both engines replay bit-identical
  // steps; see Similarity.pcaPower's determinism contract (L∞ renorm
  // via truncating division on non-negative operands; convergence
  // deliberately not required). Every doubly-referenced step is
  // MATERIALIZED: DuckDB inlines plain CTEs per reference, and the
  // 10-step chain re-expands exponentially otherwise — planning alone
  // never finishes (measured; mat itself computes in 0.14 s). mx = 0
  // (all-zero covariance) passes w through unscaled — the Scala
  // renorm's exact guard — instead of dividing by zero. Ends at it10
  // (the direction, scaled 1e6) and wf (one final matvec).
  private lazy val pcaChainCte: String = {
    val steps = (1 to 10).map { k =>
      s"""w$k AS MATERIALIZED (SELECT m.i, SUM(m.c * p.v) AS w
         |  FROM mat m JOIN it${k - 1} p ON m.j = p.i GROUP BY m.i),
         |m$k AS (SELECT MAX(ABS(w)) AS mx FROM w$k),
         |it$k AS MATERIALIZED (
         |  SELECT i, CASE WHEN mx = 0 THEN w
         |                 WHEN w < 0 THEN -(((-w) * 1000000) // mx)
         |                 ELSE ((w * 1000000) // mx) END AS v
         |  FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""$vectorsCte,
       |ex AS MATERIALIZED (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
       |         CAST(FLOOR(v[i] * 1000000) AS HUGEINT) AS xq
       |  FROM vn, UNNEST(range(1, 65)) AS u(i)),
       |st AS (SELECT i, SUM(xq) AS sx, COUNT(*) AS n FROM ex GROUP BY i),
       |tri AS (
       |  SELECT a.i AS i, b.i AS j, SUM(a.xq * b.xq) AS sxy
       |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2),
       |mat AS MATERIALIZED (
       |  SELECT t.i, t.j, sa.n * t.sxy - sa.sx * sb.sx AS c
       |  FROM tri t JOIN st sa ON t.i = sa.i JOIN st sb ON t.j = sb.i
       |  UNION ALL
       |  SELECT t.j, t.i, sa.n * t.sxy - sa.sx * sb.sx AS c
       |  FROM tri t JOIN st sa ON t.i = sa.i JOIN st sb ON t.j = sb.i
       |  WHERE t.i < t.j),
       |it0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM st),
       |$steps,
       |wf AS (SELECT m.i, SUM(m.c * p.v) AS w
       |  FROM mat m JOIN it10 p ON m.j = p.i GROUP BY m.i)""".stripMargin
  }

  // Deflation extension of the power-iteration chain (emb_pca_topk +
  // emb_whiten): components 2 and 3 via Hotelling deflation — λ_t =
  // sdiv(vᵀCv, vᵀv), C ← C − sdiv(λ_t·v_i·v_j, vᵀv) — with every
  // division SIGN-SPLIT truncating (BigInt / on the Spark driver
  // truncates toward zero; bare DuckDB // floors, which differs on
  // negatives). Dividing the rank-one term back down by den keeps every
  // deflated matrix at C's magnitude (HUGEINT-safe; the den²-scaled
  // exact form overflows at component 2). ray_2/lam_2 are COMPONENT
  // 1's Rayleigh (they feed mat_2), ray_3/lam_3 component 2's,
  // ray_4/lam_4 component 3's.
  private lazy val pcaDeflateCte: String = {
    def steps(sfx: String) = (1 to 10).map { k =>
      s"""w$k$sfx AS MATERIALIZED (SELECT m.i, SUM(m.c * p.v) AS w
         |  FROM mat$sfx m JOIN it${k - 1}$sfx p ON m.j = p.i GROUP BY m.i),
         |m$k$sfx AS (SELECT MAX(ABS(w)) AS mx FROM w$k$sfx),
         |it$k$sfx AS MATERIALIZED (
         |  SELECT i, CASE WHEN mx = 0 THEN w
         |                 WHEN w < 0 THEN -(((-w) * 1000000) // mx)
         |                 ELSE ((w * 1000000) // mx) END AS v
         |  FROM w$k$sfx, m$k$sfx)""".stripMargin
    }.mkString(",\n")
    def deflate(from: String, to: String): String =
      s"""ray$to AS (SELECT SUM(p.v * w.w) AS num, SUM(p.v * p.v) AS den
         |  FROM it10$from p JOIN wf$from w ON p.i = w.i),
         |lam$to AS (SELECT
         |    CASE WHEN den = 0 THEN 0
         |         WHEN num < 0 THEN -((-num) // den)
         |         ELSE num // den END AS lam,
         |    CASE WHEN den = 0 THEN 1 ELSE den END AS den FROM ray$to),
         |mat$to AS MATERIALIZED (
         |  SELECT m.i, m.j,
         |    m.c - (CASE WHEN (l.lam * a.v * b.v) < 0
         |                THEN -((-(l.lam * a.v * b.v)) // l.den)
         |                ELSE (l.lam * a.v * b.v) // l.den END) AS c
         |  FROM mat$from m JOIN it10$from a ON m.i = a.i
         |       JOIN it10$from b ON m.j = b.i, lam$to l),
         |it0$to AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM st),
         |${steps(to)},
         |wf$to AS (SELECT m.i, SUM(m.c * p.v) AS w
         |  FROM mat$to m JOIN it10$to p ON m.j = p.i GROUP BY m.i)""".stripMargin
    deflate("", "_2") + ",\n" + deflate("_2", "_3") + ",\n" +
      s"""ray_4 AS (SELECT SUM(p.v * w.w) AS num, SUM(p.v * p.v) AS den
         |  FROM it10_3 p JOIN wf_3 w ON p.i = w.i),
         |lam_4 AS (SELECT
         |    CASE WHEN den = 0 THEN 0
         |         WHEN num < 0 THEN -((-num) // den)
         |         ELSE num // den END AS lam,
         |    CASE WHEN den = 0 THEN 1 ELSE den END AS den FROM ray_4)""".stripMargin
  }

  // Shared IVF-PQ serving chain (ann_ivf_pq + ann_recall's ivf_pq
  // arm): coarse assignment + nprobe probes + PQ encode + integer ADC
  // + shortlist + exact rerank, ranked. ONE definition because the
  // serving constants (8 centroids, 4 codewords, nprobe 2, shortlist
  // 100, micro-quantized LUT) are oracle contract — two inline copies
  // could silently disagree about the same physical index. Consumers
  // cut `pqranked` at their own k (both ≤ the shortlist).
  private val ivfPqRankedCte: String =
    """pqcents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
      |            WHERE vec_id >= 100 AND vec_id < 108),
      |pqassign AS (
      |  SELECT vec_id AS n_id, cent_id AS list_id FROM (
      |    SELECT vn.vec_id, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
      |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
      |    FROM vn CROSS JOIN pqcents c) t WHERE crk = 1),
      |pqprobes AS (
      |  SELECT vec_id AS q_id, cent_id AS list_id FROM (
      |    SELECT vn.vec_id, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
      |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
      |    FROM vn CROSS JOIN pqcents c WHERE vn.vec_id < 8) t WHERE crk <= 2),
      |pqsubs AS (
      |  SELECT vec_id, m, list_slice(v, CAST(m AS INT) * 8 + 1, CAST(m AS INT) * 8 + 8) AS sv
      |  FROM vn, UNNEST(range(0, 8)) AS u(m)),
      |pqcw AS (
      |  SELECT m, CAST(vec_id - 100 AS BIGINT) AS code_id, sv AS cw,
      |         list_dot_product(sv, sv) AS cn2
      |  FROM pqsubs WHERE vec_id >= 100 AND vec_id < 104),
      |pqcodes AS (
      |  SELECT vec_id, m, code_id FROM (
      |    SELECT s.vec_id, s.m, c.code_id,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY list_dot_product(s.sv, c.cw) - c.cn2 / 2 DESC, c.code_id) AS crk
      |    FROM pqsubs s JOIN pqcw c ON s.m = c.m) t WHERE crk = 1),
      |pqlut AS (
      |  SELECT s.vec_id AS query_id, s.m, c.code_id,
      |    CAST(FLOOR(list_dot_product(s.sv, c.cw) * 1000000) AS BIGINT) AS pq
      |  FROM pqsubs s JOIN pqcw c ON s.m = c.m WHERE s.vec_id < 8),
      |pqadc AS (
      |  SELECT p.q_id AS query_id, co.vec_id AS neighbor_id,
      |         CAST(SUM(l.pq) AS BIGINT) AS iscore
      |  FROM pqcodes co
      |  JOIN pqassign a ON co.vec_id = a.n_id
      |  JOIN pqprobes p ON a.list_id = p.list_id AND co.vec_id <> p.q_id
      |  JOIN pqlut l ON l.query_id = p.q_id AND co.m = l.m AND co.code_id = l.code_id
      |  GROUP BY 1, 2),
      |pqshort AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY iscore DESC, neighbor_id) AS srk
      |    FROM pqadc) t WHERE srk <= 100),
      |pqranked AS (
      |  SELECT sh.query_id, sh.neighbor_id,
      |    list_dot_product(q.v, n.v) / (q.norm * n.norm) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY sh.query_id
      |      ORDER BY list_dot_product(q.v, n.v) / (q.norm * n.norm) DESC, sh.neighbor_id) AS rk
      |  FROM pqshort sh
      |  JOIN vn q ON sh.query_id = q.vec_id
      |  JOIN vn n ON sh.neighbor_id = n.vec_id)""".stripMargin

  // Shared INT8 two-stage CTE chain (builds on vectorsCte) ending in
  // `sq8ranked` (query_id, neighbor_id, cos, rk): per-dim absmax
  // scales, deterministic floor quantization, stage-1 integer code-dot
  // shortlist (srk <= 64), stage-2 exact full-dim rerank. Used by the
  // ann_sq8_topk oracle (rk <= 5) and the indexed-hybrid oracle's
  // vector leg (rk <= 20) — one text, so the leg cannot drift between
  // them (the bm25RankedCte convention).
  private val sq8RankedCte =
    """sc AS MATERIALIZED (
      |  SELECT list(CASE WHEN mx = 0 THEN 1.0 ELSE mx END ORDER BY pos) AS scl
      |  FROM (SELECT i AS pos, MAX(abs(x.v[i])) AS mx
      |        FROM vn x, UNNEST(range(1, len(x.v) + 1)) AS u(i)
      |        GROUP BY i) m),
      |qv8 AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(range(1, len(v) + 1), i -> floor(v[i] / scl[i] * 127.0)) AS q8
      |  FROM vn, sc),
      |qq8 AS (SELECT vec_id AS query_id, q8 AS qc FROM qv8 WHERE vec_id < 8),
      |sl8 AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, n.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id
      |        ORDER BY list_dot_product(n.q8, q.qc) DESC, n.vec_id) AS srk
      |    FROM qv8 n JOIN qq8 q ON n.vec_id <> q.query_id) t WHERE srk <= 64),
      |sq8ranked AS (
      |  SELECT sl8.query_id, sl8.neighbor_id,
      |    list_dot_product(q.v, n.v) / (q.norm * n.norm) AS cos,
      |    ROW_NUMBER() OVER (PARTITION BY sl8.query_id
      |      ORDER BY list_dot_product(q.v, n.v) / (q.norm * n.norm) DESC, sl8.neighbor_id) AS rk
      |  FROM sl8 JOIN vn q ON sl8.query_id = q.vec_id
      |           JOIN vn n ON sl8.neighbor_id = n.vec_id)""".stripMargin

  // Shared DuckDB CTE: double-cast vectors with precomputed norms —
  // the same fold Spark runs (sequential sum in double).
  private val vectorsCte =
    """vn AS (
      |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS norm
      |  FROM (SELECT vec_id, label,
      |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings) t
      |)""".stripMargin

  // Shared DuckDB CTE chain ending in shash(doc_id, simhash) — the same
  // 64-bit frequency-weighted SimHash the Spark side derives from md5.
  // Bit 63 is the sign bit of the signed-64 representation both engines
  // share: DuckDB's `1::BIGINT << 63` would overflow, so that one term
  // goes through HUGEINT and the final CAST lands on the identical
  // negative BIGINT Spark's `1L << 63` (= Long.MinValue) produces.
  private val simhashCte =
    """toks AS (
      |  SELECT doc_id, tok, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  GROUP BY doc_id, tok),
      |vocab AS (SELECT DISTINCT tok FROM toks),
      |bits AS (
      |  SELECT tok, j,
      |    ((strpos('0123456789abcdef', substr(md5(tok), CAST(FLOOR(j/4) AS INT)+1, 1)) - 1)
      |     >> (3 - (j % 4))) & 1 AS bit
      |  FROM vocab, UNNEST(range(0, 64)) AS u(j)),
      |weights AS (
      |  SELECT t.doc_id, b.j, SUM((b.bit * 2 - 1) * t.cnt) AS w
      |  FROM toks t JOIN bits b ON t.tok = b.tok
      |  GROUP BY t.doc_id, b.j),
      |shash AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN w > 0 THEN
      |      CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |           ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS HUGEINT) END
      |      ELSE 0 END) AS BIGINT) AS simhash
      |  FROM weights GROUP BY doc_id)""".stripMargin

  // Shared DuckDB CTE pair (depends on shash): the 4×16-bit pigeonhole
  // chunk relation and the blocked candidate pairs — mirrors
  // graft.ops.Dedup.blockKeys/candidates under Dedup.Plain:
  // SimHashBits=64, nChunks=4 (maxDist 3). Shift amounts 0/16/32/48
  // with a 16-bit mask never touch sign-extension bits, so the chunk
  // keys are engine-independent.
  // The pigeonhole chunk relation alone (Dedup.blockKeys in SQL) —
  // the ONE place the 16-bit shift/mask chunk key is written; every
  // blocked-join oracle (cand below, the admission split) reuses it.
  private val chunkRelCte =
    """chunks AS (
      |  SELECT doc_id, simhash, j,
      |    CAST((simhash >> (16 * CAST(j AS INT))) & 65535 AS BIGINT) AS ck
      |  FROM shash, UNNEST(range(0, 4)) AS u(j))""".stripMargin

  private val chunksCte =
    s"""$chunkRelCte,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.simhash AS ha, b.simhash AS hb
      |  FROM chunks a JOIN chunks b
      |    ON a.j = b.j AND a.ck = b.ck AND a.doc_id < b.doc_id)""".stripMargin

  // Shared DuckDB CTE chain ending in q(doc_id, source, n_tokens,
  // quality_score, en_ratio, keep_id, bucket) — the curation-gate
  // derivation Pipeline.gated runs (language/quality/dedup/sample
  // signals per document).
  private val curationCte =
    """base AS (SELECT doc_id, text, source, string_split(text, ' ') AS w FROM documents),
      |m AS (
      |  SELECT doc_id, text, source,
      |    CAST(len(w) AS BIGINT) AS n_tokens,
      |    CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS BIGINT) AS sum_len,
      |    CAST(len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS BIGINT) AS n_stop,
      |    CAST(len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of')) AS BIGINT) AS n_en
      |  FROM base),
      |r AS (
      |  SELECT doc_id, text, source, n_tokens,
      |    floor(CAST(sum_len AS DOUBLE) / n_tokens * 1000000) / 1000000 AS avg_token_len,
      |    floor(CAST(n_stop AS DOUBLE) / n_tokens * 1000000) / 1000000 AS stop_ratio,
      |    floor(CAST(n_en AS DOUBLE) / n_tokens * 1000000) / 1000000 AS en_ratio
      |  FROM m),
      |q AS (
      |  SELECT *,
      |    floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
      |        + (1.0 - stop_ratio) * 0.3
      |        + least(avg_token_len / 8.0, 1.0) * 0.3) * 1000000) / 1000000 AS quality_score,
      |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
      |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS BIGINT) AS bucket
      |  FROM r)""".stripMargin

  // DuckDB shared view of the reference's log shape, derived from events
  // exactly as LogQueries.logsView does.
  private val logsCte =
    """WITH logs AS (
      |  SELECT ts AS "timestamp", event_type AS level, props AS message,
      |         'c' || CAST(user_id % 4 AS VARCHAR) AS container,
      |         's' || CAST(user_id AS VARCHAR) AS session
      |  FROM events
      |)""".stripMargin

  // Full BPE-trainer oracle: the 10 merge rounds UNROLLED as CTE chains.
  // Each word type is a separator-wrapped symbol string (" a  b  c " —
  // every symbol padded with one space on each side; symbols come from
  // space-split tokens so they can never contain the separator), which
  // makes one greedy left-to-right non-overlapping merge round a plain
  // `replace(w, ' l  r ', ' lr ')`: SQL replace scans left-to-right
  // without overlap, exactly BPE's apply, and a merged symbol can never
  // spuriously re-match because l||r ≠ l and l||r ≠ r. Pair counts per
  // round re-split on the double separator; the argmax tie-break
  // (n DESC, l, r) uses DuckDB's binary collation = Spark's UTF-8
  // binary string order. An exhausted corpus yields an empty m_k whose
  // cross join empties every later round — the same early stop as the
  // trainer's `exhausted` flag.
  // Shared CTE chain for the BPE family: t0 is the (token, padded-symbol-
  // string, tf) type relation; each round k appends p_k (pair counts),
  // m_k (argmax merge) and t_k (post-merge state). The LEFT JOIN in t_k
  // keeps the type state intact when a round finds no merge (m_k empty →
  // replace() gets NULL args → coalesce falls back to w), so t{n} is the
  // final encoded vocabulary even under early exhaustion — while the
  // trainer's output rows, which read only the m_k CTEs, are unaffected.
  // Every CTE in the chain is AS MATERIALIZED: each t_k is referenced by
  // both p_{k+1} and t_{k+1}, and the chain's tail (t10) by multiple
  // consumers in the *_bpe oracles — DuckDB's default inlining
  // re-evaluates the whole 10-round chain once per reference (measured
  // 265 s → 0.7 s at sf0.01 for pipe_temperature_mixture_bpe).
  private def bpeRoundsCte(nMerges: Int, docWhere: String = ""): String = {
    val rounds = (1 to nMerges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(tf) AS BIGINT) AS n
         |  FROM (SELECT tf, string_split(trim(w, ' '), '  ') AS s FROM t${k - 1}) q,
         |       UNNEST(range(1, len(s))) AS u(i)
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
         |t$k AS MATERIALIZED (
         |  SELECT tok,
         |    coalesce(replace(w, ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' '), w) AS w,
         |    tf
         |  FROM t${k - 1} LEFT JOIN m$k m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""t0 AS MATERIALIZED (
       |  SELECT tok, regexp_replace(tok, '(.)', ' \\1 ', 'g') AS w, COUNT(*) AS tf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents$docWhere) x
       |  GROUP BY tok),
       |$rounds""".stripMargin
  }

  private val bpeTrainOracle: String = {
    val nMerges = 10
    val finals = (1 to nMerges).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS rk, l AS "left", r AS "right", l || r AS merged, n FROM m$k"""
    }.mkString("\n  UNION ALL ")
    s"""WITH ${bpeRoundsCte(nMerges)}
       |SELECT * FROM (
       |  $finals) z
       |ORDER BY rk""".stripMargin
  }

  // Shared BM25 CTE chain ending in `lexranked` (query_id, doc_id,
  // score_u, rk) — the DSIR ln-truncation convention: idf in integer
  // micro-units off exact BIGINT corpus stats, per-term contributions
  // floored before the order-free integer SUM (round 15). Used by the
  // text_bm25_topk oracle (rk <= 5) and the hybrid-RRF oracle (rk <=
  // pool) — one text, so the lexical leg cannot drift between them.
  private val bm25RankedCte: String =
    """posts AS MATERIALIZED (
      |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) x
      |  WHERE term <> '' GROUP BY 1, 2),
      |dl AS MATERIALIZED (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM posts GROUP BY 1),
      |corp AS MATERIALIZED (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tl FROM dl),
      |dfr AS MATERIALIZED (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM posts GROUP BY 1),
      |qt AS MATERIALIZED (
      |  SELECT doc_id AS query_id, term FROM posts WHERE doc_id < 8),
      |idf AS MATERIALIZED (
      |  SELECT term,
      |    CAST(FLOOR(LN((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) * 1000000) AS BIGINT) AS idf_u
      |  FROM (SELECT DISTINCT term FROM qt) t JOIN dfr USING (term), corp),
      |lexscored AS MATERIALIZED (
      |  SELECT qt.query_id, p.doc_id,
      |    CAST(SUM(CAST(FLOOR(idf_u * (p.tf * 2.2) /
      |      (p.tf + 1.2 * (0.25 + 0.75 * d.dl * c.n / CAST(c.tl AS DOUBLE)))) AS BIGINT)) AS BIGINT) AS score_u
      |  FROM qt JOIN posts p USING (term)
      |       JOIN idf USING (term)
      |       JOIN dl d ON p.doc_id = d.doc_id, corp c
      |  WHERE p.doc_id <> qt.query_id
      |  GROUP BY 1, 2),
      |lexranked AS MATERIALIZED (
      |  SELECT query_id, doc_id, score_u,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS rk
      |  FROM lexscored)""".stripMargin

  // SAMPLED trainer oracle (round-15): the same unrolled chain with t0
  // restricted to the deterministic doc_id % 100 < 50 half-corpus —
  // exactly TextAnalysis.bpeTrain(sampleFraction = 0.5).
  private val bpeTrainSampledOracle: String = {
    val nMerges = 10
    val finals = (1 to nMerges).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS rk, l AS "left", r AS "right", l || r AS merged, n FROM m$k"""
    }.mkString("\n  UNION ALL ")
    s"""WITH ${bpeRoundsCte(nMerges, " WHERE doc_id % 100 < 50")}
       |SELECT * FROM (
       |  $finals) z
       |ORDER BY rk""".stripMargin
  }

  // Sampled-train / full-encode oracle (round-15): the m_k merges come
  // from the SAMPLED chain, then a second chain f0..f10 applies them —
  // the identical replace() apply — to the FULL corpus's type relation,
  // whose tail f10 is the vocabulary the (doc, token) stream joins.
  // This replays TextAnalysis.bpeEncodeSampled: the iterative argmax
  // loop prices only the sample; the full corpus pays one merge-apply
  // pass plus the usual encode join.
  private val bpeEncodeSampledOracle: String = {
    val fullApply = (1 to 10).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT tok,
         |    coalesce(replace(w, ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' '), w) AS w,
         |    tf
         |  FROM f${k - 1} LEFT JOIN m$k m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeRoundsCte(10, " WHERE doc_id % 100 < 50")},
       |f0 AS MATERIALIZED (
       |  SELECT tok, regexp_replace(tok, '(.)', ' \\1 ', 'g') AS w, COUNT(*) AS tf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) x
       |  GROUP BY tok),
       |$fullApply,
       |enc AS MATERIALIZED (
       |  SELECT tok, CAST(len(string_split(trim(w, ' '), '  ')) AS BIGINT) AS n_syms
       |  FROM f10),
       |dt AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |SELECT doc_id,
       |  COUNT(*) AS n_tokens,
       |  CAST(SUM(n_syms) AS BIGINT) AS n_symbols,
       |  CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
       |  floor(CAST(SUM(length(tok)) AS DOUBLE) / SUM(n_syms) * 1000000) / 1000000
       |    AS chars_per_symbol
       |FROM dt JOIN enc USING (tok)
       |WHERE tok <> ''
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // Encode oracle: the trainer chain's FINAL type state t10 is the
  // encoded vocabulary; symbol counts re-split the padded string, then
  // the (doc, token) stream joins it and aggregates per document —
  // exactly TextAnalysis.bpeEncode's join+agg replayed in SQL.
  private val bpeEncodeOracle: String =
    s"""WITH ${bpeRoundsCte(10)},
       |enc AS MATERIALIZED (
       |  SELECT tok, CAST(len(string_split(trim(w, ' '), '  ')) AS BIGINT) AS n_syms
       |  FROM t10),
       |dt AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |SELECT doc_id,
       |  COUNT(*) AS n_tokens,
       |  CAST(SUM(n_syms) AS BIGINT) AS n_symbols,
       |  CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
       |  floor(CAST(SUM(length(tok)) AS DOUBLE) / SUM(n_syms) * 1000000) / 1000000
       |    AS chars_per_symbol
       |FROM dt JOIN enc USING (tok)
       |WHERE tok <> ''
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // Per-document trained-tokenizer token counts — the shared
  // denominator CTE tail of every `*_bpe` packing/budget oracle
  // (mirrors Pipeline.bpeTokenRelation: docs encoding to 0 tokens keep
  // their rows via the left join). Requires bpeRoundsCte(10) in scope.
  private val bpePerDocCte: String =
    """enc AS MATERIALIZED (
      |  SELECT tok, CAST(len(string_split(trim(w, ' '), '  ')) AS BIGINT) AS n_syms
      |  FROM t10),
      |dt AS MATERIALIZED (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |pd AS MATERIALIZED (
      |  SELECT doc_id, CAST(SUM(n_syms) AS BIGINT) AS n_bpe
      |  FROM dt JOIN enc USING (tok)
      |  WHERE tok <> ''
      |  GROUP BY doc_id),
      |t AS MATERIALIZED (
      |  SELECT d.doc_id, d.source, COALESCE(pd.n_bpe, CAST(0 AS BIGINT)) AS n_tokens
      |  FROM documents d LEFT JOIN pd USING (doc_id))""".stripMargin

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  /** Twins that read a persisted index are SEMANTICALLY identical to
    * their in-plan originals — they share the one oracle text so the
    * two can never drift. */
  def oracleSql: Map[String, String] =
    oracleSqlLiteral ++ Map(
      "ann_ivf_indexed"       -> "ann_ivf_topk",
      // persisted-chunk-index, hot-block-salted, and pair-of-chunks
      // candidate generation all produce dedup_hamming's exact pair set
      "dedup_hamming_indexed" -> "dedup_hamming",
      "dedup_hamming_salted"  -> "dedup_hamming",
      "dedup_hamming_wide"    -> "dedup_hamming",
      "dedup_hamming_wide_salted" -> "dedup_hamming",
      "dedup_hamming_auto"    -> "dedup_hamming",
      "dedup_ngram_indexed"   -> "dedup_ngram_jaccard",
      // persisted SemDeDup component table serves the identical rollup
      "dedup_semantic_indexed" -> "dedup_semantic",
      "dedup_minhash_indexed" -> "dedup_minhash_lsh",
      "dedup_ngram_seg"       -> "dedup_ngram_jaccard",
      "dedup_admission_indexed" -> "dedup_admission",
      // incremental moment maintenance ≡ full recompute BY ADDITIVITY
      // of exact integer moments — the shared oracle text IS the proof
      // obligation (any overlap/gap in the slice combine breaks it)
      "emb_moments_incr"      -> "emb_covariance",
      // the persisted media chunk index serves the identical pair set
      "mm_phash_indexed"      -> "mm_phash_neardup",
      // export-then-verify serves the receipt RE-DERIVED from the
      // written shard bytes; the in-op require proves it equals the
      // in-plan receipt, so the two share one oracle text
      "pipe_export_verify"    -> "pipe_shard_manifest",
      // the index-served frozen admission shares the in-plan form's
      // decision body (admissionFrozenOver) — identical rows by
      // construction, proven in AdmissionFrozenSpec
      "pipe_curation_admit_indexed" -> "pipe_curation_admit",
      // encode from the persisted vocab table shares the loop-trained
      // form's encode body (encodeOver) — identical rows by
      // construction, proven at oracle-unreachable merge depths in
      // BpeVocabSpec
      "text_bpe_encode_table" -> "text_bpe_encode",
      // the persisted-postings BM25 probe shares the in-plan body
      "text_bm25_indexed"     -> "text_bm25_topk",
      // the positional-postings phrase probe shares the in-plan body
      "text_phrase_indexed"   -> "text_phrase_topk",
      // stage 1 off the persisted prefix table shares the in-plan
      // two-stage body (prefixTopKOver) and the ONE prefix derivation
      // (prefixVectors) — identical rows by construction
      "ann_prefix_indexed" -> "ann_prefix_topk",
    ).map { case (twin, original) => twin -> oracleSqlLiteral(original) }

  private def oracleSqlLiteral: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($discPrice) AS DOUBLE) AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_returnflag = 'R' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_star_join" ->
      s"""SELECT r_name, n_name,
         |  CAST(SUM($discPrice) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,
    "q4_top_customers" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY total_spent DESC, c_custkey
        |LIMIT 10""".stripMargin,
    "q5_window_rank" ->
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY part_rev DESC, p_partkey) AS rk
        |  FROM rev)
        |SELECT p_brand, p_partkey, part_rev, rk FROM ranked
        |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin,
    "q6_distinct_agg" ->
      """SELECT c_mktsegment,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // q21 emits (exact count, bound-holds flag): the oracle recomputes
    // the exact distinct count and asserts the HLL estimate stayed
    // within its 3·rsd design bound (the flag Spark computed is hashed,
    // so a sketch drifting out of bound fails the gate)
    "q21_approx_distinct" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS exact_customers,
        |  CAST(1 AS BIGINT) AS within_3rsd
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q7_union_all" ->
      """WITH u AS (
        |  SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value FROM events
        |  WHERE event_type = 'purchase' AND value > 150)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q8_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q9_rollup" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |       COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    "q10_semi_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q11_time_bucket" ->
      """SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY date_trunc('day', ts), event_type
        |ORDER BY day, event_type""".stripMargin,
    "q12_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, value, ts,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |numbered AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM flagged),
        |per_sess AS (
        |  SELECT user_id, sess_id, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sess_value
        |  FROM numbered GROUP BY user_id, sess_id)
        |SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
        |  CAST(SUM(CAST(sess_value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q13_argmax" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
        |  FROM events) t
        |WHERE rk = 1 ORDER BY user_id""".stripMargin,
    "q14_asof_join" ->
      """SELECT event_id, user_id, ts, value, last_error_ts FROM (
        |  SELECT event_id, user_id, ts, value, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_ts
        |  FROM events) t
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q15_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q16_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q18_cube" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |       COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    "q19_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q20_array_agg" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q17_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q22_range_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) AS ts_sec,
        |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(SUM(is_err) OVER (PARTITION BY user_id ORDER BY ts_sec
        |      RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_recent_errors
        |  FROM e)
        |SELECT event_id, user_id, n_recent_errors FROM w
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q23_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |       COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    "q24_left_join" ->
      """WITH big AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity >= 45)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CASE WHEN big.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_big_items
        |FROM orders LEFT JOIN big ON o_orderkey = big.l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q25_set_ops" ->
      """WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 150),
        |errorers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 150),
        |tagged AS (
        |  SELECT user_id, 'both' AS set_op FROM (SELECT user_id FROM buyers INTERSECT SELECT user_id FROM errorers) t
        |  UNION ALL
        |  SELECT user_id, 'purchase_only' FROM (SELECT user_id FROM buyers EXCEPT SELECT user_id FROM errorers) t
        |  UNION ALL
        |  SELECT user_id, 'error_only' FROM (SELECT user_id FROM errorers EXCEPT SELECT user_id FROM buyers) t)
        |SELECT set_op, COUNT(*) AS n_users FROM tagged
        |GROUP BY set_op ORDER BY set_op""".stripMargin,
    "q33_event_funnel" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
        |  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
        |  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM u""".stripMargin,
    "q34_event_gaps" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_gaps,
        |  CAST(MIN(date_diff('microseconds', prev_ts, ts)) AS BIGINT) AS min_gap_us,
        |  CAST(MAX(date_diff('microseconds', prev_ts, ts)) AS BIGINT) AS max_gap_us,
        |  CAST(SUM(date_diff('microseconds', prev_ts, ts)) // COUNT(*) AS BIGINT) AS avg_gap_us
        |FROM g WHERE prev_ts IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q35_median_iqr" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT l_returnflag, COUNT(*) AS n_items,
        |  quantile_cont(cents, 0.25) / 100.0 AS p25,
        |  quantile_cont(cents, 0.5)  / 100.0 AS median,
        |  quantile_cont(cents, 0.75) / 100.0 AS p75
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // identical oracle to q14 by design: the custom-operator path must
    // reproduce the window encoding's result exactly
    "q37_asof_custom" ->
      """SELECT event_id, user_id, ts, value, last_error_ts FROM (
        |  SELECT event_id, user_id, ts, value, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_ts
        |  FROM events) t
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q38_asof_tolerance" ->
      """SELECT event_id, user_id, ts, value,
        |  CASE WHEN date_diff('microsecond', last_error_ts, ts) <= 1800000000
        |       THEN last_error_ts END AS recent_error_ts
        |FROM (
        |  SELECT event_id, user_id, ts, value, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error_ts
        |  FROM events) t
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q36_gap_fill" ->
      """SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
        |FROM events ORDER BY event_id""".stripMargin,
    "q39_interval_join" ->
      """WITH e AS (
        |  SELECT *, CAST(FLOOR(date_part('epoch', ts)) AS BIGINT) AS ts_sec FROM events),
        |g AS (
        |  SELECT *, LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id)
        |    AS prev_sec
        |  FROM e),
        |sid AS (
        |  SELECT *, SUM(CASE WHEN prev_sec IS NULL OR ts_sec > prev_sec + 1800
        |                     THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sess_id, MIN(ts_sec) AS sstart, MAX(ts_sec) AS send
        |  FROM sid GROUP BY 1, 2),
        |inc AS (
        |  SELECT ts_sec // 3600 AS hb, COUNT(*) AS n_err
        |  FROM e WHERE event_type = 'error' GROUP BY 1 HAVING COUNT(*) >= 6)
        |SELECT i.hb AS incident_hour, CAST(MAX(i.n_err) AS BIGINT) AS n_err,
        |  COUNT(*) AS n_sessions, CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
        |FROM inc i JOIN sess s
        |  ON s.sstart // 3600 <= i.hb AND s.send // 3600 >= i.hb
        |GROUP BY i.hb ORDER BY incident_hour""".stripMargin,
    "text_collocations" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t),
        |tokdf AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
        |bg AS (
        |  SELECT a, b, COUNT(*) AS df_ab FROM (
        |    SELECT DISTINCT doc_id, w[i] AS a, w[i+1] AS b
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |         UNNEST(range(1, len(w))) AS u(i)
        |    WHERE len(w) >= 2) p
        |  GROUP BY a, b),
        |top AS (SELECT * FROM bg ORDER BY df_ab DESC, a, b LIMIT 20)
        |SELECT t.a, t.b, t.df_ab, da.df AS df_a, db.df AS df_b,
        |  floor(CAST((SELECT COUNT(*) FROM documents) * t.df_ab AS DOUBLE)
        |        / (da.df * db.df) * 1000000) / 1000000 AS lift
        |FROM top t JOIN tokdf da ON t.a = da.tok JOIN tokdf db ON t.b = db.tok
        |ORDER BY df_ab DESC, a, b""".stripMargin,
    "q32_unpivot" ->
      """WITH agg AS (
        |  SELECT o_orderstatus,
        |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, 'n_orders' AS measure, n_orders AS value FROM agg
        |UNION ALL
        |SELECT o_orderstatus, 'total_price', total_price FROM agg
        |ORDER BY o_orderstatus, measure""".stripMargin,
    "q31_moving_avg" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS dv
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT *, CAST(FLOOR(date_part('epoch', day) / 86400) AS BIGINT) AS day_no
        |  FROM daily)
        |SELECT event_type, day, CAST(dv AS DOUBLE) AS day_value,
        |  floor(CAST(SUM(dv) OVER w AS DOUBLE) / (COUNT(*) OVER w) * 1000000) / 1000000 AS avg7
        |FROM d2
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_no
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "emb_label_confusion" ->
      s"""WITH $vectorsCte,
         |el AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |  FROM vn, UNNEST(range(1, 65)) AS u(i)),
         |cm AS (
         |  SELECT label, pos, FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |  FROM el GROUP BY label, pos),
         |cn AS (
         |  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT label, list(mean ORDER BY pos) AS cv FROM cm GROUP BY label) t),
         |assign AS (
         |  SELECT vec_id, label_true, label_pred FROM (
         |    SELECT vn.vec_id, vn.label AS label_true, c.label AS label_pred,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.label) AS crk
         |    FROM vn CROSS JOIN cn c) t WHERE crk = 1)
         |SELECT label_true, label_pred, COUNT(*) AS n_vecs
         |FROM assign GROUP BY 1, 2 ORDER BY label_true, label_pred""".stripMargin,
    "q30_full_outer" ->
      """WITH b AS (
        |  SELECT user_id, COUNT(*) AS n_purchases FROM events
        |  WHERE event_type = 'purchase' AND value > 150 GROUP BY user_id),
        |e AS (
        |  SELECT user_id, COUNT(*) AS n_errors FROM events
        |  WHERE event_type = 'error' AND value > 150 GROUP BY user_id),
        |j AS (
        |  SELECT CASE WHEN b.user_id IS NULL THEN 'error_only'
        |              WHEN e.user_id IS NULL THEN 'purchase_only'
        |              ELSE 'both' END AS category,
        |         b.n_purchases, e.n_errors
        |  FROM b FULL JOIN e ON b.user_id = e.user_id)
        |SELECT category, COUNT(*) AS n_users,
        |  CAST(SUM(COALESCE(n_purchases, 0)) AS BIGINT) AS total_purchases,
        |  CAST(SUM(COALESCE(n_errors, 0)) AS BIGINT) AS total_errors
        |FROM j GROUP BY category ORDER BY category""".stripMargin,
    "q29_sql_interface" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(li.n_items) AS BIGINT) AS total_items,
        |  CAST(SUM(li.rev) AS DOUBLE) AS revenue
        |FROM orders o
        |JOIN (SELECT l_orderkey, COUNT(*) AS n_items,
        |             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |      FROM lineitem GROUP BY l_orderkey) li
        |  ON o.o_orderkey = li.l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q40_recursive_cte" ->
      // ONE ANSI text parsed by both engines (see q40RecursiveCte):
      // integer-only key-parent arithmetic ((k - k%8)/8 is exact in
      // double below 2^53, CAST truncates identically), floor-cents
      // path sums, and the o_orderkey >= 8 guard that breaks key 0's
      // key-parent self-cycle
      """WITH RECURSIVE chain AS (
        |  SELECT o_orderkey, CAST(0 AS BIGINT) AS depth,
        |         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS path_cents
        |  FROM orders WHERE o_orderkey < 8
        |  UNION ALL
        |  SELECT o.o_orderkey, c.depth + 1,
        |         c.path_cents + CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)
        |  FROM orders o JOIN chain c
        |    ON CAST((o.o_orderkey - (o.o_orderkey % 8)) / 8 AS BIGINT) = c.o_orderkey
        |  WHERE o.o_orderkey >= 8
        |)
        |SELECT depth, COUNT(*) AS n_orders,
        |       CAST(SUM(path_cents) AS BIGINT) AS total_path_cents
        |FROM chain GROUP BY depth ORDER BY depth""".stripMargin,
    "q28_topk_agg" ->
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY part_rev DESC, p_partkey) AS rk
        |  FROM rev)
        |SELECT p_brand, p_partkey, part_rev, rk FROM ranked
        |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin,
    "q26_distribution_rank" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, c_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, c_custkey)
        |SELECT c_mktsegment, c_custkey, total_spent,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  floor(PERCENT_RANK() OVER w * 1000000) / 1000000 AS pct_rank,
        |  floor(CUME_DIST() OVER w * 1000000) / 1000000 AS cume
        |FROM spend
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY total_spent, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "q27_corr_subquery" ->
      """SELECT o_orderpriority, COUNT(*) AS n_above,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_above
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2))
        |      * (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
        |    > (SELECT SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) FROM orders i
        |       WHERE i.o_custkey = o.o_custkey)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "log_volume_anomaly" ->
      s"""$logsCte,
         |daily AS (
         |  SELECT container, date_trunc('day', "timestamp") AS day, COUNT(*) AS n
         |  FROM logs GROUP BY 1, 2),
         |st AS (
         |  SELECT *, CAST(SUM(n) OVER (PARTITION BY container)
         |            // COUNT(n) OVER (PARTITION BY container) AS BIGINT) AS mean_n
         |  FROM daily)
         |SELECT container, day, n, mean_n,
         |  CAST(n - mean_n AS BIGINT) AS dev,
         |  CAST(CASE WHEN n > 2 * mean_n THEN 1 ELSE 0 END AS BIGINT) AS spike
         |FROM st ORDER BY container, day""".stripMargin,
    "ann_pq_topk" ->
      s"""WITH $vectorsCte,
         |subs AS (
         |  SELECT vec_id, m, list_slice(v, CAST(m AS INT) * 8 + 1, CAST(m AS INT) * 8 + 8) AS sv
         |  FROM vn, UNNEST(range(0, 8)) AS u(m)),
         |cw AS (
         |  SELECT m, CAST(vec_id - 100 AS BIGINT) AS code_id, sv AS cw,
         |         list_dot_product(sv, sv) AS cn2
         |  FROM subs WHERE vec_id >= 100 AND vec_id < 104),
         |codes AS (
         |  SELECT vec_id, m, code_id FROM (
         |    SELECT s.vec_id, s.m, c.code_id,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY list_dot_product(s.sv, c.cw) - c.cn2 / 2 DESC, c.code_id) AS crk
         |    FROM subs s JOIN cw c ON s.m = c.m) t WHERE crk = 1),
         |lut AS (
         |  SELECT s.vec_id AS query_id, s.m, c.code_id,
         |    CAST(FLOOR(list_dot_product(s.sv, c.cw) * 1000000) AS BIGINT) AS pq
         |  FROM subs s JOIN cw c ON s.m = c.m WHERE s.vec_id < 8),
         |scored AS (
         |  SELECT l.query_id, co.vec_id AS neighbor_id, CAST(SUM(l.pq) AS BIGINT) AS iscore
         |  FROM codes co JOIN lut l ON co.m = l.m AND co.code_id = l.code_id
         |  WHERE co.vec_id <> l.query_id
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY iscore DESC, neighbor_id) AS srk
         |    FROM scored) t WHERE srk <= 100),
         |rerank AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |    list_dot_product(q.v, n.v) / (q.norm * n.norm) AS cos
         |  FROM short sh
         |  JOIN vn q ON sh.query_id = q.vec_id
         |  JOIN vn n ON sh.neighbor_id = n.vec_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM rerank)
         |SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk,
         |  floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "ann_ivf_pq" ->
      s"""WITH $vectorsCte,
         |$ivfPqRankedCte
         |SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk,
         |  floor(cos * 1000000) / 1000000 AS cos
         |FROM pqranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "emb_pca" ->
      s"""WITH $pcaChainCte,
         |ray AS (SELECT SUM(p.v * w.w) AS num, SUM(p.v * p.v) AS den
         |  FROM it10 p JOIN wf w ON p.i = w.i),
         |tr AS (SELECT SUM(c) AS trace FROM mat WHERE i = j),
         |sh AS (SELECT ((num // (CASE WHEN den = 0 THEN 1 ELSE den END)) * 1000000)
         |              // (CASE WHEN trace = 0 THEN 1 ELSE trace END) AS ppm
         |       FROM ray, tr)
         |SELECT p.i, CAST(p.v AS DOUBLE) / 1000000 AS pc,
         |       CAST(sh.ppm AS DOUBLE) / 1000000 AS ev_share
         |FROM it10 p, sh ORDER BY p.i""".stripMargin,
    "emb_top_dir" ->
      // the same power-iteration chain derives the direction; the tail
      // projects every vector onto it (d as a 64-element list — the
      // Spark side embeds it as a LITERAL array from the driver-side
      // iteration, so both engines score against identical doubles:
      // v_i/1e6 is exact for |v_i| <= 1e6)
      s"""WITH $pcaChainCte,
         |dl AS (SELECT list(CAST(v AS DOUBLE) / 1000000 ORDER BY i) AS d FROM it10),
         |sc AS (
         |  SELECT vn.label,
         |    CASE WHEN list_dot_product(dl.d, dl.d) = 0 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(FLOOR(
         |           list_dot_product(vn.v, dl.d) * list_dot_product(vn.v, dl.d)
         |           / (vn.norm * vn.norm * list_dot_product(dl.d, dl.d))
         |           * 1000000) AS BIGINT) END AS shq
         |  FROM vn, dl WHERE vn.norm > 0)
         |SELECT label, COUNT(*) AS n_vectors,
         |  FLOOR(CAST(SUM(shq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean_top_share
         |FROM sc GROUP BY label ORDER BY label""".stripMargin,
    "emb_abtt" ->
      // the same power-iteration chain derives the direction; the tail
      // deflates every vector (v' = v - (v·d / d·d)·d — identical
      // IEEE op order to Spark's zip_with lambda: divide, multiply,
      // subtract) and replays the labelCohesion recipe on BOTH sides
      // (micro-quantized centroids + integer cosine sums). After-side
      // membership excludes v' = 0 (vectors parallel to d) on both
      // engines; a zero direction passes vectors through.
      s"""WITH $pcaChainCte,
         |dl AS (SELECT list(CAST(v AS DOUBLE) / 1000000 ORDER BY i) AS d FROM it10),
         |dd AS (SELECT list_dot_product(d, d) AS ddot FROM dl),
         |bv AS (
         |  SELECT vn.vec_id, vn.label, vn.v, vn.norm,
         |         list_dot_product(vn.v, dl.d) AS proj
         |  FROM vn, dl WHERE vn.norm > 0),
         |vrd AS (
         |  SELECT b.vec_id, b.label, CAST(i - 1 AS BIGINT) AS pos,
         |         CASE WHEN dd.ddot = 0 THEN b.v[i]
         |              ELSE b.v[i] - b.proj / dd.ddot * dl.d[i] END AS xr
         |  FROM bv b, dl, dd, UNNEST(range(1, 65)) AS u(i)),
         |vrn AS (
         |  SELECT vec_id, label, vr, sqrt(list_dot_product(vr, vr)) AS nr
         |  FROM (SELECT vec_id, label, list(xr ORDER BY pos) AS vr
         |        FROM vrd GROUP BY vec_id, label) t),
         |cb AS (
         |  SELECT label, pos, FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |  FROM (SELECT label, CAST(i - 1 AS BIGINT) AS pos,
         |          CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |        FROM bv, UNNEST(range(1, 65)) AS u(i)) t
         |  GROUP BY label, pos),
         |cbn AS (
         |  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT label, list(mean ORDER BY pos) AS cv FROM cb GROUP BY label) t),
         |bagg AS (
         |  SELECT b.label, COUNT(*) AS n_vectors,
         |    FLOOR(CAST(SUM(CAST(FLOOR(
         |      list_dot_product(c.cv, b.v) / (c.cnorm * b.norm) * 1000000) AS BIGINT))
         |      AS DOUBLE) / COUNT(*)) / 1000000 AS coh_before
         |  FROM bv b JOIN cbn c ON b.label = c.label GROUP BY b.label),
         |ca AS (
         |  SELECT r.label, r.pos,
         |    FLOOR(CAST(SUM(CAST(FLOOR(r.xr * 1000000) AS BIGINT)) AS DOUBLE)
         |      / COUNT(*)) / 1000000 AS mean
         |  FROM vrd r JOIN vrn n ON r.vec_id = n.vec_id
         |  WHERE n.nr > 0 GROUP BY r.label, r.pos),
         |can AS (
         |  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT label, list(mean ORDER BY pos) AS cv FROM ca GROUP BY label) t),
         |aagg AS (
         |  SELECT n.label,
         |    FLOOR(CAST(SUM(CAST(FLOOR(
         |      list_dot_product(c.cv, n.vr) / (c.cnorm * n.nr) * 1000000) AS BIGINT))
         |      AS DOUBLE) / COUNT(*)) / 1000000 AS coh_after
         |  FROM vrn n JOIN can c ON n.label = c.label WHERE n.nr > 0 GROUP BY n.label)
         |SELECT b.label, b.n_vectors, b.coh_before, a.coh_after,
         |       a.coh_after - b.coh_before AS delta
         |FROM bagg b JOIN aagg a ON b.label = a.label ORDER BY b.label""".stripMargin,
    "emb_pca_topk" ->
      // the deflation chain's three directions + each component's
      // explained share of the ORIGINAL trace (lam_2/lam_3/lam_4 are
      // components 1/2/3's Rayleigh quotients — see pcaDeflateCte).
      // Share = sdiv(lam·1e6, trace), sign-split to mirror BigInt
      // truncation; comp 1 is bit-identical to emb_pca's rows.
      s"""WITH $pcaChainCte,
         |$pcaDeflateCte,
         |tr AS (SELECT SUM(c) AS trace FROM mat WHERE i = j),
         |shx AS (
         |  SELECT c.comp, CASE WHEN t.trace = 0 THEN 0
         |           WHEN (c.lam * 1000000) < 0 THEN -((-(c.lam * 1000000)) // t.trace)
         |           ELSE (c.lam * 1000000) // t.trace END AS ppm
         |  FROM (SELECT 1 AS comp, lam FROM lam_2
         |        UNION ALL SELECT 2, lam FROM lam_3
         |        UNION ALL SELECT 3, lam FROM lam_4) c, tr t)
         |SELECT comp, i, pc, ev_share FROM (
         |  SELECT CAST(1 AS BIGINT) AS comp, p.i,
         |         CAST(p.v AS DOUBLE) / 1000000 AS pc,
         |         CAST(s.ppm AS DOUBLE) / 1000000 AS ev_share
         |  FROM it10 p, shx s WHERE s.comp = 1
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), p.i, CAST(p.v AS DOUBLE) / 1000000,
         |         CAST(s.ppm AS DOUBLE) / 1000000
         |  FROM it10_2 p, shx s WHERE s.comp = 2
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), p.i, CAST(p.v AS DOUBLE) / 1000000,
         |         CAST(s.ppm AS DOUBLE) / 1000000
         |  FROM it10_3 p, shx s WHERE s.comp = 3) t
         |ORDER BY comp, i""".stripMargin,
    "emb_whiten" ->
      // the full all-but-the-top: strip directions 1..3 SEQUENTIALLY
      // (r_t = r_{t-1} − proj/ddot·d_t, identical IEEE op order to
      // Spark's chained zip_with lambdas), then the emb_abtt cohesion
      // recipe on both sides. After-side membership excludes r = 0 on
      // both engines; a zero direction at any step passes through.
      s"""WITH $pcaChainCte,
         |$pcaDeflateCte,
         |dl1 AS (SELECT list(CAST(v AS DOUBLE) / 1000000 ORDER BY i) AS d FROM it10),
         |dl2 AS (SELECT list(CAST(v AS DOUBLE) / 1000000 ORDER BY i) AS d FROM it10_2),
         |dl3 AS (SELECT list(CAST(v AS DOUBLE) / 1000000 ORDER BY i) AS d FROM it10_3),
         |bv AS MATERIALIZED (
         |  SELECT vn.vec_id, vn.label, vn.v, vn.norm FROM vn WHERE vn.norm > 0),
         |p1 AS (SELECT b.vec_id, b.label, b.v AS r, list_dot_product(b.v, dl1.d) AS proj
         |       FROM bv b, dl1),
         |r1d AS (SELECT p.vec_id, p.label, CAST(i - 1 AS BIGINT) AS pos,
         |        CASE WHEN list_dot_product(dl1.d, dl1.d) = 0 THEN p.r[i]
         |             ELSE p.r[i] - p.proj / list_dot_product(dl1.d, dl1.d) * dl1.d[i] END AS xr
         |        FROM p1 p, dl1, UNNEST(range(1, 65)) AS u(i)),
         |r1 AS MATERIALIZED (
         |  SELECT vec_id, label, list(xr ORDER BY pos) AS r FROM r1d GROUP BY vec_id, label),
         |p2 AS (SELECT t.vec_id, t.label, t.r, list_dot_product(t.r, dl2.d) AS proj
         |       FROM r1 t, dl2),
         |r2d AS (SELECT p.vec_id, p.label, CAST(i - 1 AS BIGINT) AS pos,
         |        CASE WHEN list_dot_product(dl2.d, dl2.d) = 0 THEN p.r[i]
         |             ELSE p.r[i] - p.proj / list_dot_product(dl2.d, dl2.d) * dl2.d[i] END AS xr
         |        FROM p2 p, dl2, UNNEST(range(1, 65)) AS u(i)),
         |r2 AS MATERIALIZED (
         |  SELECT vec_id, label, list(xr ORDER BY pos) AS r FROM r2d GROUP BY vec_id, label),
         |p3 AS (SELECT t.vec_id, t.label, t.r, list_dot_product(t.r, dl3.d) AS proj
         |       FROM r2 t, dl3),
         |r3d AS MATERIALIZED (
         |  SELECT p.vec_id, p.label, CAST(i - 1 AS BIGINT) AS pos,
         |        CASE WHEN list_dot_product(dl3.d, dl3.d) = 0 THEN p.r[i]
         |             ELSE p.r[i] - p.proj / list_dot_product(dl3.d, dl3.d) * dl3.d[i] END AS xr
         |        FROM p3 p, dl3, UNNEST(range(1, 65)) AS u(i)),
         |vrn AS MATERIALIZED (
         |  SELECT vec_id, label, vr, sqrt(list_dot_product(vr, vr)) AS nr
         |  FROM (SELECT vec_id, label, list(xr ORDER BY pos) AS vr
         |        FROM r3d GROUP BY vec_id, label) t),
         |cb AS (
         |  SELECT label, pos, FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |  FROM (SELECT label, CAST(i - 1 AS BIGINT) AS pos,
         |          CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |        FROM bv, UNNEST(range(1, 65)) AS u(i)) t
         |  GROUP BY label, pos),
         |cbn AS (
         |  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT label, list(mean ORDER BY pos) AS cv FROM cb GROUP BY label) t),
         |bagg AS (
         |  SELECT b.label, COUNT(*) AS n_vectors,
         |    FLOOR(CAST(SUM(CAST(FLOOR(
         |      list_dot_product(c.cv, b.v) / (c.cnorm * b.norm) * 1000000) AS BIGINT))
         |      AS DOUBLE) / COUNT(*)) / 1000000 AS coh_before
         |  FROM bv b JOIN cbn c ON b.label = c.label GROUP BY b.label),
         |ca AS (
         |  SELECT r.label, r.pos,
         |    FLOOR(CAST(SUM(CAST(FLOOR(r.xr * 1000000) AS BIGINT)) AS DOUBLE)
         |      / COUNT(*)) / 1000000 AS mean
         |  FROM r3d r JOIN vrn n ON r.vec_id = n.vec_id
         |  WHERE n.nr > 0 GROUP BY r.label, r.pos),
         |can AS (
         |  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT label, list(mean ORDER BY pos) AS cv FROM ca GROUP BY label) t),
         |aagg AS (
         |  SELECT n.label,
         |    FLOOR(CAST(SUM(CAST(FLOOR(
         |      list_dot_product(c.cv, n.vr) / (c.cnorm * n.nr) * 1000000) AS BIGINT))
         |      AS DOUBLE) / COUNT(*)) / 1000000 AS coh_after
         |  FROM vrn n JOIN can c ON n.label = c.label WHERE n.nr > 0 GROUP BY n.label)
         |SELECT b.label, b.n_vectors, b.coh_before, a.coh_after,
         |       a.coh_after - b.coh_before AS delta
         |FROM bagg b JOIN aagg a ON b.label = a.label ORDER BY b.label""".stripMargin,
    "emb_label_separation" ->
      s"""WITH $vectorsCte,
         |el AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |  FROM vn, UNNEST(range(1, 65)) AS u(i)),
         |cm AS (
         |  SELECT label, pos, FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |  FROM el GROUP BY label, pos),
         |cn AS (
         |  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT label, list(mean ORDER BY pos) AS cv FROM cm GROUP BY label) t)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  floor(list_dot_product(a.cv, b.cv) / (a.cnorm * b.cnorm) * 1000000) / 1000000 AS cos
         |FROM cn a JOIN cn b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin,
    "text_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '),
        |        t -> CAST(CAST('0x' || substr(md5(t), 1, 4) AS INTEGER) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS roll_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "log_time_range" ->
      s"""$logsCte
         |SELECT * FROM logs
         |WHERE "timestamp" >= TIMESTAMP '2024-01-08 00:00:00'
         |  AND "timestamp" <= TIMESTAMP '2024-01-15 23:59:59'
         |ORDER BY "timestamp", session, message""".stripMargin,
    "log_filter_conj" ->
      s"""$logsCte
         |SELECT * FROM logs
         |WHERE level = 'error' AND container <> 'c0'
         |  AND "timestamp" >= TIMESTAMP '2024-01-08 00:00:00'
         |ORDER BY "timestamp", session, message""".stripMargin,
    "log_count" ->
      s"""$logsCte
         |SELECT COUNT(*) AS n FROM logs
         |WHERE level = 'error'
         |  AND "timestamp" >= TIMESTAMP '2024-01-08 00:00:00'
         |  AND "timestamp" <= TIMESTAMP '2024-01-15 23:59:59'""".stripMargin,
    "log_summary" ->
      s"""$logsCte
         |SELECT container, COUNT(*) AS total_rows,
         |  COUNT(DISTINCT session) AS n_sessions,
         |  MIN("timestamp") AS min_ts, MAX("timestamp") AS max_ts
         |FROM logs GROUP BY container ORDER BY container""".stripMargin,
    "log_partition_slice" ->
      s"""$logsCte
         |SELECT "timestamp", level, message FROM logs
         |WHERE container = 'c1' AND session = 's5'
         |ORDER BY "timestamp", message""".stripMargin,
    "log_store_roundtrip" ->
      s"""$logsCte
         |SELECT * FROM logs
         |WHERE session IN ('s1', 's5', 's9')
         |  AND "timestamp" >= TIMESTAMP '2024-01-03 00:00:00'
         |  AND "timestamp" <= TIMESTAMP '2024-01-28 23:59:59'
         |ORDER BY "timestamp", session, message""".stripMargin,
    // the engine pins manifest v1 (the first append's commit) across a
    // second append + compaction + GC; the oracle derives the same rows
    // directly — the time-travel contract, not the query, is under test
    "log_snapshot_read" ->
      s"""$logsCte
         |SELECT * FROM logs
         |WHERE session = 's7'
         |  AND "timestamp" < TIMESTAMP '2024-01-15 00:00:00'
         |ORDER BY "timestamp", session, message""".stripMargin,
    // the engine appends+compacts s7, physically purges every error row
    // (staged rewrite-then-swap), closes the GC grace window, and reads
    // back the single surviving version; the oracle derives the
    // survivor rows directly — the row-level deletion contract is
    // under test, not the query
    "log_purge" ->
      s"""$logsCte
         |SELECT * FROM logs
         |WHERE session = 's7' AND level <> 'error'
         |ORDER BY "timestamp", session, message""".stripMargin,
    // the engine derives this manifest from a PINNED store version and
    // re-proves the citation replays across compaction+GC before
    // emitting; the oracle derives the same rows directly from events
    "pipe_snapshot_pin" ->
      s"""$logsCte
         |SELECT container, session, CAST(2 AS BIGINT) AS pinned_version, level,
         |  COUNT(*) AS n_rows,
         |  CAST(SUM(CAST('0x' || substr(md5(message), 1, 15) AS BIGINT)
         |           % 1000000007) AS BIGINT) AS msg_digest,
         |  CAST(SUM(epoch_us("timestamp") % 1000000007) AS BIGINT) AS ts_digest
         |FROM logs WHERE session = 's7'
         |GROUP BY container, session, level
         |ORDER BY level""".stripMargin,
    "log_dedup_bursts" ->
      s"""$logsCte,
         |flagged AS (
         |  SELECT container,
         |    CASE WHEN prev_ts IS NULL
         |         OR CAST(FLOOR(date_part('epoch', "timestamp")) AS BIGINT)
         |          - CAST(FLOOR(date_part('epoch', prev_ts)) AS BIGINT) > 60
         |         THEN 1 ELSE 0 END AS kept
         |  FROM (
         |    SELECT container, "timestamp",
         |      LAG("timestamp") OVER (PARTITION BY session, message ORDER BY "timestamp") AS prev_ts
         |    FROM logs) t)
         |SELECT container, COUNT(*) AS n_total,
         |  CAST(SUM(kept) AS BIGINT) AS n_kept
         |FROM flagged GROUP BY container ORDER BY container""".stripMargin,
    "log_error_rate_sli" ->
      s"""$logsCte
         |SELECT container, date_trunc('day', "timestamp") AS day,
         |  COUNT(*) AS n_total,
         |  CAST(SUM(CASE WHEN level = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         |  CAST(10000 * SUM(CASE WHEN level = 'error' THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS rate_bp
         |FROM logs GROUP BY 1, 2 ORDER BY container, day""".stripMargin,
    // Non-negative integer divisions throughout, so DuckDB's flooring
    // `//` and Spark's truncating `div` agree; the 7-day window rides
    // the q31 day_no RANGE recipe.
    "log_burn_rate" ->
      s"""$logsCte,
         |daily AS (
         |  SELECT container, date_trunc('day', "timestamp") AS day,
         |    COUNT(*) AS n_total,
         |    CAST(SUM(CASE WHEN level = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
         |  FROM logs GROUP BY 1, 2),
         |d2 AS (
         |  SELECT *, CAST(FLOOR(date_part('epoch', day) / 86400) AS BIGINT) AS day_no
         |  FROM daily),
         |w AS (
         |  SELECT container, day, n_total, n_errors,
         |    CAST(SUM(n_total) OVER win AS BIGINT) AS w_total,
         |    CAST(SUM(n_errors) OVER win AS BIGINT) AS w_errors
         |  FROM d2
         |  WINDOW win AS (PARTITION BY container ORDER BY day_no
         |                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT container, day, n_total, n_errors,
         |  CAST(100 * (10000 * n_errors // n_total) // 1000 AS BIGINT) AS short_burn_c,
         |  CAST(100 * (10000 * w_errors // w_total) // 1000 AS BIGINT) AS long_burn_c,
         |  CAST(CASE WHEN 100 * (10000 * n_errors // n_total) // 1000 > 200
         |             AND 100 * (10000 * w_errors // w_total) // 1000 > 200
         |            THEN 1 ELSE 0 END AS BIGINT) AS page
         |FROM w ORDER BY container, day""".stripMargin,
    "log_top_messages" ->
      s"""$logsCte,
         |counts AS (
         |  SELECT container, message, COUNT(*) AS n FROM logs GROUP BY 1, 2),
         |ranked AS (
         |  SELECT container, message, n,
         |    ROW_NUMBER() OVER (PARTITION BY container ORDER BY n DESC, message) AS rk
         |  FROM counts)
         |SELECT container, message, n, CAST(rk AS BIGINT) AS rk
         |FROM ranked WHERE rk <= 5 ORDER BY container, rk""".stripMargin,
    "log_hourly_profile" ->
      s"""$logsCte,
         |hourly AS (
         |  SELECT container, CAST(EXTRACT(hour FROM "timestamp") AS BIGINT) AS "hour",
         |         COUNT(*) AS n
         |  FROM logs GROUP BY 1, 2)
         |SELECT container, "hour", n,
         |  CAST(10000 * n // (SUM(n) OVER (PARTITION BY container)) AS BIGINT) AS share_bp
         |FROM hourly ORDER BY container, "hour"""".stripMargin,
    "log_cooccurrence" ->
      s"""$logsCte,
         |errs AS (
         |  SELECT DISTINCT date_trunc('minute', "timestamp") AS m, container
         |  FROM logs WHERE level = 'error')
         |SELECT a.container AS container_a, b.container AS container_b,
         |  COUNT(*) AS n_minutes
         |FROM errs a JOIN errs b ON a.m = b.m AND a.container < b.container
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $simhashCte,
         |$chunksCte,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM cand
         |  WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 3),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
         |comp AS (SELECT src AS doc_id, MIN(dst) AS comp_id FROM reach GROUP BY src),
         |mem AS (
         |  SELECT c.comp_id AS cluster_id, c.doc_id, d.n_chars
         |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
         |SELECT cluster_id,
         |  max_by(doc_id, n_chars * CAST(4294967296 AS BIGINT) - doc_id) AS keep_id,
         |  COUNT(*) AS n_copies, MAX(n_chars) AS keep_chars
         |FROM mem GROUP BY cluster_id HAVING COUNT(*) > 1
         |ORDER BY cluster_id""".stripMargin,
    "dedup_exact_summary" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_unique_texts,
        |  COUNT(DISTINCT md5(lower(trim(text)))) AS n_unique_norm,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_exact_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "dedup_exact_keepers" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
        |ORDER BY keep_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shinglesCte,
         |$pairStatsCte
         |SELECT doc_a, doc_b,
         |  floor(CAST(c AS DOUBLE) / (x.n + y.n - c) * 1000000) / 1000000 AS jaccard
         |FROM common JOIN sizes x ON doc_a = x.doc_id
         |            JOIN sizes y ON doc_b = y.doc_id
         |WHERE floor(CAST(c AS DOUBLE) / (x.n + y.n - c) * 1000000) / 1000000 >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_containment" ->
      s"""WITH $shinglesCte,
         |$pairStatsCte
         |SELECT doc_a, doc_b, x.n AS n_a, y.n AS n_b,
         |  floor(CAST(c AS DOUBLE) / LEAST(x.n, y.n) * 1000000) / 1000000 AS containment
         |FROM common JOIN sizes x ON doc_a = x.doc_id
         |            JOIN sizes y ON doc_b = y.doc_id
         |WHERE floor(CAST(c AS DOUBLE) / LEAST(x.n, y.n) * 1000000) / 1000000 >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Zero-pair thresholds drop from the report on both engines
    // identically (no row survives the >= filter); the affected-rate
    // divisor is the whole corpus, not the candidate-doc count.
    "dedup_threshold_sweep" ->
      s"""WITH $shinglesCte,
         |$pairStatsCte,
         |jp AS (
         |  SELECT doc_a, doc_b,
         |    floor(CAST(c AS DOUBLE) / (x.n + y.n - c) * 1000000) / 1000000 AS jaccard
         |  FROM common JOIN sizes x ON doc_a = x.doc_id
         |              JOIN sizes y ON doc_b = y.doc_id),
         |t AS (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS threshold),
         |pa AS (
         |  SELECT t.threshold, jp.doc_a, jp.doc_b
         |  FROM jp JOIN t ON jp.jaccard >= t.threshold),
         |np AS (SELECT threshold, COUNT(*) AS n_pairs FROM pa GROUP BY threshold),
         |nd AS (
         |  SELECT threshold, COUNT(DISTINCT d) AS n_docs FROM (
         |    SELECT threshold, doc_a AS d FROM pa
         |    UNION ALL SELECT threshold, doc_b FROM pa) u
         |  GROUP BY threshold),
         |tot AS (SELECT COUNT(*) AS n_total FROM documents)
         |SELECT threshold, n_pairs, n_docs,
         |  floor(CAST(n_docs AS DOUBLE) / (SELECT n_total FROM tot) * 1000000) / 1000000
         |    AS affected_rate
         |FROM np JOIN nd USING (threshold)
         |ORDER BY threshold""".stripMargin,
    "dedup_method_agreement" ->
      s"""WITH $shinglesCte,
         |$ngramPairsCte,
         |ng AS (SELECT doc_a, doc_b FROM pairs),
         |$simhashCte,
         |$chunksCte,
         |p AS (SELECT doc_id, substring(text, 1, 40) AS prefix FROM documents),
         |hm AS (
         |  SELECT doc_a, doc_b FROM cand
         |  WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 3),
         |fz AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c JOIN p x ON c.doc_a = x.doc_id JOIN p y ON c.doc_b = y.doc_id
         |  WHERE levenshtein(x.prefix, y.prefix) <= 10),
         |tagged AS (
         |  SELECT doc_a, doc_b, 'ngram' AS method FROM ng
         |  UNION ALL SELECT doc_a, doc_b, 'hamming' FROM hm
         |  UNION ALL SELECT doc_a, doc_b, 'fuzzy' FROM fz),
         |byp AS (
         |  SELECT doc_a, doc_b,
         |    MAX(CASE WHEN method = 'ngram' THEN 1 ELSE 0 END) AS has_ng,
         |    MAX(CASE WHEN method = 'hamming' THEN 1 ELSE 0 END) AS has_hm,
         |    MAX(CASE WHEN method = 'fuzzy' THEN 1 ELSE 0 END) AS has_fz
         |  FROM tagged GROUP BY 1, 2),
         |m AS (SELECT
         |  CAST(SUM(has_ng) AS BIGINT) AS a_ng, CAST(SUM(has_hm) AS BIGINT) AS a_hm,
         |  CAST(SUM(has_fz) AS BIGINT) AS a_fz,
         |  CAST(SUM(has_ng * has_hm) AS BIGINT) AS c_ng_hm,
         |  CAST(SUM(has_ng * has_fz) AS BIGINT) AS c_ng_fz,
         |  CAST(SUM(has_hm * has_fz) AS BIGINT) AS c_hm_fz FROM byp)
         |SELECT method_a, method_b, n_a, n_b, n_common,
         |  CASE WHEN LEAST(n_a, n_b) > 0
         |    THEN floor(CAST(n_common AS DOUBLE) / LEAST(n_a, n_b) * 1000000) / 1000000 END AS overlap
         |FROM (
         |  SELECT 'fuzzy' AS method_a, 'hamming' AS method_b, a_fz AS n_a, a_hm AS n_b, c_hm_fz AS n_common FROM m
         |  UNION ALL SELECT 'fuzzy', 'ngram', a_fz, a_ng, c_ng_fz FROM m
         |  UNION ALL SELECT 'hamming', 'ngram', a_hm, a_ng, c_ng_hm FROM m) t
         |ORDER BY method_a, method_b""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $shinglesCte,
         |hh AS (
         |  SELECT doc_id, s AS h1,
         |    ('0x' || substr(md5(CAST(s AS VARCHAR)), 1, 15))::BIGINT AS h2
         |  FROM sh),
         |sig AS (
         |  SELECT doc_id,
         |    MIN(h1 + 0 * h2) AS mh0, MIN(h1 + 1 * h2) AS mh1,
         |    MIN(h1 + 2 * h2) AS mh2, MIN(h1 + 3 * h2) AS mh3,
         |    MIN(h1 + 4 * h2) AS mh4, MIN(h1 + 5 * h2) AS mh5
         |  FROM hh GROUP BY doc_id),
         |bands AS (SELECT doc_id, mh0 || '|' || mh1 AS b0, mh2 || '|' || mh3 AS b1,
         |                 mh4 || '|' || mh5 AS b2 FROM sig),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
         |  UNION
         |  SELECT a.doc_id, b.doc_id FROM bands a JOIN bands b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
         |  UNION
         |  SELECT a.doc_id, b.doc_id FROM bands a JOIN bands b ON a.b2 = b.b2 AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS c
         |  FROM cand JOIN sh x ON cand.doc_a = x.doc_id
         |            JOIN sh y ON cand.doc_b = y.doc_id AND x.s = y.s
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  floor(CAST(c AS DOUBLE) / (sx.n + sy.n - c) * 1000000) / 1000000 AS jaccard
         |FROM common JOIN sizes sx ON doc_a = sx.doc_id
         |            JOIN sizes sy ON doc_b = sy.doc_id
         |WHERE floor(CAST(c AS DOUBLE) / (sx.n + sy.n - c) * 1000000) / 1000000 >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte
         |SELECT doc_id, comp_id FROM comp ORDER BY doc_id""".stripMargin,
    // PageRank unrolled to 3 integer-exact iterations (pr0 = 1e9;
    // teleport 0.15e9; contribution (85*pr)//(100*deg) — non-negative
    // operands, so // here equals Spark's div); keeper per component
    // by (pr DESC, doc_id). em is MATERIALIZED: deg + 3 iterations
    // re-reference the edge set, and DuckDB inlines plain CTEs per
    // reference
    "dedup_pagerank" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte,
         |em AS MATERIALIZED (SELECT u, v FROM edges),
         |deg AS MATERIALIZED (SELECT u AS doc_id, COUNT(*) AS deg FROM em GROUP BY u),
         |pr0 AS (SELECT doc_id, CAST(1000000000 AS BIGINT) AS pr FROM deg),
         |pr1 AS MATERIALIZED (
         |  SELECT d.doc_id, CAST(150000000 + COALESCE(SUM((85 * p.pr) // (100 * dg.deg)), 0) AS BIGINT) AS pr
         |  FROM deg d
         |  LEFT JOIN em e ON e.v = d.doc_id
         |  LEFT JOIN pr0 p ON p.doc_id = e.u
         |  LEFT JOIN deg dg ON dg.doc_id = e.u
         |  GROUP BY d.doc_id),
         |pr2 AS MATERIALIZED (
         |  SELECT d.doc_id, CAST(150000000 + COALESCE(SUM((85 * p.pr) // (100 * dg.deg)), 0) AS BIGINT) AS pr
         |  FROM deg d
         |  LEFT JOIN em e ON e.v = d.doc_id
         |  LEFT JOIN pr1 p ON p.doc_id = e.u
         |  LEFT JOIN deg dg ON dg.doc_id = e.u
         |  GROUP BY d.doc_id),
         |pr3 AS MATERIALIZED (
         |  SELECT d.doc_id, CAST(150000000 + COALESCE(SUM((85 * p.pr) // (100 * dg.deg)), 0) AS BIGINT) AS pr
         |  FROM deg d
         |  LEFT JOIN em e ON e.v = d.doc_id
         |  LEFT JOIN pr2 p ON p.doc_id = e.u
         |  LEFT JOIN deg dg ON dg.doc_id = e.u
         |  GROUP BY d.doc_id),
         |ranked AS (
         |  SELECT c.comp_id, c.doc_id, p.pr,
         |    ROW_NUMBER() OVER (PARTITION BY c.comp_id ORDER BY p.pr DESC, c.doc_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY c.comp_id) AS n_members
         |  FROM comp c JOIN pr3 p ON p.doc_id = c.doc_id)
         |SELECT comp_id, doc_id AS keeper, pr AS keeper_pr,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM ranked WHERE rk = 1 ORDER BY comp_id""".stripMargin,
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte,
         |szs AS (SELECT comp_id, COUNT(*) AS sz FROM comp GROUP BY comp_id)
         |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
         |  CAST(SUM(sz) AS BIGINT) AS n_docs
         |FROM szs GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM shash ORDER BY doc_id""".stripMargin,
    "dedup_simhash_buckets" ->
      s"""WITH $simhashCte
         |SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
         |FROM shash GROUP BY simhash HAVING COUNT(*) > 1
         |ORDER BY simhash""".stripMargin,
    "dedup_fuzzy_edit" ->
      s"""WITH $simhashCte,
         |$chunksCte,
         |p AS (SELECT doc_id, substring(text, 1, 40) AS prefix FROM documents)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(levenshtein(x.prefix, y.prefix) AS BIGINT) AS dist
         |FROM cand c
         |JOIN p x ON c.doc_a = x.doc_id
         |JOIN p y ON c.doc_b = y.doc_id
         |WHERE levenshtein(x.prefix, y.prefix) <= 10
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_hamming" ->
      s"""WITH $simhashCte,
         |$chunksCte
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS BIGINT) AS dist
         |FROM cand
         |WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // (the indexed/salted/wide hamming twins and the indexed ngram twin
    // share their originals' oracle text via the twin-alias map in
    // [[oracleSql]] — one text, no drift)
    // oracle plays the NAIVE all-pairs hamming join over the aHash —
    // the pigeonhole blocking the Spark side uses is exactness-proven
    // (DedupBlockingSpec), so blocked and naive results must agree
    "mm_phash_neardup" ->
      """WITH b AS (
        |  SELECT doc_id, lower(hex(encode(text))) AS hh,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |  FROM documents WHERE octet_length(encode(text)) >= 64),
        |st AS (SELECT doc_id, hh, nb // 64 AS stride FROM b),
        |px AS (
        |  SELECT doc_id, i,
        |    ('0x' || substr(hh, CAST(i * stride AS INT) * 2 + 1, 2))::BIGINT AS v
        |  FROM st, UNNEST(range(0, 64)) AS u(i)),
        |sums AS (SELECT doc_id, SUM(v) AS sum_px FROM px GROUP BY doc_id),
        |ph AS (
        |  SELECT p.doc_id,
        |    CAST(SUM(CASE WHEN p.v * 64 > s.sum_px THEN
        |      CASE WHEN p.i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
        |           ELSE CAST(CAST(1 AS BIGINT) << CAST(p.i AS INT) AS HUGEINT) END
        |      ELSE 0 END) AS BIGINT) AS phash
        |  FROM px p JOIN sums s USING (doc_id) GROUP BY p.doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(CAST(xor(a.phash, b.phash) AS BIGINT)) AS BIGINT) AS dist
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, dist FROM pairs
        |WHERE dist <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_admission" ->
      s"""WITH $simhashCte,
         |$chunkRelCte,
         |ca AS (SELECT * FROM chunks WHERE doc_id % 5 = 0),
         |cb AS (SELECT * FROM chunks WHERE doc_id % 5 <> 0),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS in_doc, b.doc_id AS corpus_doc,
         |         a.simhash AS ha, b.simhash AS hb
         |  FROM ca a JOIN cb b ON a.j = b.j AND a.ck = b.ck)
         |SELECT in_doc, corpus_doc,
         |  CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS BIGINT) AS dist
         |FROM cand
         |WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 3
         |ORDER BY in_doc, corpus_doc""".stripMargin,
    "dedup_cross_source" ->
      s"""WITH $shinglesCte,
         |$ngramPairsCte,
         |j AS (
         |  SELECT LEAST(dx.source, dy.source) AS source_a,
         |         GREATEST(dx.source, dy.source) AS source_b
         |  FROM pairs JOIN documents dx ON doc_a = dx.doc_id
         |             JOIN documents dy ON doc_b = dy.doc_id)
         |SELECT source_a, source_b, COUNT(*) AS n_pairs,
         |  CAST(CASE WHEN source_a <> source_b THEN 1 ELSE 0 END AS BIGINT) AS cross_source
         |FROM j GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,
    "text_boilerplate" ->
      """WITH segs AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(array_to_string(w[(8*k+1):(8*k+8)], ' ')), 1, 15))::BIGINT AS seg
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents) t,
        |       UNNEST(range(0, CAST(FLOOR(len(w)/8) AS BIGINT))) AS u(k)
        |  WHERE len(w) >= 8),
        |dfreq AS (
        |  SELECT seg, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, seg FROM segs) d GROUP BY seg)
        |SELECT s.doc_id, MAX(s.source) AS source, COUNT(*) AS n_segs,
        |  CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  floor(CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 1000000) / 1000000 AS boiler_ratio
        |FROM segs s JOIN dfreq f ON s.seg = f.seg
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,
    "dedup_substr_coverage" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |d AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens FROM t),
        |wins AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS st,
        |    ('0x' || substr(md5(array_to_string(w[i:(i+7)], ' ')), 1, 15))::BIGINT AS wk
        |  FROM t, UNNEST(range(1, len(w) - 6)) AS u(i)
        |  WHERE len(w) >= 8),
        |dfreq AS (
        |  SELECT wk FROM (SELECT DISTINCT wk, doc_id FROM wins) x
        |  GROUP BY wk HAVING COUNT(*) >= 2),
        |shared AS (SELECT doc_id, st FROM wins JOIN dfreq USING (wk)),
        |cov AS (
        |  SELECT doc_id,
        |    GREATEST(0, st + 8 - GREATEST(COALESCE(MAX(st + 8) OVER (
        |      PARTITION BY doc_id ORDER BY st
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), st), st)) AS contrib
        |  FROM shared),
        |percov AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS covered FROM cov GROUP BY doc_id)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN COALESCE(covered, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_dup,
        |  CAST(SUM(COALESCE(covered, 0)) AS BIGINT) AS dup_tokens,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  floor(CAST(SUM(COALESCE(covered, 0)) AS DOUBLE) / SUM(n_tokens) * 1000000) / 1000000
        |    AS dup_frac
        |FROM d LEFT JOIN percov USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,
    "text_lm_bigram" ->
      """WITH occ AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(w[i]), 1, 15))::BIGINT AS k1,
        |    ('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15))::BIGINT AS k2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |       UNNEST(range(1, len(w))) AS u(i)
        |  WHERE len(w) >= 2),
        |c2 AS (SELECT k2, COUNT(*) AS n2 FROM occ GROUP BY k2),
        |c1 AS (SELECT k1, COUNT(*) AS n1 FROM occ GROUP BY k1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(n1 // n2) AS BIGINT) AS icp_sum,
        |  CAST(MAX(n1 // n2) AS BIGINT) AS max_icp,
        |  floor(CAST(SUM(n1 // n2) AS DOUBLE) / COUNT(*) * 1000000) / 1000000 AS mean_icp
        |FROM occ JOIN c2 USING (k2) JOIN c1 USING (k1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_ngram_novelty" ->
      """WITH perSg AS (
        |  SELECT ('0x' || substr(md5(array_to_string(w[i:(i+7)], ' ')), 1, 15))::BIGINT AS g,
        |    source, COUNT(*) AS occ_sg
        |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents) t,
        |       UNNEST(range(1, len(w) - 6)) AS u(i)
        |  WHERE len(w) >= 8
        |  GROUP BY 1, 2),
        |gl AS (SELECT g, SUM(occ_sg) AS occ_g FROM perSg GROUP BY g)
        |SELECT source,
        |  CAST(SUM(occ_sg) AS BIGINT) AS n_occurrences,
        |  COUNT(*) AS n_distinct_grams,
        |  CAST(SUM(CASE WHEN occ_g > 1 THEN occ_sg ELSE 0 END) AS BIGINT) AS n_dup_occ,
        |  floor(CAST(SUM(CASE WHEN occ_g > 1 THEN occ_sg ELSE 0 END) AS DOUBLE)
        |        / SUM(occ_sg) * 1000000) / 1000000 AS dup_rate
        |FROM perSg JOIN gl USING (g)
        |GROUP BY source ORDER BY source""".stripMargin,
    "dedup_block_stats" ->
      s"""WITH $simhashCte,
         |$chunksCte,
         |blocks AS (
         |  SELECT j, ck, COUNT(*) AS n FROM chunks GROUP BY j, ck HAVING COUNT(*) > 1)
         |SELECT CAST(j AS BIGINT) AS chunk_idx, COUNT(*) AS n_blocks,
         |  CAST(SUM(n) AS BIGINT) AS n_docs, MAX(n) AS max_block,
         |  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_cand_pairs
         |FROM blocks GROUP BY j ORDER BY chunk_idx""".stripMargin,
    // pair-of-chunks blocking health: 5 chunks of 13 bits (last 12),
    // one row per (combo, k1, k2) block — combo order matches Scala's
    // (i, j) i<j generation
    "dedup_block_stats_wide" ->
      s"""WITH $simhashCte,
         |wchunks AS (
         |  SELECT doc_id, simhash, c,
         |    CAST((simhash >> loi) & mi AS BIGINT) AS k1,
         |    CAST((simhash >> loj) & mj AS BIGINT) AS k2
         |  FROM shash, (VALUES
         |    (0, 0, 8191, 13, 8191), (1, 0, 8191, 26, 8191),
         |    (2, 0, 8191, 39, 8191), (3, 0, 8191, 52, 4095),
         |    (4, 13, 8191, 26, 8191), (5, 13, 8191, 39, 8191),
         |    (6, 13, 8191, 52, 4095), (7, 26, 8191, 39, 8191),
         |    (8, 26, 8191, 52, 4095), (9, 39, 8191, 52, 4095))
         |    AS combos(c, loi, mi, loj, mj)),
         |blocks AS (
         |  SELECT c, k1, k2, COUNT(*) AS n FROM wchunks
         |  GROUP BY c, k1, k2 HAVING COUNT(*) > 1)
         |SELECT CAST(c AS BIGINT) AS combo_idx, COUNT(*) AS n_blocks,
         |  CAST(SUM(n) AS BIGINT) AS n_docs, MAX(n) AS max_block,
         |  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_cand_pairs
         |FROM blocks GROUP BY c ORDER BY combo_idx""".stripMargin,
    "dedup_embedding" ->
      s"""WITH $vectorsCte,
         |bands AS (
         |  SELECT vec_id, label, bi,
         |    CAST(CASE WHEN v[4*bi+1] > 0 THEN 8 ELSE 0 END + CASE WHEN v[4*bi+2] > 0 THEN 4 ELSE 0 END
         |       + CASE WHEN v[4*bi+3] > 0 THEN 2 ELSE 0 END + CASE WHEN v[4*bi+4] > 0 THEN 1 ELSE 0 END AS BIGINT) AS bk
         |  FROM vn, UNNEST(range(0, 16)) AS u(bi)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label
         |  FROM bands a JOIN bands b
         |    ON a.label = b.label AND a.bi = b.bi AND a.bk = b.bk AND a.vec_id < b.vec_id)
         |SELECT c.vec_a, c.vec_b, c.label,
         |  floor(list_dot_product(x.v, y.v) / (x.norm * y.norm) * 1000000) / 1000000 AS cos
         |FROM cand c JOIN vn x ON c.vec_a = x.vec_id JOIN vn y ON c.vec_b = y.vec_id
         |WHERE list_dot_product(x.v, y.v) / (x.norm * y.norm) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_semantic" ->
      s"""WITH RECURSIVE $vectorsCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm
         |          FROM vn WHERE vec_id BETWEEN 100 AND 107),
         |assign AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT vn.vec_id, c.cent_id AS list_id,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(vn.v, c.cv) / (vn.norm * c.cnorm) DESC,
         |                 c.cent_id) AS rk
         |    FROM vn, cents c) t WHERE rk = 1),
         |pairs AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM assign a JOIN assign b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  JOIN vn x ON a.vec_id = x.vec_id JOIN vn y ON b.vec_id = y.vec_id
         |  WHERE list_dot_product(x.v, y.v) / (x.norm * y.norm) >= 0.4),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
         |comp AS (SELECT src AS doc_id, MIN(dst) AS comp_id FROM reach GROUP BY src),
         |cc AS (
         |  SELECT a2.vec_id AS doc_id,
         |    CAST(FLOOR(list_dot_product(x.v, c.cv) / (x.norm * c.cnorm) * 1000000) AS BIGINT) AS ccos_u
         |  FROM assign a2 JOIN cents c ON a2.list_id = c.cent_id
         |  JOIN vn x ON a2.vec_id = x.vec_id),
         |ranked AS (
         |  SELECT comp.comp_id AS group_id, comp.doc_id, cc.ccos_u,
         |    ROW_NUMBER() OVER (PARTITION BY comp.comp_id
         |                       ORDER BY cc.ccos_u, comp.doc_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY comp.comp_id) AS n_members,
         |    MIN(cc.ccos_u) OVER (PARTITION BY comp.comp_id) AS min_u
         |  FROM comp JOIN cc ON comp.doc_id = cc.doc_id)
         |SELECT group_id, doc_id AS keep_id, CAST(n_members AS BIGINT) AS n_members,
         |  CAST(min_u AS DOUBLE) / 1000000 AS keep_ccos
         |FROM ranked WHERE rk = 1 ORDER BY group_id""".stripMargin,
    "ann_hybrid_rrf" ->
      s"""WITH $bm25RankedCte,
         |$vectorsCte,
         |vq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM vn WHERE vec_id < 8),
         |vscored AS (
         |  SELECT vq.query_id, vn.vec_id AS doc_id,
         |    list_dot_product(vq.qv, vn.v) / (vq.qnorm * vn.norm) AS cos
         |  FROM vn JOIN vq ON vn.vec_id <> vq.query_id),
         |vranked AS (
         |  SELECT query_id, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rk
         |  FROM vscored),
         |fused AS (
         |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         |         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |         COALESCE(1.0 / (l.rk + 60), 0.0) + COALESCE(1.0 / (v.rk + 60), 0.0) AS rrf,
         |         l.rk AS lex_rk, v.rk AS vec_rk
         |  FROM (SELECT * FROM lexranked WHERE rk <= 20) l
         |  FULL OUTER JOIN (SELECT * FROM vranked WHERE rk <= 20) v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
         |  FROM fused)
         |SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rk,
         |       floor(rrf * 1000000) / 1000000 AS rrf, lex_rk, vec_rk
         |FROM r WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin,
    // the fully-indexed hybrid: lexical leg identical to ann_hybrid_rrf
    // (one bm25RankedCte text), vector leg the int8 two-stage server's
    // deterministic shortlist+rerank (one sq8RankedCte text with
    // ann_sq8_topk) — the oracle replays both indexed legs exactly
    "ann_hybrid_rrf_indexed" ->
      s"""WITH $bm25RankedCte,
         |$vectorsCte,
         |$sq8RankedCte,
         |fused AS (
         |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         |         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |         COALESCE(1.0 / (l.rk + 60), 0.0) + COALESCE(1.0 / (v.rk + 60), 0.0) AS rrf,
         |         l.rk AS lex_rk, v.rk AS vec_rk
         |  FROM (SELECT * FROM lexranked WHERE rk <= 20) l
         |  FULL OUTER JOIN (SELECT query_id, neighbor_id AS doc_id, rk
         |                   FROM sq8ranked WHERE rk <= 20) v
         |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
         |  FROM fused)
         |SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rk,
         |       floor(rrf * 1000000) / 1000000 AS rrf, lex_rk, vec_rk
         |FROM r WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin,
    "ann_brute_topk" ->
      s"""WITH $vectorsCte,
         |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM vn WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.query_id, vn.vec_id AS neighbor_id,
         |    list_dot_product(q.qv, vn.v) / (q.qnorm * vn.norm) AS cos
         |  FROM vn JOIN q ON vn.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // two-stage prefix serving: the 32-dim re-normed shortlist (top-64
    // by prefix cosine, id tiebreak) reranked by the exact full-dim
    // cosine — both stages rank raw doubles (the shared fold), the
    // served score is trunc6'd like every ANN row
    "ann_prefix_topk" ->
      s"""WITH $vectorsCte,
         |pn AS (
         |  SELECT vec_id, pv, sqrt(list_dot_product(pv, pv)) AS pnorm
         |  FROM (SELECT vec_id, list_slice(v, 1, 32) AS pv FROM vn) x
         |  WHERE list_dot_product(pv, pv) > 0),
         |sl AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.pv, n.pv) / (q.pnorm * n.pnorm) DESC, n.vec_id) AS srk
         |    FROM pn q JOIN pn n ON n.vec_id <> q.vec_id
         |    WHERE q.vec_id < 8) t WHERE srk <= 64),
         |ranked AS (
         |  SELECT sl.query_id, sl.neighbor_id,
         |    list_dot_product(q.v, n.v) / (q.norm * n.norm) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY sl.query_id
         |      ORDER BY list_dot_product(q.v, n.v) / (q.norm * n.norm) DESC, sl.neighbor_id) AS rk
         |  FROM sl JOIN vn q ON sl.query_id = q.vec_id
         |          JOIN vn n ON sl.neighbor_id = n.vec_id)
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // the prefix tombstone twin: ann_prefix_topk's two stages with the
    // deterministic delete set (vec_id ≡ 0 mod 7) excluded from the
    // CANDIDATE side before the shortlist is taken — a deleted vector
    // never consumes a shortlist slot and the top-k refills, exactly
    // the served mask semantics (queries are never masked, the
    // ann_ivf_deleted convention)
    "ann_prefix_deleted" ->
      s"""WITH $vectorsCte,
         |pn AS (
         |  SELECT vec_id, pv, sqrt(list_dot_product(pv, pv)) AS pnorm
         |  FROM (SELECT vec_id, list_slice(v, 1, 32) AS pv FROM vn) x
         |  WHERE list_dot_product(pv, pv) > 0),
         |sl AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.pv, n.pv) / (q.pnorm * n.pnorm) DESC, n.vec_id) AS srk
         |    FROM pn q JOIN pn n ON n.vec_id <> q.vec_id AND n.vec_id % 7 <> 0
         |    WHERE q.vec_id < 8) t WHERE srk <= 64),
         |ranked AS (
         |  SELECT sl.query_id, sl.neighbor_id,
         |    list_dot_product(q.v, n.v) / (q.norm * n.norm) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY sl.query_id
         |      ORDER BY list_dot_product(q.v, n.v) / (q.norm * n.norm) DESC, sl.neighbor_id) AS rk
         |  FROM sl JOIN vn q ON sl.query_id = q.vec_id
         |          JOIN vn n ON sl.neighbor_id = n.vec_id)
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // prefix-space IVF shortlist (the one IVF machinery over (pv,
    // pnorm): same centroid ids, assignment rule and tiebreaks) +
    // exact full-dim rerank — list pruning composed with truncation
    "ann_prefix_ivf" ->
      s"""WITH $vectorsCte,
         |pn AS (
         |  SELECT vec_id, pv, sqrt(list_dot_product(pv, pv)) AS pnorm
         |  FROM (SELECT vec_id, list_slice(v, 1, 32) AS pv FROM vn) x
         |  WHERE list_dot_product(pv, pv) > 0),
         |cents AS (SELECT vec_id AS cent_id, pv AS cv, pnorm AS cnorm FROM pn
         |          WHERE vec_id >= 100 AND vec_id < 108),
         |assign AS (
         |  SELECT vec_id AS n_id, cent_id AS list_id, pv AS n_v, pnorm AS n_norm FROM (
         |    SELECT pn.vec_id, c.cent_id, pn.pv, pn.pnorm,
         |      ROW_NUMBER() OVER (PARTITION BY pn.vec_id
         |        ORDER BY list_dot_product(c.cv, pn.pv) / (c.cnorm * pn.pnorm) DESC, c.cent_id) AS crk
         |    FROM pn CROSS JOIN cents c) t WHERE crk = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cent_id AS list_id, pv AS q_v, pnorm AS q_norm FROM (
         |    SELECT pn.vec_id, c.cent_id, pn.pv, pn.pnorm,
         |      ROW_NUMBER() OVER (PARTITION BY pn.vec_id
         |        ORDER BY list_dot_product(c.cv, pn.pv) / (c.cnorm * pn.pnorm) DESC, c.cent_id) AS crk
         |    FROM pn CROSS JOIN cents c WHERE pn.vec_id < 8) t WHERE crk <= 4),
         |sl AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.q_id AS query_id, a.n_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.q_id
         |        ORDER BY list_dot_product(p.q_v, a.n_v) / (p.q_norm * a.n_norm) DESC, a.n_id) AS srk
         |    FROM probes p JOIN assign a ON p.list_id = a.list_id AND p.q_id <> a.n_id) t
         |  WHERE srk <= 64),
         |ranked AS (
         |  SELECT sl.query_id, sl.neighbor_id,
         |    list_dot_product(q.v, n.v) / (q.norm * n.norm) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY sl.query_id
         |      ORDER BY list_dot_product(q.v, n.v) / (q.norm * n.norm) DESC, sl.neighbor_id) AS rk
         |  FROM sl JOIN vn q ON sl.query_id = q.vec_id
         |          JOIN vn n ON sl.neighbor_id = n.vec_id)
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // prefix-dim brute top-k vs the full-dim truth: overlap counts are
    // exact integers (float cos ranks replay — list_dot_product and
    // graft_dot are the same left-to-right fold, slices 1-based both
    // sides), recall is one final trunc6 division; zero prefixes are
    // excluded on both sides (pnorm > 0)
    "emb_prefix_recall" ->
      s"""WITH $vectorsCte,
         |tq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM vn WHERE vec_id < 8),
         |tscored AS (
         |  SELECT tq.query_id, vn.vec_id AS neighbor_id,
         |    list_dot_product(tq.qv, vn.v) / (tq.qnorm * vn.norm) AS cos
         |  FROM vn JOIN tq ON vn.vec_id <> tq.query_id),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM tscored) z
         |  WHERE rk <= 5),
         |dims AS (SELECT unnest([8, 16, 32, 64]) AS m),
         |pvn AS (
         |  SELECT d.m, vn.vec_id, vn.v[1:d.m] AS pv,
         |         sqrt(list_dot_product(vn.v[1:d.m], vn.v[1:d.m])) AS pnorm
         |  FROM vn CROSS JOIN dims d
         |  WHERE sqrt(list_dot_product(vn.v[1:d.m], vn.v[1:d.m])) > 0),
         |pq AS (SELECT m, vec_id AS query_id, pv AS qv, pnorm AS qnorm FROM pvn WHERE vec_id < 8),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY m, query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM (
         |    SELECT p.m, q.query_id, p.vec_id AS neighbor_id,
         |      list_dot_product(q.qv, p.pv) / (q.qnorm * p.pnorm) AS cos
         |    FROM pvn p JOIN pq q ON p.m = q.m AND p.vec_id <> q.query_id) sc),
         |hits AS (
         |  SELECT r.m, COUNT(*) AS n_hits
         |  FROM ranked r JOIN truth t
         |    ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
         |  WHERE r.rk <= 5
         |  GROUP BY r.m)
         |SELECT CAST(d.m AS BIGINT) AS prefix_dims,
         |  CAST(8 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  floor(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 40 * 1000000) / 1000000 AS recall
         |FROM dims d LEFT JOIN hits h ON d.m = h.m
         |ORDER BY prefix_dims""".stripMargin,
    // sign-bit Hamming ranks replay exactly (integer distances, id
    // tiebreak); hits against the float-cosine truth are a semi-join
    // on exact pairs, recall one trunc6 division
    "emb_sign_recall" ->
      s"""WITH $vectorsCte,
         |tq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM vn WHERE vec_id < 8),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT tq.query_id, vn.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY tq.query_id
         |        ORDER BY list_dot_product(tq.qv, vn.v) / (tq.qnorm * vn.norm) DESC,
         |                 vn.vec_id) AS rk
         |    FROM vn JOIN tq ON vn.vec_id <> tq.query_id) z
         |  WHERE rk <= 5),
         |bits AS (
         |  SELECT vec_id, list_transform(v, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS b
         |  FROM vn),
         |qbit AS (SELECT vec_id AS query_id, b AS qbits FROM bits WHERE vec_id < 8),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rk
         |  FROM (
         |    SELECT q.query_id, bits.vec_id AS neighbor_id,
         |      CAST(list_sum(list_transform(range(1, len(bits.b) + 1),
         |        i -> CASE WHEN bits.b[i] <> q.qbits[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
         |    FROM bits JOIN qbit q ON bits.vec_id <> q.query_id) sc)
         |SELECT r.query_id,
         |  COUNT(*) AS n_ranked,
         |  CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  MIN(r.hamming) AS min_hamming, MAX(r.hamming) AS max_hamming,
         |  floor(CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / 5 * 1000000) / 1000000 AS recall
         |FROM ranked r LEFT JOIN truth t
         |  ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
         |WHERE r.rk <= 5
         |GROUP BY r.query_id ORDER BY r.query_id""".stripMargin,
    // int8 absmax quantization recall: per-dim scales are exact double
    // max(|x|); x/s*127 is two fixed-order IEEE ops; floor lands on
    // integers, so code dots are exact and the ranking replays
    // bit-for-bit (list_dot_product over integral doubles ≪ 2^53)
    "emb_sq8_recall" ->
      s"""WITH $vectorsCte,
         |tq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM vn WHERE vec_id < 8),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT tq.query_id, vn.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY tq.query_id
         |        ORDER BY list_dot_product(tq.qv, vn.v) / (tq.qnorm * vn.norm) DESC,
         |                 vn.vec_id) AS rk
         |    FROM vn JOIN tq ON vn.vec_id <> tq.query_id) z
         |  WHERE rk <= 5),
         |sc AS MATERIALIZED (
         |  SELECT list(CASE WHEN mx = 0 THEN 1.0 ELSE mx END ORDER BY pos) AS scl
         |  FROM (SELECT i AS pos, MAX(abs(x.v[i])) AS mx
         |        FROM vn x, UNNEST(range(1, len(x.v) + 1)) AS u(i)
         |        GROUP BY i) m),
         |qv AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(range(1, len(v) + 1), i -> floor(v[i] / scl[i] * 127.0)) AS q8
         |  FROM vn, sc),
         |qq AS (SELECT vec_id AS query_id, q8 AS qc FROM qv WHERE vec_id < 8),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot8 DESC, neighbor_id) AS rk
         |  FROM (
         |    SELECT q.query_id, n.vec_id AS neighbor_id,
         |      CAST(list_dot_product(n.q8, q.qc) AS BIGINT) AS dot8
         |    FROM qv n JOIN qq q ON n.vec_id <> q.query_id) s)
         |SELECT r.query_id,
         |  COUNT(*) AS n_ranked,
         |  CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  MIN(r.dot8) AS min_dot8, MAX(r.dot8) AS max_dot8,
         |  floor(CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / 5 * 1000000) / 1000000 AS recall
         |FROM ranked r LEFT JOIN truth t
         |  ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
         |WHERE r.rk <= 5
         |GROUP BY r.query_id ORDER BY r.query_id""".stripMargin,
    // int8 two-stage serving: integer-dot shortlist over the codes
    // (exact integer order, id tiebreaks), exact full-dim cosine
    // rerank — the same two-stage replay as ann_prefix_topk with the
    // quantized relation as stage 1
    "ann_sq8_topk" ->
      s"""WITH $vectorsCte,
         |$sq8RankedCte
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM sq8ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "emb_hard_negatives" ->
      s"""WITH $vectorsCte,
         |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, norm AS qnorm
         |      FROM vn WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.query_id, q.qlabel, vn.vec_id AS neighbor_id, vn.label,
         |    list_dot_product(q.qv, vn.v) / (q.qnorm * vn.norm) AS cos
         |  FROM vn JOIN q ON vn.vec_id <> q.query_id),
         |neg AS (
         |  SELECT query_id, neighbor_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored WHERE label <> qlabel),
         |pos AS (
         |  SELECT query_id, neighbor_id AS pos_id, cos AS pos_cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored WHERE label = qlabel)
         |SELECT n.query_id, CAST(n.rk AS BIGINT) AS neg_rank, n.neighbor_id,
         |  floor(n.cos * 1000000) / 1000000 AS neg_cos,
         |  p.pos_id, floor(p.pos_cos * 1000000) / 1000000 AS pos_cos,
         |  floor(p.pos_cos * 1000000) / 1000000 - floor(n.cos * 1000000) / 1000000 AS margin
         |FROM neg n JOIN pos p ON n.query_id = p.query_id AND p.rk = 1
         |WHERE n.rk <= 3 ORDER BY n.query_id, neg_rank""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH $vectorsCte,
         |vb AS (
         |  SELECT *, CAST(CASE WHEN v[1] > 0 THEN 8 ELSE 0 END + CASE WHEN v[2] > 0 THEN 4 ELSE 0 END
         |       + CASE WHEN v[3] > 0 THEN 2 ELSE 0 END + CASE WHEN v[4] > 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket
         |  FROM vn),
         |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm, bucket AS qbucket FROM vb WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.query_id, vb.vec_id AS neighbor_id,
         |    list_dot_product(q.qv, vb.v) / (q.qnorm * vb.norm) AS cos
         |  FROM vb JOIN q ON vb.bucket = q.qbucket AND vb.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "ann_recall" ->
      s"""WITH $vectorsCte,
         |vb AS (
         |  SELECT *, CAST(CASE WHEN v[1] > 0 THEN 8 ELSE 0 END + CASE WHEN v[2] > 0 THEN 4 ELSE 0 END
         |       + CASE WHEN v[3] > 0 THEN 2 ELSE 0 END + CASE WHEN v[4] > 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket
         |  FROM vn),
         |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm, bucket AS qbucket FROM vb WHERE vec_id < 8),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, vn.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY list_dot_product(q.qv, vn.v) / (q.qnorm * vn.norm) DESC, vn.vec_id) AS rk
         |    FROM vn JOIN q ON vn.vec_id <> q.query_id) t WHERE rk <= 3),
         |lsh AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, vb.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY list_dot_product(q.qv, vb.v) / (q.qnorm * vb.norm) DESC, vb.vec_id) AS rk
         |    FROM vb JOIN q ON vb.bucket = q.qbucket AND vb.vec_id <> q.query_id) t WHERE rk <= 3),
         |mp AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, vb.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.query_id
         |        ORDER BY list_dot_product(p.qv, vb.v) / (p.qnorm * vb.norm) DESC, vb.vec_id) AS rk
         |    FROM vb JOIN (
         |      SELECT query_id, qv, qnorm, u.pbucket
         |      FROM q, UNNEST([qbucket, xor(qbucket, 1), xor(qbucket, 2), xor(qbucket, 4), xor(qbucket, 8)]) AS u(pbucket)
         |    ) p ON vb.bucket = p.pbucket AND vb.vec_id <> p.query_id) t WHERE rk <= 3),
         |$ivfPqRankedCte,
         |ivfpq AS (SELECT query_id, neighbor_id FROM pqranked WHERE rk <= 3),
         |hits AS (
         |  SELECT 'lsh' AS method, t.query_id, COUNT(*) AS n_true,
         |    CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM truth t LEFT JOIN lsh l
         |    ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
         |  GROUP BY t.query_id
         |  UNION ALL
         |  SELECT 'lsh_multiprobe', t.query_id, COUNT(*),
         |    CAST(SUM(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM truth t LEFT JOIN mp m
         |    ON t.query_id = m.query_id AND t.neighbor_id = m.neighbor_id
         |  GROUP BY t.query_id
         |  UNION ALL
         |  SELECT 'ivf_pq', t.query_id, COUNT(*),
         |    CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM truth t LEFT JOIN ivfpq p
         |    ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
         |  GROUP BY t.query_id)
         |SELECT method, query_id, n_true, n_hit,
         |  floor(CAST(n_hit AS DOUBLE) / n_true * 1000000) / 1000000 AS recall
         |FROM hits ORDER BY method, query_id""".stripMargin,
    "ann_lsh_multiprobe" ->
      s"""WITH $vectorsCte,
         |vb AS (
         |  SELECT *, CAST(CASE WHEN v[1] > 0 THEN 8 ELSE 0 END + CASE WHEN v[2] > 0 THEN 4 ELSE 0 END
         |       + CASE WHEN v[3] > 0 THEN 2 ELSE 0 END + CASE WHEN v[4] > 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket
         |  FROM vn),
         |q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm, u.pbucket
         |  FROM vb, UNNEST([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS u(pbucket)
         |  WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.query_id, vb.vec_id AS neighbor_id,
         |    list_dot_product(q.qv, vb.v) / (q.qnorm * vb.norm) AS cos
         |  FROM vb JOIN q ON vb.bucket = q.pbucket AND vb.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin,
    "emb_source_drift" ->
      s"""WITH $vectorsCte,
         |rel AS (
         |  SELECT d.source, vn.v FROM vn JOIN documents d ON vn.vec_id = d.doc_id),
         |el AS (
         |  SELECT source, CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |  FROM rel, UNNEST(range(1, 65)) AS u(i)),
         |cm AS (
         |  SELECT source, pos, FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |  FROM el GROUP BY source, pos),
         |cn AS (
         |  SELECT source, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT source, list(mean ORDER BY pos) AS cv FROM cm GROUP BY source) t),
         |gm AS (
         |  SELECT pos, FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |  FROM el GROUP BY pos),
         |gn AS (
         |  SELECT cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT list(mean ORDER BY pos) AS cv FROM gm) t),
         |nv AS (SELECT source, COUNT(*) AS n_vecs FROM rel GROUP BY source)
         |SELECT c.source, nv.n_vecs,
         |  floor(list_dot_product(c.cv, g.cv) / (c.cnorm * g.cnorm) * 1000000) / 1000000
         |    AS cos_global
         |FROM cn c JOIN nv ON c.source = nv.source CROSS JOIN gn g
         |ORDER BY c.source""".stripMargin,
    "ann_cell_stats" ->
      s"""WITH $vectorsCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
         |          WHERE vec_id >= 100 AND vec_id < 108),
         |assign AS (
         |  SELECT vec_id, cent_id AS list_id,
         |    CAST(floor(ccos * 1000000) AS BIGINT) AS cosq
         |  FROM (
         |    SELECT vn.vec_id, c.cent_id,
         |      list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) AS ccos,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c) t WHERE crk = 1)
         |SELECT list_id, COUNT(*) AS n_vectors,
         |  floor(CAST(SUM(cosq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean_cos,
         |  floor(CAST(COUNT(*) AS DOUBLE) * 8 / (SELECT COUNT(*) FROM vn) * 1000000) / 1000000
         |    AS load_factor
         |FROM assign GROUP BY list_id ORDER BY list_id""".stripMargin,
    // Strategy literals are oracle contract: label=3 passes ~10% of
    // vectors (≤ 1/2 → brute), label<>3 ~90% (> 1/2 → ivf_post with
    // nprobe 2×2=4) at every SF — the SQL replays the branch each
    // count selects, and a Spark-side threshold drift breaks the
    // strategy column before it breaks any row.
    "ann_filtered_topk" ->
      s"""WITH $vectorsCte,
         |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM vn WHERE vec_id < 8),
         |sel AS (
         |  SELECT q.query_id, vn.vec_id AS neighbor_id,
         |    list_dot_product(q.qv, vn.v) / (q.qnorm * vn.norm) AS cos
         |  FROM vn JOIN q ON vn.vec_id <> q.query_id WHERE vn.label = 3),
         |selr AS (
         |  SELECT 'selective' AS scenario, 'brute' AS strategy, query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk, cos
         |  FROM sel),
         |cents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
         |          WHERE vec_id >= 100 AND vec_id < 108),
         |assign AS (
         |  SELECT vec_id AS n_id, cent_id AS list_id, v AS n_v, norm AS n_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c) t WHERE crk = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cent_id AS list_id, v AS q_v, norm AS q_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c WHERE vn.vec_id < 8) t WHERE crk <= 4),
         |brd AS (
         |  SELECT p.q_id AS query_id, a.n_id AS neighbor_id,
         |    list_dot_product(p.q_v, a.n_v) / (p.q_norm * a.n_norm) AS cos
         |  FROM probes p JOIN assign a ON p.list_id = a.list_id AND p.q_id <> a.n_id
         |  JOIN vn f ON f.vec_id = a.n_id AND f.label <> 3),
         |brdr AS (
         |  SELECT 'broad' AS scenario, 'ivf_post' AS strategy, query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk, cos
         |  FROM brd),
         |unioned AS (SELECT * FROM selr UNION ALL SELECT * FROM brdr)
         |SELECT scenario, strategy, query_id, neighbor_id, rk,
         |  floor(cos * 1000000) / 1000000 AS cos
         |FROM unioned WHERE rk <= 5 ORDER BY scenario, query_id, rk""".stripMargin,
    // The tombstone anti-join replays as a predicate on the candidate
    // id (tombstone set = ids ≡ 0 mod 7, deterministic at every SF);
    // queries stay unmasked — a deleted vector can still QUERY the
    // index, it just can't be served from it.
    "ann_ivf_deleted" ->
      s"""WITH $vectorsCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
         |          WHERE vec_id >= 100 AND vec_id < 108),
         |assign AS (
         |  SELECT vec_id AS n_id, cent_id AS list_id, v AS n_v, norm AS n_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c) t WHERE crk = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cent_id AS list_id, v AS q_v, norm AS q_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c WHERE vn.vec_id < 8) t WHERE crk <= 2),
         |scored AS (
         |  SELECT p.q_id AS query_id, a.n_id AS neighbor_id,
         |    list_dot_product(p.q_v, a.n_v) / (p.q_norm * a.n_norm) AS cos
         |  FROM probes p JOIN assign a ON p.list_id = a.list_id AND p.q_id <> a.n_id
         |  WHERE a.n_id % 7 <> 0),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    // MaxSim stages replayed row-for-row: the same probe/assign chain
    // shortlists 50 by whole-vector cosine, UNNEST(range) pairs the
    // 8×8 subspaces, the sub-cosine floors to an integer, MAX per
    // query-subspace then an exact integer SUM — rank ties break on
    // neighbor_id exactly like graft_topk's (score DESC, payload ASC)
    "ann_maxsim_topk" ->
      s"""WITH $vectorsCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
         |          WHERE vec_id >= 100 AND vec_id < 108),
         |assign AS (
         |  SELECT vec_id AS n_id, cent_id AS list_id, v AS n_v, norm AS n_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c) t WHERE crk = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cent_id AS list_id, v AS q_v, norm AS q_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c WHERE vn.vec_id < 8) t WHERE crk <= 2),
         |sc AS (
         |  SELECT p.q_id AS query_id, a.n_id AS neighbor_id,
         |    list_dot_product(p.q_v, a.n_v) / (p.q_norm * a.n_norm) AS cos
         |  FROM probes p JOIN assign a ON p.list_id = a.list_id AND p.q_id <> a.n_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS srk FROM sc) t
         |  WHERE srk <= 50),
         |sn AS (
         |  SELECT vec_id, m,
         |    sqrt(list_dot_product(v[8*m+1:8*m+8], v[8*m+1:8*m+8])) AS s
         |  FROM vn, UNNEST(range(0, 8)) AS u(m)),
         |cells AS (
         |  SELECT sh.query_id, sh.neighbor_id, mq.m,
         |    MAX(CASE WHEN snq.s = 0.0 OR snn.s = 0.0 THEN 0
         |             ELSE CAST(FLOOR(
         |               list_dot_product(q.v[8*mq.m+1:8*mq.m+8], n.v[8*pp.p+1:8*pp.p+8])
         |               / (snq.s * snn.s) * 1000000) AS BIGINT) END) AS best
         |  FROM short sh
         |  JOIN vn q ON q.vec_id = sh.query_id
         |  JOIN vn n ON n.vec_id = sh.neighbor_id
         |  CROSS JOIN UNNEST(range(0, 8)) AS mq(m)
         |  CROSS JOIN UNNEST(range(0, 8)) AS pp(p)
         |  JOIN sn snq ON snq.vec_id = sh.query_id AND snq.m = mq.m
         |  JOIN sn snn ON snn.vec_id = sh.neighbor_id AND snn.m = pp.p
         |  GROUP BY sh.query_id, sh.neighbor_id, mq.m),
         |msum AS (
         |  SELECT query_id, neighbor_id, CAST(SUM(best) AS BIGINT) AS ms
         |  FROM cells GROUP BY query_id, neighbor_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ms DESC, neighbor_id) AS rk FROM msum)
         |SELECT query_id, neighbor_id, rk,
         |  floor(CAST(ms AS DOUBLE) * 1000000) / 1000000 AS maxsim
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH $vectorsCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
         |          WHERE vec_id >= 100 AND vec_id < 108),
         |assign AS (
         |  SELECT vec_id AS n_id, cent_id AS list_id, v AS n_v, norm AS n_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c) t WHERE crk = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cent_id AS list_id, v AS q_v, norm AS q_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c WHERE vn.vec_id < 8) t WHERE crk <= 2),
         |scored AS (
         |  SELECT p.q_id AS query_id, a.n_id AS neighbor_id,
         |    list_dot_product(p.q_v, a.n_v) / (p.q_norm * a.n_norm) AS cos
         |  FROM probes p JOIN assign a ON p.list_id = a.list_id AND p.q_id <> a.n_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "emb_knn_graph" ->
      s"""WITH $vectorsCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
         |          WHERE vec_id >= 100 AND vec_id < 108),
         |assigned AS (
         |  SELECT vec_id, cent_id AS list_id, v, norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c) t WHERE crk = 1),
         |pool AS (
         |  SELECT list_id, vec_id AS nb_id, v AS nb_v, norm AS nb_norm FROM (
         |    SELECT a.*, ROW_NUMBER() OVER (PARTITION BY list_id
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS prk
         |    FROM assigned a) t WHERE prk <= 48),
         |scored AS (
         |  SELECT m.vec_id, p.nb_id AS neighbor_id,
         |    list_dot_product(m.v, p.nb_v) / (m.norm * p.nb_norm) AS cos
         |  FROM assigned m JOIN pool p
         |    ON m.list_id = p.list_id AND m.vec_id <> p.nb_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT vec_id, neighbor_id, CAST(rk AS BIGINT) AS rk,
         |  floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,
    "emb_centroid_update" ->
      s"""WITH $vectorsCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
         |          WHERE vec_id >= 100 AND vec_id < 108),
         |assign AS (
         |  SELECT cent_id AS list_id, v FROM (
         |    SELECT c.cent_id, vn.v,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c) t WHERE crk = 1),
         |el AS (
         |  SELECT list_id, CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |  FROM assign, UNNEST(range(1, 65)) AS u(i))
         |SELECT list_id, pos, COUNT(*) AS n_members,
         |  FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |FROM el GROUP BY list_id, pos ORDER BY list_id, pos""".stripMargin,
    "text_bigram_rarity" ->
      """WITH bg AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |       UNNEST(range(1, len(w))) AS u(i)
        |  WHERE len(w) >= 2),
        |dfreq AS (SELECT bg, COUNT(*) AS df FROM bg GROUP BY bg)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  floor(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 1000000) / 1000000 AS rarity
        |FROM bg b JOIN dfreq d ON b.bg = d.bg
        |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,
    "text_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
        |ranked AS (
        |  SELECT t.doc_id, t.tok, t.tf, d.df,
        |    ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.tf DESC, d.df, t.tok) AS rk
        |  FROM toks t JOIN dfreq d ON t.tok = d.tok)
        |SELECT doc_id, tok, tf, df, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg,
        |    list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tg
        |  FROM t WHERE len(w) >= 3),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(bg) AS BIGINT) AS n_bigrams,
        |    CAST(len(list_distinct(bg)) AS BIGINT) AS n_uniq_bigrams,
        |    CAST(len(tg) AS BIGINT) AS n_trigrams,
        |    CAST(len(list_distinct(tg)) AS BIGINT) AS n_uniq_trigrams
        |  FROM g)
        |SELECT doc_id, n_bigrams, n_uniq_bigrams, n_trigrams, n_uniq_trigrams,
        |  floor((1.0 - CAST(n_uniq_bigrams AS DOUBLE) / n_bigrams) * 1000000) / 1000000 AS rep2,
        |  floor((1.0 - CAST(n_uniq_trigrams AS DOUBLE) / n_trigrams) * 1000000) / 1000000 AS rep3
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_length_quantiles" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  MIN(CASE WHEN rk = (50 * n + 99) // 100 THEN n_chars END) AS p50,
        |  MIN(CASE WHEN rk = (90 * n + 99) // 100 THEN n_chars END) AS p90,
        |  MIN(CASE WHEN rk = (99 * n + 99) // 100 THEN n_chars END) AS p99
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // exact quantiles + sketch rank-error-bound flags (all 1 when the
    // percentile_approx values honor their ε·n guarantee)
    "text_length_quantiles_approx" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  MIN(CASE WHEN rk = (50 * n + 99) // 100 THEN n_chars END) AS p50,
        |  MIN(CASE WHEN rk = (90 * n + 99) // 100 THEN n_chars END) AS p90,
        |  MIN(CASE WHEN rk = (99 * n + 99) // 100 THEN n_chars END) AS p99,
        |  CAST(1 AS BIGINT) AS p50_ok,
        |  CAST(1 AS BIGINT) AS p90_ok,
        |  CAST(1 AS BIGINT) AS p99_ok
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "text_vocab_stats" ->
      """WITH tf AS (
        |  SELECT source, tok, COUNT(*) AS tf
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY source, tok)
        |SELECT source, CAST(SUM(tf) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
        |  CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  floor(CAST(COUNT(*) AS DOUBLE) / SUM(tf) * 1000000) / 1000000 AS ttr,
        |  floor(CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 1000000) / 1000000 AS hapax_ratio
        |FROM tf GROUP BY source ORDER BY source""".stripMargin,
    "text_source_drift" ->
      """WITH st AS (
        |  SELECT source, tok, COUNT(*) AS tf_s
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY source, tok),
        |ct AS (SELECT tok, CAST(SUM(tf_s) AS BIGINT) AS tf_c FROM st GROUP BY tok),
        |nc AS (SELECT CAST(SUM(tf_c) AS BIGINT) AS n FROM ct),
        |ns AS (SELECT source, CAST(SUM(tf_s) AS BIGINT) AS n_s FROM st GROUP BY source),
        |j AS (
        |  SELECT st.source, ns.n_s, COUNT(*) AS n_terms,
        |    CAST(SUM(abs(st.tf_s * (SELECT n FROM nc) - ct.tf_c * ns.n_s)) AS BIGINT) AS present_num,
        |    CAST(SUM(ct.tf_c) AS BIGINT) AS present_tfc
        |  FROM st JOIN ct USING (tok) JOIN ns USING (source)
        |  GROUP BY st.source, ns.n_s)
        |SELECT source, n_s, n_terms,
        |  CAST(present_num + n_s * ((SELECT n FROM nc) - present_tfc) AS BIGINT) AS drift_num,
        |  floor(CAST(present_num + n_s * ((SELECT n FROM nc) - present_tfc) AS DOUBLE)
        |        / (CAST(n_s AS DOUBLE) * (SELECT n FROM nc)) * 1000000) / 1000000 AS l1_drift
        |FROM j ORDER BY source""".stripMargin,
    "text_bpe_pairs" ->
      """WITH ty AS (
        |  SELECT tok, COUNT(*) AS tf
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  WHERE length(tok) >= 2 GROUP BY tok),
        |p AS (
        |  SELECT substr(tok, CAST(i AS INT), 2) AS pair, CAST(SUM(tf) AS BIGINT) AS n
        |  FROM ty, UNNEST(range(1, length(tok))) AS u(i)
        |  GROUP BY 1),
        |r AS (SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk FROM p)
        |SELECT pair, n, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "text_bm25_topk" ->
      s"""WITH $bm25RankedCte
        |SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rk, score_u,
        |       CAST(score_u AS DOUBLE) / 1000000.0 AS score
        |FROM lexranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    // exact-adjacency phrase retrieval: positions are 1-based indices
    // over the whitespace split (empty tokens dropped, indices kept —
    // the Spark relation's exact layout), phrases are the query docs'
    // first two array elements, n_occ counts adjacent (l, r) hits per
    // candidate doc, ranks tie on doc_id. Integer end to end.
    "text_phrase_topk" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS MATERIALIZED (
        |  SELECT doc_id, i AS pos, w[i] AS term
        |  FROM t, UNNEST(range(1, len(w) + 1)) AS u(i)
        |  WHERE w[i] <> ''),
        |qp AS (
        |  SELECT doc_id AS query_id, w[1] AS l, w[2] AS r
        |  FROM t WHERE doc_id < 8 AND len(w) >= 2),
        |hits AS (
        |  SELECT q.query_id, a.doc_id, COUNT(*) AS n_occ
        |  FROM qp q
        |  JOIN p a ON a.term = q.l
        |  JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 1 AND c.term = q.r
        |  WHERE a.doc_id <> q.query_id
        |  GROUP BY q.query_id, a.doc_id),
        |r AS (
        |  SELECT query_id, doc_id, n_occ,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY n_occ DESC, doc_id) AS rk
        |  FROM hits)
        |SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rk, n_occ
        |FROM r WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "text_bpe_train" -> bpeTrainOracle,
    "text_bpe_train_sampled" -> bpeTrainSampledOracle,
    "text_bpe_encode" -> bpeEncodeOracle,
    "text_bpe_encode_sampled" -> bpeEncodeSampledOracle,
    // per-source fertility/compression under the trained vocabulary:
    // the encode join's per-doc rollup re-aggregated by source, docs
    // encoding to nothing kept via the left join
    "text_bpe_fertility" ->
      s"""WITH ${bpeRoundsCte(10)},
         |enc AS MATERIALIZED (
         |  SELECT tok, CAST(len(string_split(trim(w, ' '), '  ')) AS BIGINT) AS n_syms
         |  FROM t10),
         |dt AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |j AS (
         |  SELECT doc_id, COUNT(*) AS w, CAST(SUM(n_syms) AS BIGINT) AS b,
         |    CAST(SUM(length(tok)) AS BIGINT) AS c
         |  FROM dt JOIN enc USING (tok)
         |  WHERE tok <> ''
         |  GROUP BY doc_id),
         |g AS (
         |  SELECT d.source, COUNT(*) AS n_docs,
         |    CAST(COALESCE(SUM(j.w), 0) AS BIGINT) AS n_words,
         |    CAST(COALESCE(SUM(j.b), 0) AS BIGINT) AS n_bpe_tokens,
         |    CAST(COALESCE(SUM(j.c), 0) AS BIGINT) AS n_chars
         |  FROM documents d LEFT JOIN j USING (doc_id) GROUP BY d.source)
         |SELECT source, n_docs, n_words, n_bpe_tokens, n_chars,
         |  CASE WHEN n_words > 0
         |    THEN floor(CAST(n_bpe_tokens AS DOUBLE) / n_words * 1000000) / 1000000
         |    ELSE 0.0 END AS fertility,
         |  CASE WHEN n_bpe_tokens > 0
         |    THEN floor(CAST(n_chars AS DOUBLE) / n_bpe_tokens * 1000000) / 1000000
         |    ELSE 0.0 END AS chars_per_token
         |FROM g ORDER BY source""".stripMargin,
    "pipe_dup_weights" ->
      s"""WITH $simhashCte,
         |sizes AS (SELECT simhash, COUNT(*) AS cluster_size FROM shash GROUP BY simhash)
         |SELECT h.doc_id, z.cluster_size,
         |  floor(CAST(1 AS DOUBLE) / z.cluster_size * 1000000) / 1000000 AS weight
         |FROM shash h JOIN sizes z USING (simhash)
         |ORDER BY doc_id""".stripMargin,
    "text_source_signatures" ->
      """WITH tf AS (
        |  SELECT source, tok, COUNT(*) AS tf
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY source, tok),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |ranked AS (
        |  SELECT t.source, t.tok, t.tf, d.df,
        |    ROW_NUMBER() OVER (PARTITION BY t.source ORDER BY t.tf DESC, d.df, t.tok) AS rk
        |  FROM tf t JOIN dfreq d ON t.tok = d.tok)
        |SELECT source, tok, tf, df, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    "pipe_quality_by_dup" ->
      s"""WITH $simhashCte,
         |sizes AS (SELECT simhash, COUNT(*) AS cluster_size FROM shash GROUP BY simhash),
         |member AS (SELECT h.doc_id, z.cluster_size FROM shash h JOIN sizes z USING (simhash)),
         |base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |qm AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_tokens,
         |    CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS BIGINT) AS n_stop
         |  FROM base),
         |qs AS (
         |  SELECT doc_id,
         |    CAST(floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + (1.0 - floor(CAST(n_stop AS DOUBLE) / n_tokens * 1000000) / 1000000) * 0.3
         |      + least(floor(CAST(sum_len AS DOUBLE) / n_tokens * 1000000) / 1000000 / 8.0, 1.0) * 0.3) * 1000000) AS BIGINT) AS qq
         |  FROM qm)
         |SELECT LEAST(cluster_size, 5) AS size_bucket, COUNT(*) AS n_docs,
         |  FLOOR(CAST(SUM(qq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean_quality
         |FROM member JOIN qs USING (doc_id)
         |GROUP BY 1 ORDER BY size_bucket""".stripMargin,
    "pipe_shuffle_shards" ->
      """WITH b AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 8 AS BIGINT) AS shard_id
        |  FROM documents)
        |SELECT doc_id, shard_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM b ORDER BY shard_id, pos""".stripMargin,
    "pipe_shard_manifest" ->
      """WITH b AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 8 AS BIGINT) AS shard_id
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, shard_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS BIGINT) AS pos
        |  FROM b),
        |j AS (
        |  SELECT p.shard_id, p.pos, md5(d.text) AS dg,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        |  FROM p JOIN documents d USING (doc_id))
        |SELECT shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  md5(string_agg(dg, '' ORDER BY pos)) AS content_digest
        |FROM j GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "pipe_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (
        |  SELECT doc_id, w, u.st AS start_tok
        |  FROM t, UNNEST(range(0, CAST(len(w) AS BIGINT), 12)) AS u(st))
        |SELECT doc_id,
        |  CAST(start_tok // 12 AS BIGINT) AS chunk_id,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(list_slice(w, CAST(start_tok + 1 AS INT), CAST(start_tok + 16 AS INT))) AS BIGINT) AS chunk_tokens,
        |  md5(array_to_string(list_slice(w, CAST(start_tok + 1 AS INT), CAST(start_tok + 16 AS INT)), ' ')) AS chunk_hash
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "pipe_curriculum" ->
      s"""WITH $curationCte
         |SELECT phase, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS token_mass,
         |  FLOOR(CAST(SUM(CAST(round(quality_score * 1000000) AS BIGINT)) AS DOUBLE)
         |        / COUNT(*)) / 1000000 AS mean_quality
         |FROM (
         |  SELECT n_tokens, quality_score,
         |    CAST(CASE WHEN quality_score >= 0.8 THEN 3
         |              WHEN quality_score >= 0.6 THEN 2
         |              WHEN quality_score >= 0.4 THEN 1 ELSE 0 END AS BIGINT) AS phase
         |  FROM q) t
         |GROUP BY phase ORDER BY phase""".stripMargin,
    "pipe_incremental_dedup" ->
      s"""WITH $simhashCte,
         |d AS (SELECT doc_id, source, md5(text) AS digest FROM documents),
         |x AS (SELECT d.doc_id, d.source, d.digest, sh.simhash
         |      FROM d JOIN shash sh ON d.doc_id = sh.doc_id),
         |th AS (SELECT (MAX(doc_id) + 1) * 4 // 5 AS t FROM x),
         |old AS (SELECT * FROM x WHERE doc_id < (SELECT t FROM th)),
         |neu AS (SELECT * FROM x WHERE doc_id >= (SELECT t FROM th)),
         |od AS (SELECT DISTINCT digest FROM old),
         |oh AS (SELECT DISTINCT simhash FROM old)
         |SELECT neu.source, COUNT(*) AS n_new,
         |  CAST(SUM(CASE WHEN od.digest IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |  CAST(SUM(CASE WHEN od.digest IS NULL AND oh.simhash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
         |  CAST(SUM(CASE WHEN od.digest IS NULL AND oh.simhash IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM neu LEFT JOIN od ON neu.digest = od.digest
         |         LEFT JOIN oh ON neu.simhash = oh.simhash
         |GROUP BY neu.source ORDER BY neu.source""".stripMargin,
    "mm_modality_coverage" ->
      """SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_emb,
        |  CAST(COUNT(*) - SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        |FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "pipe_decontaminate" ->
      s"""WITH $shinglesCte,
         |$cappedShinglesCte,
         |bench AS (SELECT DISTINCT s FROM shc WHERE doc_id < 10),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM shc
         |  WHERE doc_id >= 10 AND s IN (SELECT s FROM bench))
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(COUNT(*) - SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
         |FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
         |WHERE d.doc_id >= 10
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // near-dup decontamination: MinHash band candidates (bench × corpus
    // only through shared band keys), exact-Jaccard verify at 0.5
    "pipe_decontaminate_fuzzy" ->
      s"""WITH $shinglesCte,
         |hh AS (
         |  SELECT doc_id, s AS h1,
         |    ('0x' || substr(md5(CAST(s AS VARCHAR)), 1, 15))::BIGINT AS h2
         |  FROM sh),
         |sig AS (
         |  SELECT doc_id,
         |    MIN(h1 + 0 * h2) AS mh0, MIN(h1 + 1 * h2) AS mh1,
         |    MIN(h1 + 2 * h2) AS mh2, MIN(h1 + 3 * h2) AS mh3,
         |    MIN(h1 + 4 * h2) AS mh4, MIN(h1 + 5 * h2) AS mh5
         |  FROM hh GROUP BY doc_id),
         |bands AS (SELECT doc_id, mh0 || '|' || mh1 AS b0, mh2 || '|' || mh3 AS b1,
         |                 mh4 || '|' || mh5 AS b2 FROM sig),
         |bexp AS (
         |  SELECT doc_id, 0 AS bi, b0 AS bk FROM bands
         |  UNION ALL SELECT doc_id, 1, b1 FROM bands
         |  UNION ALL SELECT doc_id, 2, b2 FROM bands),
         |cand AS (
         |  SELECT DISTINCT c.doc_id AS corp_doc, b.doc_id AS bench_doc
         |  FROM bexp c JOIN bexp b ON c.bi = b.bi AND c.bk = b.bk
         |  WHERE c.doc_id >= 10 AND b.doc_id < 10),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT cand.corp_doc, cand.bench_doc, COUNT(*) AS c
         |  FROM cand JOIN sh x ON cand.corp_doc = x.doc_id
         |            JOIN sh y ON cand.bench_doc = y.doc_id AND x.s = y.s
         |  GROUP BY 1, 2),
         |hits AS (
         |  SELECT DISTINCT corp_doc FROM common
         |  JOIN sizes sx ON corp_doc = sx.doc_id
         |  JOIN sizes sy ON bench_doc = sy.doc_id
         |  WHERE floor(CAST(c AS DOUBLE) / (sx.n + sy.n - c) * 1000000) / 1000000 >= 0.5)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN h.corp_doc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(COUNT(*) - SUM(CASE WHEN h.corp_doc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.corp_doc
         |WHERE d.doc_id >= 10
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // exact contamination counts + bloom-missed count (no-false-negatives
    // ⇒ 0 for every source; Spark's computed miss count is hashed, so a
    // sketch that drops an exactly-contaminated doc fails the gate)
    "pipe_decontaminate_bloom" ->
      s"""WITH $shinglesCte,
         |$cappedShinglesCte,
         |bench AS (SELECT DISTINCT s FROM shc WHERE doc_id < 10),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM shc
         |  WHERE doc_id >= 10 AND s IN (SELECT s FROM bench))
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(0 AS BIGINT) AS n_missed_by_bloom
         |FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
         |WHERE d.doc_id >= 10
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "pipe_temperature_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |counts AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS mass FROM d GROUP BY source),
        |rates AS (
        |  SELECT source,
        |    CAST(FLOOR(100.0 * sqrt(CAST((SELECT MIN(mass) FROM counts) AS DOUBLE) / mass)) AS BIGINT) AS rate
        |  FROM counts),
        |b AS (
        |  SELECT doc_id, source,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS BIGINT) AS bucket
        |  FROM d)
        |SELECT b.doc_id, b.source, b.bucket, r.rate
        |FROM b JOIN rates r ON b.source = r.source
        |WHERE b.bucket < r.rate
        |ORDER BY doc_id""".stripMargin,
    "pipe_token_shards" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, CAST((cum - n_tokens) // 512 AS BIGINT) AS shard_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY source, shard_id ORDER BY source, shard_id""".stripMargin,
    // the shard math of pipe_token_shards with n_tokens = the trained
    // tokenizer's per-doc symbol count (the bpe_encode oracle's chain
    // carried through the same window + rollup); docs that encode to 0
    // tokens keep their shard slot via the left join
    "pipe_token_shards_bpe" ->
      s"""WITH ${bpeRoundsCte(10)},
         |$bpePerDocCte,
         |c AS (
         |  SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT source, CAST((cum - n_tokens) // 512 AS BIGINT) AS shard_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY source, shard_id ORDER BY source, shard_id""".stripMargin,
    // the packing forecast under the trained tokenizer — same body as
    // pipe_packing_plan over the shared BPE denominator; the
    // n_tokens > 0 guard keeps a zero-token doc from reading as a
    // boundary straddle (and keeps cum - 1 out of negative division,
    // where the engines' div semantics differ)
    // every derived column is integer arithmetic off one per-source
    // aggregate; // floors and % matches Spark's div/% on non-negative
    // operands; repeat_factor is the one trunc6 ratio
    "pipe_epochs_plan" ->
      """WITH t AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, total_tokens,
        |  CAST(1000000 // total_tokens AS BIGINT) AS epochs_full,
        |  CAST(1000000 % total_tokens AS BIGINT) AS tail_tokens,
        |  floor(CAST(1000000 AS DOUBLE) / total_tokens * 1000000) / 1000000
        |    AS repeat_factor,
        |  CAST(LEAST(1000000, 4 * total_tokens) AS BIGINT) AS usable_tokens,
        |  CAST(1000000 - LEAST(1000000, 4 * total_tokens) AS BIGINT) AS shortfall
        |FROM t ORDER BY source""".stripMargin,
    "pipe_packing_plan_bpe" ->
      s"""WITH ${bpeRoundsCte(10)},
         |$bpePerDocCte,
         |c AS (
         |  SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST((MAX(cum) + 511) // 512 AS BIGINT) AS chop_seqs,
         |  CAST(SUM(CASE WHEN n_tokens > 0 AND (cum - n_tokens) // 512 <> (cum - 1) // 512
         |           THEN 1 ELSE 0 END) AS BIGINT) AS chop_split_docs,
         |  CAST(SUM(CASE WHEN n_tokens > 512 THEN n_tokens - 512 ELSE 0 END) AS BIGINT)
         |    AS pad_truncated,
         |  CAST(SUM(512 - LEAST(n_tokens, 512)) AS BIGINT) AS pad_waste,
         |  floor(CAST(SUM(n_tokens) AS DOUBLE)
         |        / (CAST((MAX(cum) + 511) // 512 AS BIGINT) * 512) * 1000000) / 1000000
         |    AS chop_efficiency,
         |  floor(CAST(SUM(n_tokens) - SUM(CASE WHEN n_tokens > 512 THEN n_tokens - 512 ELSE 0 END) AS DOUBLE)
         |        / (COUNT(*) * 512) * 1000000) / 1000000 AS pad_efficiency
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // the per-source token budget under the trained tokenizer — same
    // hash-ranked admission as pipe_token_quota over the shared BPE
    // denominator
    "pipe_token_quota_bpe" ->
      s"""WITH ${bpeRoundsCte(10)},
         |$bpePerDocCte,
         |c AS (
         |  SELECT *, md5(CAST(doc_id AS VARCHAR)) AS h,
         |    SUM(n_tokens) OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN cum <= 800 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN cum <= 800 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
         |  floor(CAST(SUM(CASE WHEN cum <= 800 THEN n_tokens ELSE 0 END) AS DOUBLE)
         |        / 800 * 1000000) / 1000000 AS utilization
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // the epoch/repeat plan under the trained tokenizer — same integer
    // math as pipe_epochs_plan over the shared BPE denominator
    "pipe_epochs_plan_bpe" ->
      s"""WITH ${bpeRoundsCte(10)},
         |$bpePerDocCte,
         |g AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |  FROM t GROUP BY source)
         |SELECT source, n_docs, total_tokens,
         |  CAST(1000000 // total_tokens AS BIGINT) AS epochs_full,
         |  CAST(1000000 % total_tokens AS BIGINT) AS tail_tokens,
         |  floor(CAST(1000000 AS DOUBLE) / total_tokens * 1000000) / 1000000
         |    AS repeat_factor,
         |  CAST(LEAST(1000000, 4 * total_tokens) AS BIGINT) AS usable_tokens,
         |  CAST(1000000 - LEAST(1000000, 4 * total_tokens) AS BIGINT) AS shortfall
         |FROM g ORDER BY source""".stripMargin,
    // temperature flattening with mass = trained-tokenizer tokens —
    // same rate derivation as pipe_temperature_mixture over the shared
    // BPE denominator
    "pipe_temperature_mixture_bpe" ->
      s"""WITH ${bpeRoundsCte(10)},
         |$bpePerDocCte,
         |counts AS MATERIALIZED (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS mass FROM t GROUP BY source),
         |rates AS (
         |  SELECT source,
         |    CAST(FLOOR(100.0 * sqrt(CAST((SELECT MIN(mass) FROM counts) AS DOUBLE) / mass)) AS BIGINT) AS rate
         |  FROM counts),
         |b AS (
         |  SELECT doc_id, source,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS BIGINT) AS bucket
         |  FROM t)
         |SELECT b.doc_id, b.source, b.bucket, r.rate
         |FROM b JOIN rates r ON b.source = r.source
         |WHERE b.bucket < r.rate
         |ORDER BY doc_id""".stripMargin,
    // balanced mixture with mass = trained-tokenizer tokens (target =
    // half the smallest source's BPE token mass) — same integer rate
    // rule as pipe_balanced_mixture over the shared BPE denominator
    "pipe_balanced_mixture_bpe" ->
      s"""WITH ${bpeRoundsCte(10)},
         |$bpePerDocCte,
         |counts AS MATERIALIZED (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS cnt FROM t GROUP BY source),
         |rates AS (
         |  SELECT source, CAST(100 * ((SELECT MIN(cnt) FROM counts) // 2) // cnt AS BIGINT) AS rate
         |  FROM counts),
         |b AS (
         |  SELECT doc_id, source,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS BIGINT) AS bucket
         |  FROM t)
         |SELECT b.doc_id, b.source, b.bucket, r.rate
         |FROM b JOIN rates r ON b.source = r.source
         |WHERE b.bucket < r.rate
         |ORDER BY doc_id""".stripMargin,
    "pipe_leakage_split" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte,
         |assigned AS (
         |  SELECT d.doc_id, d.source, c.comp_id,
         |    coalesce(c.comp_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         |b AS (
         |  SELECT *, ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::BIGINT % 100
         |    AS bucket
         |  FROM assigned)
         |SELECT source,
         |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN comp_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cluster_bound
         |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin,
    "pipe_curation_manifest" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte,
         |$curationGatesCte,
         |j AS (
         |  SELECT d.source,
         |    CASE WHEN d.exact_dup THEN 'exact_dup'
         |         WHEN c.comp_id IS NOT NULL AND c.comp_id <> d.doc_id THEN 'near_dup'
         |         WHEN NOT coalesce(f.ok_q, false) THEN 'quality'
         |         ELSE 'keep' END AS decision
         |  FROM d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |         LEFT JOIN f ON d.doc_id = f.doc_id)
         |SELECT source, decision, COUNT(*) AS n_docs
         |FROM j GROUP BY 1, 2 ORDER BY source, decision""".stripMargin,
    "pipe_curation_run" ->
      // the run's end artifact: the pipe_curation_manifest decision
      // chain cut to its KEEP set, sharded by the pipe_shard_manifest
      // recipe. The manifest-store roundtrip (tagged appends, pinned
      // read-back, compaction+GC replay proof) is Spark-side plumbing
      // the oracle can't see — but the CONTENT digest makes the row
      // sensitive to any corruption the roundtrip could introduce.
      // pinned_version = 2: stage-1 and stage-2 appends, the version
      // the citation pins on a clean run.
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte,
         |$curationGatesCte,
         |keep AS (
         |  SELECT d.doc_id
         |  FROM d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |         LEFT JOIN f ON d.doc_id = f.doc_id
         |  WHERE NOT d.exact_dup
         |    AND NOT (c.comp_id IS NOT NULL AND c.comp_id <> d.doc_id)
         |    AND coalesce(f.ok_q, false)),
         |b AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 8 AS BIGINT) AS shard_id
         |  FROM keep),
         |p AS (
         |  SELECT doc_id, shard_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS BIGINT) AS pos
         |  FROM b),
         |j AS (
         |  SELECT p.shard_id, p.pos, md5(dd.text) AS dg,
         |    CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS n_tokens
         |  FROM p JOIN documents dd USING (doc_id))
         |SELECT shard_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  md5(string_agg(dg, '' ORDER BY pos)) AS content_digest,
         |  CAST(2 AS BIGINT) AS pinned_version
         |FROM j GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "pipe_curation_delta" ->
      // delta ∘ prior ≡ full: the delta run (prior chain over the
      // bottom-90%-of-ids slice, then index-served admission of the top
      // decile with corrections) must land on exactly the receipt a
      // FULL run over the combined corpus produces — so the oracle IS
      // that full-run receipt, computed from the corpus directly, plus
      // the per-shard count of batch-origin documents (n_new) the
      // delta's SHARD artifact records. thr = 9·max(doc_id)//10, the
      // same integer rule the Spark side derives. pinned_version = 2:
      // the DELTA chain's stage-D1 and stage-D2 appends.
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte,
         |$curationGatesCte,
         |keep AS (
         |  SELECT d.doc_id
         |  FROM d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |         LEFT JOIN f ON d.doc_id = f.doc_id
         |  WHERE NOT d.exact_dup
         |    AND NOT (c.comp_id IS NOT NULL AND c.comp_id <> d.doc_id)
         |    AND coalesce(f.ok_q, false)),
         |thr AS (SELECT (9 * MAX(doc_id)) // 10 AS t FROM documents),
         |b AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 8 AS BIGINT) AS shard_id
         |  FROM keep),
         |p AS (
         |  SELECT doc_id, shard_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS BIGINT) AS pos
         |  FROM b),
         |j AS (
         |  SELECT p.shard_id, p.pos, md5(dd.text) AS dg,
         |    CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS n_tokens,
         |    dd.doc_id > (SELECT t FROM thr) AS is_new
         |  FROM p JOIN documents dd USING (doc_id))
         |SELECT shard_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  md5(string_agg(dg, '' ORDER BY pos)) AS content_digest,
         |  CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |  CAST(2 AS BIGINT) AS pinned_version
         |FROM j GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "pipe_takedown" ->
      // takedown ∘ prior ≡ full run over the corpus MINUS the removed
      // set: the oracle computes that filtered-corpus receipt directly.
      // The shared curation CTEs read `documents` by name, so they are
      // REBASED textually onto the filtered td_docs relation — one
      // mechanical substitution of the table reference, keeping the
      // gate/component/shard logic single-sourced with every other
      // curation oracle (a hand copy would fork the thresholds).
      // pinned_version = 2: the takedown chain's T1 and T2 appends.
      s"""WITH RECURSIVE td_docs AS (
         |  SELECT * FROM documents WHERE doc_id % 13 <> 0),
         |${Seq(shinglesCte, ngramComponentsCte, curationGatesCte)
             .mkString(",\n")
             .replace("FROM documents", "FROM td_docs")
             .replace("JOIN documents", "JOIN td_docs")},
         |keep AS (
         |  SELECT d.doc_id
         |  FROM d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |         LEFT JOIN f ON d.doc_id = f.doc_id
         |  WHERE NOT d.exact_dup
         |    AND NOT (c.comp_id IS NOT NULL AND c.comp_id <> d.doc_id)
         |    AND coalesce(f.ok_q, false)),
         |b AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 8 AS BIGINT) AS shard_id
         |  FROM keep),
         |p AS (
         |  SELECT doc_id, shard_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS BIGINT) AS pos
         |  FROM b),
         |j AS (
         |  SELECT p.shard_id, p.pos, md5(dd.text) AS dg,
         |    CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS n_tokens
         |  FROM p JOIN td_docs dd USING (doc_id))
         |SELECT shard_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  md5(string_agg(dg, '' ORDER BY pos)) AS content_digest,
         |  CAST(2 AS BIGINT) AS pinned_version
         |FROM j GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "pipe_data_card" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte,
         |$curationGatesCte,
         |dec AS (
         |  SELECT d.doc_id, d.source,
         |    CASE WHEN d.exact_dup THEN 'exact_dup'
         |         WHEN c.comp_id IS NOT NULL AND c.comp_id <> d.doc_id THEN 'near_dup'
         |         WHEN NOT coalesce(f.ok_q, false) THEN 'quality'
         |         ELSE 'keep' END AS decision
         |  FROM d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |         LEFT JOIN f ON d.doc_id = f.doc_id),
         |tk AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |g AS (
         |  SELECT dec.source,
         |    COUNT(*) AS n_docs,
         |    CAST(SUM(CASE WHEN decision = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |    CAST(SUM(CASE WHEN decision = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |    CAST(SUM(CASE WHEN decision = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
         |    CAST(SUM(CASE WHEN decision = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |    CAST(SUM(CASE WHEN decision = 'keep' THEN tk.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
         |  FROM dec JOIN tk USING (doc_id) GROUP BY dec.source)
         |SELECT source, n_docs, n_keep, n_exact_dup, n_near_dup, n_quality,
         |  floor(CAST(n_keep AS DOUBLE) / n_docs * 1000000) / 1000000 AS keep_rate,
         |  kept_tokens,
         |  CASE WHEN n_keep > 0
         |       THEN CAST(FLOOR(CAST(kept_tokens AS DOUBLE) / n_keep) AS BIGINT)
         |       ELSE 0 END AS mean_keep_tokens
         |FROM g ORDER BY source""".stripMargin,
    // the data card's token columns under the trained tokenizer — the
    // decision chain is shared verbatim with pipe_data_card; only the
    // token join swaps to the shared BPE denominator (CTE `t`)
    "pipe_data_card_bpe" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte,
         |$curationGatesCte,
         |${bpeRoundsCte(10)},
         |$bpePerDocCte,
         |dec AS (
         |  SELECT d.doc_id, d.source,
         |    CASE WHEN d.exact_dup THEN 'exact_dup'
         |         WHEN c.comp_id IS NOT NULL AND c.comp_id <> d.doc_id THEN 'near_dup'
         |         WHEN NOT coalesce(f.ok_q, false) THEN 'quality'
         |         ELSE 'keep' END AS decision
         |  FROM d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |         LEFT JOIN f ON d.doc_id = f.doc_id),
         |g AS (
         |  SELECT dec.source,
         |    COUNT(*) AS n_docs,
         |    CAST(SUM(CASE WHEN decision = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |    CAST(SUM(CASE WHEN decision = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |    CAST(SUM(CASE WHEN decision = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
         |    CAST(SUM(CASE WHEN decision = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |    CAST(SUM(CASE WHEN decision = 'keep' THEN t.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
         |  FROM dec JOIN t USING (doc_id) GROUP BY dec.source)
         |SELECT source, n_docs, n_keep, n_exact_dup, n_near_dup, n_quality,
         |  floor(CAST(n_keep AS DOUBLE) / n_docs * 1000000) / 1000000 AS keep_rate,
         |  kept_tokens,
         |  CASE WHEN n_keep > 0
         |       THEN CAST(FLOOR(CAST(kept_tokens AS DOUBLE) / n_keep) AS BIGINT)
         |       ELSE 0 END AS mean_keep_tokens
         |FROM g ORDER BY source""".stripMargin,
    // frozen-stat admission: the batch (top decile by the delta split
    // rule) gated against the BASE slice's frozen statistics — frozen
    // keeper digests (bdig), the base slice's OWN 20% hot set (hotf,
    // capping BOTH sides — the freeze), batch-internal exact keepers
    // (min doc_id per digest), per-doc Gopher flags — plus the exact
    // combined-corpus decision (the shared comp/d/f chain) for the
    // n_divergent staleness price
    "pipe_curation_admit" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$ngramComponentsCte,
         |$curationGatesCte,
         |thr AS (SELECT (9 * MAX(doc_id)) // 10 AS t FROM documents),
         |bdig AS (
         |  SELECT DISTINCT md5(text) AS digest FROM documents
         |  WHERE doc_id <= (SELECT t FROM thr)),
         |batk AS (
         |  SELECT doc_id, source, digest,
         |    MIN(doc_id) OVER (PARTITION BY digest) AS batch_keep
         |  FROM (SELECT doc_id, source, md5(text) AS digest FROM documents
         |        WHERE doc_id > (SELECT t FROM thr)) z),
         |nbase AS (SELECT COUNT(*) AS n_total FROM documents
         |          WHERE doc_id <= (SELECT t FROM thr)),
         |hotf AS (
         |  SELECT s FROM sh WHERE doc_id <= (SELECT t FROM thr)
         |  GROUP BY s
         |  HAVING COUNT(*) > GREATEST(2, CAST(FLOOR(0.2 * (SELECT n_total FROM nbase)) AS BIGINT))),
         |bcap AS (
         |  SELECT doc_id, s FROM sh
         |  WHERE doc_id <= (SELECT t FROM thr) AND s NOT IN (SELECT s FROM hotf)),
         |tcap AS (
         |  SELECT doc_id, s FROM sh
         |  WHERE doc_id > (SELECT t FROM thr) AND s NOT IN (SELECT s FROM hotf)),
         |bsz AS (SELECT doc_id, COUNT(*) AS n FROM bcap GROUP BY doc_id),
         |tsz AS (SELECT doc_id, COUNT(*) AS n FROM tcap GROUP BY doc_id),
         |ncommon AS (
         |  SELECT a.doc_id AS batch_doc, b.doc_id AS base_doc, COUNT(*) AS c
         |  FROM tcap a JOIN bcap b ON a.s = b.s GROUP BY 1, 2),
         |nhit AS (
         |  SELECT DISTINCT batch_doc AS doc_id
         |  FROM ncommon JOIN tsz x ON batch_doc = x.doc_id
         |               JOIN bsz y ON base_doc = y.doc_id
         |  WHERE floor(CAST(c AS DOUBLE) / (x.n + y.n - c) * 1000000) / 1000000 >= 0.5),
         |froz AS (
         |  SELECT k.doc_id, k.source,
         |    CASE WHEN bd.digest IS NOT NULL OR k.doc_id <> k.batch_keep THEN 'exact_dup'
         |         WHEN nh.doc_id IS NOT NULL THEN 'near_dup'
         |         WHEN NOT coalesce(f.ok_q, false) THEN 'quality'
         |         ELSE 'keep' END AS decision
         |  FROM batk k LEFT JOIN bdig bd ON k.digest = bd.digest
         |       LEFT JOIN nhit nh ON k.doc_id = nh.doc_id
         |       LEFT JOIN f ON k.doc_id = f.doc_id),
         |ex AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.exact_dup THEN 'exact_dup'
         |         WHEN c.comp_id IS NOT NULL AND c.comp_id <> d.doc_id THEN 'near_dup'
         |         WHEN NOT coalesce(f.ok_q, false) THEN 'quality'
         |         ELSE 'keep' END AS exact_decision
         |  FROM d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |         LEFT JOIN f ON d.doc_id = f.doc_id
         |  WHERE d.doc_id > (SELECT t FROM thr))
         |SELECT froz.source, COUNT(*) AS n_batch,
         |  CAST(SUM(CASE WHEN froz.decision = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(SUM(CASE WHEN froz.decision = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |  CAST(SUM(CASE WHEN froz.decision = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
         |  CAST(SUM(CASE WHEN froz.decision = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(SUM(CASE WHEN froz.decision <> ex.exact_decision THEN 1 ELSE 0 END) AS BIGINT) AS n_divergent
         |FROM froz JOIN ex USING (doc_id)
         |GROUP BY froz.source ORDER BY froz.source""".stripMargin,
    "pipe_gopher_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |pt AS (SELECT doc_id, source, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT doc_id, source, SUM(n) AS nw,
        |    SUM(n * length(tok)) AS sum_len,
        |    SUM(CASE WHEN tok IN ('the','a','of','and','to') THEN n ELSE 0 END) AS n_stop,
        |    MAX(n) AS max_tok
        |  FROM pt GROUP BY 1, 2),
        |f AS (
        |  SELECT source,
        |    (nw >= 25 AND nw <= 90) AS ok_words,
        |    (sum_len >= 4 * nw AND sum_len <= 5 * nw) AS ok_wlen,
        |    (50 * n_stop >= nw) AS ok_stop,
        |    (25 * max_tok <= 3 * nw) AS ok_rep
        |  FROM m)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN ok_words AND ok_wlen AND ok_stop AND ok_rep
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(SUM(CASE WHEN NOT ok_words THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
        |  CAST(SUM(CASE WHEN NOT ok_wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
        |  CAST(SUM(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop,
        |  CAST(SUM(CASE WHEN NOT ok_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rep
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "pipe_dsir_weights" ->
      """WITH d AS (SELECT doc_id, source, lang, string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT doc_id, source, lang, unnest(w) AS g FROM d),
        |bi AS (
        |  SELECT doc_id, source, lang, w[i] || ' ' || w[i+1] AS g
        |  FROM d, unnest(range(1, len(w))) AS t(i)
        |  WHERE len(w) >= 2),
        |grams AS (
        |  SELECT doc_id, source, lang, g,
        |    ('0x' || substr(md5(g), 1, 15))::BIGINT % 256 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |stats AS (
        |  SELECT b, COUNT(*) AS r,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t
        |  FROM grams GROUP BY b),
        |tot AS (SELECT SUM(r) AS rt, SUM(t) AS tt FROM stats),
        |lam AS (
        |  SELECT b, CAST(FLOOR(LN(
        |      CAST((t + 1) * (rt + 256) AS DOUBLE) /
        |      CAST((r + 1) * (tt + 256) AS DOUBLE)) * 1000000) AS BIGINT) AS lam_u
        |  FROM stats, tot),
        |per_doc AS (
        |  SELECT doc_id, source, CAST(SUM(lam_u) AS BIGINT) AS w_u
        |  FROM grams JOIN lam USING (b) GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_docs,
        |  FLOOR(CAST(SUM(w_u) AS DOUBLE) / COUNT(*)) / 1000000 AS mean_weight,
        |  CAST(SUM(CASE WHEN w_u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_target_like,
        |  MAX_BY(doc_id, w_u * 1048576 - doc_id) AS top_doc_id,
        |  CAST(MAX(w_u) AS DOUBLE) / 1000000 AS top_weight
        |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,
    "pipe_token_quota" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN cum <= 800 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN cum <= 800 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
        |  floor(CAST(SUM(CASE WHEN cum <= 800 THEN n_tokens ELSE 0 END) AS DOUBLE)
        |        / 800 * 1000000) / 1000000 AS utilization
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "pipe_packing_plan" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST((MAX(cum) + 511) // 512 AS BIGINT) AS chop_seqs,
        |  CAST(SUM(CASE WHEN (cum - n_tokens) // 512 <> (cum - 1) // 512
        |           THEN 1 ELSE 0 END) AS BIGINT) AS chop_split_docs,
        |  CAST(SUM(CASE WHEN n_tokens > 512 THEN n_tokens - 512 ELSE 0 END) AS BIGINT)
        |    AS pad_truncated,
        |  CAST(SUM(512 - LEAST(n_tokens, 512)) AS BIGINT) AS pad_waste,
        |  floor(CAST(SUM(n_tokens) AS DOUBLE)
        |        / (CAST((MAX(cum) + 511) // 512 AS BIGINT) * 512) * 1000000) / 1000000
        |    AS chop_efficiency,
        |  floor(CAST(SUM(n_tokens) - SUM(CASE WHEN n_tokens > 512 THEN n_tokens - 512 ELSE 0 END) AS DOUBLE)
        |        / (COUNT(*) * 512) * 1000000) / 1000000 AS pad_efficiency
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "emb_quantize_int8" ->
      s"""WITH $vectorsCte,
         |m AS (
         |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM vn),
         |q AS (
         |  SELECT vec_id, v, maxabs,
         |    list_transform(v, x -> CAST(floor(x * CAST(127 AS DOUBLE) / maxabs) AS BIGINT)) AS qc
         |  FROM m WHERE maxabs > 0)
         |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
         |  floor(maxabs / 127.0 * 1000000) / 1000000 AS scale,
         |  CAST(list_aggregate(qc, 'sum') AS BIGINT) AS q_sum,
         |  CAST(list_aggregate(list_transform(qc, x -> x * x), 'sum') AS BIGINT) AS q_norm2,
         |  CAST(len(list_filter(qc, x -> x > 0)) AS BIGINT) AS n_pos
         |FROM q ORDER BY vec_id""".stripMargin,
    "emb_cos_hist" ->
      s"""WITH $vectorsCte,
         |hk AS (
         |  SELECT vec_id, v, norm,
         |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) AS hk
         |  FROM vn),
         |sample AS (SELECT vec_id, v, norm FROM hk ORDER BY hk, vec_id LIMIT 32),
         |pairs AS (
         |  SELECT list_dot_product(a.v, b.v) / (a.norm * b.norm) AS cos
         |  FROM sample a JOIN sample b ON a.vec_id < b.vec_id)
         |SELECT CAST(FLOOR(cos * 10) AS BIGINT) AS bucket, COUNT(*) AS n_pairs,
         |  floor(MIN(cos) * 1000000) / 1000000 AS min_cos,
         |  floor(MAX(cos) * 1000000) / 1000000 AS max_cos
         |FROM pairs GROUP BY 1 ORDER BY bucket""".stripMargin,
    "emb_dim_stats" ->
      """WITH el AS (
        |  SELECT CAST(i - 1 AS BIGINT) AS pos, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, UNNEST(range(1, 65)) AS u(i))
        |SELECT pos, COUNT(*) AS n,
        |  FLOOR(CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*)) / 1000000 AS mean,
        |  MIN(x) AS min_x, MAX(x) AS max_x,
        |  CAST(SUM(CASE WHEN ABS(x) < 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead
        |FROM el GROUP BY pos ORDER BY pos""".stripMargin,
    "text_length_hist" ->
      """SELECT source, LEAST(n_chars // 100, 9) AS bucket,
        |  COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents
        |GROUP BY source, LEAST(n_chars // 100, 9)
        |ORDER BY source, bucket""".stripMargin,
    "pipe_stratified_sample" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT doc_id, source, bucket FROM b
        |WHERE bucket < CASE WHEN source = 'src0' THEN 50 ELSE 10 END
        |ORDER BY doc_id""".stripMargin,
    "pipe_cluster_sample" ->
      s"""WITH $vectorsCte,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
         |          WHERE vec_id >= 100 AND vec_id < 108),
         |assign AS (
         |  SELECT vec_id, cent_id AS list_id FROM (
         |    SELECT vn.vec_id, c.cent_id,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents c) t WHERE crk = 1),
         |ranked AS (
         |  SELECT list_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY list_id
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
         |  FROM assign)
         |SELECT list_id, vec_id, CAST(rk AS BIGINT) AS rk
         |FROM ranked WHERE rk <= 16 ORDER BY list_id, rk""".stripMargin,
    "pipe_training_set" ->
      s"""WITH $curationCte
         |SELECT doc_id, source, n_tokens, quality_score
         |FROM q
         |WHERE en_ratio >= 0.05 AND quality_score >= 0.6 AND doc_id = keep_id AND bucket < 50
         |ORDER BY doc_id""".stripMargin,
    "pipe_funnel" ->
      s"""WITH $curationCte
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN en_ratio >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
         |  CAST(SUM(CASE WHEN en_ratio >= 0.05 AND quality_score >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(SUM(CASE WHEN en_ratio >= 0.05 AND quality_score >= 0.6 AND doc_id = keep_id
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
         |  CAST(SUM(CASE WHEN en_ratio >= 0.05 AND quality_score >= 0.6 AND doc_id = keep_id
         |       AND bucket < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "emb_label_cohesion" ->
      s"""WITH $vectorsCte,
         |el AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |  FROM vn, UNNEST(range(1, 65)) AS u(i)),
         |cm AS (
         |  SELECT label, pos, FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |  FROM el GROUP BY label, pos),
         |cn AS (
         |  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT label, list(mean ORDER BY pos) AS cv FROM cm GROUP BY label) t),
         |scored AS (
         |  SELECT vn.label,
         |    CAST(FLOOR(list_dot_product(cn.cv, vn.v) / (cn.cnorm * vn.norm) * 1000000) AS BIGINT) AS cosq
         |  FROM vn JOIN cn ON vn.label = cn.label)
         |SELECT label, COUNT(*) AS n_vecs,
         |  FLOOR(CAST(SUM(cosq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean_cos,
         |  CAST(MIN(cosq) AS DOUBLE) / 1000000 AS min_cos
         |FROM scored GROUP BY label ORDER BY label""".stripMargin,
    "emb_outliers" ->
      s"""WITH $vectorsCte,
         |el AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |  FROM vn, UNNEST(range(1, 65)) AS u(i)),
         |cm AS (
         |  SELECT label, pos, FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |  FROM el GROUP BY label, pos),
         |cn AS (
         |  SELECT label, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT label, list(mean ORDER BY pos) AS cv FROM cm GROUP BY label) t),
         |scored AS (
         |  SELECT vn.label, vn.vec_id,
         |    CAST(FLOOR(list_dot_product(cn.cv, vn.v) / (cn.cnorm * vn.norm) * 1000000) AS BIGINT) AS cosq
         |  FROM vn JOIN cn ON vn.label = cn.label),
         |ranked AS (
         |  SELECT label, vec_id, cosq,
         |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY cosq, vec_id) AS rk
         |  FROM scored)
         |SELECT label, vec_id, CAST(rk AS BIGINT) AS rk,
         |  CAST(cosq AS DOUBLE) / 1000000 AS cos
         |FROM ranked WHERE rk <= 3 ORDER BY label, rk""".stripMargin,
    "emb_covariance" ->
      s"""WITH $vectorsCte,
         |e AS (
         |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
         |         CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |  FROM vn, UNNEST(range(1, 65)) AS u(i)),
         |p AS (
         |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.xq * b.xq) AS BIGINT) AS sxy,
         |         COUNT(*) AS n
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i < b.i
         |  GROUP BY 1, 2),
         |s AS (SELECT i, CAST(SUM(xq) AS BIGINT) AS sx FROM e GROUP BY i),
         |c AS (
         |  SELECT p.i, p.j,
         |    (CAST(p.sxy AS DOUBLE) / p.n
         |      - (CAST(si.sx AS DOUBLE) / p.n) * (CAST(sj.sx AS DOUBLE) / p.n))
         |    / 1000000000000.0 AS cov
         |  FROM p JOIN s si ON p.i = si.i JOIN s sj ON p.j = sj.i),
         |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY abs(cov) DESC, i, j) AS rk FROM c)
         |SELECT i, j, cov, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "ann_ivf_refined" ->
      s"""WITH $vectorsCte,
         |cents0 AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm FROM vn
         |           WHERE vec_id >= 100 AND vec_id < 108),
         |assign0 AS (
         |  SELECT cent_id AS list_id, v FROM (
         |    SELECT c.cent_id, vn.v,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN cents0 c) t WHERE crk = 1),
         |el AS (
         |  SELECT list_id, CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(FLOOR(v[i] * 1000000) AS BIGINT) AS xq
         |  FROM assign0, UNNEST(range(1, 65)) AS u(i)),
         |refined AS (
         |  SELECT list_id, pos, FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000 AS mean
         |  FROM el GROUP BY list_id, pos),
         |centsn AS (
         |  SELECT list_id AS cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT list_id, list(mean ORDER BY pos) AS cv FROM refined GROUP BY list_id) t),
         |assign AS (
         |  SELECT vec_id AS n_id, cent_id AS list_id, v AS n_v, norm AS n_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN centsn c) t WHERE crk = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cent_id AS list_id, v AS q_v, norm AS q_norm FROM (
         |    SELECT vn.vec_id, c.cent_id, vn.v, vn.norm,
         |      ROW_NUMBER() OVER (PARTITION BY vn.vec_id
         |        ORDER BY list_dot_product(c.cv, vn.v) / (c.cnorm * vn.norm) DESC, c.cent_id) AS crk
         |    FROM vn CROSS JOIN centsn c WHERE vn.vec_id < 8) t WHERE crk <= 2),
         |scored AS (
         |  SELECT p.q_id AS query_id, a.n_id AS neighbor_id,
         |    list_dot_product(p.q_v, a.n_v) / (p.q_norm * a.n_norm) AS cos
         |  FROM probes p JOIN assign a ON p.list_id = a.list_id AND p.q_id <> a.n_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rk, floor(cos * 1000000) / 1000000 AS cos
         |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "mm_decode_features" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS nb, md5(text) AS h FROM documents),
        |hx AS (
        |  SELECT doc_id, nb,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS hv1,
        |    (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS hv3,
        |    (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) AS hv5,
        |    (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) AS hv7
        |  FROM b)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes,
        |  CAST(16 + hv1 AS BIGINT) AS width,
        |  CAST(16 + hv3 AS BIGINT) AS height,
        |  CAST(1 + hv5 % 3 AS BIGINT) AS channels,
        |  CASE hv7 % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS fmt
        |FROM hx ORDER BY doc_id""".stripMargin,
    "pipe_balanced_mixture" ->
      """WITH counts AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
        |rates AS (
        |  SELECT source, CAST(100 * ((SELECT MIN(cnt) FROM counts) // 2) // cnt AS BIGINT) AS rate
        |  FROM counts),
        |b AS (
        |  SELECT doc_id, source,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT b.doc_id, b.source, b.bucket, r.rate
        |FROM b JOIN rates r ON b.source = r.source
        |WHERE b.bucket < r.rate
        |ORDER BY doc_id""".stripMargin,
    "mm_resize_stub" ->
      """WITH b AS (
        |  SELECT doc_id, lower(hex(encode(text))) AS hh,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |s AS (SELECT *, CAST(n_bytes // 64 AS INT) AS stride FROM b WHERE n_bytes >= 64),
        |px AS (
        |  SELECT doc_id, n_bytes, i,
        |         substr(hh, CAST(i AS INT) * stride * 2 + 1, 2) AS byte_hex
        |  FROM s, UNNEST(range(0, 64)) AS u(i))
        |SELECT doc_id, n_bytes, CAST(64 AS BIGINT) AS out_px,
        |       md5(string_agg(byte_hex, '' ORDER BY i)) AS resized_md5
        |FROM px GROUP BY doc_id, n_bytes
        |ORDER BY doc_id""".stripMargin,
    "mm_audio_energy" ->
      """WITH b AS (
        |  SELECT doc_id, lower(hex(encode(text))) AS hh FROM documents),
        |f AS (SELECT doc_id, hh, length(hh) // 16 AS n_frames FROM b),
        |fr AS (
        |  SELECT doc_id, i,
        |    CAST(list_aggregate(list_transform(range(0, 8),
        |      j -> CAST(CAST('0x' || substr(hh, (CAST(i AS INT) * 8 + CAST(j AS INT)) * 2 + 1, 2) AS INTEGER) AS BIGINT)),
        |      'sum') AS BIGINT) AS e
        |  FROM f, UNNEST(range(0, n_frames)) AS u(i)
        |  WHERE n_frames > 0),
        |w AS (
        |  SELECT *, CAST(SUM(e) OVER (PARTITION BY doc_id)
        |            // COUNT(e) OVER (PARTITION BY doc_id) AS BIGINT) AS mean_e
        |  FROM fr)
        |SELECT doc_id, COUNT(*) AS n_frames, MIN(mean_e) AS mean_energy,
        |  MAX(e) AS max_energy,
        |  CAST(SUM(CASE WHEN e > 2 * mean_e THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lower(hex(encode(text))) AS hh FROM documents),
        |f AS (SELECT doc_id, hh, length(hh) // 32 AS n_frames FROM b)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |  md5(substring(hh, CAST(i AS INT) * 32 + 1, 32)) AS frame_md5
        |FROM f, UNNEST(range(0, n_frames, 4)) AS u(i)
        |WHERE n_frames > 0
        |ORDER BY doc_id, frame_no""".stripMargin,
    "mm_frame_dedup" ->
      """WITH b AS (
        |  SELECT doc_id, lower(hex(encode(text))) AS hh FROM documents),
        |f AS (SELECT doc_id, hh, length(hh) // 32 AS n_frames FROM b),
        |fr AS (
        |  SELECT doc_id, md5(substring(hh, CAST(i AS INT) * 32 + 1, 32)) AS fm
        |  FROM f, UNNEST(range(0, n_frames)) AS u(i)
        |  WHERE n_frames > 0),
        |dfreq AS (
        |  SELECT fm, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, fm FROM fr) x GROUP BY fm)
        |SELECT doc_id, COUNT(*) AS n_frames,
        |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_frames,
        |  floor(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 1000000) / 1000000
        |    AS dup_ratio
        |FROM fr JOIN dfreq USING (fm)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS BIGINT) AS n_stop
        |  FROM base)
        |SELECT doc_id, n_tokens, avg_token_len, stop_ratio,
        |  floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + (1.0 - stop_ratio) * 0.3
        |      + least(avg_token_len / 8.0, 1.0) * 0.3) * 1000000) / 1000000 AS quality_score
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    floor(CAST(sum_len AS DOUBLE) / n_tokens * 1000000) / 1000000 AS avg_token_len,
        |    floor(CAST(n_stop AS DOUBLE) / n_tokens * 1000000) / 1000000 AS stop_ratio
        |  FROM m) mm ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH base AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of')) AS BIGINT) AS n_en
        |  FROM base)
        |SELECT doc_id, lang AS lang_label,
        |  CASE WHEN floor(CAST(n_en AS DOUBLE) / n_tokens * 1000000) / 1000000 >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_pred,
        |  floor(CAST(n_en AS DOUBLE) / n_tokens * 1000000) / 1000000 AS en_ratio, n_tokens
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
        |  CAST(SUM(re_tokens) AS BIGINT) AS total_re_tokens,
        |  MAX(ws_tokens) AS max_ws_tokens
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "text_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
        |FROM documents
        |GROUP BY 1 ORDER BY fp""".stripMargin,
    "mm_binary_meta" ->
      """WITH b AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS nb,
        |         lower(hex(encode(text))) AS hh
        |  FROM documents)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes,
        |  substring(hh, 1, 16) AS head_hex,
        |  substring(hh, length(hh) - 7, 8) AS tail_hex,
        |  md5(text) AS content_md5
        |FROM b ORDER BY doc_id""".stripMargin,
  )
}
