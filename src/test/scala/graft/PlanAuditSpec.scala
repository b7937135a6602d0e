package graft

/** Physical-plan regression guard over the ENTIRE declared query surface:
  * no query may plan a CartesianProduct, and BroadcastNestedLoopJoin is
  * allowed only where it is the intended shape (ANN's broadcast query
  * set / the 8-row centroid table in IVF and the k-means update — tiny
  * build sides with non-equi or cross semantics by design). A refactor
  * that silently turns an equi-join into an all-pairs join fails here,
  * not in a 100 TB incident. Plans are built (analysis + physical
  * planning), not executed — construction-heavy queries that run Spark
  * jobs while BUILDING their DataFrame are skipped and covered by their
  * own specs. */
class PlanAuditSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  // these run real work (storage writes / convergence loops) during
  // DataFrame construction — audited in ManifestLogSpec / DupComponentsSpec
  private val constructive = Set("log_store_roundtrip", "dedup_components",
    // build a ManifestLog fixture (appends + compaction + GC) while
    // constructing their results — audited in ManifestLogSpec
    "log_snapshot_read", "pipe_snapshot_pin",
    // builds a ManifestLog fixture AND runs the purge rewrite + expire
    // sweep during construction — audited in RewriteExcludingSpec
    "log_purge",
    // writes + re-reads + verifies physical shard files during
    // construction — audited in ExportShardsSpec
    "pipe_export_verify",
    // runs the metadata-priced block-stats collects to CHOOSE its
    // layout during construction; every layout it can choose at radius
    // 3 is a fixed layout of the same planner and is still audited
    // through its standalone entry (dedup_hamming, _salted, _wide,
    // _wide_salted)
    "dedup_hamming_auto",
    // runs the driver-side probe micro-job + PQ index build during
    // construction (the ivfTopKIndexed shape); its served plan's
    // pruning is audited in IndexTablesSpec (partitions read == probed
    // lists over the code table)
    "ann_ivf_pq",
    // composes ivf_pq since round-9-final, so it inherits the
    // driver-side probe micro-job + index builds at construction; its
    // other arms' plans are audited via their standalone entries
    "ann_recall",
    // runs the two pass-rate count micro-jobs that CHOOSE each
    // scenario's strategy during construction; the branch plans are
    // the audited ann_brute_topk / ann_ivf_topk shapes plus a
    // hashed-key semi-join for the post-filter
    "ann_filtered_topk",
    // all three consumers of the shared moment relation checkpoint it
    // (Tables.memoized) during construction — round-10's shuffle-free
    // moment pass; the build plan itself (zero joins, one Exchange
    // carrying only partially-aggregated groups) is audited directly
    // in SimilaritySpec via momentsPlan. emb_pca additionally iterates
    // driver-side on the collected 2,144-row relation; emb_top_dir
    // then scores a literal-array projection at scan rate
    "emb_covariance", "emb_pca", "emb_top_dir", "emb_abtt",
    // same memoized moments collect at construction; pca_topk adds the
    // driver-side deflation loop, whiten embeds its directions as
    // literal arrays before the scan-rate removal
    "emb_pca_topk", "emb_whiten",
    // runs the 1-row max-vec_id micro-job that places the incremental
    // cut during construction; the slice plans are the audited
    // join-free moments shape (SimilaritySpec), twice
    "emb_moments_incr",
    // materializes the merged capped-shingle view (localCheckpoint)
    // while building; its pair-join shape is the audited
    // dedup_ngram_indexed plan over the same bucket keys
    "dedup_ngram_seg",
    // runs the whole iterative merge loop while BUILDING its result —
    // audited by its own reference-equivalence spec in TextAnalysisSpec;
    // the BPE-denominated packing twins inherit the loop via bpeEncode
    // the table-served encode builds the vocab table (the merge loop)
    // on its first call — audited in BpeVocabSpec
    "text_bpe_encode_table",
    "text_bpe_train", "text_bpe_encode", "pipe_token_shards_bpe",
    "pipe_packing_plan_bpe", "pipe_token_quota_bpe",
    // round-13 BPE twins inherit the same merge loop at construction
    "pipe_epochs_plan_bpe", "pipe_temperature_mixture_bpe",
    "pipe_balanced_mixture_bpe",
    // merge loop (bpeTokenRelation) AND the memoized CC fixpoint (the
    // decision relation) both execute at construction — the stage
    // plans are the audited pipe_data_card shapes with the token join
    // swapped to the BPE denominator
    "pipe_data_card_bpe",
    // run the CC fixpoint / localCheckpoint their constituent pair
    // pipelines while building — the join shapes they reuse are audited
    // via the standalone dedup_ngram_jaccard/hamming/fuzzy entries
    "dedup_cluster_stats", "dedup_keep_best", "dedup_method_agreement",
    // checkpoints its edge relation + the memoized CC fixpoint while
    // building; its iteration joins are edge-sized equi-joins
    "dedup_pagerank",
    // same CC fixpoint at construction, over within-list embedding pairs
    "dedup_semantic",
    // builds/ensures the persisted component table on first call (the
    // same CC fixpoint feeding a bucketed write); the served rollup is
    // a doc-keyed hash join + group-by
    "dedup_semantic_indexed",
    // runs the ngram-pair CC fixpoint while building the split assignment
    "pipe_leakage_split",
    // same CC fixpoint at construction (memoized cluster assignment)
    "pipe_curation_manifest",
    // same memoized CC fixpoint at construction (the decision relation
    // the card rolls up); the card's own plan is one doc-keyed hash
    // join + a per-source rollup
    "pipe_data_card",
    // executes the whole manifest-store run (tagged appends, compaction,
    // GC, replay proof) while building its result — audited in
    // CurationRunSpec; its stage plans are the audited
    // pipe_curation_manifest / pipe_shard_manifest shapes
    "pipe_curation_run",
    // prior chain + delta admission (segment-index components) execute
    // at construction — audited in CurationRunSpec; the stage plans are
    // the audited curation-manifest / shard / dedup_ngram_seg shapes
    "pipe_curation_delta",
    // prior chain + filtered-corpus re-derivation execute at
    // construction — audited in CurationRunSpec; the stage plans are
    // the audited curation-manifest / shard shapes over the survivors
    "pipe_takedown",
    // runs the 1-row max-doc_id split micro-job + the memoized CC
    // fixpoint (the exact side of the divergence column) at
    // construction; the frozen side's join shapes are capped-shingle
    // equi-joins + a digest hash join, audited in AdmissionFrozenSpec
    // (the indexed twin additionally builds the digest/segment tables
    // on first call)
    "pipe_curation_admit", "pipe_curation_admit_indexed")

  // intended BroadcastNestedLoopJoin: broadcast-tiny build side with
  // non-equi (ANN query set) or cross semantics (8-row centroid table;
  // the 1-row global-min aggregate in the mixture sampler)
  private val intendedBnlj = Set(
    "ann_brute_topk", "ann_ivf_topk", "ann_ivf_refined", "emb_centroid_update",
    // the same broadcast-query-set brute scan as ann_brute_topk, once
    // per prefix length (plus the full-dim truth pass)
    "emb_prefix_recall",
    // the same broadcast-query-set scan for its stage-1 prefix
    // shortlist; the stage-2 rerank joins are hash equi-joins on ids
    "ann_prefix_topk",
    // identical shape with stage 1 scanning the persisted narrow
    // prefix table (built at construction on first call)
    "ann_prefix_indexed",
    // the same stage-1 broadcast-query prefix scan with the declared
    // delete set anti-joined out (a broadcast hash ANTI-join on the
    // id, like ann_ivf_deleted's mask); the rerank is equi-joins
    "ann_prefix_deleted",
    // the same broadcast-query-set scan over the int8 code arrays,
    // plus the full-dim truth pass (emb_sign_recall's shape)
    "emb_sq8_recall",
    // the serving form of the same scan: integer-dot shortlist over
    // the codes, then the equi-join full-dim rerank
    "ann_sq8_topk",
    // the same 8-row centroid cross (assignment + probes) as
    // ann_ivf_topk, applied in prefix space; the rerank is equi-joins
    "ann_prefix_ivf",
    // same shape over the sign-bit vectors + the truth pass
    "emb_sign_recall",
    // same 8-query × 8-centroid probe cross as ann_ivf_topk; the
    // tombstone mask itself is a broadcast hash ANTI-join on the id
    "ann_ivf_deleted",
    // same probe cross for the shortlist stage; the MaxSim rerank
    // joins are equi-joins on the shortlist's plain id keys
    "ann_maxsim_topk",
    // same 8-query × 8-centroid probe cross as ann_ivf_topk; the list
    // join against the persisted IVF table is an equi-join (and picks
    // up dynamic partition pruning on list_id from the probe side)
    "ann_ivf_indexed",
    // same broadcast-query-set scan as ann_brute_topk, twice (pos/neg)
    "emb_hard_negatives",
    "pipe_balanced_mixture", "emb_label_separation", "pipe_temperature_mixture",
    "emb_label_confusion",
    // all-pairs over a fixed 32-row bottom-k hash sample, both sides broadcast
    "emb_cos_hist",
    // knn-graph assigns every vector to the 8-row seed-centroid table
    // (the same intended IVF coarse-quantizer cross shape); the pair
    // join itself is an equi-join on list_id
    "emb_knn_graph",
    // same 8-row coarse-quantizer cross assignment; the sample window
    // is partitioned by list_id (one inverted list per partition)
    "pipe_cluster_sample",
    // the shingle DF cap joins the 1-ROW corpus-count aggregate onto the
    // per-shingle frequencies (DataFrame form of a scalar subquery —
    // the constant join key folds away, leaving a 1-row broadcast BNLJ;
    // harmless at any scale). Shingle-family dedup queries checkpoint
    // this derivation during construction, so only the direct
    // decontamination consumers still carry it in their audited plans.
    "pipe_decontaminate", "pipe_decontaminate_bloom",
    // same 1-row scalar-subquery shape: the old/new split threshold
    // (max doc_id aggregate) joins the corpus on a folded constant key
    "pipe_incremental_dedup",
    // same 1-row scalar-subquery shape: the corpus token total N_c joins
    // the bounded per-source relation on a folded constant key
    "text_source_drift",
    // same 1-row corpus-count scalar join (the affected-rate divisor)
    // onto the 4-row threshold report
    "dedup_threshold_sweep",
    // the 1-ROW (N, total-length) corpus-stat aggregate joins the
    // query-term idf relation and the scored candidates on a folded
    // constant key (the scalar-subquery shape again — both sides of
    // every real join are equi-joins on term/doc_id)
    "text_bm25_topk", "text_bm25_indexed",
    // the hybrid fusions carry the BM25 leg's 1-row corpus-stat join
    // (the indexed form reads the 1-row corp TABLE instead of the
    // aggregate — same folded-constant-key scalar shape)
    "ann_hybrid_rrf", "ann_hybrid_rrf_indexed",
    // same shape again: the corpus doc total joins the k-row top-bigram
    // relation on a folded constant key (the lift denominator)
    "text_collocations",
    // both intended shapes at once: the 8-row centroid cross assignment
    // plus the 1-row vector-count scalar join for the load factor
    "ann_cell_stats",
    // the 1-row corpus-centroid broadcast onto the per-source centroids
    "emb_source_drift",
    // the 1-row gram-total aggregate joins the 256-row bucket stats on a
    // folded constant key (the same scalar-subquery shape); the per-doc
    // scoring join stays a broadcast HASH join on the bucket id
    "pipe_dsir_weights")

  test("no query pushes a higher-order-function expression into a null-intolerance filter") {
    // The mm_phash_neardup lesson: joining/filtering on a column whose
    // expression is a nested HOF tree (aggregate/transform lambdas) lets
    // null-intolerance inference push `isnotnull(<whole tree>)` into the
    // scan filter, where Catalyst's lambda inlining re-evaluates the
    // tree per element — measured 468 s for a ~1 s query. Materialize
    // such columns (localCheckpoint / memo) before joining on them.
    assume(new java.io.File(s"$sf/documents.parquet").isFile)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!constructive(name)) {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        Seq("isnotnull(aggregate(", "isnotnull(transform(").foreach { sig =>
          assert(!plan.contains(sig),
            s"$name pushes a HOF expression into a null filter ($sig...) — " +
              "materialize the derived column before joining on it")
        }
      }
    }
  }

  test("no declared query plans a cartesian product or unintended nested-loop join") {
    assume(new java.io.File(s"$sf/documents.parquet").isFile)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!constructive(name)) {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a CartesianProduct")
        if (!intendedBnlj(name))
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"$name plans an unintended BroadcastNestedLoopJoin")
      }
    }
  }

  test("no declared query plans an UNPARTITIONED window (single-task global sort)") {
    // Round-8 retired the last one (emb_covariance's global row_number
    // → graft_topk); this guard keeps it retired: a WindowExec with an
    // empty partitionSpec funnels its whole input through ONE task's
    // sort — at 100 TB that is the difference between a bounded
    // aggregate and a driver-adjacent bottleneck. Spark prints such
    // windows as `Window [...], [order...]` with no partition clause
    // and warns "No Partition Defined"; structurally they are
    // WindowExec nodes whose partitionSpec is empty.
    assume(new java.io.File(s"$sf/documents.parquet").isFile)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!constructive(name)) {
        val exec = fn(spark, sf).queryExecution.executedPlan
        val offenders = exec.collectWithSubqueries {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
              if w.partitionSpec.isEmpty => w
        }
        assert(offenders.isEmpty,
          s"$name plans ${offenders.size} unpartitioned window(s): " +
            offenders.map(_.nodeName).mkString(", "))
      }
    }
  }
}
