package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** PERSISTED index tables — the durable form of the memo layer
  * (`Tables.memoized`), and the concrete 100-TB deployment shape
  * SURVEY §11 describes: each expensive derived relation (shingle
  * index, signature chunk index) is written ONCE as a bucketed
  * session-catalog table, bucketed BY THE KEYS ITS CONSUMERS JOIN ON,
  * so every downstream pair-generation join reads matching buckets
  * with NO shuffle of the index — the shuffle was paid at write time.
  *
  * memo layer vs index tables: `localCheckpoint` blocks are pinned to
  * one JVM and die with the session (fine for a bench/verify process);
  * a bucketed table survives the process, is shared across sessions
  * and executors, and its layout — not the operator code — is what
  * keeps candidate generation a co-located hash join on a cluster. The
  * dedup/ANN consumers come in both flavors (`dedup_hamming` reads the
  * memoized relation, `dedup_hamming_indexed` the persisted table) and
  * produce identical rows; IndexTablesSpec plan-proves the indexed
  * pair join runs Exchange-free.
  *
  * Tables land in the session warehouse (the test-data directory is
  * read-only in this harness; on a cluster the warehouse IS the data
  * lake), tagged by the source dir so multiple scale factors coexist.
  * Builds are idempotent per catalog: `tableExists` short-circuits,
  * and a stale on-disk location from a previous JVM is dropped first
  * (the in-memory catalog resets per process but spark-warehouse
  * persists — same lesson as `RelationalQueries.ensureBucketed`).
  * Every table here has one writer, its `ensure`: an index is derived
  * from its corpus and never edited after the build, so the serving
  * paths only read it.
  */
object IndexTables {

  /** Collision-resistant dir tag for table names: 12 hex chars of the
    * dir's md5 — shared by every per-dir table namer in the engine.
    * (Not `math.abs(hashCode)`: 32-bit String.hashCode collisions are
    * easy to construct and would silently serve one dir's index for
    * another; and abs(Int.MinValue) is negative, an invalid
    * identifier.) */
  private[ops] def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  private def tag(dir: String): String = dirTag(dir)

  /** Bucket count: 16 at test scale; at 100 TB this grows to ≥32 k
    * (SURVEY §11) — a layout parameter, not a code change. */
  private val Buckets = 16

  private def ensureWith(s: SparkSession, name: String)
                        (persist: String => Unit): String = synchronized {
    if (!s.catalog.tableExists(name)) {
      deleteWarehouseDir(s, name)
      persist(name)
    }
    name
  }

  private def deleteWarehouseDir(s: SparkSession, name: String): Unit = {
    val warehouse = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(s.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(warehouse, name)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def ensure(s: SparkSession, name: String, bucketCols: Seq[String])
                    (build: => DataFrame): String =
    ensureWith(s, name)(n => writeBucketed(build, n, bucketCols))

  /** THE bucketed-table writer — one definition for every bucketed
    * build, so no two tables can diverge on the bucket spec (a
    * mismatch silently degrades the Exchange-free plan). Repartition
    * on the bucket keys so each bucket is written as ONE file: Spark
    * only treats a bucketed scan as pre-sorted (eliding the per-query
    * Sort under a sort-merge join) when a bucket has a single file —
    * with the task-parallel default layout the sortBy metadata is
    * unusable and every consumer re-sorts. At 100 TB the same rule
    * holds per bucket; the bucket COUNT is what scales. */
  private def writeBucketed(df: DataFrame, name: String, bucketCols: Seq[String]): Unit =
    df
      .repartition(Buckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write
      .bucketBy(Buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite").saveAsTable(name)

  /** SimHash pigeonhole chunk index: (doc_id, simhash, j, ck) bucketed
    * AND sorted by (j, ck) — the exact keys of the blocked candidate
    * self-join, so Hamming near-dup candidate generation over the
    * persisted index plans a sort-merge join with no Exchange and no
    * per-query Sort. ~16 B/doc × nChunks rows: the signature index of
    * SURVEY §11. */
  def ensureChunkIndex(s: SparkSession, dir: String, nChunks: Int): String =
    ensure(s, s"idx_simhash_chunks_${nChunks}_${tag(dir)}", Seq("j", "ck")) {
      chunkKeys(Dedup.simhashRaw(s, dir), nChunks)
    }

  /** Persisted MEDIA pHash chunk index — the decode-once serving
    * table for media near-dup ([[graft.ops.Multimodal
    * .phashNearDupIndexed]]): the signature derivation pays the codec
    * seam's decode pass per payload (THE expensive step in the media
    * domain), so the build decodes once and persists the ~16 B/doc
    * chunked signatures; every consumer joins the bucketed table with
    * zero decodes. Same bucket spec and chunk relation as the text
    * chunk index — the blocking layout is signature-agnostic. */
  def ensurePhashIndex(s: SparkSession, dir: String, nChunks: Int): String =
    ensure(s, s"idx_phash_chunks_${nChunks}_${tag(dir)}", Seq("j", "ck")) {
      chunkKeys(Multimodal.phashRaw(s, dir), nChunks)
    }

  /** The rows of a chunk index: single-chunk block keys over `nChunks`
    * chunks, at the widest radius they serve exactly. */
  private def chunkKeys(sig: DataFrame, nChunks: Int): DataFrame =
    Dedup.blockKeys(sig, Dedup.Blocking(nChunks - 1, nChunks))

  /** MinHash LSH band index: (doc_id, bi, bk) bucketed AND sorted by
    * (bi, bk) — the banded-signature layout an LSH deployment persists
    * (~3 rows/doc: k=6 minhashes, 2-per-band). Candidate generation
    * over the persisted table is a bucket-local self-join on the exact
    * bucket keys — no Exchange, no re-derivation of signatures; only
    * the Jaccard verify still reads shingles, over the candidate-sized
    * relation. Completes the signature-index family: every blocking
    * scheme in the engine (simhash chunks, shingles, IVF lists, PQ
    * codes, minhash bands) now has a persisted serving table. */
  def ensureMinhashIndex(s: SparkSession, dir: String): String =
    ensure(s, s"idx_minhash_bands_${tag(dir)}", Seq("bi", "bk")) {
      Dedup.minhashBands(Dedup.shingles(s, dir))
    }

  /** DF-capped shingle index: (doc_id, s, n) bucketed by the 60-bit
    * shingle key — the join key of n-gram pair generation and of every
    * decontamination probe. Hot (>20%-DF) shingles never enter the
    * table, so the cap is part of the LAYOUT, exactly as a production
    * build would ship it. `n` is the doc's capped-shingle count,
    * denormalized onto every row at build time: consumers
    * get the size-compatibility prefilter and the Jaccard denominator
    * straight off the scan — no per-query size aggregate, no post-
    * aggregation joins. */
  def ensureShingleIndex(s: SparkSession, dir: String): String =
    // v2: schema gained the denormalized `n` — the LAYOUT version lives
    // in the table name (like ensureChunkIndex's nChunks), so a catalog
    // that outlives the binary never serves the old 2-column layout to
    // a consumer that selects `n`
    ensure(s, s"idx_shingles_v2_${tag(dir)}", Seq("s")) {
      // checkpoint once: the DF-cap pipeline (per-shingle DF aggregate
      // + broadcast anti-join over the corpus-sized shingle relation)
      // feeds BOTH sides of the size join — without it the whole cap
      // machinery executes twice in the one write job (the same reason
      // shinglePairStats checkpoints it)
      val sh = Dedup.cappedShingles(s, dir).localCheckpoint()
      val sizes = sh.groupBy(org.apache.spark.sql.functions.col("doc_id"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      sh.join(sizes, Seq("doc_id"))
    }

  // ---- segmented shingle index ----
  //
  // The DF-capped table above bakes its corpus-relative cap into the
  // layout. The segmented form stores UNCAPPED per-doc shingles plus
  // DF stats and applies the cap at read time over the SUMMED stats,
  // so a consumer can cap a batch by an index's committed hot set
  // (the frozen-admission probe). Three tables:
  //   idx_shingle_seg_<tag>   (doc_id, s)   bucketed by s — the join key
  //   idx_shingle_df_<tag>    (s, df)       bucketed by s — DF stats
  //   idx_shingle_meta_<tag>  (seg, n_docs) tiny — the cap denominator
  // The read-time price vs the capped table: one DF-stats aggregate
  // (shingle-vocabulary-sized, Exchange-free off the bucketed stats
  // table) and one per-doc size aggregate (the capped table
  // denormalized `n` at build time).

  private def segName(dir: String) = s"idx_shingle_seg_${tag(dir)}"
  private def segDfName(dir: String) = s"idx_shingle_df_${tag(dir)}"
  private def segMetaName(dir: String) = s"idx_shingle_meta_${tag(dir)}"

  /** Initial segment = the corpus at `dir`. Idempotent per catalog. */
  def ensureShingleSegments(s: SparkSession, dir: String): String =
    ensureShingleSegmentsFrom(s, dir,
      Tables.documents(s, dir).select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")))

  /** Seam for the planted-twin spec: initial segment from an explicit
    * (doc_id, text) relation. */
  private[ops] def ensureShingleSegmentsFrom(s: SparkSession, dir: String,
                                             docs: DataFrame): String = {
    ensureWith(s, segName(dir)) { n =>
      // the df/meta tables ride the SEG table's existence check, so
      // their stale on-disk locations from a previous JVM must be
      // cleaned the same way ensureWith cleans the guard table's (a
      // catalog-unknown DROP is a no-op; the leftover managed dir
      // fails the CREATE — the file-header lesson), and they are
      // written FIRST: the guard table landing LAST means its
      // existence implies all three, so a crash mid-build re-runs the
      // whole build instead of serving a seg table without stats
      Seq(segDfName(dir), segMetaName(dir)).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        deleteWarehouseDir(s, t)
      }
      // checkpoint: the shingle derivation feeds the segment rows AND
      // the DF stats — one execution
      val sh = Dedup.shinglesOf(docs).localCheckpoint()
      writeBucketed(
        sh.groupBy(org.apache.spark.sql.functions.col("s"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("df")),
        segDfName(dir), Seq("s"))
      import s.implicits._
      Seq(("base", docs.count())).toDF("seg", "n_docs")
        .write.mode("overwrite").saveAsTable(segMetaName(dir))
      writeBucketed(sh, n, Seq("s"))
    }
    segName(dir)
  }

  /** The merged, CAPPED view over all segments — (doc_id, s, n), the
    * same shape the rebuilt table serves: summed per-segment DFs give
    * the corpus DF, the hot set (>20% of total docs) is tiny by
    * construction → broadcast anti-join, and per-doc sizes are
    * re-derived post-cap. Checkpointed once per call: the capped
    * relation feeds both self-join sides and the size aggregate of any
    * consumer. */
  def mergedShingleView(s: SparkSession, dir: String): DataFrame = {
    ensureShingleSegments(s, dir)
    mergedShingleViewEnsured(s, dir)
  }

  /** [[mergedShingleView]] over an ALREADY-ENSURED segment key — the
    * frozen-admission path persists the base slice's segments under a
    * synthetic key ([[ensureShingleSegmentsFrom]]), for which the plain
    * entry point's ensure would wrongly try to read `key` as a data
    * dir. Caller contract: the segments for `key` exist. */
  private[ops] def mergedShingleViewEnsured(s: SparkSession, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val capped = mergedShingleCappedEnsured(s, key)
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // NOT checkpointed further (a measured negative result):
    // materializing the sized join as well — so the segmented Jaccard
    // self-join reads one relation instead of re-running the size
    // aggregate per side — costs MORE at sf0.1 than the duplicate
    // derivation it removes (min-of-3: 1.14 s → 2.00 s), the same
    // trade text_phrase_topk hit. The capped checkpoint already
    // bounds the expensive leg (seg scan + anti-join) to one pass.
    capped.join(sizes, Seq("doc_id"))
  }

  /** The capped (doc_id, s) segment relation WITHOUT the size join —
    * for the frozen-admission probe, which re-derives its own sizes:
    * consuming [[mergedShingleViewEnsured]] there would run the inner
    * size join (an N:1 Catalyst cannot prune) for nothing. One
    * checkpointed pass; the sized view above builds on it unchanged. */
  private[ops] def mergedShingleCappedEnsured(s: SparkSession, key: String): DataFrame =
    s.table(segName(key))
      .join(org.apache.spark.sql.functions.broadcast(segmentHotSet(s, key)),
        Seq("s"), "left_anti")
      .localCheckpoint()

  /** The SERVED hot-shingle set of a segment key: DF stats summed per
    * shingle against the summed meta denominator — the one definition of the
    * segment-side 20% rule, shared by [[mergedShingleViewEnsured]] and
    * the frozen-admission probe (which must cap BATCH shingles by the
    * INDEX's committed hot set, not a re-derived one). */
  private[ops] def segmentHotSet(s: SparkSession, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dfs = s.table(segDfName(key))
    val total = s.table(segMetaName(key))
      .agg(sum(col("n_docs")).as("n_total")).withColumn("k", lit(1))
    dfs.groupBy(col("s")).agg(sum(col("df")).as("df"))
      .withColumn("k", lit(1))
      .join(org.apache.spark.sql.functions.broadcast(total), Seq("k"))
      .filter(col("df") > greatest(lit(2L), floor(lit(0.2) * col("n_total")).cast("long")))
      .select(col("s"))
  }

  /** FROZEN keeper-digest index (the admission gate's exact-dup
    * probe): the distinct md5 text digests of the base slice
    * (`doc_id <= thr`), bucketed by digest so a batch's admission
    * probe is an Exchange-free equi-join on the digest key. Built once
    * per (catalog, dir, thr); every later admission probes it, so it
    * holds exactly the base slice the declared `pipe_curation_admit*`
    * twins gate against. ~32 B/doc — the smallest index in the
    * engine. The `v3` in the name is the one-column layout (`v2`
    * carried an `origin` column); no other layout is read or dropped. */
  def ensureAdmissionDigests(s: SparkSession, dir: String, thr: Long): String =
    ensure(s, s"idx_admit_digest_v3_${tag(dir)}_$thr", Seq("digest")) {
      import org.apache.spark.sql.functions._
      Tables.documents(s, dir).filter(col("doc_id") <= thr)
        .select(md5(col("text")).as("digest")).distinct()
    }

  /** UNIGRAM POSTINGS (inverted index) table — (term, doc_id, tf)
    * bucketed by term: the lexical retrieval family's
    * durable form. The corpus-sized tokenize + per-(term, doc) count
    * is paid once here; every BM25 probe equi-joins its (tiny,
    * broadcast) query-term set against the bucketed table. One row
    * per distinct (term, doc) — the classic inverted-index size, well
    * under the shingle index's one-row-per-occurrence. */
  private def ensurePostingsIndex(s: SparkSession, dir: String): String =
    ensure(s, s"idx_postings_${tag(dir)}", Seq("term")) {
      TextAnalysis.unigramPostings(s, dir)
    }

  /** The postings index's four-table family: the postings rows plus
    * the three CORPUS-STAT side tables a BM25 probe needs, so the
    * probe never re-aggregates the corpus-sized postings relation for
    * dl/df/N per query. All four are built TOGETHER from one postings
    * table, so a probe reading them sees one corpus membership. */
  final case class PostingsTables(postings: String, dl: String,
                                  df: String, corp: String)

  private def postingsNames(dir: String): PostingsTables = PostingsTables(
    s"idx_postings_${tag(dir)}",
    s"idx_postings_dl_${tag(dir)}",
    s"idx_postings_df_${tag(dir)}",
    s"idx_postings_corp_${tag(dir)}")

  private def positionalName(dir: String): String =
    s"idx_postings_pos_${tag(dir)}"

  /** The positional table's NAME without ensuring it — for harness
    * resets that must drop-then-rebuild (ScaleCheck) and existence
    * checks that must not trigger a build. */
  def positionalPostingsName(dir: String): String = positionalName(dir)

  /** POSITIONAL postings table — (doc_id, pos, term) bucketed by term
    * (the phrase probe's candidate-join key): the OPTIONAL fifth
    * member of the postings family, built on demand (phrase queries
    * need positions; BM25 deployments that never phrase-match skip its
    * tokens-not-docs row count). */
  def ensurePositionalPostings(s: SparkSession, dir: String): String =
    ensure(s, positionalName(dir), Seq("term")) {
      TextAnalysis.positionalPostings(s, dir)
    }

  /** Ensure postings + stat tables and return their names. The stats
    * build FROM THE POSTINGS TABLE (not the source dir), so they
    * describe exactly the rows the probe serves. dl is bucketed by
    * doc_id (the probe's candidate join key), df by term (the
    * query-term join key); corp is a single (n, tl) totals row. The
    * probe sums df and corp per key anyway
    * ([[graft.ops.TextAnalysis]] bm25Over), the same body the in-plan
    * form runs over its derived stats. */
  def postingsIndexTables(s: SparkSession, dir: String): PostingsTables = {
    import org.apache.spark.sql.functions._
    val t = postingsNames(dir)
    ensurePostingsIndex(s, dir)
    ensure(s, t.dl, Seq("doc_id")) {
      s.table(t.postings).groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    }
    ensure(s, t.df, Seq("term")) {
      s.table(t.postings).groupBy(col("term")).agg(count(lit(1)).as("df"))
    }
    // corp rolls up the (already-ensured) dl TABLE, not the postings
    // relation — one tiny-table aggregate instead of a third
    // corpus-sized pass at build (dl is the per-doc membership ledger,
    // so the two derivations are identical by construction)
    ensure(s, t.corp, Seq("n")) {
      s.table(t.dl).agg(count(lit(1)).as("n"), sum(col("dl")).as("tl"))
    }
    t
  }

  /** TRAINED BPE VOCABULARY table: the final
    * (tok, n_syms) type state under `nMerges` merges, bucketed by the
    * token key — the committed tokenizer artifact. The merge LOOP (the
    * trainer's O(rounds) driver coordination) runs ONCE at build;
    * every later encode of any corpus slice is an Exchange-friendly
    * equi-join against this table plus a per-doc rollup. The merge
    * depth is part of the table name, like every layout parameter
    * here: vocabularies at different depths coexist and can never be
    * served to the wrong consumer. */
  def ensureBpeVocab(s: SparkSession, dir: String, nMerges: Int): String =
    ensure(s, s"idx_bpe_vocab_${tag(dir)}_m$nMerges", Seq("tok")) {
      TextAnalysis.encodedVocab(s, dir, nMerges)
    }

  /** Persisted SemDeDup COMPONENT table: the (doc_id,
    * comp_id) semantic-duplicate cluster assignment at threshold
    * `tau`, bucketed by doc_id — every keeper election, cluster
    * report, and curation join probes by doc_id, so consumers are
    * bucket-local. The threshold rides the table name in micro-units
    * (like every layout parameter here), so assignments at different
    * taus coexist and can never serve the wrong consumer. This was the
    * last memoized-only cluster relation; the memo remains the
    * hot-path accelerator, this table is the durable/shared form (the
    * [[Tables.memoized]] recovery-boundary doctrine). */
  def ensureSemanticComponents(s: SparkSession, dir: String, tau: Double): String =
    ensure(s, s"idx_sem_comp_${tag(dir)}_t${math.round(tau * 1e6)}", Seq("doc_id")) {
      Similarity.semanticComponents(s, dir, tau)
    }

  /** NARROW prefix-vector table: (vec_id, pv, pnorm) with
    * pv = the first `m` dims re-normed, zero prefixes excluded — the
    * stage-1 scan relation of two-stage Matryoshka serving
    * ([[Similarity.prefixTopKIndexed]]). The point is the WIDTH: at
    * m = 32 of 64 the shortlist scan reads half the vector bytes (an
    * MRL-trained deployment cuts 8×), and full-width rows are touched
    * only for the shortlist·Q rerank. Prefix depth is part of the
    * table name, like every layout parameter. */
  def ensurePrefixIndex(s: SparkSession, dir: String, m: Int): String =
    ensure(s, s"idx_emb_prefix_${tag(dir)}_d$m", Seq("vec_id")) {
      Similarity.prefixVectors(s, dir, m)
    }

  /** IVF inverted index: every vector's (n_id, n_v, n_norm) under the
    * deterministic seed quantizer, PARTITIONED BY `list_id` — the
    * "normed vectors + IVF assignment" row of SURVEY §11's table map.
    * The broadcast-assign pass over all N vectors is paid once at
    * build; query-time probes equi-join the table on list_id and a
    * probe predicate prunes to the probed partitions (nlist is small
    * and IS the partition key, so partitioning — not bucketing — is
    * the right layout; at real scale nlist grows to O(10⁴-10⁵) and
    * each partition holds one inverted list's vectors). */
  def ensureIvfIndex(s: SparkSession, dir: String): String =
    ensureWith(s, s"idx_ivf_seed_${tag(dir)}") { n =>
      Similarity.seedAssignment(s, dir)
        .repartition(org.apache.spark.sql.functions.col("list_id"))
        .write.partitionBy("list_id")
        .mode("overwrite").saveAsTable(n)
    }

  /** IVF-PQ code table: every vector's product-quantization codes keyed
    * by its inverted list — (n_id, m, code_id) partitioned by list_id,
    * the "codes contiguous per inverted list" layout an IVFPQ index
    * stores on disk. ~PqM bytes of code per vector instead of the
    * 64-float payload: this is the table a 100 TB deployment can
    * afford to keep hot while the full vectors stay cold for rerank.
    * Query-time probes prune to the probed lists' partitions with a
    * literal predicate ([[graft.ops.Similarity.ivfPqTopK]]), so an ADC
    * scan reads nprobe lists' codes, never the corpus. Encode (nearest
    * seed codeword per subspace) and coarse assignment both run once
    * here at build time. */
  def ensurePqIndex(s: SparkSession, dir: String): String =
    ensureWith(s, s"idx_pq_codes_${tag(dir)}") { n =>
      Similarity.pqCodesWithLists(s, dir)
        .repartition(org.apache.spark.sql.functions.col("list_id"))
        .write.partitionBy("list_id")
        .mode("overwrite").saveAsTable(n)
    }
}
