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

  /** Durable (on-disk) presence of a table's warehouse directory —
    * the truth GC must reason from: session-catalog registration dies
    * with the JVM, warehouse data does not. */
  private def warehouseDirExists(s: SparkSession, name: String): Boolean = {
    val warehouse = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(warehouse, name))
  }

  /** In-process serialization of index MUTATIONS per table: an
    * append's replay anti-join and its write must not interleave with
    * a concurrent append, and the ANN rebuild snapshots a generation's
    * tables under the lock, so an append or delete landing between
    * snapshot and flip would otherwise be lost to the swap.
    * Cross-process, rebuilds exclude each other through the CAS
    * maintenance lease ([[compactionLease]]). */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withTableLock[A](name: String)(body: => A): A =
    tableLocks.computeIfAbsent(name, _ => new Object).synchronized(body)

  /** Cross-process maintenance lease for this data dir's index tables,
    * rooted in the shared warehouse (`_maintenance/` — the underscore
    * prefix keeps it invisible to table listings, like every metadata
    * sidecar in this engine). One lease per data dir: a finer
    * per-table lease would just multiply CAS traffic. TTL must exceed
    * the longest single rewrite ([[rebuildAnnIndexes]]). */
  def compactionLease(s: SparkSession, dir: String, holderId: String,
                      ttlMs: Long = 10 * 60 * 1000L): graft.storage.MaintenanceLease = {
    val warehouse = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val leaseDir = new org.apache.hadoop.fs.Path(
      warehouse, s"_maintenance/idx_compact_${tag(dir)}")
    val fs = leaseDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    new graft.storage.MaintenanceLease(fs, leaseDir, holderId, ttlMs)
  }

  private def ensure(s: SparkSession, name: String, bucketCols: Seq[String])
                    (build: => DataFrame): String =
    ensureWith(s, name)(n => writeBucketed(build, n, bucketCols, "overwrite"))

  /** THE bucketed-table writer — one definition for builds and appends,
    * so the two paths can never diverge on the bucket spec (a mismatch
    * surfaces as an append-time failure or a silently degraded
    * Exchange-free plan). Repartition on the bucket keys so each
    * bucket is written as ONE file per job: Spark only treats a
    * bucketed scan as pre-sorted (eliding the per-query Sort under a
    * sort-merge join) when a bucket has a single file — with the
    * task-parallel default layout the sortBy metadata is unusable and
    * every consumer re-sorts. At 100 TB the same rule holds per
    * bucket; the bucket COUNT is what scales. (Appends add one file
    * per touched bucket per batch — the sort-elision degrades until a
    * rebuild re-clusters, the standard incremental-ingest trade.) */
  private def writeBucketed(df: DataFrame, name: String,
                            bucketCols: Seq[String], mode: String): Unit =
    df
      .repartition(Buckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write
      .bucketBy(Buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode(mode).saveAsTable(name)

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

  /** Invalidate the cached table relation in BOTH sessions that may
    * hold it: the caller's and the one the written rows derive from.
    * Inside a Structured Streaming `foreachBatch`, the batch DataFrame
    * belongs to a CLONED session — its write auto-refreshes only the
    * clone's catalog, and the main session (plus every future
    * micro-batch clone, which copies the main session's state) would
    * keep serving the PRE-APPEND file listing: appended rows exist on
    * disk but are invisible to every subsequent probe. */
  private def refreshBoth(s: SparkSession, written: DataFrame, name: String): Unit = {
    written.sparkSession.catalog.refreshTable(name)
    if (!(written.sparkSession eq s)) s.catalog.refreshTable(name)
  }

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
        segDfName(dir), Seq("s"), "overwrite")
      import s.implicits._
      Seq(("base", docs.count())).toDF("seg", "n_docs")
        .write.mode("overwrite").saveAsTable(segMetaName(dir))
      writeBucketed(sh, n, Seq("s"), "overwrite")
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
    * probe is an Exchange-free equi-join on the digest key. In a
    * deployment this table is maintained by the curation run that
    * committed the slice (append a batch's digests when the batch is
    * admitted); here it builds once per (catalog, dir, thr) and every
    * subsequent admission probes it. ~32 B/doc — the smallest index in
    * the engine.
    *
    * Rows carry an `origin` column ('base' here, 'batch' on every
    * [[appendToAdmissionDigests]] row): the DECLARED
    * `pipe_curation_admit*` twins probe `origin = 'base'` ONLY, so
    * gate evolution on the same (dir, thr) can never drift the twin
    * off its oracle text — the pure-base contract is structural, not
    * a test-fixture convention. The `v2` in the name is part of the
    * one layout (with `origin`); no other layout is read or dropped. */
  def ensureAdmissionDigests(s: SparkSession, dir: String, thr: Long): String =
    ensure(s, s"idx_admit_digest_v2_${tag(dir)}_$thr", Seq("digest")) {
      import org.apache.spark.sql.functions._
      Tables.documents(s, dir).filter(col("doc_id") <= thr)
        .select(md5(col("text")).as("digest")).distinct()
        .withColumn("origin", lit("base"))
    }

  /** UNIGRAM POSTINGS (inverted index) table — (term, doc_id, tf)
    * bucketed by term: the lexical retrieval family's
    * durable form. The corpus-sized tokenize + per-(term, doc) count
    * is paid once here; every BM25 probe equi-joins its (tiny,
    * broadcast) query-term set against the bucketed table. One row
    * per distinct (term, doc) — the classic inverted-index size, well
    * under the shingle index's one-row-per-occurrence. */
  def ensurePostingsIndex(s: SparkSession, dir: String): String =
    ensure(s, s"idx_postings_${tag(dir)}", Seq("term")) {
      TextAnalysis.unigramPostings(s, dir)
    }

  /** The postings index's four-table family: the postings rows plus
    * the three CORPUS-STAT side tables a BM25 probe needs, so the
    * probe never re-aggregates the corpus-sized postings relation for
    * dl/df/N per query. All four are built and appended TOGETHER, so a
    * probe reading them sees one corpus membership. */
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
    * tokens-not-docs row count). Once present it is maintained WITH
    * the family: appends add the batch's positional rows under the
    * same table lock, keyed off `tableExists`. */
  def ensurePositionalPostings(s: SparkSession, dir: String): String =
    ensure(s, positionalName(dir), Seq("term")) {
      TextAnalysis.positionalPostings(s, dir)
    }

  /** Ensure postings + stat tables and return their names. The stats
    * build FROM THE POSTINGS TABLE (not the source dir), so a table
    * that already carries incremental segments from a previous process
    * gets stats that match its actual content. dl is bucketed by
    * doc_id (the probe's candidate join key), df by term (the
    * query-term join key); corp is a single (n, tl) totals row —
    * appends add DELTA rows to df/corp, which the probe sums at query
    * size ([[graft.ops.TextAnalysis]] bm25Over). */
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

  /** INCREMENTAL postings maintenance: tokenize a newly-ingested
    * (doc_id, text) batch into its term buckets and the stat side
    * tables WITHOUT a rebuild, so docs appended to the vector index
    * are visible to BM25 too (the hybrid's two legs share one
    * membership). Replay-safe: the batch anti-joins the dl table (the
    * per-doc membership relation), so a redelivered batch appends
    * nothing. WRITE ORDER is the crash contract: dl (the replay gate)
    * commits FIRST — a crash mid-append leaves a doc counted in stats
    * but absent from serving until a rebuild, never double-counted tf
    * rows, which would mis-score live queries. Returns postings rows
    * appended. */
  def appendToPostingsIndex(s: SparkSession, dir: String,
                            newDocs: DataFrame): Long = {
    import org.apache.spark.sql.functions._
    val t = postingsIndexTables(s, dir)
    withTableLock(t.postings) {
      val fresh = newDocs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .join(s.table(t.dl), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      try {
        val posts = TextAnalysis.unigramPostingsOf(fresh).localCheckpoint()
        try {
          val n = posts.count()
          if (n > 0) {
            // positional rows (when the optional table exists) commit
            // BEFORE the dl gate: a crash between them makes a replay
            // re-append byte-identical (doc_id, pos, term) rows until a
            // rebuild — whereas the reverse order would leave a doc
            // phrase-invisible forever
            // (positions are not derivable from the tf ledger; their
            // source of truth is the batch text, which the dl gate
            // blocks from redelivery)
            if (s.catalog.tableExists(positionalName(dir)))
              writeBucketed(TextAnalysis.positionalPostingsOf(fresh),
                positionalName(dir), Seq("term"), "append")
            val dlRows = posts.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
            writeBucketed(dlRows, t.dl, Seq("doc_id"), "append")
            writeBucketed(posts, t.postings, Seq("term"), "append")
            writeBucketed(
              posts.groupBy(col("term")).agg(count(lit(1)).as("df")),
              t.df, Seq("term"), "append")
            writeBucketed(
              dlRows.agg(count(lit(1)).as("n"), sum(col("dl")).as("tl")),
              t.corp, Seq("n"), "append")
            (Seq(t.postings, t.dl, t.df, t.corp) ++
              Seq(positionalName(dir)).filter(s.catalog.tableExists))
              .foreach(refreshBoth(s, fresh, _))
          }
          n
        } finally Tables.unpersistCheckpoint(posts)
      } finally Tables.unpersistCheckpoint(fresh)
    }
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

  /** GATE EVOLUTION for the admission digest index: append a batch's
    * text digests after the batch is admitted, so LATER batches gate
    * against everything already accepted, not just the frozen base —
    * the cross-batch exact-dup catch a streaming admission gate needs
    * (within one batch the keeper window handles it; ACROSS batches
    * only the index can). Replay-safe: already-present digests are
    * anti-joined away, so a redelivered batch appends nothing; the
    * in-JVM table lock serializes against concurrent appends (the
    * same contract as every index append here). Returns digests newly
    * recorded. NOTE: the DECLARED `pipe_curation_admit*` queries gate
    * against the PURE base slice (their oracle contract) — this
    * append is the deployed evolution, and its rows land with
    * `origin = 'batch'`, so the declared twins' base-only probe is
    * unaffected no matter which dir the gate evolves on.
    *
    * REPLAY CAVEAT: the append itself is idempotent,
    * but a probe-then-append consumer under at-least-once redelivery
    * must commit its DECISIONS before this call — a crash between the
    * append and the consumer's own commit means the redelivered batch
    * re-probes AGAINST ITS OWN DIGESTS and every 'keep' flips to
    * 'exact_dup'. [[graft.ops.CurationRun.admitRun]] gets this right
    * (tagged A1 append first); StreamingAdmissionSpec proves the
    * foreachBatch shape with a per-batch decision commit. */
  def appendToAdmissionDigests(s: SparkSession, dir: String, thr: Long,
                               docs: DataFrame): Long = {
    import org.apache.spark.sql.functions._
    val name = ensureAdmissionDigests(s, dir, thr)
    withTableLock(name) {
      val fresh = docs.select(md5(col("text")).as("digest")).distinct()
        .join(s.table(name), Seq("digest"), "left_anti")
        .withColumn("origin", lit("batch"))
        .localCheckpoint()
      val n = fresh.count()
      if (n > 0) {
        writeBucketed(fresh, name, Seq("digest"), "append")
        refreshBoth(s, fresh, name)
      }
      n
    }
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

  /** INCREMENTAL IVF maintenance: assign newly-ingested embeddings
    * under the CURRENT generation's frozen quantizer (frozen between
    * retrains — [[rebuildAnnIndexes]] is the migration path) and
    * append them into their lists'
    * partitions — no rebuild, probes see new vectors immediately, and
    * partition pruning is untouched (appends only add files inside
    * existing/new `list_id=` partitions). `newVecs` is (vec_id,
    * embedding); returns vectors appended.
    *
    * Appends are clean because the quantizer is frozen; the DF-capped
    * shingle index could not append this way — its cap is
    * corpus-relative, so new documents move every doc's served set. */
  def appendToIvfIndex(s: SparkSession, dir: String, newVecs: DataFrame): Long =
    appendAnnBatch(s, dir, "n_id", rowsPerVec = 1L,
      (g: Long) => annIvfTableAt(s, dir, g),
      (g: Long) => Similarity.assignNewAt(s, dir, newVecs, g))

  /** The generation-safe append shared by the IVF and PQ paths: encode
    * under ONE resolved generation, then commit under the table lock
    * ONLY IF that generation is still current — a rebuild flipping the
    * pointer between the (expensive, unlocked) encode and the write
    * would otherwise strand the batch in a superseded table nobody
    * serves, while the rebuild's own snapshot (taken under the same
    * lock) never saw it. On a retry the batch is re-encoded under
    * the NEW generation's parameters (the old encoding is meaningless
    * there). Rows whose ids the target table already carries are
    * anti-joined away on EVERY attempt, not just retries: the sibling
    * append can land before a swap, letting the rebuild re-encode
    * those vectors into the new generation's tables before this append
    * ever loops — appending them again on attempt 0 would double their
    * ADC contributions. The unconditional guard also makes the append
    * idempotent under at-least-once redelivery of an ingest batch.
    * Returns vectors appended (possibly 0 when the target already has
    * the whole batch). */
  private def appendAnnBatch(s: SparkSession, dir: String,
                             idCol: String, rowsPerVec: Long,
                             nameAt: Long => String,
                             encodeAt: Long => DataFrame): Long = {
    while (true) {
      val g = annGeneration(s, dir)
      val name = nameAt(g)
      // checkpoint: the encode feeds the count AND the write — one
      // execution, not two, per ingest batch
      val encodedAll = encodeAt(g).localCheckpoint()
      // drop rows whose ids the target already carries (rebuild
      // carry-over or a redelivered batch) — on every attempt, because
      // a rebuild can land between the paired IVF/PQ appends without
      // this append ever observing a swap
      val present = s.table(name)
        .select(org.apache.spark.sql.functions.col(idCol)).distinct()
      val encoded = encodedAll.join(present, Seq(idCol), "left_anti").localCheckpoint()
      Tables.unpersistCheckpoint(encodedAll)
      val n = encoded.count()
      if (n == 0) { Tables.unpersistCheckpoint(encoded); return 0L }
      val committed = withTableLock(name) {
        if (annGeneration(s, dir) != g) false // swapped mid-encode: re-encode for the new generation
        else {
          // saveAsTable(append) resolves columns BY NAME against the
          // catalog schema (insertInto is positional — a silent column
          // swap hazard with partition columns reordered to the end).
          // No format(): the table's provider is whatever the gen-0
          // ensure created it with (the session default) — restating
          // one here would break the append under any other default.
          encoded
            .repartition(org.apache.spark.sql.functions.col("list_id"))
            .write.mode("append")
            .partitionBy("list_id") // must restate the table's partition spec
            .saveAsTable(name)
          refreshBoth(s, encoded, name)
          true
        }
      }
      Tables.unpersistCheckpoint(encoded)
      if (committed) return n / rowsPerVec
    }
    0L // unreachable
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

  /** INCREMENTAL IVF-PQ maintenance: encode newly-ingested embeddings
    * under the CURRENT generation's frozen codebook + coarse quantizer
    * and append their code rows into the lists' partitions (no
    * rebuild, partition pruning untouched). The codebook freezes
    * between retrains for the same reason the quantizer does: codes
    * are only comparable under the codebook that produced them, so
    * retraining is a rebuild by definition — executable as
    * [[rebuildAnnIndexes]]' staged generation swap.
    *
    * END-TO-END serving visibility requires the PAIR of appends: PQ
    * codes feed the ADC/shortlist stage, but the exact rerank reads
    * neighbor vectors from the IVF index table — so an ingest batch
    * appends BOTH ([[appendToIvfIndex]] + this), exactly as a real
    * IVFPQ deployment writes codes and vectors together. Codes
    * appended alone are shortlisted and then dropped at the rerank
    * join (spec'd: the paired append surfaces the new vector in
    * served results). `newVecs` is (vec_id, embedding); returns
    * vectors appended (code rows / PqM). */
  def appendToPqIndex(s: SparkSession, dir: String, newVecs: DataFrame): Long =
    appendAnnBatch(s, dir, "n_id", rowsPerVec = Similarity.PqM.toLong,
      (g: Long) => annPqTableAt(s, dir, g),
      (g: Long) => Similarity.pqCodesForNewAt(s, dir, newVecs, g))

  // ---- ANN index GENERATIONS: rebuild-while-serving ----
  //
  // Appends run under a FROZEN quantizer + codebook — correct, but a
  // drifting corpus eventually degrades recall with no migration story.
  // Retraining is a rebuild by definition (codes are only comparable
  // under the codebook that produced them), so the rebuild ships as a
  // staged GENERATION swap, the same serve-old-while-building-new move
  // as ManifestLog's version chain:
  //   - generation pointer: CAS version files under
  //     `_maintenance/ann_gen_<tag>/` (the same create-if-absent
  //     primitive as every commit in the engine; current = max v)
  //   - generation g's tables: gen 0 keeps the legacy names (built
  //     from the deterministic seed quantizer/codebook — value-
  //     identical to the in-plan twins, which is what keeps the
  //     oracles exact); gen ≥ 1 adds `idx_ann_{cents,cw}_g<g>_<tag>`
  //     (the RETRAINED quantizer/codebook — persisted, because after
  //     a swap the serving paths must score probes under the
  //     quantizer the lists were assigned with) plus `idx_ivf_g<g>_` /
  //     `idx_pq_g<g>_` (every current vector re-assigned + re-encoded)
  //   - serving resolves the pointer at plan time and reads THAT
  //     generation's tables; a rebuild never touches a live table, so
  //     an in-flight query keeps serving its pinned generation
  //     through the swap; superseded generations stay on disk (no
  //     entry point sweeps them).

  private def annGenDir(s: SparkSession, dir: String): org.apache.hadoop.fs.Path = {
    val warehouse = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    new org.apache.hadoop.fs.Path(warehouse, s"_maintenance/ann_gen_${tag(dir)}")
  }

  /** Highest CLAIMED generation slot — one listing of a directory
    * whose size is the lifetime rebuild count (maintenance-cadence
    * small; a deployment retraining daily reaches 365 files a year —
    * nowhere near the manifest chain's 10⁴-versions regime, so no
    * hint file needed). Zero-byte claim files (the O_EXCL window)
    * still count: the pointer's CONTENT is diagnostic only — the
    * claim's existence is the commit, and its tables were fully
    * written before the claim (write-then-flip ordering). */
  private def maxClaimedGen(s: SparkSession, dir: String): Long = {
    val d = annGenDir(s, dir)
    val fs = d.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) 0L
    else fs.listStatus(d).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v")) n.stripPrefix("v").toLongOption else None
    }.foldLeft(0L)(math.max)
  }

  /** Current SERVABLE ANN generation for `dir` — 0 until the first
    * completed [[rebuildAnnIndexes]] swap. On a cluster deployment the
    * catalog is a shared metastore and the highest claimed slot is
    * always servable; on a plain SESSION catalog (this harness) the
    * claim file outlives the JVM while the table registration does
    * not, so resolution walks down to the highest claimed generation
    * whose IVF table the catalog can actually resolve — a fresh
    * process quietly re-serves generation 0 (rebuilt by the usual
    * ensure) instead of crashing on a pointer it cannot follow, and
    * the next rebuild claims ABOVE the stale slots (claims are
    * monotonic, never reused). */
  def annGeneration(s: SparkSession, dir: String): Long = {
    var g = maxClaimedGen(s, dir)
    while (g > 0L && !s.catalog.tableExists(annIvfName(dir, g))) g -= 1
    g
  }

  /** The DURABLE frontier generation — highest claimed slot whose IVF
    * dir is physically present, independent of any session catalog.
    * This is the generation a tombstone DELETE must target:
    * [[annGeneration]]'s catalog walk lags a flip
    * in another process (the claim file is durable, the registration
    * is not), so a post-append re-check keyed on it read the OLD
    * generation as current and a raced delete was silently resurrected
    * by the swap. Claims are durable one-file CAS commits, so this
    * resolution is flip-visible across processes immediately. */
  private[ops] def durableFrontierGen(s: SparkSession, dir: String): Long = {
    var g = maxClaimedGen(s, dir)
    while (g > 0L && !warehouseDirExists(s, annIvfName(dir, g))) g -= 1
    g
  }

  private[ops] def annCentsName(dir: String, g: Long): String =
    s"idx_ann_cents_g${g}_${tag(dir)}"
  private[ops] def annCwName(dir: String, g: Long): String =
    s"idx_ann_cw_g${g}_${tag(dir)}"
  private[ops] def annIvfName(dir: String, g: Long): String =
    if (g == 0L) s"idx_ivf_seed_${tag(dir)}" else s"idx_ivf_g${g}_${tag(dir)}"
  private[ops] def annPqName(dir: String, g: Long): String =
    if (g == 0L) s"idx_pq_codes_${tag(dir)}" else s"idx_pq_g${g}_${tag(dir)}"

  /** Generation `g`'s IVF table name, with the gen-0 build ensured
    * lazily (a retrained generation was fully written before its
    * pointer flipped, so it never needs an ensure). Callers resolve
    * `g` ONCE per operation and derive every table from it — the
    * single-resolution contract ([[Similarity.servingCentroidsAt]]). */
  private[ops] def annIvfTableAt(s: SparkSession, dir: String, g: Long): String =
    if (g == 0L) ensureIvfIndex(s, dir) else annIvfName(dir, g)

  private[ops] def annPqTableAt(s: SparkSession, dir: String, g: Long): String =
    if (g == 0L) ensurePqIndex(s, dir) else annPqName(dir, g)

  /** The IVF table the serving paths read NOW (one-shot resolution —
    * multi-relation consumers use [[annIvfTableAt]] under one shared
    * generation instead). */
  def currentIvfTable(s: SparkSession, dir: String): String =
    annIvfTableAt(s, dir, annGeneration(s, dir))

  /** The PQ code table the serving paths read now — same resolution. */
  def currentPqTable(s: SparkSession, dir: String): String =
    annPqTableAt(s, dir, annGeneration(s, dir))

  // ---- ANN DELETES: per-generation tombstones ----
  //
  // The third index mutation, completing the lifecycle (append →
  // rebuild → delete): a delete cannot rewrite the bucketed index
  // tables in place (that is a compaction by definition), so it lands
  // as a TOMBSTONE row the serving paths anti-join away — the same
  // move as every LSM/segment index (Lucene's deleted-docs bitmap,
  // Milvus's delta log). Tombstones are PER GENERATION: a rebuild
  // retrains on the masked rows only, so the next generation is built
  // clean and starts with an empty tombstone set — the rebuild IS the
  // purge. Between rebuilds the tombstone set is bounded by the
  // delete rate since the last swap (≪ corpus), which is what keeps
  // the serving-side anti-join a broadcast.

  private[ops] def annTombName(dir: String, g: Long): String =
    s"idx_ann_tomb_g${g}_${tag(dir)}"

  /** Tombstones are PATH-BASED parquet under the warehouse, never a
    * catalog table: a session catalog's
    * registration dies with the JVM while the data does not, so a
    * registration-keyed mask would silently resurrect every deletion
    * on restart — and a create-path that clears an
    * unregistered-but-durable dir would permanently destroy the prior
    * tombstone set on the first post-restart delete. Deriving
    * existence, reads, and appends from the DURABLE directory (the
    * same truth source as the generation claim files) makes the
    * right-to-be-forgotten durability structural: there is no
    * registration to lose. On a shared-metastore deployment the two
    * truths coincide and behavior is identical. */
  private def annTombPath(s: SparkSession, dir: String, g: Long): org.apache.hadoop.fs.Path = {
    val warehouse = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    new org.apache.hadoop.fs.Path(warehouse, annTombName(dir, g))
  }

  /** Durable presence of generation `g`'s tombstone set — the only
    * existence check any tombstone consumer may use. */
  private[ops] def tombstoneExists(s: SparkSession, dir: String, g: Long): Boolean =
    warehouseDirExists(s, annTombName(dir, g))

  private def tombstoneIds(s: SparkSession, dir: String, g: Long): DataFrame =
    // explicit schema: a concurrent first append can expose the dir
    // with only its hidden staging inside — inference over zero
    // visible files would error, while a declared schema reads the
    // moment's truth (empty) and the mask stays the identity
    s.read.schema("n_id BIGINT").parquet(annTombPath(s, dir, g).toString)

  /** CONCURRENT-SAFE parquet append into a tombstone dir:
    * `df.write.mode("append")` from two PROCESSES shares one
    * `_temporary` committer staging path — job A's commit deletes job
    * B's staged files mid-write (the clash the chaos deleter hit).
    * Here each append stages under its own `_staging_<uuid>` (the
    * underscore prefix keeps it invisible to every parquet listing),
    * then MOVES the part files into the dir under staging-unique
    * names — renames are per-file atomic, so a reader sees each part
    * fully or not at all, and two concurrent appends can never touch
    * each other's files. A crashed append leaves only a hidden
    * staging dir (ignored by readers). */
  private def appendTombstones(s: SparkSession, df: DataFrame,
                               target: org.apache.hadoop.fs.Path): Unit = {
    val fs = target.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stamp = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = new org.apache.hadoop.fs.Path(target, s"_staging_$stamp")
    df.write.mode("overwrite").parquet(staging.toString)
    try {
      fs.listStatus(staging).iterator
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .zipWithIndex.foreach { case (st, i) =>
          val dst = new org.apache.hadoop.fs.Path(target, s"part-$stamp-$i.parquet")
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(s"tombstone append rename failed: ${st.getPath} -> $dst")
        }
    } finally fs.delete(staging, true)
  }

  /** Mask generation `g`'s tombstoned ids out of a relation keyed by
    * `idCol` — the ONE anti-join every serving path shares. Absent
    * tombstone set (no deletes since the generation was built) =
    * identity, zero plan overhead. */
  private[ops] def maskTombstonesAt(s: SparkSession, dir: String, g: Long,
                                    rel: DataFrame, idCol: String): DataFrame =
    if (!tombstoneExists(s, dir, g)) rel
    else rel.join(
      org.apache.spark.sql.functions.broadcast(
        tombstoneIds(s, dir, g)
          .select(org.apache.spark.sql.functions.col("n_id").as(idCol))),
      Seq(idCol), "left_anti")

  /** Drop a THROWAWAY dir's generation-0 ANN tables (IVF, PQ,
    * tombstones) — harness fixtures only: the shared warehouse is
    * persistent across processes, so a pricing fixture must remove
    * what it created or every run leaks a corpus copy plus three
    * orphan tables (ScaleCheck's delete pricing). */
  def dropAnnFixtureTables(s: SparkSession, dir: String): Unit =
    Seq(annIvfName(dir, 0L), annPqName(dir, 0L), annTombName(dir, 0L)).foreach { n =>
      s.sql(s"DROP TABLE IF EXISTS $n")
      deleteWarehouseDir(s, n)
    }

  /** Tombstone `ids` in the CURRENTLY-SERVED generation. Idempotent
    * (already-tombstoned ids are anti-joined away — a redelivered
    * delete batch is a no-op) and generation-safe: the write runs
    * under the generation's IVF TABLE lock with a re-check, the same
    * serialization as [[appendAnnBatch]] — a rebuild holds that lock
    * for its whole snapshot→flip window, so a delete either lands
    * before the snapshot (the rebuild folds it out) or retries into
    * the new generation (it can never fall into the gap and be
    * silently resurrected by the swap). Cross-process (no shared
    * table lock), the window is closed from both sides without
    * quiescing: the rebuild re-reads the old generation's durable
    * tombstone dir after its flip and carries late deletes forward,
    * and this method re-checks the generation AFTER its append commits
    * and re-delivers if a flip raced it — proven under a real
    * two-process race in `AnnCrossProcessChaosSpec`.
    *
    * A tombstone is terminal for its generation: appending a
    * tombstoned id is a no-op (the row is still physically present,
    * so the append's presence guard skips it) and the mask keeps
    * serving without it — an at-least-once REDELIVERED ingest batch
    * cannot resurrect a deletion. Deliberate re-admission is
    * rebuild-then-append: the rebuild purges the row and the clean
    * generation accepts the vector as new. Returns ids newly
    * tombstoned (0 = the whole batch was already deleted). */
  def deleteFromAnnIndex(s: SparkSession, dir: String, ids: Seq[Long]): Long =
    if (ids.isEmpty) 0L
    else deleteFromAnnIndex(s, dir,
      s.createDataFrame(ids.distinct.map(Tuple1(_))).toDF("n_id"))

  /** [[deleteFromAnnIndex]] over a DISTRIBUTED id relation: same
    * locked, idempotent, generation-safe append, but the id set never
    * materializes on the driver — the shape for a removal set that is
    * predicate-derived from the corpus
    * (request-sized sets go through the Seq overload, which delegates
    * here). The one id column is cast to long and deduplicated; the
    * anti-join and the appended parquet are executor-side end to end.
    * localCheckpoint pins the fresh set so the count and the write see
    * one consistent snapshot even though the input may read mutable
    * state. */
  def deleteFromAnnIndex(s: SparkSession, dir: String, ids: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    // Exactly one column, by contract: silently
    // taking columns.head would let a caller who forgot `.select`
    // tombstone whatever column happens to be first — a wrong-column
    // delete is unrecoverable once appended, so it must fail loudly.
    require(ids.columns.length == 1,
      s"deleteFromAnnIndex expects a single id column, got [${ids.columns.mkString(", ")}] — .select the id column")
    val idCol = ids.columns.head
    // First acked count survives re-delivery (see the flip re-check
    // below): the caller's contract is "newly deleted ids", and a
    // re-delivered batch may anti-join to 0 when the rebuild's
    // carry-forward already landed it in the new generation.
    var firstAck: Option[Long] = None
    // Target resolution is DURABLE-frontier-first: the generation a
    // delete must tombstone is the
    // durable frontier — claim files make a concurrent rebuild's flip
    // visible across processes immediately, where the catalog-walked
    // serving generation lags and mis-aimed the re-check below. When a
    // session-catalog process serves a LOWER generation than the
    // frontier (fresh-JVM recovery mode), the batch is additionally
    // appended to the served generation's dir so this process's own
    // serving masks it too.
    def target(): Long = math.max(annGeneration(s, dir), durableFrontierGen(s, dir))
    while (true) {
      val localServed = annGeneration(s, dir)
      val g = target()
      val ivfName = annIvfTableAt(s, dir, g) // ensures gen 0; lock key below
      val batch = ids.select(col(idCol).cast("long").as("n_id")).distinct()
      val committed = withTableLock(ivfName) {
        if (target() != g) None // swapped mid-delete: re-aim at the new generation
        else {
          // existence and the idempotency anti-join read the DURABLE
          // dir, never the session catalog: a dir surviving a JVM
          // restart holds real deletions that must be honored, not
          // cleared (see annTombPath). parquet append
          // creates the dir when absent, so there is no create branch
          // to get wrong.
          // checkpoint BEFORE count: the count and the parquet append
          // must see one snapshot of a possibly-lazy input relation
          // (the DataFrame overload's ids can derive from live state)
          val fresh =
            (if (tombstoneExists(s, dir, g))
              batch.join(tombstoneIds(s, dir, g), Seq("n_id"), "left_anti")
            else batch).localCheckpoint()
          val n = fresh.count()
          if (n > 0L)
            appendTombstones(s, fresh, annTombPath(s, dir, g))
          Tables.unpersistCheckpoint(fresh)
          // fresh-JVM recovery mode: this session serves below the
          // frontier — mask its own served generation as well (same
          // idempotent anti-join; not counted, the frontier append is
          // the contract)
          if (localServed < g) {
            val local =
              (if (tombstoneExists(s, dir, localServed))
                batch.join(tombstoneIds(s, dir, localServed), Seq("n_id"), "left_anti")
              else batch).localCheckpoint()
            try {
              if (local.count() > 0L)
                appendTombstones(s, local, annTombPath(s, dir, localServed))
            } finally Tables.unpersistCheckpoint(local)
          }
          Some(n)
        }
      }
      committed match {
        case Some(n) =>
          // POST-APPEND flip re-check: in-JVM the
          // table lock serializes against a rebuild, but a rebuild in
          // ANOTHER process holds no such lock — its snapshot→flip
          // window can straddle this append, resurrecting the deletion
          // in the new generation. If the DURABLE frontier moved after
          // our append committed, re-deliver the batch to the new
          // generation (idempotent by the anti-join; the rebuild's own
          // carry-forward covers appends it could still observe, this
          // re-check covers appends that landed after its read — the
          // two together close the window from both sides).
          if (target() == g) return firstAck.getOrElse(n)
          firstAck = firstAck.orElse(Some(n))
        case None => // retry under the new generation
      }
    }
    0L // unreachable
  }

  /** REBUILD-WHILE-SERVING: retrain the coarse quantizer and the PQ
    * codebook on the index's CURRENT vectors (base corpus plus every
    * appended batch — nothing served disappears), write the next
    * generation's four tables at names nobody references yet, and
    * atomically flip the generation pointer. Runs under the
    * cross-process [[compactionLease]] (one rebuilder at a time;
    * cross-process appends must quiesce for the window) and under the
    * in-process table locks (in-JVM appends serialize against the
    * snapshot instead of vanishing). Old-generation tables stay on
    * disk, so in-flight readers keep their pinned generation.
    *
    * Returns Some((newGeneration, vectorsReindexed)) on a completed
    * swap, None when the lease is contended. A crash anywhere before
    * the pointer flip leaves serving untouched (the new tables are
    * unreferenced orphans the next rebuild overwrites); the flip
    * itself is one atomic create-if-absent. */
  def rebuildAnnIndexes(s: SparkSession, dir: String,
                        holderId: String): Option[(Long, Long)] =
    compactionLease(s, dir, holderId).withLease {
      val g = annGeneration(s, dir)
      // pre-flip durable frontier: a carry-forward source below (a
      // racing delete targets the frontier, which in fresh-JVM
      // recovery mode can sit above the serving generation g)
      val oldFrontier = durableFrontierGen(s, dir)
      // claims are monotonic and never reused: a stale pointer slot
      // from a previous process (claimed, but its table registration
      // died with that JVM's session catalog) is skipped over, so the
      // flip below cannot collide with a dead epoch
      val next = maxClaimedGen(s, dir) + 1
      val ivfCur = if (g == 0L) ensureIvfIndex(s, dir) else annIvfName(dir, g)
      val pqCur = if (g == 0L) ensurePqIndex(s, dir) else annPqName(dir, g)
      withTableLock(ivfCur) { withTableLock(pqCur) {
        // snapshot the live index content ONCE: it feeds the centroid
        // retrain, the codebook retrain, and both re-encodes. The
        // snapshot is the MASKED view — tombstoned vectors must not
        // shape the retrained quantizer/codebook and must not be
        // carried into the new generation: the rebuild is the purge,
        // and the clean generation starts with no tombstone table.
        val cur = maskTombstonesAt(s, dir, g, s.table(ivfCur), "n_id").localCheckpoint()
        val curVs = cur.select(
          org.apache.spark.sql.functions.col("n_id").as("vec_id"),
          org.apache.spark.sql.functions.col("n_v").as("v"),
          org.apache.spark.sql.functions.col("n_norm").as("norm"))
        var newCents: DataFrame = null
        var newCw: DataFrame = null
        try {
          newCents = Similarity.retrainCentroids(s, cur).localCheckpoint()
          newCw = Similarity.retrainCodebook(s, curVs)
          val (ivf, pq) = Similarity.reindexUnder(curVs, newCents, newCw)
          // overwrite, not fail-if-exists: a crashed previous attempt's
          // orphan tables at these names are stale garbage by definition
          // (their pointer never flipped)
          Seq(annCentsName(dir, next) -> newCents, annCwName(dir, next) -> newCw)
            .foreach { case (n, df) =>
              s.sql(s"DROP TABLE IF EXISTS $n"); deleteWarehouseDir(s, n)
              df.write.mode("overwrite").saveAsTable(n)
            }
          Seq(annIvfName(dir, next) -> ivf, annPqName(dir, next) -> pq)
            .foreach { case (n, df) =>
              s.sql(s"DROP TABLE IF EXISTS $n"); deleteWarehouseDir(s, n)
              df.repartition(org.apache.spark.sql.functions.col("list_id"))
                .write.partitionBy("list_id").mode("overwrite").saveAsTable(n)
            }
          val nVecs = s.table(annIvfName(dir, next)).count()
          // the FLIP: tables first, pointer last — an atomic
          // create-if-absent on the next version slot. Under the lease
          // this cannot lose; a loss anyway means a rebuilder ran
          // outside the lease (split brain) and MUST surface loudly —
          // our tables may interleave with the winner's.
          val d = annGenDir(s, dir)
          val fs = d.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.mkdirs(d)
          val payload = s"holder=$holderId ts=${System.currentTimeMillis()} n=$nVecs\n"
          if (!graft.storage.Cas.tryClaim(fs,
              new org.apache.hadoop.fs.Path(d, s"v$next"), payload.getBytes("UTF-8")))
            throw new IllegalStateException(
              s"ANN generation $next already claimed for $dir — a rebuild ran " +
                "outside the maintenance lease; staged tables may be torn")
          // TOMBSTONE CARRY-FORWARD: the in-JVM
          // table locks don't exist across processes, so a remote
          // deleter can commit a tombstone append into a DURABLE
          // tombstone dir in the window between the masked snapshot
          // above and the flip just committed — purged from nothing,
          // masked in a generation nobody will serve again. Re-read the
          // dirs a racing delete targets — the snapshot generation g
          // and the pre-flip durable frontier (identical on a shared
          // metastore; distinct in fresh-JVM recovery mode) — AFTER the
          // flip (still under the lease): any id the new tables still
          // carry was a late delete — tombstone it in the new
          // generation (append-idempotent, like any delete). Deletes
          // landing after this read committed their append strictly
          // after the flip, so the deleter's own post-append frontier
          // re-check re-delivers them here. Older generations' dirs are
          // deliberately NOT read: their tombstones can predate a
          // purge-then-re-admit and must never shadow a re-admission.
          val lateSrcs = Set(g, oldFrontier).filter(tombstoneExists(s, dir, _))
          if (lateSrcs.nonEmpty) {
            val late = lateSrcs.map(tombstoneIds(s, dir, _))
              .reduce(_ unionByName _).distinct()
              .join(s.table(annIvfName(dir, next))
                .select(org.apache.spark.sql.functions.col("n_id")),
                Seq("n_id"), "left_semi")
              .localCheckpoint()
            try {
              if (late.count() > 0L)
                appendTombstones(s, late, annTombPath(s, dir, next))
            } finally Tables.unpersistCheckpoint(late)
          }
          (next, nVecs)
        } finally { // maintenance must not pin index-sized blocks
          Tables.unpersistCheckpoint(cur)
          if (newCents != null) Tables.unpersistCheckpoint(newCents)
          if (newCw != null) Tables.unpersistCheckpoint(newCw)
        }
      } }
    }
}
