package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The EXECUTABLE curation run — the declared stages composed into one
  * resumable artifact chain, written THROUGH [[graft.storage.ManifestLog]]
  * so the run inherits the store's commit semantics instead of inventing
  * its own:
  *
  *   1. KEEP_DROP — one decision per document
  *      ([[Pipeline.curationDecisions]]: exact-dup → near-dup → quality
  *      → keep), committed as a tagged append;
  *   2. SHARD — the export receipt ([[Pipeline.shardManifestOf]]) over
  *      the KEEP set, derived from the COMMITTED stage-1 artifact (read
  *      back and parsed, never from a re-run of the derivation — the
  *      structural guarantee that a resume cannot fork the shard
  *      content even if an upstream derivation were nondeterministic);
  *   3. CITE — the replay-proven citation: per-level row counts +
  *      order-independent integer digests of the pinned version,
  *      recomputed after an in-run compaction + grace GC and required
  *      identical BEFORE the citation is emitted
  *      ([[LogQueries.pipeSnapshotPin]]'s contract, now sealing a
  *      whole run).
  *
  * RESUMABILITY is the manifest's idempotency-tag ledger: every stage
  * commits under a fixed tag, a replayed stage no-ops at the tag
  * pre-check (the artifact DataFrame is lazy, so a committed stage's
  * derivation is never recomputed), and a run killed between stages
  * resumes by simply calling [[run]] again — the spec proves the
  * resumed shards are byte-identical to a one-shot run's. Artifact
  * rows carry a CONSTANT timestamp: the chain's identity lives in the
  * message content, and wall-clock stamps would break byte-identity
  * across runs.
  *
  * Scale shape: every stage is a declared-operator plan (their scale
  * stories hold unchanged); the only driver-side rows are the
  * nShards-sized shard receipt and the per-level citation. */
object CurationRun {

  val Container = "curation"
  private val KeepDropTag = "stage1-keepdrop"
  private val ShardsTag = "stage2-shards"
  private val CiteTag = "stage3-cite"
  private val DeltaKeepDropTag = "delta1-keepdrop"
  private val DeltaShardsTag = "delta2-shards"
  private val TakedownKeepDropTag = "takedown1-keepdrop"
  private val TakedownShardsTag = "takedown2-shards"
  private val RunTs = "2024-01-01 00:00:00"

  def run(s: SparkSession, dir: String, root: String, runId: String,
          nShards: Int): DataFrame =
    run(s, dir, root, runId, nShards, Int.MaxValue)

  def run(s: SparkSession, dir: String, root: String, runId: String): DataFrame =
    run(s, dir, root, runId, 8, Int.MaxValue)

  /** `failAfterStage` is the crash-injection seam for the resume spec:
    * the run throws AFTER stage N's commit, exactly the window a real
    * crash hits. `maxDocId` restricts the run to the base slice
    * (`doc_id <= maxDocId`) AS ITS OWN CORPUS — digest minima, the
    * near-dup component graph and the DF cap all live inside the slice
    * — which is what "the run that happened before the batch arrived"
    * means for [[deltaRun]]'s prior chain. */
  private[graft] def run(s: SparkSession, dir: String, root: String, runId: String,
                       nShards: Int, failAfterStage: Int,
                       maxDocId: Long = Long.MaxValue): DataFrame = {
    val log = new graft.storage.ManifestLog(s, root)
    def msgRows(level: String, messages: DataFrame): DataFrame =
      messages.select(lit(RunTs).cast("timestamp").as("timestamp"),
        lit(level).as("level"), col("message"))

    // ---- stage 1: per-document keep/drop manifest -------------------
    val decisions =
      if (maxDocId == Long.MaxValue) Pipeline.curationDecisions(s, dir)
      else Pipeline.curationDecisionsUpTo(s, dir, maxDocId)
    log.appendIdempotent(msgRows("KEEP_DROP",
      decisions.select(
        concat(lit("doc="), col("doc_id"), lit(" src="), col("source"),
               lit(" dec="), col("decision")).as("message"))),
      Container, runId, KeepDropTag)
    if (failAfterStage <= 1)
      throw new IllegalStateException("injected crash after stage 1")

    // ---- stage 2: shard receipt over the COMMITTED keep set ---------
    val keepIds = log.read(Container, runId)
      .filter(col("level") === "KEEP_DROP" && col("message").endsWith("dec=keep"))
      .select(regexp_extract(col("message"), "doc=(\\d+)", 1).cast("long").as("doc_id"))
    val kept = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .join(keepIds, Seq("doc_id"))
    log.appendIdempotent(msgRows("SHARD",
      Pipeline.shardManifestOf(kept, nShards).select(
        concat(lit("shard="), col("shard_id"), lit(" n="), col("n_docs"),
               lit(" tok="), col("total_tokens"), lit(" dg="), col("content_digest"))
          .as("message"))),
      Container, runId, ShardsTag)
    if (failAfterStage <= 2)
      throw new IllegalStateException("injected crash after stage 2")

    // ---- stage 3: replay-proven citation of the pinned version ------
    val pinned = sealChain(s, log, runId, extra = Seq.empty)

    // the run's return value: the shard receipt parsed back from the
    // PINNED snapshot — the committed artifact, not the in-plan rows
    log.readAt(Container, runId, pinned)
      .filter(col("level") === "SHARD")
      .select(
        regexp_extract(col("message"), "shard=(\\d+)", 1).cast("long").as("shard_id"),
        regexp_extract(col("message"), " n=(\\d+)", 1).cast("long").as("n_docs"),
        regexp_extract(col("message"), "tok=(\\d+)", 1).cast("long").as("total_tokens"),
        regexp_extract(col("message"), "dg=([0-9a-f]+)", 1).as("content_digest"))
      .withColumn("pinned_version", lit(pinned))
      .orderBy(col("shard_id"))
  }

  /** Whether a run chain completed (its CITE pin is committed) — the
    * fixtures' ensure test: a completed chain is reused, never re-run. */
  private def chainComplete(s: SparkSession, root: String, runId: String): Boolean =
    committedPin(new graft.storage.ManifestLog(s, root), runId).isDefined

  /** The committed pin of a chain's CITE stage, if the chain completed
    * (rows carrying `pinned=` — the chain-reference row a delta cite
    * also holds never matches). */
  private def committedPin(log: graft.storage.ManifestLog, runId: String): Option[Long] =
    log.read(Container, runId)
      .filter(col("level") === "CITE" && col("message").contains("pinned="))
      .select(regexp_extract(col("message"), "pinned=(\\d+)", 1).cast("long"))
      .limit(1).collect().headOption.map(_.getLong(0))

  /** Stage-3 of both run flavors: the replay-proven citation. The
    * citation IS the run's memory: a re-invocation of a COMPLETED
    * run reads the pinned version back from the committed CITE row and
    * skips the maintenance below entirely — replays must not re-pin
    * (the artifact would drift) or re-compact (version churn for
    * nothing). A resume that crashed between the compaction and the
    * CITE commit pins the compacted version instead — same logical
    * rows by the compaction contract, so the digests cannot differ.
    * `extra` rows (the delta chain's prior-run reference) commit with
    * the citation, atomically part of the same tagged append. */
  private def sealChain(s: SparkSession, log: graft.storage.ManifestLog,
                        runId: String, extra: Seq[String]): Long =
    committedPin(log, runId).getOrElse {
      val v = log.versions(Container, runId).max
      def citationOf(at: Long): Seq[(String, Long, Long)] =
        log.readAt(Container, runId, at)
          .groupBy(col("level"))
          .agg(count(lit(1)).as("n_rows"),
               sum(expr(
                 "CAST(conv(substr(md5(message), 1, 15), 16, 10) AS BIGINT) % 1000000007"))
                 .as("digest"))
          .orderBy(col("level"))
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val cite = citationOf(v)
      log.compact(Container, runId)
      log.expire(Container, runId, java.time.Instant.now().minusSeconds(3600))
      val replay = citationOf(v)
      require(cite == replay,
        s"pinned snapshot v$v failed to replay after compaction+GC: $cite vs $replay")
      log.appendIdempotent(
        s.createDataFrame(
          (cite.map { case (lv, n, dg) => Tuple1(s"level=$lv n=$n digest=$dg pinned=$v") } ++
            extra.map(Tuple1(_))))
          .toDF("message")
          .select(lit(RunTs).cast("timestamp").as("timestamp"),
            lit("CITE").as("level"), col("message")),
        Container, runId, CiteTag)
      v
    }

  /** INCREMENTAL curation delta: admit the
    * post-`thr` batch against a PRIOR run's committed chain and emit
    * only what changed, chained to the prior citation:
    *
    *   D1. DELTA_KEEP_DROP — the batch documents' decisions on the
    *       combined corpus, PLUS correction rows for base documents
    *       whose decision flipped (`was=<prior>`): a batch doc can
    *       bridge two prior near-dup clusters and demote the larger
    *       cluster's keeper, and the corpus-relative DF cap shifts
    *       with corpus size. Decisions come from the PERSISTED
    *       segment-index components ([[Pipeline.curationDecisionsSeg]])
    *       — the index is the piece that maintains incrementally
    *       (batch appended as a segment, cap re-derived at merge), so
    *       the admission rides served tables, not a from-scratch
    *       shingle derivation. Pair-level incrementality beyond that
    *       is deliberately NOT attempted: the DF cap is corpus-
    *       relative, so a batch can re-hot or un-hot shingles anywhere
    *       — edge REMOVALS no contraction of the prior component
    *       assignment can replay (the same non-locality that makes
    *       the shingle index recompute DF at merge time).
    *   D2. SHARD — the combined receipt, derived purely from COMMITTED
    *       artifacts (prior chain's pinned KEEP_DROP overridden by the
    *       committed D1 rows — a resume cannot fork), with a per-shard
    *       `new=` count showing where the batch landed.
    *   D3. CITE — the replay-proven citation, carrying the chain
    *       reference to the prior run's pin.
    *
    * delta ∘ prior ≡ full: the receipt equals a full run's over the
    * combined corpus (the declared oracle proves it value-by-value;
    * the bridge/revocation path is spec-proven on a crafted corpus).
    * Resumable exactly like [[run]] — every stage a tagged idempotent
    * append, later stages derive from committed artifacts. */
  /** Per-stage wall-clock attribution: one
    * stderr line per named stage of a lifecycle operator, so a bench
    * or SCALECHECK run can attribute `pipe_curation_delta`'s cost
    * (fixture ensure vs decision gates+admission vs receipt vs seal)
    * without touching the declared result. Stderr, not the result
    * schema — the oracle contract must not see it. */
  private def timedStage[A](query: String, stage: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(
      f"[stage] $query $stage%-18s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  private[graft] def deltaRun(s: SparkSession, dir: String, root: String,
                            priorRunId: String, runId: String, thr: Long,
                            nShards: Int, failAfterStage: Int): DataFrame = {
    val log = new graft.storage.ManifestLog(s, root)
    def msgRows(level: String, messages: DataFrame): DataFrame =
      messages.select(lit(RunTs).cast("timestamp").as("timestamp"),
        lit(level).as("level"), col("message"))
    val priorPinned = committedPin(log, priorRunId).getOrElse(throw new IllegalStateException(
      s"prior run $priorRunId has no committed citation — complete it before the delta"))
    // consumed twice (corrections join + the D2 keep-set override) —
    // materialize the doc-sized decision relation once instead of
    // re-reading and re-parsing the prior manifest per consumer
    val priorDec = log.readAt(Container, priorRunId, priorPinned)
      .filter(col("level") === "KEEP_DROP")
      .select(regexp_extract(col("message"), "doc=(\\d+)", 1).cast("long").as("doc_id"),
              regexp_extract(col("message"), "dec=(\\w+)", 1).as("prior_dec"))
      .localCheckpoint()

    // ---- stage D1: batch admissions + base corrections --------------
    timedStage("pipe_curation_delta", "d1_gates_admit") {
      // two consumers (batch slice + corrections) — one decision
      // derivation (window + component/flag joins), not two; the eager
      // checkpoint sits inside the stage timer so attribution holds
      val combined = Pipeline.curationDecisionsSeg(s, dir).localCheckpoint()
      val batchRows = combined.filter(col("doc_id") > thr)
        .select(concat(lit("doc="), col("doc_id"), lit(" src="), col("source"),
                       lit(" dec="), col("decision")).as("message"))
      val corrections = combined.filter(col("doc_id") <= thr)
        .join(priorDec, Seq("doc_id"))
        .filter(col("decision") =!= col("prior_dec"))
        .select(concat(lit("doc="), col("doc_id"), lit(" src="), col("source"),
                       lit(" dec="), col("decision"), lit(" was="), col("prior_dec"))
          .as("message"))
      log.appendIdempotent(msgRows("DELTA_KEEP_DROP", batchRows.unionByName(corrections)),
        Container, runId, DeltaKeepDropTag)
    }
    if (failAfterStage <= 1)
      throw new IllegalStateException("injected crash after delta stage 1")

    // ---- stage D2: combined receipt from COMMITTED artifacts only ---
    val d1 = log.read(Container, runId)
      .filter(col("level") === "DELTA_KEEP_DROP")
      .select(regexp_extract(col("message"), "doc=(\\d+)", 1).cast("long").as("doc_id"),
              regexp_extract(col("message"), "dec=(\\w+)", 1).as("dec"))
      .localCheckpoint() // two consumers (override anti-join + keep slice)
    val keepIds = priorDec.filter(col("prior_dec") === "keep").select(col("doc_id"))
      .join(d1, Seq("doc_id"), "left_anti")
      .unionByName(d1.filter(col("dec") === "keep").select(col("doc_id")))
    val kept = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .join(keepIds, Seq("doc_id"))
      .withColumn("is_new", col("doc_id") > thr)
    timedStage("pipe_curation_delta", "d2_receipt") {
      log.appendIdempotent(msgRows("SHARD",
        Pipeline.shardManifestWithNew(kept, nShards).select(
          concat(lit("shard="), col("shard_id"), lit(" n="), col("n_docs"),
                 lit(" tok="), col("total_tokens"), lit(" dg="), col("content_digest"),
                 lit(" new="), col("n_new")).as("message"))),
        Container, runId, DeltaShardsTag)
    }
    if (failAfterStage <= 2)
      throw new IllegalStateException("injected crash after delta stage 2")

    // ---- stage D3: citation, chained to the prior run's pin ---------
    val pinned = timedStage("pipe_curation_delta", "d3_seal") {
      sealChain(s, log, runId,
        extra = Seq(s"chain prior_run=$priorRunId prior_version=$priorPinned"))
    }

    log.readAt(Container, runId, pinned)
      .filter(col("level") === "SHARD")
      .select(
        regexp_extract(col("message"), "shard=(\\d+)", 1).cast("long").as("shard_id"),
        regexp_extract(col("message"), " n=(\\d+)", 1).cast("long").as("n_docs"),
        regexp_extract(col("message"), "tok=(\\d+)", 1).cast("long").as("total_tokens"),
        regexp_extract(col("message"), "dg=([0-9a-f]+)", 1).as("content_digest"),
        regexp_extract(col("message"), "new=(\\d+)", 1).cast("long").as("n_new"))
      .withColumn("pinned_version", lit(pinned))
      .orderBy(col("shard_id"))
  }

  /** TAKEDOWN run (right-to-be-forgotten) — the INVERSE of
    * [[deltaRun]]: remove a document set from a prior run's committed
    * corpus and emit only what changed, chained to the prior citation.
    * The removal set is `doc_id ≡ 0 mod `mod`` (deterministic, so the
    * declared oracle replays it; a deployment passes an explicit id
    * list the same way).
    *
    *   T1. TAKEDOWN_KEEP_DROP — one `dec=removed was=<prior>` row per
    *       removed document, PLUS correction rows for SURVIVORS whose
    *       decision flips on the shrunken corpus: a removed exact-dup
    *       keeper re-admits its copies (the new digest-group minimum
    *       becomes keep), a removed near-dup keeper re-elects its
    *       cluster, and the corpus-relative DF cap shifts both ways
    *       (removals un-hot shingles AND lower the cap), so flips go
    *       in both directions — the same non-locality argument as the
    *       delta run, which is why the decisions re-derive over the
    *       filtered corpus ([[Pipeline.curationDecisionsExcluding]])
    *       instead of patching pairs.
    *   T2. SHARD — the post-takedown receipt, derived purely from
    *       COMMITTED artifacts (prior pinned KEEP_DROP overridden by
    *       the committed T1 rows — a resume cannot fork). A removed
    *       doc's T1 row is `dec=removed`, so the override drops it
    *       from the keep set with no special casing.
    *   T3. CITE — the replay-proven citation, chained to the prior pin.
    *
    * takedown ∘ prior ≡ full-on-filtered: the receipt equals a full
    * run over the corpus minus the removed set (the declared oracle
    * proves it value-by-value; the keeper-re-election path is
    * spec-proven on a crafted corpus). A persisted index is derived
    * from its corpus and never edited after its build, so the index
    * side of a takedown is to drop the affected index tables: the next
    * `ensure` rebuilds each from the purged corpus. Resumable like
    * every run flavor here. */
  private[graft] def takedownRun(s: SparkSession, dir: String, root: String,
                               priorRunId: String, runId: String, mod: Long,
                               nShards: Int, failAfterStage: Int): DataFrame = {
    val log = new graft.storage.ManifestLog(s, root)
    def msgRows(level: String, messages: DataFrame): DataFrame =
      messages.select(lit(RunTs).cast("timestamp").as("timestamp"),
        lit(level).as("level"), col("message"))
    val priorPinned = committedPin(log, priorRunId).getOrElse(throw new IllegalStateException(
      s"prior run $priorRunId has no committed citation — complete it before the takedown"))
    // consumed three times (removals, corrections join, T2 keep set) —
    // materialize the doc-sized relation once instead of re-reading and
    // re-parsing the prior manifest per consumer
    val priorDec = log.readAt(Container, priorRunId, priorPinned)
      .filter(col("level") === "KEEP_DROP")
      .select(regexp_extract(col("message"), "doc=(\\d+)", 1).cast("long").as("doc_id"),
              regexp_extract(col("message"), "src=(\\w+)", 1).as("prior_src"),
              regexp_extract(col("message"), "dec=(\\w+)", 1).as("prior_dec"))
      .localCheckpoint()

    // ---- stage T1: removals + survivor corrections ------------------
    timedStage("pipe_takedown", "t1_gates_correct") {
      val after = Pipeline.curationDecisionsExcluding(s, dir, mod)
      val removedRows = priorDec.filter(col("doc_id") % mod === 0)
        .select(concat(lit("doc="), col("doc_id"), lit(" src="), col("prior_src"),
                       lit(" dec=removed was="), col("prior_dec")).as("message"))
      val corrections = after.join(priorDec, Seq("doc_id"))
        .filter(col("decision") =!= col("prior_dec"))
        .select(concat(lit("doc="), col("doc_id"), lit(" src="), col("source"),
                       lit(" dec="), col("decision"), lit(" was="), col("prior_dec"))
          .as("message"))
      log.appendIdempotent(msgRows("TAKEDOWN_KEEP_DROP", removedRows.unionByName(corrections)),
        Container, runId, TakedownKeepDropTag)
    }
    if (failAfterStage <= 1)
      throw new IllegalStateException("injected crash after takedown stage 1")

    // ---- stage T2: post-takedown receipt from COMMITTED artifacts ---
    val t1 = log.read(Container, runId)
      .filter(col("level") === "TAKEDOWN_KEEP_DROP")
      .select(regexp_extract(col("message"), "doc=(\\d+)", 1).cast("long").as("doc_id"),
              regexp_extract(col("message"), "dec=(\\w+)", 1).as("dec"))
      .localCheckpoint() // two consumers (override anti-join + keep slice)
    val keepIds = priorDec.filter(col("prior_dec") === "keep").select(col("doc_id"))
      .join(t1, Seq("doc_id"), "left_anti")
      .unionByName(t1.filter(col("dec") === "keep").select(col("doc_id")))
    val kept = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .join(keepIds, Seq("doc_id"))
    timedStage("pipe_takedown", "t2_receipt") {
      log.appendIdempotent(msgRows("SHARD",
        Pipeline.shardManifestOf(kept, nShards).select(
          concat(lit("shard="), col("shard_id"), lit(" n="), col("n_docs"),
                 lit(" tok="), col("total_tokens"), lit(" dg="), col("content_digest"))
            .as("message"))),
        Container, runId, TakedownShardsTag)
    }
    if (failAfterStage <= 2)
      throw new IllegalStateException("injected crash after takedown stage 2")

    // ---- stage T3: citation, chained to the prior run's pin ---------
    val pinned = timedStage("pipe_takedown", "t3_seal") {
      sealChain(s, log, runId,
        extra = Seq(s"chain prior_run=$priorRunId prior_version=$priorPinned removed_mod=$mod"))
    }

    log.readAt(Container, runId, pinned)
      .filter(col("level") === "SHARD")
      .select(
        regexp_extract(col("message"), "shard=(\\d+)", 1).cast("long").as("shard_id"),
        regexp_extract(col("message"), " n=(\\d+)", 1).cast("long").as("n_docs"),
        regexp_extract(col("message"), "tok=(\\d+)", 1).cast("long").as("total_tokens"),
        regexp_extract(col("message"), "dg=([0-9a-f]+)", 1).as("content_digest"))
      .withColumn("pinned_version", lit(pinned))
      .orderBy(col("shard_id"))
  }

  // ---- persistent PRIOR-RUN fixtures for the lifecycle queries ------
  //
  // Timing a temp store + a FULL prior curation run + the operator in
  // one row would conflate fixture churn with operator cost (~8 s
  // against an operator of ~half that). The prior-run store is a
  // DETERMINISTIC, REUSABLE fixture per (dir, flavor):
  //  - ensure semantics — built once (resumably, via run()'s
  //    idempotency tags) under the scratch dir, reused by every later
  //    invocation in any process; Bench prices it as an explicit
  //    `build:fixture_*` row, so the timed query pays the OPERATOR.
  //  - invocation-stable receipts — each operator call uses a FRESH
  //    runId; manifest versions are per (container, session), so the
  //    new chain pins at version 2 (the declared oracle's constant)
  //    no matter how many prior invocations' chains share the store,
  //    and neither operator mutates run1's chain or the corpus.
  //  - bench honesty — a fresh runId per call means a re-measure pays
  //    the full operator again, never a committed-chain replay.
  private val fixtureRunSeq = new java.util.concurrent.atomic.AtomicLong()
  private def freshOperatorRunId(): String =
    s"run2_p${ProcessHandle.current().pid()}_${fixtureRunSeq.incrementAndGet()}"

  /** Cheap corpus fingerprint folded into the fixture root: keyed on
    * the dir tag ALONE, a corpus regenerated at the
    * same path within one boot would reuse a stale run1 chain and the
    * lifecycle receipts would silently diverge from the oracle (which
    * replays the CURRENT corpus). (row count, max doc_id) is read
    * FRESH on every ensure — never memoized, that would recreate the
    * staleness — and changes whenever the generator re-emits the
    * table; a mismatch lands on a new root and rebuilds. (count, max
    * id) alone would miss the exact staleness class the
    * fingerprint targets — a corpus regenerated at the same path with
    * identical shape but different TEXT — so a content-sensitive term
    * (total text bytes) is folded in; still one cheap aggregate per
    * ensure, and any in-place text edit that preserves total length to
    * the byte is outside the generator's failure model. */
  private def corpusFingerprint(s: SparkSession, dir: String): String = {
    val r = Tables.documents(s, dir)
      .agg(count(lit(1)).as("n"), max(col("doc_id")).as("m"),
           sum(length(col("text"))).as("b")).head()
    s"${r.getLong(0)}x${r.getLong(1)}x${r.getLong(2)}"
  }

  private def fixtureRoot(s: SparkSession, dir: String, flavor: String): String =
    s"${graft.Scratch.localDir}/graft-fixture-$flavor-${IndexTables.dirTag(dir)}" +
      s"-${corpusFingerprint(s, dir)}"

  /** Ensure the takedown queries' prior-run store (full-corpus run1). */
  def ensureTakedownFixture(s: SparkSession, dir: String): String = {
    val root = fixtureRoot(s, dir, "takedown")
    if (!chainComplete(s, root, "run1")) run(s, dir, root, "run1")
    root
  }

  /** Ensure the delta queries' prior-run store (run1 over the
    * bottom-90%-of-ids base slice; thr is corpus-derived, so the
    * fixture is deterministic per dir). Returns (root, thr). */
  def ensureDeltaFixture(s: SparkSession, dir: String): (String, Long) = {
    val maxId = Tables.documents(s, dir)
      .agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0)
    val thr = 9L * maxId / 10L
    val root = fixtureRoot(s, dir, "delta")
    if (!chainComplete(s, root, "run1"))
      run(s, dir, root, "run1", 8, Int.MaxValue, maxDocId = thr)
    (root, thr)
  }

  private def collected(s: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = df.collect().toSeq
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava), df.schema)
  }

  /** The declared-query wrapper (`pipe_takedown`): the takedown of
    * `doc_id ≡ 0 mod 13` against the fixture's prior chain — the
    * post-takedown receipt must equal a full run over the corpus minus
    * the removed set (the oracle computes that receipt from the
    * filtered corpus directly). Self-contained: first call on a dir
    * builds the prior-run fixture; the nShards-sized receipt is
    * collected so nothing served holds the store. */
  def takedownSelfContained(s: SparkSession, dir: String): DataFrame = {
    val root = timedStage("pipe_takedown", "fixture_ensure") {
      ensureTakedownFixture(s, dir)
    }
    val receipt =
      takedownRun(s, dir, root, "run1", freshOperatorRunId(), 13L, 8, Int.MaxValue)
    timedStage("pipe_takedown", "receipt_collect")(collected(s, receipt))
  }

  /** The declared-query wrapper (`pipe_curation_delta`): the delta
    * admission of the top id-decile against the fixture's base-slice
    * prior chain — the combined receipt must equal a full run's (the
    * oracle computes the full run's receipt from the corpus
    * directly). Self-contained like the takedown wrapper. */
  def deltaRunSelfContained(s: SparkSession, dir: String): DataFrame = {
    val (root, thr) = timedStage("pipe_curation_delta", "fixture_ensure") {
      ensureDeltaFixture(s, dir)
    }
    val receipt =
      deltaRun(s, dir, root, "run1", freshOperatorRunId(), thr, 8, Int.MaxValue)
    timedStage("pipe_curation_delta", "receipt_collect")(collected(s, receipt))
  }

  /** The declared-query wrapper (`pipe_curation_run`): a one-shot run
    * against a throwaway store, its nShards-sized receipt collected so
    * the temp root can be cleaned before the DataFrame is served
    * ([[LogQueries.logSnapshotRead]]'s pattern). */
  def runSelfContained(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.Scratch.localDir), "graft-curation").toString
    try {
      val df = run(s, dir, root, "run1")
      val rows = df.collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava), df.schema)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
