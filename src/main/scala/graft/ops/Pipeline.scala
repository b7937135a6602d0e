package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline composition over `documents` — the stages a
  * 100 TB curation job chains: language filter → quality gate → exact
  * dedup (keep the minimum doc_id per identical text) → deterministic
  * stratified sampling. Every stage is a declarative DataFrame
  * transform, so Catalyst fuses the whole pipeline into a handful of
  * shuffles, and every decision is a pure function of the row (hash
  * sampling, not rand()) so reruns are reproducible and the oracle can
  * replay them exactly.
  */
object Pipeline {

  import Tables.trunc6

  /** Deterministic per-doc sampling bucket in [0, 100): first 16 bits of
    * md5(doc_id) mod 100. Hash-derived, not rand(): the same doc lands
    * in the same bucket on every run, every engine, every partitioning —
    * the property that makes sampled pipelines debuggable and resumable
    * at scale. */
  private def sampleBucket: org.apache.spark.sql.Column =
    expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 100")

  /** Stratified sample: per-source rates (oversample the small/curated
    * stratum, downsample the crawl-style bulk — here src0 at 50%, the
    * rest at 10%). One scan, no shuffle: the predicate is a pure
    * projection, so at 100 TB this is scan-rate sampling with exact
    * per-stratum control. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket", sampleBucket)
      .filter(col("bucket") <
        when(col("source") === "src0", lit(50L)).otherwise(lit(10L)))
      .select(col("doc_id"), col("source"), col("bucket"))
      .orderBy(col("doc_id"))

  /** The documents relation annotated with every curation-gate signal —
    * shared derivation for [[trainingSet]] (the output manifest) and
    * [[funnel]] (the observability report), so the two can never drift. */
  private def gated(s: SparkSession, dir: String): DataFrame = {
    // dedup keeper window partitions on the md5 DIGEST, not the document:
    // the window shuffle then keys on 32 bytes (see Dedup.exactKeepers)
    val w = Window.partitionBy(md5(col("text")))
    // signal columns come from the ONE shared derivation
    // (TextAnalysis.textSignals) so the gates can never drift from the
    // quality/langid reports they explain
    TextAnalysis.textSignals(
        Tables.documents(s, dir).withColumn("wds", split(col("text"), " ")), "wds")
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .withColumn("bucket", sampleBucket)
      .withColumn("pass_lang", col("en_ratio") >= 0.05)
      .withColumn("pass_quality", col("quality_score") >= 0.6)
      .withColumn("pass_dedup", col("doc_id") === col("keep_id"))
      .withColumn("pass_sample", col("bucket") < 50)
  }

  /** The composed curation pipeline, one DataFrame plan:
    *
    *  1. language gate: n-gram heuristic says English
    *     ([[TextAnalysis.langId]] semantics inline);
    *  2. quality gate: composite score ≥ 0.6
    *     ([[TextAnalysis.quality]] semantics inline);
    *  3. exact dedup: keep only the minimum doc_id of each identical
    *     text (one window over the text hash — at scale, group on
    *     md5(text) so the shuffle key is 32 bytes, not the document);
    *  4. deterministic 50% sample of the survivors.
    *
    * Output is the final training-set manifest (doc_id, source,
    * n_tokens, quality_score). The gates are ANDed predicates over ONE
    * scan's derived columns + one window — Catalyst runs this as
    * scan → project → window → filter, no join chain. */
  def trainingSet(s: SparkSession, dir: String): DataFrame =
    gated(s, dir)
      .filter(col("pass_lang") && col("pass_quality") &&
              col("pass_dedup") && col("pass_sample"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** Balanced source mixing — the canonical data-mixing op: pick a
    * per-source target budget (half the smallest source, so sampling
    * bites even on an already-balanced corpus) and derive each source's
    * sampling rate as rate_s = ⌊100·target/count_s⌋ percent — INTEGER
    * arithmetic throughout, so both engines derive identical rates —
    * then keep docs whose md5 bucket clears their source's rate.
    * Two-pass shape at any scale: a tiny per-source count aggregate
    * (map-side combined, rows = #sources), joined back broadcast-style
    * onto one scan. The sampled manifest is deterministic: reruns and
    * retries pick the same docs. */
  def balancedMixture(s: SparkSession, dir: String): DataFrame =
    balancedMixtureOver(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), lit(1L).as("n_tokens")))

  /** [[balancedMixture]] denominated in TRAINED-TOKENIZER tokens:
    * "balanced" for a trainer means
    * balanced TOKEN mass, not document counts — a source of long
    * documents is over-represented per document. Target budget = half
    * the smallest source's BPE token mass; each source's keep rate is
    * the same integer-percent derivation. Shared body + the ONE
    * [[bpeTokenRelation]] denominator, so this twin can never disagree
    * with the packing family about what a token is. */
  def balancedMixtureBpe(s: SparkSession, dir: String, nMerges: Int = 10): DataFrame =
    balancedMixtureOver(bpeTokenRelation(s, dir, nMerges))

  /** THE balanced-mixture body over an explicit (doc_id, source,
    * n_tokens) mass relation — mass 1 per doc reproduces the original
    * document-count balancing; BPE counts give token-mass balancing. */
  private def balancedMixtureOver(rel: DataFrame): DataFrame = {
    val counts = rel.groupBy(col("source")).agg(sum(col("n_tokens")).as("cnt"))
    val minCnt = counts.agg(min(col("cnt")).as("min_cnt"))
    val rates = counts.crossJoin(broadcast(minCnt))
      .withColumn("rate", expr("CAST(100 * (min_cnt div 2) div cnt AS BIGINT)"))
      .select(col("source"), col("rate"))
    rel
      .withColumn("bucket", sampleBucket)
      .join(broadcast(rates), Seq("source"))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("source"), col("bucket"), col("rate"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-flattened source mixing (α = 0.5) — the standard
    * multilingual/multi-source rebalancing: sampling each source at
    * rate ∝ mass^(α−1) flattens the natural distribution toward
    * p_s ∝ mass_s^α, keeping heavy sources from drowning the tail
    * without fully equalizing ([[balancedMixture]] is the α→0 limit).
    * Mass is TOKENS, not documents — mixing budgets are token budgets.
    * rate_s = ⌊100·√(min_mass/mass_s)⌋: one IEEE sqrt per SOURCE (a
    * handful of rows — exactly reproducible on any engine, and the only
    * non-integer step), then the same deterministic md5-bucket keep
    * decision every sampler here uses. Two-pass shape at any scale:
    * tiny per-source aggregate joined back broadcast onto one scan. */
  def temperatureMixture(s: SparkSession, dir: String): DataFrame =
    temperatureMixtureOver(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))

  /** [[temperatureMixture]] with mass denominated in TRAINED-TOKENIZER
    * tokens — temperature flattening rebalances the token budget a
    * trainer consumes, so the mass it flattens must be counted in the
    * tokens the trainer counts ([[tokenShardsBpe]]'s rationale). Shared
    * body, shared [[bpeTokenRelation]] denominator. */
  def temperatureMixtureBpe(s: SparkSession, dir: String, nMerges: Int = 10): DataFrame =
    temperatureMixtureOver(bpeTokenRelation(s, dir, nMerges))

  /** THE temperature-mixture body over an explicit (doc_id, source,
    * n_tokens) mass relation — one definition for both denominators. */
  private def temperatureMixtureOver(rel: DataFrame): DataFrame = {
    val counts = rel.groupBy(col("source")).agg(sum(col("n_tokens")).as("mass"))
    val minMass = counts.agg(min(col("mass")).as("min_mass"))
    val rates = counts.crossJoin(broadcast(minMass))
      .withColumn("rate",
        floor(lit(100.0) * sqrt(col("min_mass").cast("double") / col("mass"))).cast("long"))
      .select(col("source"), col("rate"))
    rel
      .withColumn("bucket", sampleBucket)
      .join(broadcast(rates), Seq("source"))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("source"), col("bucket"), col("rate"))
      .orderBy(col("doc_id"))
  }

  /** Sequence-packing shard manifest — the step between a curated corpus
    * and a training run: walk each source's documents in doc_id order,
    * accumulate token counts, and cut a new shard every `budget` tokens
    * (a doc belongs to the shard its cumulative count STARTS in, so
    * shards overflow by at most one document — the standard greedy
    * packing). Emitted per (source, shard): doc/token counts and the
    * doc_id range, i.e. the manifest a trainer reads to fetch shard k.
    *
    * Scale shape: the running sum is a window partitioned BY SOURCE —
    * never a global cumsum (a single global ordering would serialize the
    * whole corpus through one partition); sources pack independently and
    * in parallel, and within a source the window is one sort of that
    * partition. Deterministic: doc_id order, integer arithmetic. */
  def tokenShards(s: SparkSession, dir: String, budget: Long = 512): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("shard_id", expr(s"(cum - n_tokens) div $budget"))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("shard_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("shard_id"))
  }

  /** [[tokenShards]] denominated in TRAINED-TOKENIZER tokens: the
    * packing/budget family counted whitespace tokens
    * while the engine's own BPE trainer owns real subword counts — a
    * trainer provisions shards in the tokens it will actually consume,
    * so the budget denominators must agree. Per-document counts come
    * from [[TextAnalysis.bpeEncode]]'s committed join+aggregate (ONE
    * definition — this op selects its `n_symbols`, never re-derives
    * the encode), and the shard math is byte-identical to
    * [[tokenShards]] above it. Documents whose every token is empty
    * encode to 0 tokens but still occupy their shard slot (left join +
    * coalesce), exactly as the whitespace twin counts them. The
    * whitespace twin stays declared for continuity; this is the twin a
    * deployment budgets with. Scale shape unchanged: the encode rides
    * the type-relation join, the cumsum is per-source windowed. */
  def tokenShardsBpe(s: SparkSession, dir: String, budget: Long = 512,
                     nMerges: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    bpeTokenRelation(s, dir, nMerges)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("shard_id", expr(s"(cum - n_tokens) div $budget"))
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("shard_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("shard_id"))
  }

  /** The ONE BPE denominator of the packing/budget family: (doc_id,
    * source, n_tokens) with n_tokens = [[TextAnalysis.bpeEncode]]'s
    * per-doc symbol count under the trained vocabulary, 0 for docs
    * that encode to nothing (left join + coalesce — they keep their
    * slots, exactly as the whitespace twins count them). Every
    * `*_bpe` twin derives from this relation, so the family can never
    * disagree on what a token is. */
  private def bpeTokenRelation(s: SparkSession, dir: String, nMerges: Int): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(TextAnalysis.bpeEncode(s, dir, nMerges)
        .select(col("doc_id"), col("n_symbols").as("n_tokens")), Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))

  /** Sequence-PACKING plan: the cost forecast for turning the curated
    * corpus into fixed-`budget`-token training sequences, per source,
    * under the two standard policies —
    *
    *  - CONCAT-AND-CHOP (GPT-style): documents concatenate in
    *    deterministic order and split at every budget boundary. Zero
    *    padding except the final sequence; the price is
    *    `chop_split_docs` documents whose text straddles a boundary
    *    (they lose cross-boundary attention).
    *  - PAD-PER-DOC: every document gets its own sequence, padded to
    *    the budget and truncated above it. No document is ever split;
    *    the price is `pad_waste` dead tokens and `pad_truncated`
    *    clipped ones.
    *
    * `chop_efficiency`/`pad_efficiency` (real tokens per sequence slot)
    * is the number a pipeline actually decides on — chop near 1.0 vs
    * pad often below 0.2 at web-document length distributions. Same
    * shape as [[tokenShards]]: one per-source cumulative-sum window
    * (each source scans sequentially within its partition; at 100 TB
    * sub-shard the window key like [[shuffleShards]] does) and one
    * bounded per-source rollup. */
  def packingPlan(s: SparkSession, dir: String, budget: Long = 512): DataFrame =
    packingPlanOver(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      budget)

  /** [[packingPlan]] denominated in TRAINED-TOKENIZER tokens — the
    * packing decision a trainer actually makes is over the tokens its
    * tokenizer produces, not whitespace ([[tokenShardsBpe]]'s
    * rationale, applied to the sequence-packing forecast). One shared
    * body with the whitespace twin ([[packingPlanOver]]), one shared
    * denominator with every `*_bpe` op ([[bpeTokenRelation]]). */
  def packingPlanBpe(s: SparkSession, dir: String, budget: Long = 512,
                     nMerges: Int = 10): DataFrame =
    packingPlanOver(bpeTokenRelation(s, dir, nMerges), budget)

  /** THE packing-plan body over an explicit (doc_id, source, n_tokens)
    * relation — one definition for the whitespace and BPE twins. The
    * `n_tokens > 0` guard on chop_split_docs: a zero-token doc cannot
    * straddle a boundary (and without the guard, `cum - 1` at cum = 0
    * goes negative, where Spark's `div` truncates toward zero while
    * DuckDB's `//` floors — the sign-split oracle lesson). Whitespace
    * token counts are always ≥ 1, so the guard is a no-op there. */
  private def packingPlanOver(rel: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    rel
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           // integer DIV, not `/`: Column./ is double division, and a
           // floor-through-double would lose exactness past 2^52 tokens
           expr(s"CAST((max(cum) + $budget - 1) DIV $budget AS BIGINT)").as("chop_seqs"),
           sum(when(col("n_tokens") > 0 &&
                    expr(s"(cum - n_tokens) div $budget") =!=
                    expr(s"(cum - 1) div $budget"), 1L).otherwise(0L))
             .as("chop_split_docs"),
           sum(when(col("n_tokens") > budget, col("n_tokens") - budget)
             .otherwise(0L)).as("pad_truncated"),
           sum(lit(budget) - least(col("n_tokens"), lit(budget))).as("pad_waste"))
      .withColumn("chop_efficiency",
        trunc6(col("total_tokens").cast("double") / (col("chop_seqs") * budget)))
      .withColumn("pad_efficiency", trunc6(
        (col("total_tokens") - col("pad_truncated")).cast("double") /
          (col("n_docs") * budget)))
      .orderBy(col("source"))
  }

  /** Benchmark decontamination — the eval-integrity step every serious
    * training pipeline runs: a document is CONTAMINATED if it shares any
    * informative 3-gram shingle with the benchmark set (here the
    * stand-in is doc_id < 10; in production, the eval suites), and the
    * report counts contaminated vs clean docs per source. Uses the same
    * DF-capped shingle relation as n-gram dedup, so stop-shingles can't
    * flag everything. Scale shape: the benchmark shingle set is tiny by
    * construction (eval suites are small) → BROADCAST semi-join against
    * the corpus shingles, then the contaminated-id set (≤ corpus, often
    * tiny) broadcasts back onto one scan — no shuffle touches the corpus
    * beyond the shingle derivation it already shares with dedup. */
  def decontaminate(s: SparkSession, dir: String, benchBelow: Long = 10): DataFrame = {
    val sh = Dedup.cappedShingles(s, dir)
    val benchShingles = sh.filter(col("doc_id") < benchBelow).select(col("s")).distinct()
    val contaminated = sh.filter(col("doc_id") >= benchBelow)
      .join(broadcast(benchShingles), Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1L))
    // contaminated is corpus-proportional at scale — no broadcast hint
    // (AQE broadcasts at test scale, hash-joins at 100 TB)
    Tables.documents(s, dir)
      .filter(col("doc_id") >= benchBelow)
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"),
           (count(lit(1)) - sum(coalesce(col("hit"), lit(0L)))).as("n_clean"))
      .orderBy(col("source"))
  }

  /** [[decontaminate]]'s SCALE PATH: membership in the benchmark shingle
    * set tested through a BLOOM SKETCH instead of the exact
    * distinct+semi-join. At 100 TB the eval set's distinct shingle
    * relation can itself be too large to broadcast comfortably; the
    * sketch compresses it to a fixed-size bitset (here 800 kbit) that
    * ships as ONE constant — constant memory per executor, zero extra
    * shuffles, and the probe is a codegen'd bit test per shingle.
    * Contract: might_contain has NO FALSE NEGATIVES, so bloom-flagged ⊇
    * exact-flagged always (proven per-source in `PipelineSpec`); false
    * positives only ever over-flag, the safe direction for
    * decontamination (or the cheap prefilter before an exact verify
    * pass). Uses Spark's own BloomFilterAggregate/MightContain pair
    * (registered by name in [[graft.functions.BloomSketch]]) — the same
    * sketch the engine injects for runtime join filters.
    *
    * The sketch's BIT PATTERN is engine-specific (DuckDB cannot replay
    * it), so the query emits the sketch's CONTRACT in oracle-checkable
    * form: per source, the EXACT contamination count plus
    * `n_missed_by_bloom` — how many exactly-contaminated docs the bloom
    * probe failed to flag. No-false-negatives says that count is 0 for
    * every source, which is precisely what the oracle asserts (it
    * replays the exact semi-join and emits a constant 0) — the
    * hash-match gate now verifies the sketch contract instead of
    * skipping the query (the round-≤6 form emitted the raw flagged
    * count and was driver-declared `no_oracle`). PipelineSpec keeps the
    * standalone superset proof including the false-positive direction. */
  def bloomDecontaminate(s: SparkSession, dir: String, benchBelow: Long = 10): DataFrame = {
    graft.functions.BloomSketch.register(s)
    val sh = Dedup.cappedShingles(s, dir)
    val sketch = sh.filter(col("doc_id") < benchBelow)
      .select(expr("xxhash64(s)").as("h"))
      .agg(expr("graft_bloom_agg(h, 100000L, 800000L)").as("bf"))
      .head.getAs[Array[Byte]](0)
    val benchShingles = sh.filter(col("doc_id") < benchBelow).select(col("s")).distinct()
    val corpusSh = sh.filter(col("doc_id") >= benchBelow)
    // per-doc: did the bloom probe flag it / does the exact semi-join?
    val flags = corpusSh
      .withColumn("bloom_hit",
        call_function("graft_bloom_contains", lit(sketch), expr("xxhash64(s)"))
          .cast("long"))
      .join(broadcast(benchShingles.withColumn("exact_s", lit(1L))), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("bloom_hit")).as("bloom_hit"),
           max(coalesce(col("exact_s"), lit(0L))).as("exact_hit"))
    // flags is per-doc (corpus-sized at 100 TB) — a plain equi-join on
    // doc_id; AQE broadcasts it at test scale, hash-partitions at 100 TB
    Tables.documents(s, dir)
      .filter(col("doc_id") >= benchBelow)
      .join(flags, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(coalesce(col("exact_hit"), lit(0L))).as("n_contaminated"),
           sum(when(coalesce(col("exact_hit"), lit(0L)) === 1L &&
                    coalesce(col("bloom_hit"), lit(0L)) === 0L, 1L)
               .otherwise(0L)).as("n_missed_by_bloom"))
      .orderBy(col("source"))
  }

  /** NEAR-DUP decontamination — [[decontaminate]]'s precision
    * counterpart. The exact gate flags a document for sharing ANY
    * informative shingle with the eval set (maximum recall — and at
    * 100 TB it over-flags every document quoting one common benchmark
    * phrase); this one flags a document only when it essentially IS a
    * benchmark document — verbatim, truncated, or lightly edited —
    * i.e. shingle-set Jaccard ≥ `tau` against some eval doc, the
    * near-duplicate contamination definition dedup-style
    * decontamination pipelines use. Same machinery as near-dup
    * detection: MinHash band keys on BOTH sides, candidate
    * (corpus, bench) pairs from a band equi-join — never bench ×
    * corpus — then the exact Jaccard verify over the full shingle
    * sets decides. Output shape mirrors [[decontaminate]] so the two
    * reports diff directly: exact-flagged ⊇ fuzzy-flagged, and the
    * per-source delta is exactly the shares-a-phrase-but-isn't-the-
    * benchmark mass a removal pass should NOT delete.
    *
    * Scale shape: the bench side is eval-set-sized (thousands of docs)
    * → its band relation broadcasts; the corpus side streams once
    * through signature + band projection (the same memoized shingle
    * relation every dedup query reads), and the verify join touches
    * only candidate pairs, which track real near-dup density. */
  def fuzzyDecontaminate(s: SparkSession, dir: String, benchBelow: Long = 10,
                         tau: Double = 0.5): DataFrame = {
    val sh = Dedup.shingles(s, dir)
    val bands = Dedup.minhashBands(sh)
    val bench = bands.filter(col("doc_id") < benchBelow)
      .select(col("bi"), col("bk"), col("doc_id").as("bench_doc"))
    val cand = bands.filter(col("doc_id") >= benchBelow)
      .join(broadcast(bench), Seq("bi", "bk"))
      .select(col("doc_id").as("corp_doc"), col("bench_doc")).distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = sh.as("x").join(cand, col("corp_doc") === col("x.doc_id"))
      .join(sh.as("y"), col("bench_doc") === col("y.doc_id") && col("x.s") === col("y.s"))
      .groupBy(col("corp_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("c"))
    val hits = common
      .join(sizes.as("sx"), col("corp_doc") === col("sx.doc_id"))
      .join(sizes.as("sy"), col("bench_doc") === col("sy.doc_id"))
      .withColumn("jaccard",
        trunc6(col("c").cast("double") / (col("sx.n") + col("sy.n") - col("c"))))
      .filter(col("jaccard") >= tau)
      .select(col("corp_doc")).distinct()
      .withColumnRenamed("corp_doc", "doc_id")
      .withColumn("hit", lit(1L))
    // hits is contamination-sized — corpus-proportional at 100 TB, so
    // NO broadcast hint: AQE broadcasts at test scale and degrades to a
    // hash join at real scale (the same rule minhashLsh documents)
    Tables.documents(s, dir)
      .filter(col("doc_id") >= benchBelow)
      .join(hits, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"),
           (count(lit(1)) - sum(coalesce(col("hit"), lit(0L)))).as("n_clean"))
      .orderBy(col("source"))
  }

  /** Curation funnel report: per-source document counts surviving each
    * successive gate — the observability view a 100 TB curation run
    * ships with its output manifest (how much did each stage drop, per
    * stratum?). Same gate derivation as [[trainingSet]], aggregated with
    * map-side-combined conditional integer sums: one report scan, no
    * extra pipeline run. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    gated(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           cnt(col("pass_lang")).as("n_lang"),
           cnt(col("pass_lang") && col("pass_quality")).as("n_quality"),
           cnt(col("pass_lang") && col("pass_quality") && col("pass_dedup")).as("n_dedup"),
           cnt(col("pass_lang") && col("pass_quality") && col("pass_dedup") &&
               col("pass_sample")).as("n_sampled"))
      .orderBy(col("source"))
  }

  /** Soft-dedup training weights: every document in a near-dup cluster
    * (identical SimHash) gets weight 1/cluster_size, so each cluster
    * contributes ONE document's worth of gradient signal without hard
    * deletion — the reweighting alternative to keep-one dedup used when
    * near-dups carry complementary context. Sum of weights = number of
    * clusters, by construction. One aggregate keyed on the hash + one
    * hash join back; at corpus scale the signature would be 64/128-bit
    * (same plan, wider key) and the size relation stays one row per
    * cluster — never broadcast-unsafe. */
  def dupWeights(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.simhashRaw(s, dir)
    val sizes = sh.groupBy(col("simhash")).agg(count(lit(1)).as("cluster_size"))
    sh.join(sizes, Seq("simhash"))
      .select(col("doc_id"), col("cluster_size"),
        Tables.trunc6(expr("CAST(1 AS DOUBLE)") / col("cluster_size")).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic global shuffle + sharding: every epoch-0 training
    * order is "shuffle the corpus, cut into shards" — here the shuffle
    * key is md5(doc_id) (hash-derived, so the order is reproducible
    * across runs/engines/partitionings — rand() would make the training
    * order unauditable), the shard is the hash's top bits, and the
    * within-shard position is a row_number ordered by the hash. The
    * window partitions BY SHARD, so its sort is bounded by shard size:
    * at 100 TB you raise nShards to keep shards at the target file size
    * and the per-partition sort stays constant — a single global
    * ORDER BY would be the non-scalable version of this op. */
  def shuffleShards(s: SparkSession, dir: String, nShards: Int = 8): DataFrame =
    shuffleShardsOf(Tables.documents(s, dir), nShards)

  /** [[shuffleShards]] over an explicit (doc_id, ...) relation — the
    * seam [[CurationRun]] shards its KEEP set through. */
  private[ops] def shuffleShardsOf(docs: DataFrame, nShards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .withColumn("shard_id",
        expr("CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT)") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard_id"), col("pos"))
      .orderBy(col("shard_id"), col("pos"))
  }

  /** Export-integrity SHARD MANIFEST — the checksum artifact a
    * training-data export ships next to its shard files, so a consumer
    * can verify every shard end-to-end without re-reading the corpus
    * owner's pipeline: per shard ([[shuffleShards]]'s deterministic
    * md5-order assignment), the document count, token mass, and a
    * CONTENT digest = md5 over the shard's per-document text digests
    * concatenated in shard order. Order-canonical by construction
    * (the within-shard order IS the export order), so two independent
    * runs of the pipeline produce byte-identical manifests iff the
    * shards are byte-identical — the reproducibility receipt. The
    * digest list per shard is shard-sized (corpus/nShards), the same
    * bound the export files themselves obey; nothing corpus-sized is
    * ever collected. */
  def shardManifest(s: SparkSession, dir: String, nShards: Int = 8): DataFrame =
    shardManifestOf(Tables.documents(s, dir), nShards)

  /** [[shardManifest]] over an explicit (doc_id, text) relation — the
    * export receipt [[CurationRun]] ships for its KEEP set. */
  private[ops] def shardManifestOf(docs: DataFrame, nShards: Int): DataFrame =
    shardManifestBuilt(docs, nShards, withNew = false)

  /** [[shardManifestOf]] plus a per-shard count of NEW documents —
    * `docs` carries an `is_new` flag (batch-origin rows) so a delta
    * run's receipt shows where the admitted batch landed. Same shard
    * assignment, digest fold and ordering as the plain recipe BY
    * CONSTRUCTION (one shared builder):
    * a delta receipt and a full receipt over the same keep set are
    * identical in the shared columns. */
  private[ops] def shardManifestWithNew(docs: DataFrame, nShards: Int): DataFrame =
    shardManifestBuilt(docs, nShards, withNew = true)

  private def shardManifestBuilt(docs: DataFrame, nShards: Int,
                                 withNew: Boolean): DataFrame = {
    // One projection carries BOTH the shard-assignment columns
    // ([[shuffleShardsOf]]'s md5(doc_id) hash → shard/pos — same
    // expressions, kept in lockstep) and the payload columns: the two
    // were previously derived separately from `docs` and equi-joined
    // back on doc_id, which re-ran the caller's keep-set derivation
    // (a manifest-read join in every CurationRun receipt) twice and
    // paid a join exchange for a 1:1 recombination.
    val payload =
      if (withNew) docs.select(col("doc_id"), col("is_new"), md5(col("text")).as("dg"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      else docs.select(col("doc_id"), md5(col("text")).as("dg"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard_id")).orderBy(col("h"), col("doc_id"))
    val aggs = Seq(
      sum(col("n_tokens")).as("total_tokens"),
      // collect_list has no deterministic order under shuffles —
      // sort the (pos, digest) pairs explicitly before folding
      md5(expr(
        "array_join(transform(array_sort(collect_list(struct(pos, dg))), x -> x.dg), '')"))
        .as("content_digest")) ++
      (if (withNew) Seq(sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new")) else Seq.empty)
    payload
      .withColumn("shard_id",
        expr("CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT)") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
      .orderBy(col("shard_id"))
  }

  /** PHYSICAL shard export + verification — the
    * loop [[shardManifest]]'s receipt exists FOR, closed: write one
    * parquet file per shard_id under `outDir`, RE-READ the written
    * bytes, re-derive every shard's digest from them, and REQUIRE
    * equality with the in-plan receipt before returning the verified
    * manifest (the CurationRun replay-proof pattern, applied to bytes
    * on disk — an export this engine hands over is one it has already
    * proven readable and intact).
    *
    * Write path: ONE Spark job writes every MISSING shard into a
    * staging dir partitioned by shard_id (hash repartition on the
    * shard key → exactly one file per shard), then each file publishes
    * with an atomic rename to its final
    * `shard-<k>-of-<nShards>-<digest8>.parquet` name. Layout AND
    * content epoch live in the name, so exports under different shard
    * counts never collide, and a re-export after a keep-set change at
    * the SAME shard count writes fresh names instead of trusting (and
    * then failing verification against) stale same-name files —
    * re-export converges for every kind of change.
    * RESUMABLE by construction: a crash mid-export leaves completed
    * shards in place and the staging dir as an orphan; a re-run skips
    * the completed names (files are immutable once published — the
    * same publish discipline as the log stores) and writes only what
    * is missing, so the export converges with no duplicated work. The
    * verify pass re-reads whatever is on disk, so a shard corrupted or
    * truncated BETWEEN export and verify fails loudly too.
    *
    * Scale shape: the export is one partitionBy write (the shuffle is
    * the shard assignment the receipt already paid), the verify is one
    * scan of the written files with a per-shard fold — both bounded by
    * shard count × shard size, nothing corpus-sized on the driver
    * beyond the nShards-row manifest. */
  def exportShards(s: SparkSession, dir: String, outDir: String,
                   nShards: Int = 8): DataFrame =
    exportShardsOf(s, Tables.documents(s, dir).select(col("doc_id"), col("text")),
      outDir, nShards)

  /** [[exportShards]] over an explicit (doc_id, text) relation — the
    * seam a curation run exports its KEEP set through. One writer per
    * export dir at a time (the run orchestration's contract, like
    * compaction's lease); `staleGrace` is the reader retention window
    * the stale-layout sweep honors — zero (the throwaway/test default)
    * retires a superseded layout as soon as the new one verifies, a
    * deployment passes its longest consumer read (the same
    * snapshot-expiry grace contract as [[graft.storage.ManifestLog
    * .expire]]). */
  private[graft] def exportShardsOf(s: SparkSession, docs: DataFrame,
                                    outDir: String, nShards: Int,
                                    staleGrace: java.time.Duration =
                                      java.time.Duration.ZERO): DataFrame = {
    import org.apache.hadoop.fs.Path
    val out = new Path(outDir)
    val fs = out.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(out)
    // crashed manifest publishes leave .tmp-* orphans nothing
    // references (the rename either happened or it didn't); single
    // writer per dir, so anything present at entry is garbage
    fs.listStatus(out).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith(".tmp-"))
        fs.delete(st.getPath, false)
    }
    // the receipt this export must reproduce, from the SAME relation
    val manifest = shardManifestOf(docs, nShards)
    val receipt = manifest
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // layout AND content epoch are part of the NAME: nShards
    // (with layout-agnostic names, an nShards=4 re-export over an
    // nShards=8 dir would trust the existing shard-0..3 files and the
    // verify would fail on content that was never this layout's) plus
    // a prefix of the shard's receipt digest (with content-agnostic
    // names, a re-export after ANY keep-set change at the SAME nShards could never converge —
    // every file "existed", nothing was rewritten, and the verify
    // failed forever on the stale bytes). Content-addressed names make
    // re-export idempotent by construction: unchanged shards keep
    // their file, changed shards get a fresh name and the superseded
    // file ages out through the stale sweep's grace — published shard
    // files stay immutable, and a reader holding the old manifest
    // keeps a consistent view of the old content.
    def shardFile(k: Long) =
      new Path(out, f"shard-$k%05d-of-$nShards%d-${receipt(k)._3.take(8)}%s.parquet")
    // STALE-SHARD SWEEP: a prior export of the same
    // dir under a different layout (or a shrunken keep set) left shard
    // files the current receipt never names — the verify pass only
    // reads receipt-named files, so without the sweep a consumer
    // globbing shard-*.parquet would train on stale content the
    // "verified" return value said nothing about. The export owns its
    // output names; after a COMPLETED export the dir equals exactly
    // the receipt. Layout-distinct names never collide, so the sweep
    // can run AFTER the new export verifies (an eager sweep would
    // destroy the previous complete export when a
    // re-export fails mid-write — availability first; the purge path
    // for must-delete-now content is rewriteExcluding, not re-export).
    // Retention bookkeeping, captured at entry BEFORE this export's
    // own flip: the PRIOR manifest's publish mtime and its file list.
    // A stale file splits into two cases, each with its own grace
    // anchor:
    //  - named by the PRIOR manifest: it is being retired by THIS
    //    flip, and a reader can have fetched that manifest any moment
    //    up to the flip — deletable only `staleGrace` AFTER NOW, i.e.
    //    never in this call unless the grace is zero;
    //  - not named even by the prior manifest: some EARLIER flip
    //    retired it, no later than the prior manifest's publish —
    //    deletable once `now ≥ priorFlip + grace` (conservative: the
    //    prior flip is an upper bound on its retirement time). This is
    //    ManifestLog.expire's successor-mtime rule, re-anchored.
    val manifestPath = new Path(out, "_export_manifest.json")
    val (priorFlipMs, priorFiles) =
      try {
        val mtime = fs.getFileStatus(manifestPath).getModificationTime
        val in = fs.open(manifestPath)
        val body = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val names = (0 until node.size()).map(i => node.get(i).get("file").asText()).toSet
        (mtime, names)
      } catch { case _: java.io.FileNotFoundException => (Long.MinValue, Set.empty[String]) }
    def sweepStale(): Unit = {
      val now = System.currentTimeMillis()
      val graceMs = staleGrace.toMillis
      val valid = receipt.keys.map(k => shardFile(k).getName).toSet
      fs.listStatus(out).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith("shard-") && n.endsWith(".parquet") &&
            !valid.contains(n)) {
          val deletable =
            if (graceMs <= 0L) true // test/throwaway default: converge now
            else if (priorFiles.contains(n)) false // retired by THIS flip: grace starts now
            else priorFlipMs == Long.MinValue || now >= priorFlipMs + graceMs
          if (deletable) fs.delete(st.getPath, false)
        }
      }
    }
    // ATOMIC export manifest — the consumer contract: between a failed re-export and its converging re-run the
    // dir can transiently hold the old complete layout PLUS partial
    // new-layout files, so a consumer must never glob
    // shard-*.parquet; it reads `_export_manifest.json`, which is
    // written via temp+rename as the LAST step of a verified export
    // and names exactly the verified file set with its digests. A
    // failed re-export leaves it pointing at the old, still-intact
    // export — fully consistent either way.
    def publishManifest(): Unit = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = mapper.createArrayNode()
      receipt.toSeq.sortBy(_._1).foreach { case (k, (n, tok, dg)) =>
        val o = arr.addObject()
        o.put("file", shardFile(k).getName)
        o.put("shard_id", k); o.put("n_docs", n)
        o.put("total_tokens", tok); o.put("content_digest", dg)
      }
      // single-step OVERWRITE publish where the filesystem offers one
      // (delete-then-rename leaves a no-manifest window, and a crash
      // there strands the dir manifest-less), delete+rename fallback
      // on schemes without an AbstractFileSystem binding — the shared
      // storage recipe
      graft.storage.Cas.publishOverwrite(fs,
        s.sparkContext.hadoopConfiguration, manifestPath,
        mapper.writeValueAsBytes(arr))
    }
    // empty keep set (a takedown can empty a source): a valid export
    // of zero shards — prior layouts are stale by definition and
    // nothing below can fail before the sweep
    if (receipt.isEmpty) {
      publishManifest()
      sweepStale()
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], manifest.schema)
    }
    val missing = receipt.keys.toSeq.sorted.filterNot(k => fs.exists(shardFile(k)))
    if (missing.nonEmpty) {
      val staging = new Path(out, s".staging-${java.util.UUID.randomUUID()}")
      shuffleShardsOf(docs, nShards)
        .filter(col("shard_id").isin(missing: _*))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("shard_id"), col("pos"), col("doc_id"), col("text"))
        // hash repartition on the shard key: every shard's rows land in
        // ONE task → exactly one file per shard_id partition dir
        .repartition(missing.size, col("shard_id"))
        .sortWithinPartitions(col("shard_id"), col("pos"))
        .write.partitionBy("shard_id").mode("overwrite").parquet(staging.toString)
      missing.foreach { k =>
        val files = graft.storage.StoreFiles.walkParquet(fs, new Path(staging, s"shard_id=$k"))
        require(files.size == 1,
          s"export: shard $k staged ${files.size} files; expected exactly one")
        if (!fs.rename(files.head.getPath, shardFile(k)))
          throw new java.io.IOException(
            s"export: publish ${files.head.getPath} -> ${shardFile(k)} failed")
      }
      fs.delete(staging, true)
    } else {
      // a previous run completed the export; stale staging orphans from
      // a crashed attempt are garbage (their shards were re-written)
      fs.listStatus(out).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".staging-"))
          fs.delete(st.getPath, true)
      }
    }
    // VERIFY from the written bytes: re-read every shard file, re-fold
    // its digest, and require equality with the in-plan receipt
    val written = s.read
      .parquet(receipt.keys.toSeq.sorted.map(shardFile(_).toString): _*)
      .withColumn("shard_id",
        regexp_extract(input_file_name(), "shard-(\\d+)-of-\\d+-[0-9a-f]+\\.parquet", 1).cast("long"))
    val verified = written
      .select(col("shard_id"), col("pos"), md5(col("text")).as("dg"),
              size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           md5(expr(
             "array_join(transform(array_sort(collect_list(struct(pos, dg))), x -> x.dg), '')"))
             .as("content_digest"))
      .orderBy(col("shard_id"))
    val verifiedRows = verified.collect().toSeq
    val onDisk = verifiedRows
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    require(onDisk == receipt,
      s"export verification FAILED: written shards diverge from the receipt " +
        s"(names are content-addressed, so this means a file was tampered " +
        s"with or truncated AFTER an export wrote it — remove the bad files " +
        s"and re-export) — disk=$onDisk receipt=$receipt")
    // only now that THIS export is complete and verified: flip the
    // consumer-facing manifest atomically, then retire the previous
    // layout's files (a reader holding the OLD manifest keeps a
    // consistent view until the sweep — the same snapshot-expiry
    // grace contract as the log stores; run re-exports on a cadence
    // longer than the longest consumer read)
    publishManifest()
    sweepStale()
    // serve the already-verified rows (one scan, and callers may clean
    // the export dir before consuming the result)
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(verifiedRows).asJava),
      verified.schema)
  }

  /** The declared-query wrapper (`pipe_export_verify`): export the
    * corpus's shards to a throwaway dir, verify them from the written
    * bytes, and serve the verified manifest — identical rows to
    * `pipe_shard_manifest` BY THE REQUIRE in [[exportShardsOf]], which
    * is why the two share one oracle text (the alias-map contract). */
  def exportVerifySelfContained(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.Scratch.localDir), "graft-export").toString
    try exportShards(s, dir, out)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  /** Quality-vs-duplication cross report: mean quality score per
    * near-dup cluster-size bucket (1, 2, 3, 4, 5+) — the analytical
    * check behind every dedup policy decision: if heavily-duplicated
    * documents score LOWER quality, aggressive dedup is free win; if
    * they score higher (canonical references get mirrored), naive
    * keep-one dedup deletes your best data. Quality is summed as
    * micro-quantized INTEGERS (the score is already 6-decimal
    * truncated, so ·1e6 is exact) — a double mean would be
    * summation-order-dependent and never oracle-stable. Two hash joins
    * on doc_id + one 6-group aggregate. */
  def qualityByDup(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.simhashRaw(s, dir)
    val sizes = sh.groupBy(col("simhash")).agg(count(lit(1)).as("cluster_size"))
    val member = sh.join(sizes, Seq("simhash")).select(col("doc_id"), col("cluster_size"))
    val q = TextAnalysis.quality(s, dir)
      .select(col("doc_id"), round(col("quality_score") * 1000000.0).cast("long").as("qq"))
    member.join(q, Seq("doc_id"))
      .withColumn("size_bucket", least(col("cluster_size"), lit(5L)))
      .groupBy(col("size_bucket"))
      .agg(count(lit(1)).as("n_docs"),
           (floor(sum(col("qq")).cast("double") / count(lit(1))) / 1000000.0).as("mean_quality"))
      .orderBy(col("size_bucket"))
  }

  /** Sliding-window document chunking — the tokenize-and-window step
    * between a curated corpus and a sequence trainer: each document is
    * cut into fixed-size token windows (`chunkSize`) advancing by
    * `stride` (stride < size ⇒ overlapping context windows). Emits a
    * chunk manifest (position, token count, content hash) rather than
    * the chunk text: the hash is what dedup-after-chunking and shard
    * integrity checks consume. Scale shape: one scan, one generator
    * explode per document — output rows ≈ tokens/stride, no shuffle at
    * all until a downstream op keys on the hash; per-row memory is the
    * token array (bounded by document size, same bound the scan already
    * pays). Deterministic: window starts are a pure integer sequence,
    * the hash is md5 of the space-joined window. */
  def chunkWindows(s: SparkSession, dir: String,
                   chunkSize: Int = 16, stride: Int = 12): DataFrame =
    Tables.documents(s, dir)
      .withColumn("w", split(col("text"), " "))
      .withColumn("n_tokens", size(col("w")))
      .select(col("doc_id"), col("w"),
        posexplode(expr(s"sequence(0, n_tokens - 1, $stride)"))
          .as(Seq("chunk_id", "start_tok")))
      .withColumn("chunk", expr(s"slice(w, start_tok + 1, $chunkSize)"))
      .select(col("doc_id"),
              col("chunk_id").cast("long").as("chunk_id"),
              col("start_tok").cast("long").as("start_tok"),
              size(col("chunk")).cast("long").as("chunk_tokens"),
              md5(array_join(col("chunk"), " ")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Curriculum phase manifest: documents binned into training phases by
    * FIXED quality-score thresholds (0.4 / 0.6 / 0.8) — curriculum
    * learning orders data easy→hard, and phase membership here is a pure
    * projection of the row, NOT a global ntile: a corpus-wide quantile
    * window would serialize 100 TB through one sort partition, while
    * fixed cutpoints (chosen once from a profiled sample) keep phase
    * assignment at scan rate with zero shuffles before the 4-group
    * report aggregate. Per phase: doc count, token mass (what a phase
    * schedule actually budgets), and micro-quantized mean quality —
    * integer sums of the already-truncated score, order-independent. */
  def curriculumPhases(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(s, dir)
      .withColumn("phase",
        when(col("quality_score") >= 0.8, 3L)
          .when(col("quality_score") >= 0.6, 2L)
          .when(col("quality_score") >= 0.4, 1L).otherwise(0L))
      .withColumn("qq", round(col("quality_score") * 1000000.0).cast("long"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("token_mass"),
           (floor(sum(col("qq")).cast("double") / count(lit(1))) / 1000000.0)
             .as("mean_quality"))
      .orderBy(col("phase"))

  /** EPOCH / REPEAT plan (data-constrained scaling): when the training
    * budget EXCEEDS a source's unique token mass, the pipeline repeats
    * the source — and the published scaling analyses put the value of
    * repeated data at roughly four epochs before returns collapse, so
    * the plan caps useful repetition there. Per source, against a
    * fixed per-source token budget: the unique token mass, full epochs
    * the budget buys (`budget div total`), the partial-epoch tail
    * (`budget mod total`), the repeat factor (trunc6 of
    * budget/total — what the mixture weights multiply by), and the
    * budget actually USABLE under the 4-epoch cap
    * (`min(budget, 4·total)`) with its shortfall — the number that
    * says "this source cannot absorb its share; reweight the mix".
    * Exact integer arithmetic except the one trunc6 ratio. One
    * corpus-scan aggregate per source — nothing beyond the token pass
    * every packing op shares. */
  def epochsPlan(s: SparkSession, dir: String, budget: Long = 1000000L): DataFrame =
    epochsPlanOver(
      Tables.documents(s, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tokens")),
      budget)

  /** [[epochsPlan]] denominated in TRAINED-TOKENIZER tokens — an epoch
    * budget is consumed in the tokens the trainer reads, so the
    * repeat/cap math must count them ([[tokenShardsBpe]]'s rationale).
    * Shared body, shared [[bpeTokenRelation]]
    * denominator — the budget family agrees on one token definition. */
  def epochsPlanBpe(s: SparkSession, dir: String, budget: Long = 1000000L,
                    nMerges: Int = 10): DataFrame =
    epochsPlanOver(bpeTokenRelation(s, dir, nMerges), budget)

  /** THE epoch-plan body over an explicit (source, n_tokens) relation —
    * one definition for both denominators. */
  private def epochsPlanOver(rel: DataFrame, budget: Long): DataFrame =
    rel
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .withColumn("epochs_full", expr(s"$budget div total_tokens"))
      .withColumn("tail_tokens", expr(s"$budget % total_tokens"))
      .withColumn("repeat_factor",
        trunc6(lit(budget).cast("double") / col("total_tokens")))
      .withColumn("usable_tokens", least(lit(budget), lit(4L) * col("total_tokens")))
      .withColumn("shortfall", lit(budget) - col("usable_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
              col("epochs_full"), col("tail_tokens"), col("repeat_factor"),
              col("usable_tokens"), col("shortfall"))
      .orderBy(col("source"))

  /** TOKEN-QUOTA sampling — the budget-constrained selection every
    * mixture recipe bottoms out in ("fill N tokens from this source"):
    * documents enter in deterministic md5-hash order (an unbiased,
    * rerun-stable shuffle — doc_id order would bias toward old crawl
    * batches) and a source keeps documents while its running token sum
    * stays within the budget. One per-source window cumsum (the
    * [[tokenShards]] scale shape) and a bounded rollup; the selection
    * rule is a pure function of (doc_id, n_tokens, budget), so resumed
    * or re-partitioned runs keep EXACTLY the same documents. */
  def tokenQuota(s: SparkSession, dir: String, budget: Long = 800): DataFrame =
    tokenQuotaOver(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      budget)

  /** [[tokenQuota]] denominated in TRAINED-TOKENIZER tokens — the
    * budget a mixture pipeline provisions is in the tokens it trains
    * on ([[tokenShardsBpe]]'s rationale). Same shared-body /
    * shared-denominator contract as [[packingPlanBpe]]. */
  def tokenQuotaBpe(s: SparkSession, dir: String, budget: Long = 800,
                    nMerges: Int = 10): DataFrame =
    tokenQuotaOver(bpeTokenRelation(s, dir, nMerges), budget)

  /** THE quota body over an explicit (doc_id, source, n_tokens)
    * relation — one definition for both twins; the hash rank is
    * derived here so the admission order can never differ between
    * denominators. */
  private def tokenQuotaOver(rel: DataFrame, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    rel
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("cum") <= budget, 1L).otherwise(0L)).as("n_kept"),
           sum(when(col("cum") <= budget, col("n_tokens")).otherwise(0L))
             .as("kept_tokens"))
      .withColumn("utilization",
        trunc6(col("kept_tokens").cast("double") / budget))
      .orderBy(col("source"))
  }

  /** LEAKAGE-SAFE train/val/test split — the assignment rule that makes
    * held-out evaluation honest: the split decision is a deterministic
    * hash of the NEAR-DUP CLUSTER id (connected component of the
    * [[graft.ops.Dedup.ngramJaccard]] pair graph; singletons are their
    * own cluster), never of the document, so two near-duplicate
    * documents can never land in different splits — the classic silent
    * leak where val "generalization" is really memorized train content.
    * 90/5/5 by md5-bucket of the cluster id, reported per
    * source × split with how many assigned docs were cluster-bound
    * (moved with a multi-doc cluster rather than hashed alone). Cost on
    * top of the component fixpoint: one left join against the (small)
    * clustered-docs relation and one bounded rollup — at 100 TB the
    * component relation is near-dup-sized, not corpus-sized, and the
    * split hash is a pure projection. */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    // Shared memoized assignment — the SAME relation dupComponents and
    // clusterStats read, so the three CC consumers pay for one fixpoint
    // per process (mirrors the oracle side, where all three SQL twins
    // share the ngramComponentsCte derivation).
    val comp = Dedup.ngramComponents(s, dir)
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("comp_id"), col("doc_id")))
      .withColumn("bucket",
        expr("CAST(conv(substr(md5(CAST(cluster_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val")
          .otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("comp_id").isNotNull, 1L).otherwise(0L))
             .as("n_cluster_bound"))
      .orderBy(col("source"), col("split"))
  }

  /** INCREMENTAL dedup — the arrival-time shape every production
    * curation pipeline actually runs: a new batch (here the newest 20%
    * of doc_ids — integer threshold `(max+1)·4 div 5`, no float) is
    * deduplicated AGAINST THE EXISTING CORPUS, not against itself:
    * exact duplicates by md5 digest, near-duplicates by SimHash
    * signature, and the survivors, reported per source. Both probes are
    * hash equi-joins keyed on the digest/signature — at 100 TB the old
    * corpus is a big but hash-partitioned build side (or a pre-built
    * signature index table), NEVER broadcast, and the incoming batch is
    * the small probe side; nothing here rescans old TEXT, only 32-byte
    * digests and 8-byte signatures. Priority order: exact beats near
    * (a digest hit is not double-counted as a near-dup). */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("digest"))
    val withSh = docs.join(Dedup.simhashRaw(s, dir), Seq("doc_id"))
    // The old/new split threshold is derived IN-PLAN (1-row broadcast
    // on a constant key — the cappedShingles pattern): the previous
    // .cache() + eager .head dispatched a job at plan-construction
    // time and pinned one cache entry per invocation, never released
    // (a leak). The relation is re-derived per consumer
    // instead — a hash join against the memoized signature index, far
    // cheaper than a leaked cache entry squeezing execution memory.
    val th = withSh.agg(expr("(max(doc_id) + 1) * 4 div 5").as("th"))
      .withColumn("k", lit(1))
    val tagged = withSh.withColumn("k", lit(1)).join(broadcast(th), Seq("k"))
    val old = tagged.filter(col("doc_id") < col("th"))
    val neu = tagged.filter(col("doc_id") >= col("th"))
    val oldDigests = old.select(col("digest")).distinct().withColumn("ex", lit(1L))
    val oldHashes  = old.select(col("simhash")).distinct().withColumn("nr", lit(1L))
    neu.join(oldDigests, Seq("digest"), "left")
      .join(oldHashes, Seq("simhash"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_new"),
           sum(when(col("ex") === 1, 1L).otherwise(0L)).as("n_exact_dup"),
           sum(when(col("ex").isNull && col("nr") === 1, 1L).otherwise(0L)).as("n_near_dup"),
           sum(when(col("ex").isNull && col("nr").isNull, 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", Table A1's document-filter family),
    * thresholds adapted to this corpus's scale: per document,
    *  - R1 word count in [25, 90];
    *  - R2 mean word length in [4, 5] chars;
    *  - R3 stopword mass ≥ 2% of tokens (the/a/of/and/to);
    *  - R4 most-frequent token ≤ 12% of tokens (repetition cap).
    * Reported per source: documents passing ALL rules plus independent
    * per-rule failure counts (a per-rule breakdown, unlike a
    * first-fail gate, tells a curation run WHICH rule to re-tune).
    *
    * Every rule compares INTEGER quantities (sum_len ≥ 4·n_words, not
    * mean ≥ 4.0): no float boundary can disagree between engines, so
    * the gate is exactly replayable. Plan shape is the wordcount
    * pattern — explode → map-side-combined (doc, token) counts → one
    * per-doc rollup → one per-source rollup; at 100 TB the only
    * shuffles are on (doc_id, token) and doc_id, both well-spread. */
  /** Per-document rule flags — the unit [[gopherQuality]] aggregates and
    * [[curationManifest]] folds into its keep/drop decision. MEMOIZED:
    * the flags are per-document and
    * corpus-independent, and every decision derivation ([[decisionsFrom]]
    * via the full/UpTo/Excluding/Seg variants — curation manifest, data
    * cards, admit divergence, the lifecycle runs) plus [[gopherQuality]]
    * re-ran the corpus explode + two aggregates per consumer. One
    * materialized pass per session; the bench prices it as
    * `build:gopher_flags`. */
  private[ops] def gopherFlags(s: SparkSession, dir: String): DataFrame =
    Tables.memoized("gopherFlags", s, dir) { gopherFlagsOf(Tables.documents(s, dir)) }

  /** The Gopher rule flags over an explicit (doc_id, source, text)
    * relation — the per-document gate is corpus-independent, so the
    * frozen-admission path can flag a BATCH without touching base
    * text. One definition of the four thresholds. */
  private[ops] def gopherFlagsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n")).as("nw"),
           sum(col("n") * length(col("tok"))).as("sum_len"),
           sum(when(col("tok").isin("the", "a", "of", "and", "to"), col("n"))
             .otherwise(0L)).as("n_stop"),
           max(col("n")).as("max_tok"))
      .withColumn("ok_words", col("nw") >= 25 && col("nw") <= 90)
      .withColumn("ok_wlen",
        col("sum_len") >= lit(4) * col("nw") && col("sum_len") <= lit(5) * col("nw"))
      .withColumn("ok_stop", lit(50) * col("n_stop") >= col("nw"))
      .withColumn("ok_rep", lit(25) * col("max_tok") <= lit(3) * col("nw"))

  def gopherQuality(s: SparkSession, dir: String): DataFrame =
    gopherFlags(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("ok_words") && col("ok_wlen") && col("ok_stop") && col("ok_rep"),
             1L).otherwise(0L)).as("n_pass"),
           sum(when(!col("ok_words"), 1L).otherwise(0L)).as("n_fail_words"),
           sum(when(!col("ok_wlen"), 1L).otherwise(0L)).as("n_fail_wordlen"),
           sum(when(!col("ok_stop"), 1L).otherwise(0L)).as("n_fail_stop"),
           sum(when(!col("ok_rep"), 1L).otherwise(0L)).as("n_fail_rep"))
      .orderBy(col("source"))

  /** CURATION MANIFEST — the end artifact a dedup+quality pipeline
    * ships: one keep/drop decision per document with its reason,
    * reported per source × decision. Decision precedence mirrors how
    * production pipelines stage their filters (cheapest-first, one
    * reason per doc so the counts partition the corpus):
    *  1. `exact_dup`  — not the minimum doc_id of an identical-text
    *     group (md5 digest, the [[graft.ops.Dedup.exactKeepers]] rule);
    *  2. `near_dup`   — in an n-gram Jaccard cluster but not the
    *     cluster keeper (component-minimum doc_id, the
    *     [[graft.ops.Dedup.dupComponents]] id itself);
    *  3. `quality`    — fails any [[gopherFlags]] rule;
    *  4. `keep`       — everything else: what actually trains.
    * Everything derives from the memoized index relations (digest
    * groups are a window over md5 keys; the cluster assignment and
    * quality flags are already materialized), so the manifest costs
    * two hash joins and a rollup on top of work the pipeline already
    * did — exactly its marginal cost in production. */
  /** The PER-DOCUMENT decision relation (doc_id, source, decision) —
    * [[curationManifest]]'s unit, factored out so [[CurationRun]] can
    * persist the decisions themselves as the keep/drop artifact. */
  private[ops] def curationDecisions(s: SparkSession, dir: String): DataFrame =
    // MEMOIZED: the full-corpus decision relation
    // has ≥6 declared consumers (curation manifest, both data cards, the
    // divergence column of both admit twins, the one-shot run and the
    // lifecycle fixtures) and each re-derived the keeper window +
    // flag/component joins in-plan. One materialized (doc_id, source,
    // decision) pass per session; priced as `build:curation_decisions`.
    Tables.memoized("curationDecisions", s, dir) {
      decisionsFrom(s, dir, Tables.documents(s, dir), Dedup.ngramComponents(s, dir))
    }

  /** [[curationDecisions]] over the BASE slice as a standalone corpus
    * (`doc_id <= thr`): digest-group minima, the component graph and
    * the DF cap all live inside the slice — exactly what a run over
    * the then-current corpus computed before the batch arrived. The
    * quality flags are per-document and corpus-independent, so the
    * full-corpus relation filters down without drift. */
  private[ops] def curationDecisionsUpTo(s: SparkSession, dir: String, thr: Long): DataFrame =
    decisionsFrom(s, dir, Tables.documents(s, dir).filter(col("doc_id") <= thr),
      Dedup.ngramComponentsUpTo(s, dir, thr))

  /** [[curationDecisions]] over the corpus EXCLUDING a takedown set
    * (`doc_id ≢ 0 mod m`) as its own corpus — what the corpus IS after
    * a removal: exact-dup minima re-elect among survivors (a removed
    * keeper's copies re-admit), the near-dup graph re-derives under
    * the shifted DF cap ([[Dedup.ngramComponentsExcluding]]), and the
    * per-document quality flags filter down unchanged. */
  private[ops] def curationDecisionsExcluding(s: SparkSession, dir: String, mod: Long): DataFrame =
    decisionsFrom(s, dir, Tables.documents(s, dir).filter(col("doc_id") % mod =!= 0),
      Dedup.ngramComponentsExcluding(s, dir, mod))

  /** [[curationDecisions]] with the near-dup layer served from the
    * PERSISTED segment index ([[Dedup.ngramComponentsSegmented]] —
    * row-identical components by the dedup_ngram_seg contract): the
    * form [[CurationRun.deltaRun]] admits a new batch through, because
    * the segment index is what maintains incrementally. */
  private[ops] def curationDecisionsSeg(s: SparkSession, dir: String): DataFrame =
    decisionsFrom(s, dir, Tables.documents(s, dir), Dedup.ngramComponentsSegmented(s, dir))

  private def decisionsFrom(s: SparkSession, dir: String,
                            documents: DataFrame, comp: DataFrame): DataFrame = {
    // project the digest BEFORE the keeper window: the keeper decision
    // never needs the text back, so the window exchange moves a 32-byte
    // digest per row instead of the document (guide §2.3; the
    // exactKeepers/gated idiom)
    val keepers = Window.partitionBy(col("dg"))
    val docs = documents
      .select(col("doc_id"), col("source"), md5(col("text")).as("dg"))
      .select(col("doc_id"), col("source"),
        (col("doc_id") =!= min(col("doc_id")).over(keepers)).as("exact_dup"))
    val flags = gopherFlags(s, dir)
      .select(col("doc_id"),
        (col("ok_words") && col("ok_wlen") && col("ok_stop") && col("ok_rep")).as("ok_q"))
    docs
      .join(comp, Seq("doc_id"), "left")
      .join(flags, Seq("doc_id"), "left")
      .withColumn("decision",
        when(col("exact_dup"), "exact_dup")
          .when(col("comp_id").isNotNull && col("comp_id") =!= col("doc_id"), "near_dup")
          .when(!coalesce(col("ok_q"), lit(false)), "quality")
          .otherwise("keep"))
      .select(col("doc_id"), col("source"), col("decision"))
  }

  /** BATCH-BOUNDED curation admission against FROZEN prior statistics
    * — the O(batch) decision path the exact
    * delta run deliberately lacks: [[CurationRun.deltaRun]] re-derives
    * decisions over the COMBINED corpus per batch (exact, but
    * SCALECHECK shows delta-only costing more than a full run), while
    * a production pipeline ADMITS each batch against the statistics
    * the prior run already committed, with bounded staleness. The
    * frozen rule, per batch document (`doc_id > thr`), gate order as
    * every curation decision here:
    *
    *  1. `exact_dup` — its digest exists in the BASE corpus (every
    *     base digest group already elected a keeper — frozen keepers),
    *     or an earlier batch document in this batch has the same
    *     digest (within-batch keeper = the group's minimum doc_id);
    *  2. `near_dup` — capped-shingle Jaccard ≥ 0.5 against some BASE
    *     document, where BOTH sides are capped by the base corpus's
    *     FROZEN hot set (the 20% DF cap as of the prior run — batch
    *     mass can neither re-hot nor un-hot a shingle until the next
    *     full/delta run);
    *  3. `quality` — fails a [[gopherFlags]] rule (per-document,
    *     corpus-independent — identical to the exact gate);
    *  4. `keep`.
    *
    * What the frozen rule does NOT see is exactly the staleness being
    * bought: batch-internal near-dup pairs admit together, DF-cap
    * drift is invisible, and keeper re-elections can't happen — the
    * declared query measures that price as `n_divergent`, the count
    * of batch docs where this rule and the exact combined-corpus
    * decision ([[curationDecisions]]) disagree.
    *
    * Scale shape (the point of the op): every input the rule probes is
    * either BATCH-derived (batch digests, batch shingles, batch
    * quality flags — all O(batch)) or a FROZEN asset the prior run
    * already paid for (the digest set, the hot set, the base capped
    * shingles — persisted index tables in [[admissionFrozenIndexed]],
    * probed by bucket-key equi-joins); the candidate join is bounded
    * by batch×matched overlap, never corpus². */
  private[ops] def admissionFrozen(s: SparkSession, dir: String, thr: Long): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") <= thr)
    val batch = docs.filter(col("doc_id") > thr)
    val shAll = Dedup.shingles(s, dir)
    val baseSh = shAll.filter(col("doc_id") <= thr)
    // ONE hot set — the base slice's (Dedup.hotShingleSet, the shared
    // 20% rule) — caps BOTH sides: that asymmetry IS the freeze
    val hot = Dedup.hotShingleSet(baseSh, base)
    val baseCapped = baseSh.join(broadcast(hot), Seq("s"), "left_anti")
    val batchCapped = shAll.filter(col("doc_id") > thr)
      .join(broadcast(hot), Seq("s"), "left_anti")
    admissionFrozenOver(batch, batchCapped,
      base.select(md5(col("text")).as("digest")).distinct(), baseCapped)
  }

  /** [[admissionFrozen]] probing PERSISTED frozen assets — the deployed
    * shape: the base slice's keeper digests live in a bucketed digest
    * index ([[IndexTables.ensureAdmissionDigests]]) and its capped
    * shingles + hot set are SERVED from the segment index built over
    * the base docs under a slice key ([[IndexTables
    * .ensureShingleSegmentsFrom]] — the committed statistics, not a
    * re-derivation). Identical rows to the in-plan form BY the shared
    * decision body (AdmissionFrozenSpec proves it), which is why the
    * declared twin shares one oracle text. */
  private[graft] def admissionFrozenIndexed(s: SparkSession, dir: String, thr: Long): DataFrame = {
    val batch = Tables.documents(s, dir).filter(col("doc_id") > thr)
    val key = admissionKey(dir, thr)
    ensureAdmissionAssets(s, dir, thr)
    val digests = s.table(IndexTables.ensureAdmissionDigests(s, dir, thr))
    // batch shingles capped by the INDEX's committed hot set — the
    // same frozen asymmetry as the in-plan form
    val hot = IndexTables.segmentHotSet(s, key)
    val batchCapped = Dedup.shinglesOf(batch.select(col("doc_id"), col("text")))
      .join(broadcast(hot), Seq("s"), "left_anti")
    // the capped split ([[IndexTables.mergedShingleCappedEnsured]]): the
    // probe derives its own sizes, so the merged view's size join (run
    // twice — Catalyst cannot prune an N:1 inner join) was dead weight
    val baseCapped = IndexTables.mergedShingleCappedEnsured(s, key)
    admissionFrozenOver(batch, batchCapped, digests, baseCapped)
  }

  private def admissionKey(dir: String, thr: Long): String = s"$dir#admit$thr"

  /** Build/ensure the frozen-admission assets for (dir, thr) WITHOUT
    * running an admission — the one-time index cost SCALECHECK prices
    * separately from the per-batch probe (the build-vs-consume split
    * every persisted index here gets). */
  private[graft] def ensureAdmissionAssets(s: SparkSession, dir: String, thr: Long): Unit = {
    IndexTables.ensureShingleSegmentsFrom(s, admissionKey(dir, thr),
      Tables.documents(s, dir).filter(col("doc_id") <= thr)
        .select(col("doc_id"), col("text")))
    IndexTables.ensureAdmissionDigests(s, dir, thr)
  }

  /** THE frozen-admission decision body — one definition for the
    * in-plan and index-served variants, so the gate rule cannot drift
    * between the oracle contract and the deployed probe. Inputs:
    * `batch` (doc_id, source, text), `batchCapped`/`baseCapped`
    * (doc_id, s) both capped by the SAME frozen hot set, `baseDigests`
    * (digest). */
  private def admissionFrozenOver(batch: DataFrame, batchCapped: DataFrame,
                                  baseDigests: DataFrame,
                                  baseCapped: DataFrame): DataFrame = {
    val wDigest = Window.partitionBy(col("digest"))
    val dig = batch.select(col("doc_id"), col("source"), md5(col("text")).as("digest"))
      .withColumn("batch_keep", min(col("doc_id")).over(wDigest))
      .join(baseDigests.select(col("digest")).withColumn("in_base", lit(1L)),
        Seq("digest"), "left")
    // NOT checkpointed (a measured negative result, full bench):
    // materializing batchCapped/baseCapped for their two consumers
    // regressed both admit twins ~40-85% at sf0.1 — the eager
    // materialization costs more than the duplicated O(batch)
    // derivation it removes (the text_phrase_topk trade).
    val bsz = baseCapped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val tsz = batchCapped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // batch→base candidates on shared informative shingles: bounded by
    // real overlap (the capped join key), never batch × corpus
    val common = batchCapped.as("a").join(baseCapped.as("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.doc_id").as("batch_doc"), col("b.doc_id").as("base_doc"))
      .agg(count(lit(1)).as("c"))
    val nearHits = common
      .join(tsz.as("x"), col("batch_doc") === col("x.doc_id"))
      .join(bsz.as("y"), col("base_doc") === col("y.doc_id"))
      .withColumn("jaccard",
        trunc6(col("c").cast("double") / (col("x.n") + col("y.n") - col("c"))))
      .filter(col("jaccard") >= 0.5)
      .select(col("batch_doc").as("doc_id")).distinct()
      .withColumn("near_hit", lit(1L))
    val flags = gopherFlagsOf(batch)
      .select(col("doc_id"),
        (col("ok_words") && col("ok_wlen") && col("ok_stop") && col("ok_rep")).as("ok_q"))
    dig
      .join(nearHits, Seq("doc_id"), "left")
      .join(flags, Seq("doc_id"), "left")
      .withColumn("decision",
        when(col("in_base").isNotNull || col("doc_id") =!= col("batch_keep"), "exact_dup")
          .when(col("near_hit").isNotNull, "near_dup")
          .when(!coalesce(col("ok_q"), lit(false)), "quality")
          .otherwise("keep"))
      .select(col("doc_id"), col("source"), col("decision"))
  }

  /** The declared-query rollup (`pipe_curation_admit`): frozen-rule
    * admission of the top decile (the [[CurationRun.deltaRun]] batch
    * split) with the measured staleness price — per source, the frozen
    * decision counts plus `n_divergent`, how many batch docs the
    * frozen rule and the exact combined-corpus decision disagree on.
    * The exact side exists FOR the divergence column (the report is
    * how a deployment decides its re-derivation cadence); the
    * admission path itself never needs it — SCALECHECK prices the two
    * separately. */
  def curationAdmit(s: SparkSession, dir: String): DataFrame =
    curationAdmitFrom(s, dir, admissionFrozen(s, dir, _))

  /** [[curationAdmit]] with the frozen side probing the persisted
    * index tables — identical rows by the shared decision body, one
    * shared oracle text (the twin-alias contract). */
  def curationAdmitIndexed(s: SparkSession, dir: String): DataFrame =
    curationAdmitFrom(s, dir, admissionFrozenIndexed(s, dir, _))

  private def curationAdmitFrom(s: SparkSession, dir: String,
                                frozenOf: Long => DataFrame): DataFrame = {
    // the same integer split rule as the delta run (bounded 1-row job)
    val maxId = Tables.documents(s, dir).agg(max(col("doc_id"))).head().getLong(0)
    val thr = 9L * maxId / 10L
    val frozen = frozenOf(thr)
    val exact = curationDecisions(s, dir).filter(col("doc_id") > thr)
      .select(col("doc_id"), col("decision").as("exact_decision"))
    frozen.join(exact, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch"),
           sum(when(col("decision") === "keep", 1L).otherwise(0L)).as("n_keep"),
           sum(when(col("decision") === "exact_dup", 1L).otherwise(0L)).as("n_exact_dup"),
           sum(when(col("decision") === "near_dup", 1L).otherwise(0L)).as("n_near_dup"),
           sum(when(col("decision") === "quality", 1L).otherwise(0L)).as("n_quality"),
           sum(when(col("decision") =!= col("exact_decision"), 1L).otherwise(0L))
             .as("n_divergent"))
      .orderBy(col("source"))
  }

  /** DATA CARD — the per-source release documentation a training team
    * ships WITH the corpus (the "datasheet" row block: what went in,
    * what survived curation, and the token budget the keeps
    * contribute): per source, document counts by curation outcome,
    * the keep rate, the kept-token total and the mean kept-document
    * length. Everything composes relations the pipeline already
    * derived — the decision relation (memoized component graph +
    * per-doc gates) joined to whitespace token counts — so the card
    * costs one doc-keyed hash join and a per-source rollup on top of
    * work curation already did: exactly its marginal cost in
    * production, where the card is regenerated per corpus version.
    * keep_rate and mean length go through the trunc6 / floored-
    * integer-division contracts so both engines agree exactly. */
  def dataCard(s: SparkSession, dir: String): DataFrame =
    dataCardOver(s, dir,
      Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens")))

  /** [[dataCard]] with the token-budget columns (kept_tokens,
    * mean_keep_tokens) denominated in TRAINED-TOKENIZER tokens — the
    * datasheet a release ships quotes the budget a trainer will consume
    * ([[tokenShardsBpe]]'s rationale). The curation
    * decisions are token-denomination-independent and shared verbatim;
    * only the token join changes, through [[bpeTokenRelation]]. */
  def dataCardBpe(s: SparkSession, dir: String, nMerges: Int = 10): DataFrame =
    dataCardOver(s, dir,
      bpeTokenRelation(s, dir, nMerges).select(col("doc_id"), col("n_tokens")))

  /** THE data-card body over an explicit (doc_id, n_tokens) relation —
    * one definition for both denominators. */
  private def dataCardOver(s: SparkSession, dir: String, toks: DataFrame): DataFrame = {
    val dec = curationDecisions(s, dir)
    dec.join(toks, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("decision") === "keep", 1L).otherwise(0L)).as("n_keep"),
           sum(when(col("decision") === "exact_dup", 1L).otherwise(0L)).as("n_exact_dup"),
           sum(when(col("decision") === "near_dup", 1L).otherwise(0L)).as("n_near_dup"),
           sum(when(col("decision") === "quality", 1L).otherwise(0L)).as("n_quality"),
           sum(when(col("decision") === "keep", col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .withColumn("keep_rate", Tables.trunc6(col("n_keep").cast("double") / col("n_docs")))
      .withColumn("mean_keep_tokens",
        when(col("n_keep") > 0, floor(col("kept_tokens") / col("n_keep"))).otherwise(lit(0L)))
      .select(col("source"), col("n_docs"), col("n_keep"), col("n_exact_dup"),
              col("n_near_dup"), col("n_quality"), col("keep_rate"),
              col("kept_tokens"), col("mean_keep_tokens"))
      .orderBy(col("source"))
  }

  def curationManifest(s: SparkSession, dir: String): DataFrame =
    curationDecisions(s, dir)
      .groupBy(col("source"), col("decision"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("decision"))

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how target-like its hashed n-gram distribution is. Features
    * are unigrams + bigrams hashed into `buckets` buckets; the target
    * domain is the `lang = 'en'` slice, the raw distribution is the
    * whole corpus; each bucket's log-likelihood ratio
    * λ_b = ln((t_b+1)/(T+K) · (R+K)/(r_b+1)) (add-one smoothing) is
    * micro-quantized ONCE per bucket, and a document's weight is the
    * exact integer sum of λ over its gram occurrences. Per source:
    * how many documents score target-like (weight > 0), the mean
    * weight, and the top-weighted document.
    *
    * Scale contract: the bucket table is K rows — THE broadcast DSIR
    * is built around (the paper's reason for hashing) — so scoring is
    * one map-side join over the gram stream plus a per-doc sum; no
    * shuffle grows with vocabulary. Quantizing λ per BUCKET (K values)
    * rather than per document keeps cross-engine float risk bounded by
    * K ln() calls; document weights and everything after are integer-
    * exact. The argmax doc rides a packed (weight, -doc_id) BIGINT key
    * (weights are micro-units ≪ 2^43, ids ≪ 2^20 at test scale). */
  def dsirWeights(s: SparkSession, dir: String, buckets: Int = 256): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), split(col("text"), " ").as("w"))
    val uni = d.select(col("doc_id"), col("source"), col("lang"),
      explode(col("w")).as("g"))
    val bi = d.filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(expr("transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")).as("g"))
    // Materialize the NARROW (doc, source, lang, bucket) stream once:
    // both the bucket-stats pass and the scoring pass read it, and
    // without the checkpoint each pass would re-explode the corpus and
    // re-md5 every gram — the hashing is the dominant cost. The gram
    // TEXT is dropped before materializing (hashed features never need
    // it back — DSIR's own memory argument).
    val grams = uni.unionByName(bi)
      .withColumn("b",
        expr(s"CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT) % $buckets"))
      .select(col("doc_id"), col("source"), col("lang"), col("b"))
      .localCheckpoint()
    val stats = grams.groupBy(col("b"))
      .agg(count(lit(1)).as("r"),
           sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t"))
    val totals = stats.agg(sum(col("r")).as("rt"), sum(col("t")).as("tt"))
      .withColumn("k", lit(1))
    // one ln() per bucket over a ratio of exact BIGINT products
    // (< 2^53 at any oracle-checked scale, so the double argument is
    // exact and identical on both engines)
    val lam = stats.withColumn("k", lit(1)).join(broadcast(totals), Seq("k"))
      .withColumn("lam_u", floor(log(
        ((col("t") + 1) * (col("rt") + buckets)).cast("double") /
        ((col("r") + 1) * (col("tt") + buckets)).cast("double")) * 1e6).cast("long"))
      .select(col("b"), col("lam_u"))
    val perDoc = grams.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("lam_u")).as("w_u"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           (floor(sum(col("w_u")).cast("double") / count(lit(1))) / 1e6).as("mean_weight"),
           sum(when(col("w_u") > 0, 1L).otherwise(0L)).as("n_target_like"),
           expr("max_by(doc_id, w_u * 1048576 - doc_id)").as("top_doc_id"),
           (max(col("w_u")).cast("double") / 1e6).as("top_weight"))
      .orderBy(col("source"))
  }

  /** Modality-coverage integrity report: which documents have an
    * embedding row and which are orphaned, per source — the join-health
    * check a multimodal pipeline runs before training (a source whose
    * embedding coverage silently dropped poisons every downstream
    * similarity op). One left equi-join on the id + one aggregate; both
    * sides hash-partition on the id at any scale. */
  def modalityCoverage(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(Tables.embeddings(s, dir).select(col("vec_id"), lit(1L).as("has_emb")),
        col("doc_id") === col("vec_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(coalesce(col("has_emb"), lit(0L))).as("n_with_emb"),
           (count(lit(1)) - sum(coalesce(col("has_emb"), lit(0L)))).as("n_missing"))
      .orderBy(col("source"))
}
