package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity query surface (SURVEY.md §2.1-§2.6, §3 entry point 1).
  *
  * The reference's data plane is one fixed-schema log table with
  * conjunctive pushdown filters, an inclusive time-range filter, counts,
  * and summaries (reader.py:30-86, 457-473, 548-577). The driver's test
  * corpus has no log table, so these queries derive the reference's
  * LOG_SCHEMA shape from `events`:
  *   timestamp←ts, level←event_type, message←props,
  *   container←'c'+(user_id%4), session←'s'+user_id
  * — the same derivation is declared in the DuckDB oracle SQL, so the
  * parity semantics (inclusive bounds, AND-only conjunction, filtered
  * count vs unfiltered summary) are what's actually checked.
  */
object LogQueries {

  /** events → the reference's 5-column log shape (schema.py:4-10). */
  def logsView(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("ts").as("timestamp"),
      col("event_type").as("level"),
      col("props").as("message"),
      concat(lit("c"), (col("user_id") % 4).cast("string")).as("container"),
      concat(lit("s"), col("user_id").cast("string")).as("session"))

  private val rangeStart = "2024-01-08 00:00:00"
  private val rangeEnd   = "2024-01-15 23:59:59"

  /** F3: inclusive time-range read — `start <= ts <= end`, both bounds
    * inclusive (reader.py:457-473). Pushed to parquet row-group stats. */
  def logTimeRange(s: SparkSession, dir: String): DataFrame =
    logsView(s, dir)
      .filter(col("timestamp") >= lit(rangeStart).cast("timestamp") &&
              col("timestamp") <= lit(rangeEnd).cast("timestamp"))
      .orderBy(col("timestamp"), col("session"), col("message"))

  /** F1/F2/F4: conjunctive (AND-only) filter chain over ==, >=, != ops —
    * the reference's entire predicate algebra (reader.py:39-59). */
  def logFilterConjunction(s: SparkSession, dir: String): DataFrame =
    logsView(s, dir)
      .filter(col("level") === "error" &&
              col("container") =!= "c0" &&
              col("timestamp") >= lit(rangeStart).cast("timestamp"))
      .orderBy(col("timestamp"), col("session"), col("message"))

  /** A1-A3: filtered count (reader.py:181-206, 348-386, 548-558). */
  def logCount(s: SparkSession, dir: String): DataFrame =
    logsView(s, dir)
      .filter(col("level") === "error" &&
              col("timestamp") >= lit(rangeStart).cast("timestamp") &&
              col("timestamp") <= lit(rangeEnd).cast("timestamp"))
      .agg(count(lit(1)).as("n"))

  /** A4-A6: summary — total_rows is UNFILTERED (the reference's
    * documented quirk: get_summary scans with no filter, reader.py:227-231)
    * plus per-tier-style breakdowns by container. */
  def logSummary(s: SparkSession, dir: String): DataFrame =
    logsView(s, dir)
      .groupBy(col("container"))
      .agg(count(lit(1)).as("total_rows"),
           countDistinct(col("session")).as("n_sessions"),
           min(col("timestamp")).as("min_ts"),
           max(col("timestamp")).as("max_ts"))
      .orderBy(col("container"))

  /** S10/O2-style namespace read: one (container, session) slice of
    * the flat events table, the predicate shape a store read applies. */
  def logPartitionSlice(s: SparkSession, dir: String): DataFrame =
    logsView(s, dir)
      .filter(col("container") === "c1" && col("session") === "s5")
      .select(col("timestamp"), col("level"), col("message"))
      .orderBy(col("timestamp"), col("message"))

  /** Log retransmission dedup: a client that retries keeps re-sending
    * the same message into the same session; keep only the first of
    * each burst (an identical (session, message) within 60 s of its
    * predecessor is a retransmission, not a new event) and report
    * per-container totals vs kept. One window per (session, message)
    * group — the log-domain counterpart of the document dedup family,
    * linear in rows, no self-join. Counts are integers, so the oracle
    * match is exact. */
  def logDedupBursts(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("session"), col("message")).orderBy(col("timestamp"))
    logsView(s, dir)
      .withColumn("prev_ts", lag(col("timestamp"), 1).over(w))
      .withColumn("kept",
        col("prev_ts").isNull ||
        col("timestamp").cast("long") - col("prev_ts").cast("long") > 60)
      .groupBy(col("container"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("container"))
  }

  /** Per-container daily-volume anomaly report — the ops-side query a
    * log platform runs continuously: daily counts vs the container's own
    * typical day, spike-flagged when a day exceeds 2× the mean. The mean
    * is INTEGER-floored (total div n_days), so every derived column is
    * exact integer arithmetic — no float variance/stddev whose summation
    * order differs across engines. Two tiny aggregations: daily counts
    * (one shuffle on (container, day) — at 100 TB this is the same
    * partitioning the ingest already writes), then a per-container
    * window over #days rows. */
  def logVolumeAnomaly(s: SparkSession, dir: String): DataFrame =
    logsView(s, dir)
      .groupBy(col("container"), date_trunc("day", col("timestamp")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mean_n", expr("sum(n) OVER (PARTITION BY container) div count(n) OVER (PARTITION BY container)"))
      .withColumn("dev", col("n") - col("mean_n"))
      .withColumn("spike", when(col("n") > lit(2) * col("mean_n"), 1L).otherwise(0L))
      .select(col("container"), col("day"), col("n"), col("mean_n"), col("dev"), col("spike"))
      .orderBy(col("container"), col("day"))

  /** Error-rate SLI report: per (container, day) error fraction in
    * integer BASIS POINTS (10000·errors div total) — the service-level
    * number an availability dashboard tracks, kept in pure integer
    * arithmetic so the report replays exactly (a float percentage would
    * be division-rounding-dependent). One map-side-combined aggregate on
    * the ingest's own (container, day) partitioning. */
  def logErrorRateSli(s: SparkSession, dir: String): DataFrame =
    logsView(s, dir)
      .groupBy(col("container"), date_trunc("day", col("timestamp")).as("day"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("level") === "error", 1L).otherwise(0L)).as("n_errors"))
      .withColumn("rate_bp", expr("10000 * n_errors div n_total"))
      .orderBy(col("container"), col("day"))

  /** Multi-window SLO BURN-RATE alert — the SRE-workbook paging policy
    * over the error-rate SLI: with a 90% availability SLO the error
    * budget is 1000 bp (matched to this synthetic stream's error
    * density so the threshold sits mid-distribution — on real logs
    * the budget is the product SLO), and the burn rate is how many times faster than
    * budget the service is consuming it. A single window either pages
    * on every blip (short) or pages hours late (long); the standard
    * fix alerts only when BOTH a short window (here one day) and a
    * long window (trailing 7 days, the `q31` rolling-RANGE recipe)
    * burn above the threshold (2× budget) — fast onset detection that
    * a one-day spike alone cannot page. All integer arithmetic
    * (basis-point rates, centi-multiple burns, non-negative floored
    * divisions), so the report replays exactly. Plan shape: one
    * map-side-combined (container, day) aggregate, then a
    * per-container window over #days rows — tiny at any corpus
    * scale. */
  def logBurnRate(s: SparkSession, dir: String): DataFrame = {
    val daily = logsView(s, dir)
      .groupBy(col("container"), date_trunc("day", col("timestamp")).as("day"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("level") === "error", 1L).otherwise(0L)).as("n_errors"))
      .withColumn("day_no", expr("CAST(floor(unix_timestamp(day) / 86400) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("container")).orderBy(col("day_no"))
      .rangeBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
    daily
      .withColumn("w_total", sum(col("n_total")).over(w))
      .withColumn("w_errors", sum(col("n_errors")).over(w))
      .withColumn("short_burn_c", expr("100 * (10000 * n_errors div n_total) div 1000"))
      .withColumn("long_burn_c", expr("100 * (10000 * w_errors div w_total) div 1000"))
      .withColumn("page",
        when(col("short_burn_c") > 200 && col("long_burn_c") > 200, 1L).otherwise(0L))
      .select(col("container"), col("day"), col("n_total"), col("n_errors"),
              col("short_burn_c"), col("long_burn_c"), col("page"))
      .orderBy(col("container"), col("day"))
  }

  /** Hour-of-day traffic profile per container — the seasonality view
    * behind capacity planning and anomaly baselines (a volume alert that
    * ignores diurnal shape pages on every morning ramp). Share is
    * integer BASIS POINTS of the container's own total (10000·n div
    * total), so the report replays exactly on any engine. One map-side-
    * combined aggregate to ≤24 rows per container + a per-container
    * window over those 24 rows — both keyed on the container, one
    * shuffle at any scale. */
  def logHourlyProfile(s: SparkSession, dir: String): DataFrame =
    logsView(s, dir)
      .groupBy(col("container"), hour(col("timestamp")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("container"))))
      .withColumn("share_bp", expr("10000 * n div total"))
      .select(col("container"), col("hour"), col("n"), col("share_bp"))
      .orderBy(col("container"), col("hour"))

  /** Error CO-OCCURRENCE matrix: pairs of containers that error within
    * the same minute, counted over co-occurring minutes — the blast-
    * radius signal an incident review starts from (containers that fail
    * together share a dependency; a pair that never co-errors is
    * circumstantial). Shape: the pair join runs on the DISTINCT
    * (minute, container) relation — bounded by minutes × containers,
    * NOT by log volume — so at 100 TB the only corpus-sized work is the
    * error filter + distinct, both map-side-combining on the minute
    * key; the join itself stays tiny forever. */
  def errorCooccurrence(s: SparkSession, dir: String): DataFrame = {
    val errs = logsView(s, dir).filter(col("level") === "error")
      .select(date_trunc("minute", col("timestamp")).as("m"), col("container"))
      .distinct()
    errs.as("a").join(errs.as("b"),
        col("a.m") === col("b.m") && col("a.container") < col("b.container"))
      .groupBy(col("a.container").as("container_a"), col("b.container").as("container_b"))
      .agg(count(lit(1)).as("n_minutes"))
      .orderBy(col("container_a"), col("container_b"))
  }

  /** The storage engine itself under the oracle (S1/S4/S7/S8/T4/U1): rows
    * for three sessions are physically written through
    * [[graft.storage.ManifestLog.append]] into a fresh store, one
    * session is compacted hot→cold, one is left hot, one is split across
    * BOTH tiers by appending again after compaction — then everything is
    * read back through [[graft.engine.QueryEngine.readLogs]] with an
    * inclusive time filter. The DuckDB oracle computes the same rows
    * straight from `events`, so any multiset deviation in the
    * append/compact/union-read path (lost rows, double counts, timestamp
    * corruption) turns this CORRECTNESS row red. */
  def logStoreRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.engine.QueryEngine
    import graft.storage.ManifestLog
    // Store files live on the scratch tier (tmpfs when available) — the
    // roundtrip measures the engine's append/compact/read path, not the
    // harness VM's disk-writeback throughput.
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.Scratch.localDir), "graft-roundtrip").toString
    val store = new ManifestLog(s, root)
    val src = logsView(s, dir)
      .filter(col("session").isin("s1", "s5", "s9"))
      .select(col("timestamp"), col("level"), col("message"), col("container"), col("session"))
      .cache()
    val sessions = src.select(col("container"), col("session")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._2)
    sessions.foreach { case (c, sess) =>
      val rows = src.filter(col("container") === c && col("session") === sess)
        .select(col("timestamp"), col("level"), col("message"))
      sess match {
        case "s1" => // fully cold
          store.append(rows, c, sess); store.compact(c, sess)
        case "s5" => // split across tiers: half compacted, half hot
          val mid = rows.filter(col("message") < lit("m"))
          store.append(mid, c, sess); store.compact(c, sess)
          store.append(rows.filter(!(col("message") < lit("m"))), c, sess)
        case _ => // fully hot
          store.append(rows, c, sess)
      }
    }
    val engine = new QueryEngine(store)
    val reads = sessions.map { case (c, sess) =>
      engine.readLogs(c, sess,
        start = Some(java.time.Instant.parse("2024-01-03T00:00:00Z")),
        end = Some(java.time.Instant.parse("2024-01-28T23:59:59Z")))
    }
    // Materialize before cleanup: the result set is three sessions' worth
    // of rows (control-plane-sized), and collecting lets us delete the
    // temp store and release the cache instead of leaking one tmp dir +
    // one pinned cache entry per invocation (Verify + Bench runs).
    val rows = reads.reduce(_ unionAll _)
      .orderBy(col("timestamp"), col("session"), col("message"))
      .collect().toSeq
    src.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
      graft.model.LogSchema.schema)
  }

  /** SNAPSHOT READ under the oracle (time travel, round-9): one
    * session's rows are written through [[graft.storage.ManifestLog]]
    * in two appends, then compacted AND swept (grace-window GC) — and
    * the query reads the store AS OF VERSION 1, the manifest committed
    * by the first append. The pinned snapshot must replay exactly the
    * first append's row set even though its hot file has since been
    * retired by the compaction swap — the reproducibility hook a
    * training-data pipeline needs to cite the precise store state a
    * derivation ran against. The DuckDB oracle computes the same rows
    * straight from `events`, so any snapshot leakage (post-snapshot
    * rows visible, pre-compaction rows lost) turns this row red. */
  def logSnapshotRead(s: SparkSession, dir: String): DataFrame = {
    import graft.storage.ManifestLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.Scratch.localDir), "graft-snapshot").toString
    val log = new ManifestLog(s, root)
    val src = logsView(s, dir).filter(col("session") === "s7").cache()
    // cleanup in finally — a firing require must not leak the temp
    // store + pinned cache on every harness retry (review-caught)
    try {
      // session 's<uid>' determines container 'c<uid%4>' by derivation, so
      // s7 lives in exactly one container; assert it rather than silently
      // relabeling rows if the corpus derivation ever changes
      val cs = src.select(col("container")).distinct().collect().map(_.getString(0))
      require(cs.length == 1, s"session s7 spans containers ${cs.toSeq} — fixture assumption broken")
      val c = cs.head
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      log.append(src.filter(col("timestamp") < cut)
        .select(col("timestamp"), col("level"), col("message")), c, "s7")  // v1 — pinned
      log.append(src.filter(!(col("timestamp") < cut))
        .select(col("timestamp"), col("level"), col("message")), c, "s7")  // v2
      log.compact(c, "s7")                                                 // v3: v1's file retired
      // GC with a grace window: nothing a reader inside the window can
      // still reach is deleted — including v1's retired hot file
      log.expire(c, "s7", java.time.Instant.now().minusSeconds(3600))
      val rows = log.readAt(c, "s7", 1L)
        .orderBy(col("timestamp"), col("session"), col("message"))
        .collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
        graft.model.LogSchema.schema)
    } finally {
      src.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  /** PHYSICAL ROW-LEVEL PURGE under the oracle (round-12): the
    * deletion-request path against the store's own rows, end-to-end.
    * One session is written through [[graft.storage.ManifestLog]] in
    * two appends and compacted; then every `level = 'error'` row is
    * purged through [[graft.storage.ManifestLog.rewriteExcluding]]
    * (staged rewrite-then-swap — the takedown a tombstone mask or
    * curation correction alone cannot honor, because the stored rows
    * survive those) and the grace window is closed with
    * [[graft.storage.ManifestLog.expire]]. The purge+GC pair is the
    * fulfillment contract: after it, the query REQUIRES exactly one
    * readable version to remain (no time-travel path back to a purged
    * row — the multi-version sweep is spec'd file-by-file in
    * RewriteExcludingSpec) and reads the store back. The DuckDB
    * oracle computes the survivor rows straight from `events`, so a
    * purge that loses a survivor, keeps a matching row, or corrupts a
    * timestamp in the rewrite turns this row red. */
  def logPurge(s: SparkSession, dir: String): DataFrame = {
    import graft.storage.ManifestLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.Scratch.localDir), "graft-purge").toString
    val log = new ManifestLog(s, root)
    val src = logsView(s, dir).filter(col("session") === "s7").cache()
    try {
      val cs = src.select(col("container")).distinct().collect().map(_.getString(0))
      require(cs.length == 1, s"session s7 spans containers ${cs.toSeq} — fixture assumption broken")
      val c = cs.head
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      log.append(src.filter(col("timestamp") < cut)
        .select(col("timestamp"), col("level"), col("message")), c, "s7")  // v1
      log.append(src.filter(!(col("timestamp") < cut))
        .select(col("timestamp"), col("level"), col("message")), c, "s7")  // v2
      log.compact(c, "s7")                                                 // v3
      val purged = log.rewriteExcluding(c, "s7", col("level") === "error") // v4
      require(purged > 0, "purge fixture: the corpus has no error rows for s7")
      // close the grace window: after this, no reader — pinned,
      // time-traveling, or current — can reach a purged row
      log.expire(c, "s7", java.time.Instant.now().plusSeconds(60))
      val vs = log.versions(c, "s7")
      require(vs.size == 1,
        s"purge+GC left ${vs.size} readable versions (${vs.mkString(",")}) — time travel could resurrect purged rows")
      val rows = log.read(c, "s7")
        .orderBy(col("timestamp"), col("session"), col("message"))
        .collect().toSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
        graft.model.LogSchema.schema)
    } finally {
      src.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  /** SNAPSHOT-PINNED derivation manifest (round-9) — the
    * reproducibility citation [[logSnapshotRead]]'s time travel exists
    * FOR, as its own first-class pipeline row: a training-data build
    * derives statistics (per-level counts + order-independent integer
    * digests over messages and timestamps) from the store AS OF a
    * pinned manifest version, records the version in the manifest row,
    * and any later audit can re-run the derivation against exactly
    * that state. The op enforces its own contract in-line: after the
    * citation is computed the store is COMPACTED AND GC-SWEPT (v2's
    * hot files retired), the derivation replays against the same
    * pinned version, and the two must be row-identical before
    * anything is emitted — a manifest this engine publishes is one it
    * has already proven replayable. Digests are modular integer sums
    * (md5-derived 60-bit message keys, epoch-micros timestamps), so
    * they are order-independent, overflow-safe, and exactly
    * replayable by the DuckDB oracle straight from `events`. */
  def pipeSnapshotPin(s: SparkSession, dir: String): DataFrame = {
    import graft.storage.ManifestLog
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.Scratch.localDir), "graft-pin").toString
    val log = new ManifestLog(s, root)
    val src = logsView(s, dir).filter(col("session") === "s7").cache()
    // cleanup in finally: the replay require FIRING (the condition the
    // op exists to catch) must not leak the temp store + pinned cache
    // on every harness retry (review-caught; logSnapshotRead's comment
    // documents the leak shape)
    try {
      val cs = src.select(col("container")).distinct().collect().map(_.getString(0))
      require(cs.length == 1, s"session s7 spans containers ${cs.toSeq} — fixture assumption broken")
      val c = cs.head
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      log.append(src.filter(col("timestamp") < cut)
        .select(col("timestamp"), col("level"), col("message")), c, "s7") // v1
      log.append(src.filter(!(col("timestamp") < cut))
        .select(col("timestamp"), col("level"), col("message")), c, "s7") // v2 — pinned
      val pinned = 2L
      def manifestOf(snap: org.apache.spark.sql.DataFrame) = snap
        .groupBy(col("container"), col("session"), col("level"))
        .agg(count(lit(1)).as("n_rows"),
             sum(expr(
               "CAST(conv(substr(md5(message), 1, 15), 16, 10) AS BIGINT) % 1000000007"))
               .as("msg_digest"),
             sum(expr("unix_micros(timestamp) % 1000000007")).as("ts_digest"))
        .withColumn("pinned_version", lit(pinned))
        .select(col("container"), col("session"), col("pinned_version"),
                col("level"), col("n_rows"), col("msg_digest"), col("ts_digest"))
        .orderBy(col("level"))
      val citePlan = manifestOf(log.readAt(c, "s7", pinned))
      val schema = citePlan.schema
      val cite = citePlan.collect().toSeq
      log.compact(c, "s7")                                               // v2's files retired
      log.expire(c, "s7", java.time.Instant.now().minusSeconds(3600))   // swept under grace
      val replay = manifestOf(log.readAt(c, "s7", pinned)).collect().toSeq
      require(cite == replay,
        s"pinned snapshot v$pinned failed to replay after compaction+GC: $cite vs $replay")
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](cite.asJava), schema)
    } finally {
      src.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  /** Top-k most frequent messages per container — the log-triage view
    * ("what is spamming this tenant?") every log service grows. Counts
    * aggregate map-side on (container, message); the per-container
    * ranking is the bounded top-k aggregate with the message as a
    * STRING payload ([[graft.functions.TopKPairs]]) — ≤k messages per
    * container cross the final shuffle, where the window idiom would
    * sort every distinct message. Ties break (count DESC, message ASC),
    * total order, oracle-replayable. */
  def topMessages(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.TopKPairs.register(s)
    logsView(s, dir)
      .groupBy(col("container"), col("message")).agg(count(lit(1)).as("n"))
      .groupBy(col("container"))
      .agg(expr(s"graft_topk(n, message, $k)").as("top"))
      .select(col("container"), posexplode(col("top")))
      .select(col("container"), col("col.payload").as("message"),
        col("col.score").as("n"), (col("pos") + 1).cast("long").as("rk"))
      .orderBy(col("container"), col("rk"))
  }
}
