package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.engine.Compactor
import graft.storage.ManifestLog

/** Continuous ingest as Structured Streaming (SURVEY §2.8): the
  * reference's micro-batch append loop (writer.py:233-259) re-expressed
  * as `readStream` over a drop directory of JSON-lines files →
  * validation/cast transform → `foreachBatch` publishing into the
  * [[ManifestLog]].
  *
  * Semantics:
  *  - each input line is `{"timestamp","level","message","container",
  *    "session"}` — the denormalized 5-column shape (schema.py:4-10);
  *  - timestamps are ISO-8601 (`Z`/offset accepted) cast to
  *    timestamp(µs, UTC); rows that fail the cast, miss a required
  *    field, or carry an invalid namespace id are routed to a
  *    `rejects/` dead-letter dir as JSON instead of poisoning the batch
  *    (a stream cannot return HTTP 400 — the dead letter IS the
  *    validation surface);
  *  - publishing uses [[ManifestLog.appendIdempotent]] keyed on
  *    (batchId): with the file-source checkpoint this makes ingest
  *    exactly-once end-to-end — a replayed micro-batch finds its tag
  *    already committed in the session's manifest (compaction keeps it
  *    as a tombstone entry, so the manifest is the replay ledger) and
  *    skips;
  *  - every publish pokes the [[Compactor]], so size-triggered rotation
  *    runs exactly as in the HTTP path.
  *
  * Scale: the per-batch loop over (container, session) groups is
  * driver-side but bounded by active-session count (same shape as the
  * reference's per-session buffer map); the data path — parse, cast,
  * partition write — is distributed.
  */
final class StreamingIngest(spark: SparkSession, store: ManifestLog,
                            compactor: Compactor, inputDir: String,
                            checkpointDir: String, rejectsDir: String) {

  private val inputSchema = StructType(Seq(
    StructField("timestamp", StringType), StructField("level", StringType),
    StructField("message", StringType), StructField("container", StringType),
    StructField("session", StringType)))

  // the ONE id grammar, shared with the HTTP path's full-match check
  // (LogSchema doc explains the \A/\z anchor requirement for rlike)
  private val idRe = graft.model.LogSchema.IdPattern

  // Naive timestamps must mean UTC on EVERY ingest path — the HTTP
  // path's parseIsoFlexible contract. try_to_timestamp interprets
  // offset-less strings in the SESSION zone, so a non-UTC session
  // would silently store different instants for the same record via
  // streaming vs HTTP (round-7 review). Fail construction instead.
  require(spark.conf.get("spark.sql.session.timeZone", "").equalsIgnoreCase("UTC"),
    "StreamingIngest requires spark.sql.session.timeZone=UTC so naive " +
    "timestamps mean UTC on every ingest path")

  /** Test seam: invoked at the START of each per-key drain task, on the
    * pool thread. StreamingIngestSpec points this at a latch to prove
    * the drains genuinely overlap (a serialized loop would time out). */
  @volatile private[streaming] var drainHook: (String, String) => Unit = (_, _) => ()

  /** Start the ingest stream. `Trigger.AvailableNow` drains what exists
    * and stops (good for tests/backfill); pass a processing-time trigger
    * for continuous tailing. */
  def start(trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(inputSchema)
      .json(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => publish(batch, batchId) }
      .start()

  private def publish(batch: DataFrame, batchId: Long): Unit = {
    val typed = batch
      // try_to_timestamp: malformed input → NULL → dead-letter, instead of
      // the ANSI cast error that would kill the whole stream.
      .withColumn("ts", try_to_timestamp(col("timestamp")))
      .withColumn("valid",
        col("ts").isNotNull && col("level").isNotNull && col("message").isNotNull &&
        col("container").isNotNull && col("session").isNotNull &&
        col("container").rlike(idRe) && col("session").rlike(idRe))
      .cache()
    try {
      val rejects = typed.filter(!col("valid"))
        .select(col("timestamp"), col("level"), col("message"), col("container"), col("session"))
      // Overwrite the batch-deterministic path: a replayed micro-batch
      // rewrites the same dead-letter dir instead of appending duplicates
      // (exactly-once for rejects too, not just published data).
      if (!rejects.isEmpty)
        rejects.write.mode("overwrite").json(s"$rejectsDir/batch=$batchId")

      val good = typed.filter(col("valid"))
        .select(col("ts").as("timestamp"), col("level"), col("message"),
                col("container"), col("session"))
      val keys = good.select(col("container"), col("session")).distinct()
        .collect().map(r => (r.getString(0), r.getString(1)))
      // Per-key appends are independent (each commits its own session's
      // manifest, and the Compactor's rotation check reads only that
      // manifest), so a batch touching many tenants drains on a bounded
      // pool instead of serializing —
      // Spark job submission is thread-safe, and a failed append still
      // fails the whole batch (get() below rethrows) so the replayed
      // batch re-runs every key under the same idempotence tag.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(math.max(keys.length, 1), 8))
      try {
        val futures = keys.map { case (c, s) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              drainHook(c, s)
              store.appendIdempotent(
                good.filter(col("container") === c && col("session") === s)
                  .select(col("timestamp"), col("level"), col("message")),
                c, s, s"stream-$batchId")
              compactor.maybeCompact(c, s)
            }
          })
        }
        // Await EVERY task before rethrowing the first failure: an
        // early rethrow left sibling appends running after the batch
        // was reported failed — orphan publishes racing the replayed
        // batch's same-tag appends, with their own errors silently
        // dropped (round-7 review). Draining all futures bounds the
        // batch: when publish() returns or throws, nothing is still
        // writing.
        var primary: Throwable = null
        futures.foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (primary == null) primary = e.getCause
              else primary.addSuppressed(e.getCause)
          }
        }
        if (primary != null) throw primary
      } finally pool.shutdown()
    } finally typed.unpersist()
  }
}
