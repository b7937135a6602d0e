package graft.engine

import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import graft.storage.{LogTier, MaintenanceLease, ManifestLog}

/** Storage lifecycle driver — the reference's rotation + async-flush
  * machinery (writer.py:233-335) re-expressed for the hot/cold
  * [[graft.storage.ManifestLog]]:
  *
  *  - T2 size-based rotation: after an append, when a session's hot tier
  *    reaches `thresholdBytes` (reference: 10 MiB, main.py:28) the
  *    session is queued for compaction. The hot size is the store's own
  *    ([[LogTier.hotBytes]], read off the manifest), so a restart, a
  *    second gateway on the same root or an append that bypassed this
  *    instance all see the same number;
  *  - T3 async flush: compaction runs on a bounded background pool, so
  *    the append ack never waits for archival (ack = durable in hot,
  *    main.py:330-337);
  *  - T5 graceful shutdown: `close()` drains the queue and synchronously
  *    compacts every remaining hot session (main.py:350-365).
  *
  * Exactly-once is the store's job (the manifest swap), so a duplicate
  * trigger is merely a no-op compaction of an empty hot tier.
  * At cluster scale each compaction is a distributed Spark job; the pool
  * here only bounds how many such jobs are in flight at once.
  * Construction touches no storage.
  */
final class Compactor(store: LogTier,
                      thresholdBytes: Long = 10L * 1024 * 1024,
                      workers: Int = math.max(1, Runtime.getRuntime.availableProcessors / 4))
    extends AutoCloseable {

  private val pool = Executors.newFixedThreadPool(workers, r => {
    val t = new Thread(r, "graft-compactor"); t.setDaemon(true); t
  })
  // Sessions queued-or-running: collapses repeated triggers into one run.
  private val inFlight = ConcurrentHashMap.newKeySet[(String, String)]()
  @volatile private var closed = false

  /** A failure that only reports [[close]] interrupting in-flight work. */
  private def interruptedByClose(e: Throwable): Boolean =
    closed && (Thread.currentThread.isInterrupted ||
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
        case _: InterruptedException | _: java.io.InterruptedIOException => true
        case _ => false
      })

  private def logFailure(what: String, e: Exception): Unit =
    if (!interruptedByClose(e))
      // e.toString, not getMessage: an NPE-style null message would
      // otherwise log as "failed: null" with no class to chase
      System.err.println(s"[compactor] $what failed: $e" +
        e.getStackTrace.take(3).map(f => s"\n    at $f").mkString)

  /** The rotation check (writer.py:252-259): queue a compaction when the
    * session's hot tier has reached the threshold and none is already
    * queued or running for it. Callers run it after an append that is
    * already durable, so a failure is logged and never rethrown — an
    * escaping exception would report the committed batch as a failed
    * flush, and the ingest buffer would append it again. */
  def maybeCompact(container: String, session: String): Unit =
    try {
      if (!closed && !inFlight.contains((container, session)) &&
          store.hotBytes(container, session) >= thresholdBytes)
        trigger(container, session)
    } catch { case e: Exception => logFailure(s"rotation check for $container/$session", e) }

  private def trigger(container: String, session: String): Unit =
    if (inFlight.add((container, session))) {
      // submit rejects once close() has shut the pool: drop the claim
      // (or it suppresses every later trigger for the session); the
      // shutdown flush owns the remaining hot data
      try pool.submit(new Runnable {
        def run(): Unit =
          try store.compact(container, session)
          catch { case e: Exception => logFailure(s"compaction of $container/$session", e) }
          finally inFlight.remove((container, session))
      })
      catch { case _: java.util.concurrent.RejectedExecutionException =>
        inFlight.remove((container, session)); ()
      }
    }

  /** Synchronously compact every session with hot data (shutdown flush). */
  def flushAll(): Unit =
    store.sessions().foreach { case (c, s) =>
      if (store.hotBytes(c, s) > 0) store.compact(c, s)
    }

  private var maintenance: Option[ScheduledExecutorService] = None
  @volatile private var leaseToRelease: Option[MaintenanceLease] = None
  /** Ticks on which this instance actually ran the manifest GC sweep —
    * observable seam for the lease spec (a non-owner must stay at 0). */
  private[graft] val gcSweepTicks = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Background maintenance loop — the operational completeness around
    * rotation: every `period`, each known session gets the rotation
    * check ([[maybeCompact]], catching sessions whose appends never
    * passed through this instance), and, when enabled, snapshot GC.
    *
    * `manifestGcGrace` ([[graft.storage.ManifestLog.expire]]) sweeps
    * retired files and superseded manifests older than the grace
    * horizon — without it a served store grows forever. Opt-in because
    * a horizon shorter than the longest reader scan / publish stall
    * deletes files in use. The sweep re-reads the manifest history
    * under the session's manifest lock, so it runs on its own COARSER
    * cadence (~grace/24, capped at hourly, at least every tick) —
    * sweeping at the rotation period would buy nothing and block
    * append commits behind each scan. With `gcLease`, only the lease
    * owner sweeps on a tick: N gateways on one manifest root pay one
    * expire scan, not N (acquire IS renew; a crashed owner hands over
    * after one lease TTL).
    *
    * Failures are contained per session per operation: one corrupt
    * footer or unlistable directory must not starve every other session
    * of its rotation check. One scheduler thread; each tick is
    * driver-cheap listings plus whatever compactions it queues on the
    * bounded pool. Idempotent to call once; stopped by [[close]]. */
  def startMaintenance(period: java.time.Duration,
                       manifestGcGrace: Option[java.time.Duration] = None,
                       gcLease: Option[MaintenanceLease] = None): Unit =
    synchronized {
      if (closed || maintenance.isDefined) return
      leaseToRelease = gcLease
      val gcStore = store match {
        case ml: ManifestLog => manifestGcGrace.map(g => (ml, g))
        case _ =>
          if (manifestGcGrace.isDefined)
            System.err.println("[compactor] manifestGcGrace requested but the storage " +
              "tier is not a ManifestLog; GC sweep ignored")
          None
      }
      val sched = Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t
      })
      // tiny test graces sweep per tick, a 3-day production grace hourly
      val gcEveryTicks = manifestGcGrace.map { g =>
        math.max(1L, math.min(3600000L, g.toMillis / 24) / math.max(1L, period.toMillis))
      }.getOrElse(1L)
      val tick = new java.util.concurrent.atomic.AtomicLong(0L)
      sched.scheduleWithFixedDelay(new Runnable {
        def run(): Unit =
          try {
            val now = java.time.Instant.now()
            // a transient fault on the shared root's lease store reads
            // as "not owner this tick", never aborts the rotation checks
            val gc = gcStore.filter(_ => tick.getAndIncrement() % gcEveryTicks == 0 &&
              gcLease.forall(l =>
                try l.tryAcquire() catch { case e: Exception =>
                  logFailure("gc lease acquire", e); false
                }))
            if (gc.isDefined) gcSweepTicks.incrementAndGet()
            store.sessions().iterator.takeWhile(_ => !closed).foreach { case (c, s) =>
              maybeCompact(c, s)
              gc.foreach { case (ml, grace) =>
                try ml.expire(c, s, now.minus(grace))
                catch { case e: Exception => logFailure(s"manifest gc for $c/$s", e) }
              }
            }
          } catch { case e: Exception => logFailure("maintenance tick", e) }
      }, period.toMillis, period.toMillis, TimeUnit.MILLISECONDS)
      maintenance = Some(sched)
    }

  /** Drain pending work, then final flush (reference cleanup_handler). */
  override def close(): Unit = {
    closed = true
    // AWAIT the scheduler before releasing the lease: an in-flight
    // tick can be inside tryAcquire, and release-then-re-acquire would
    // leave this dead gateway the recorded holder for a full TTL
    synchronized { maintenance.foreach(_.shutdownNow()); maintenance }
      .foreach(_.awaitTermination(10, TimeUnit.SECONDS))
    synchronized { maintenance = None }
    // hand the GC window back promptly so a surviving gateway takes
    // over on its next tick instead of waiting out the lease TTL
    leaseToRelease.foreach(l => try l.release() catch { case _: Exception => () })
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    flushAll()
  }
}
