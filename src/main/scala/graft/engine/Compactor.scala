package graft.engine

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import graft.storage.{LogTier, ManifestLog}

/** Storage lifecycle driver — the reference's rotation + async-flush
  * machinery (writer.py:233-335) re-expressed for the hot/cold
  * [[graft.storage.ManifestLog]]:
  *
  *  - T2 size-based rotation: after an append, when a session's hot tier
  *    reaches `thresholdBytes` (reference: 10 MiB, main.py:28) the
  *    session is queued for compaction;
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
  // In-memory hot-bytes accounting per session (writer.py:246-249): the
  // trigger check is a counter read, not a directory walk per append.
  // Seeded EAGERLY at construction for every session already on disk
  // (covers restarts with pre-existing hot data); sessions born after
  // construction start at 0 and accumulate purely from append sizes —
  // no lazy-seed race that could double-count a concurrent first append.
  private val hotCounters = new ConcurrentHashMap[(String, String), java.util.concurrent.atomic.AtomicLong]()
  store.sessions().foreach { case (c, s) =>
    val hot = store.hotBytes(c, s)
    if (hot > 0) hotCounters.put((c, s), new java.util.concurrent.atomic.AtomicLong(hot))
  }
  @volatile private var closed = false

  /** Record an append's published byte count (`LogTier.append`'s return)
    * and queue compaction when the accumulated hot size crosses the
    * rotation threshold (writer.py:252-259 semantics). */
  def noteAppend(container: String, session: String, bytes: Long): Unit = {
    if (closed || bytes <= 0) return
    val cnt = hotCounters.computeIfAbsent((container, session),
      _ => new java.util.concurrent.atomic.AtomicLong(0L))
    if (cnt.addAndGet(bytes) >= thresholdBytes) trigger(container, session, cnt)
  }

  /** Listing-based trigger check — for callers without byte accounting.
    * The counter reconciles to the directory listing ONLY while no
    * compaction for the session is in flight (the worker clears inFlight
    * after its retired-bytes subtraction, so reconcile and subtraction
    * can never double-apply the same compaction), and via CAS from the
    * observed value so a concurrent noteAppend increment wins over a
    * stale refresh. Reconciling in both directions matters: raise-only
    * would let a listing that races a caller's noteAppend (file visible
    * before the increment) inflate the counter by phantom bytes that
    * nothing ever drains — per-append spurious rotations forever. */
  def maybeCompact(container: String, session: String): Unit =
    if (!closed) {
      val cnt = hotCounters.computeIfAbsent((container, session),
        _ => new java.util.concurrent.atomic.AtomicLong(0L))
      if (!inFlight.contains((container, session))) {
        val observed = cnt.get
        cnt.compareAndSet(observed, store.hotBytes(container, session))
      }
      if (cnt.get >= thresholdBytes) trigger(container, session, cnt)
    }

  private def trigger(container: String, session: String,
                      cnt: java.util.concurrent.atomic.AtomicLong): Unit =
    if (inFlight.add((container, session))) {
      // submit can reject when close() shuts the pool between our
      // closed-check and here: remove the inFlight claim (or it
      // suppresses every future trigger for the session) and swallow —
      // the append that called noteAppend is already durable, and
      // shutdown's flushAll owns the remaining hot data (round-7
      // review: the escaping RejectedExecutionException turned durable
      // appends into "failed" buffer flushes that re-appended).
      try pool.submit(new Runnable {
        def run(): Unit =
          // Subtract exactly the bytes the compaction retired (its hot
          // snapshot), never `set(0)`: appends landing mid-compaction
          // stay counted and re-trigger naturally once this run's
          // inFlight slot frees.
          try {
            val retired = store.compact(container, session)
            cnt.updateAndGet(v => math.max(0L, v - retired))
          } catch { case e: Exception =>
            System.err.println(s"[compactor] $container/$session failed: ${e.getMessage}")
          } finally inFlight.remove((container, session))
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

  private var maintenance: Option[java.util.concurrent.ScheduledExecutorService] = None
  @volatile private var leaseToRelease: Option[graft.storage.MaintenanceLease] = None

  /** Background maintenance loop — the operational completeness around
    * rotation: every `period`, each known session gets a listing-based
    * rotation check ([[maybeCompact]], catching sessions whose appends
    * bypassed byte accounting), and, when enabled, snapshot GC.
    *
    * `manifestGcGrace` ([[graft.storage.ManifestLog.expire]]) sweeps
    * retired files and superseded manifests older than the grace
    * horizon — without it a served store grows forever. Opt-in because
    * a horizon shorter than the longest reader scan / publish stall
    * deletes files in use. The sweep re-reads the manifest history
    * under the session's manifest lock, so it runs on its own COARSER
    * cadence (~grace/24, capped at hourly, at least every tick) —
    * sweeping at the rotation period would buy nothing and block
    * append commits behind each scan.
    *
    * Failures are contained per session per operation: one corrupt
    * footer or unlistable directory must not starve every other session
    * of its rotation check. One scheduler thread; each tick is
    * driver-cheap listings plus whatever compactions it queues on the
    * bounded pool. Idempotent to call once; stopped by [[close]]. */
  /** Ticks on which this instance actually ran the manifest GC sweep —
    * observable seam for the lease spec (a non-owner must stay at 0). */
  private[graft] val gcSweepTicks = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Drift-gate observability: checks run / rebuilds triggered by the
    * `annDrift` hook (spec seam — a healthy index must show checks > 0
    * with rebuilds = 0). */
  private[graft] val annDriftChecks = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val annDriftRebuilds = new java.util.concurrent.atomic.AtomicLong(0L)
  /** ANN generation-GC observability (round-15 verdict #2): sweeps this
    * instance actually RAN (lease held) and tables dropped across them.
    * A lease-contended attempt counts toward neither — the spec's
    * non-owner instance must stay at 0 sweeps. */
  private[graft] val annGcSweeps = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val annGcDropped = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Postings-family compaction observability (round-16): compactions
    * this instance actually RAN (lease held) and replayed rows
    * collapsed across them; a lease-contended attempt counts toward
    * neither — the same owner-only accounting as the ANN GC sweep. */
  private[graft] val postingsCompactions = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val postingsRowsCollapsed = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `annDrift`: an opt-in drift gate (round-10 verdict #3 — nothing
    * decided WHEN to rebuild an ANN generation), typically
    * `() => IndexTables.maybeRebuildAnnIndexes(spark, dir, holder)`.
    * Runs on its OWN coarse cadence (`annDriftEvery`, default = the
    * GC cadence floored at ~10 minutes — the check prices a
    * sampled-recall corpus pass, real work like the expire sweep),
    * returns Some when it rebuilt. A thunk, not a config object: the
    * engine tier stays ignorant of the ops tier's index machinery, and
    * the gate's own lease/thrash discipline lives with the gate. */
  def startMaintenance(period: java.time.Duration,
                       manifestGcGrace: Option[java.time.Duration] = None,
                       gcLease: Option[graft.storage.MaintenanceLease] = None,
                       annDrift: Option[() => Option[(Long, Long)]] = None,
                       annDriftEvery: Option[java.time.Duration] = None,
                       annGc: Option[() => Option[Int]] = None,
                       postingsCompact: Option[() => Option[(Long, Long)]] = None): Unit =
    synchronized {
      if (closed || maintenance.isDefined) return
      leaseToRelease = gcLease
      if (manifestGcGrace.isDefined && !store.isInstanceOf[ManifestLog])
        System.err.println("[compactor] manifestGcGrace requested but the storage " +
          "tier is not a ManifestLog; GC sweep ignored")
      val sched = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t
      })
      def guarded(what: String, c: String, s: String)(op: => Unit): Unit =
        try op catch { case e: Exception =>
          // e.toString, not getMessage: an NPE-style null message would
          // otherwise log as "failed: null" with no class to chase
          System.err.println(s"[compactor] maintenance $what for $c/$s failed: $e" +
            e.getStackTrace.take(3).map(f => s"\n    at $f").mkString)
        }
      // GC cadence: the expire sweep re-reads every retained manifest
      // under the session's manifest lock — real work, pointless at the
      // rotation period when the horizon is hours/days. Sweep every
      // ~grace/24 (hourly at most, every tick at least): tiny test
      // graces sweep per tick, a 3-day production grace sweeps hourly.
      val gcEveryTicks = manifestGcGrace.map { g =>
        math.max(1L, math.min(3600000L, g.toMillis / 24) / math.max(1L, period.toMillis))
      }.getOrElse(1L)
      // The drift check prices a sampled-recall CORPUS pass — real
      // work, so it gets its own cadence (review-caught: it previously
      // inherited the GC tick, whose no-grace default is EVERY tick —
      // an instance running annDrift without snapshot GC paid a corpus
      // scan per rotation period, serialized on this one thread).
      // `annDriftEvery` sets the target interval between checks;
      // default = the GC cadence floored at ~10 minutes.
      val annDriftEveryTicks = annDriftEvery
        .map(d => math.max(1L, d.toMillis / math.max(1L, period.toMillis)))
        .getOrElse(math.max(gcEveryTicks, 600000L / math.max(1L, period.toMillis)))
      val tick = new java.util.concurrent.atomic.AtomicLong(0L)
      sched.scheduleWithFixedDelay(new Runnable {
        def run(): Unit =
          try {
            val now = java.time.Instant.now()
            val t = tick.getAndIncrement()
            val gcTick = t % gcEveryTicks == 0
            val driftTick = t % annDriftEveryTicks == 0
            // Cluster-wide sweep dedup: with a lease configured, only
            // the current lease OWNER runs the GC sweep this tick —
            // N gateways on one manifest root pay one expire scan, not
            // N (acquire IS renew, so a live owner keeps the window;
            // a crashed owner hands over after one lease TTL). Without
            // a lease every gateway sweeps — safe (expire is CAS-side
            // idempotent), just duplicated work.
            // the acquire is guarded on its own: a transient fault on
            // the shared root's lease store must read as "not owner
            // this tick", never abort the whole tick before the
            // per-session rotation checks even run (review-caught)
            val gcOwner = gcTick && manifestGcGrace.isDefined &&
              store.isInstanceOf[ManifestLog] &&
              gcLease.forall(l =>
                try l.tryAcquire() catch { case e: Exception =>
                  System.err.println(s"[compactor] gc lease acquire failed: ${e.getMessage}")
                  false
                })
            if (gcOwner) gcSweepTicks.incrementAndGet()
            store.sessions().foreach { case (c, s) =>
              guarded("rotation", c, s)(maybeCompact(c, s))
              store match {
                case ml: ManifestLog if gcOwner =>
                  manifestGcGrace.foreach(g =>
                    guarded("manifest gc", c, s)(ml.expire(c, s, now.minus(g))))
                case _ => ()
              }
            }
            // the ANN drift gate has its OWN coarse cadence (not the
            // GC lease): the gate runs its rebuild under the INDEX
            // maintenance lease (per data dir), so cross-gateway dedup
            // is the gate's own concern — here it only needs the tick
            if (driftTick) annDrift.foreach { gate =>
              guarded("ann drift gate", "-", "-") {
                annDriftChecks.incrementAndGet()
                if (gate().isDefined) annDriftRebuilds.incrementAndGet()
              }
            }
            // ANN generation GC (round-15 verdict #2 — previously a
            // manual call, so a long-lived deployment accumulated
            // superseded generations until someone swept by hand).
            // Opt-in thunk, typically
            // `() => IndexTables.gcAnnGenerations(spark, dir, holder)`;
            // runs on the GC cadence. Cross-gateway dedup is the
            // sweep's own per-data-dir maintenance lease (the SAME
            // lease rebuilds hold, so a sweep can never race a flip):
            // a contended attempt returns None and counts as nothing —
            // only the lease owner's sweeps show up in [[annGcSweeps]].
            if (gcTick) annGc.foreach { sweep =>
              guarded("ann generation gc", "-", "-") {
                sweep().foreach { dropped =>
                  annGcSweeps.incrementAndGet()
                  annGcDropped.addAndGet(dropped.toLong)
                }
              }
            }
            // Postings-family compaction (round-16): the lexical
            // index's batch-side maintenance half — collapses
            // at-least-once append replays and re-derives the dl/df/
            // corp stat tables from the postings ledger — joins the
            // same scheduled cadence as the ANN sweeps instead of
            // being a manual call. Opt-in thunk, typically
            // `() => IndexTables.compactPostingsIndex(spark, dir, holder)`;
            // cross-gateway dedup is the compaction's own per-data-dir
            // maintenance lease (shared with ANN rebuilds, so a
            // compaction can never race an index flip): a contended
            // attempt returns None and counts as nothing.
            if (gcTick) postingsCompact.foreach { compact =>
              guarded("postings compaction", "-", "-") {
                compact().foreach { case (before, after) =>
                  postingsCompactions.incrementAndGet()
                  postingsRowsCollapsed.addAndGet(before - after)
                }
              }
            }
          } catch { case e: Exception => // sessions() listing itself failed
            System.err.println(s"[compactor] maintenance tick failed: ${e.getMessage}")
          }
      }, period.toMillis, period.toMillis, TimeUnit.MILLISECONDS)
      maintenance = Some(sched)
    }

  /** Drain pending work, then final flush (reference cleanup_handler). */
  override def close(): Unit = {
    closed = true
    // AWAIT the scheduler before releasing the lease: an in-flight
    // tick can be inside tryAcquire, and release-then-re-acquire would
    // leave this dead gateway the recorded holder for a full TTL —
    // exactly the slow handover the release exists to avoid
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
