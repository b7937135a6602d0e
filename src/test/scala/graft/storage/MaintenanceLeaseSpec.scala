package graft.storage

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import graft.SparkSuite

/** The cross-process maintenance window, executable: one CAS lease per
  * maintenance domain, mutual exclusion between holders, bounded
  * takeover after a crash (TTL), immediate takeover after a clean
  * release, and the Compactor integration — N gateways on one manifest
  * root pay ONE GC sweep, owned by the lease holder, with ownership
  * migrating when the holder shuts down. */
class MaintenanceLeaseSpec extends SparkSuite {

  private def fsFor(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def leasePair(ttlMs: Long): (MaintenanceLease, MaintenanceLease) = {
    val dir = new Path(tempDir("lease"))
    (new MaintenanceLease(fsFor(dir), dir, "holder-a", ttlMs),
     new MaintenanceLease(fsFor(dir), dir, "holder-b", ttlMs))
  }

  private def eventually(timeoutMs: Long = 15000L, pollMs: Long = 50L)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) { Thread.sleep(pollMs); ok = cond }
    ok
  }

  test("second holder is excluded until release, then acquires immediately") {
    val (a, b) = leasePair(ttlMs = 60000L)
    assert(a.tryAcquire() && a.held)
    assert(!b.tryAcquire() && !b.held, "two live holders of one lease")
    assert(b.withLease(42).isEmpty, "withLease ran under a foreign live lease")
    assert(a.renew(), "holder could not renew its own live lease")
    a.release()
    assert(!a.held)
    // clean release hands over WITHOUT waiting out the 60 s TTL
    assert(b.tryAcquire() && b.held)
    assert(!a.tryAcquire(), "released holder re-entered a foreign live lease")
  }

  test("a crashed holder's lease is taken over after the TTL, and its renew then fails") {
    // asymmetric TTLs: only the CRASHING holder's lease is short — the
    // survivor's must outlive the remaining asserts even when parallel
    // suites steal the CPU for seconds (a shared 300 ms TTL let B's own
    // takeover lease expire before A's re-acquire probe, flaking)
    val dir = new Path(tempDir("lease"))
    val a = new MaintenanceLease(fsFor(dir), dir, "holder-a", ttlMs = 300L)
    val b = new MaintenanceLease(fsFor(dir), dir, "holder-b", ttlMs = 60000L)
    assert(a.tryAcquire())
    // "crash": a never renews and never releases
    assert(eventually()(b.tryAcquire()), "takeover never happened after TTL expiry")
    // a's local belief has expired; renew must refuse (and not steal back)
    assert(!a.renew(), "expired holder renewed over the new owner")
    assert(!a.tryAcquire(), "expired holder re-acquired over the new owner's live lease")
  }

  test("a torn frontier record wedges acquisition only for one TTL, then is superseded") {
    // a committer killed mid-write on an O_EXCL-fallback mount leaves
    // the slot permanently unreadable — without the unwedge, every
    // gateway would skip GC/compaction forever with nothing surfaced
    val dir = new Path(tempDir("lease"))
    val fs = fsFor(dir)
    fs.mkdirs(dir)
    val torn = new Path(dir, f"v${1L}%020d.json")
    val out = fs.create(torn, false)
    out.write("#graft-state 999\ntruncated".getBytes("UTF-8")) // frame longer than body
    out.close()
    val a = new MaintenanceLease(fs, dir, "holder-a", ttlMs = 300L)
    assert(!a.tryAcquire(), "acquired through an in-flight/torn frontier immediately")
    assert(!a.tryAcquire(), "torn slot must wedge until a full TTL has passed")
    Thread.sleep(400)
    assert(a.tryAcquire(), "torn frontier never superseded after the TTL")
    assert(a.held)
  }

  test("withLease storm: two instances, eight threads, never two concurrent windows") {
    val (a, b) = leasePair(ttlMs = 60000L)
    val active = new AtomicInteger(0)
    val maxActive = new AtomicInteger(0)
    val ran = new AtomicInteger(0)
    val threads = (0 until 8).map { i =>
      val lease = if (i % 2 == 0) a else b
      new Thread(() => {
        (0 until 25).foreach { _ =>
          lease.withLease {
            val now = active.incrementAndGet()
            maxActive.accumulateAndGet(now, math.max)
            ran.incrementAndGet()
            active.decrementAndGet()
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(ran.get > 0, "no window ever ran — vacuous")
    assert(maxActive.get == 1, s"observed ${maxActive.get} concurrent maintenance windows")
  }

  test("two gateways, one manifest root: only the lease owner runs the GC sweep; ownership migrates on close") {
    val root = tempDir("mroot")
    val leaseDir = new Path(root, "_maintenance/gc-sweep")
    val logA = new ManifestLog(spark, root)
    val logB = new ManifestLog(spark, root)
    val leaseA = new MaintenanceLease(fsFor(leaseDir), leaseDir, "gw-a", ttlMs = 60000L)
    val leaseB = new MaintenanceLease(fsFor(leaseDir), leaseDir, "gw-b", ttlMs = 60000L)
    val compA = new graft.engine.Compactor(logA)
    val compB = new graft.engine.Compactor(logB)
    try {
      val period = java.time.Duration.ofMillis(100)
      val grace = java.time.Duration.ofMillis(1)
      compA.startMaintenance(period, manifestGcGrace = Some(grace), gcLease = Some(leaseA))
      assert(eventually()(compA.gcSweepTicks.get >= 2L), "owner never swept")
      compB.startMaintenance(period, manifestGcGrace = Some(grace), gcLease = Some(leaseB))
      // several of B's ticks pass under A's ownership: B must not sweep
      Thread.sleep(600)
      assert(compB.gcSweepTicks.get == 0L,
        s"non-owner ran ${compB.gcSweepTicks.get} GC sweeps under a live foreign lease")
      // owner shuts down → clean release → B takes over without TTL wait
      compA.close()
      assert(eventually()(compB.gcSweepTicks.get >= 1L),
        "ownership did not migrate after the owner closed")
    } finally { try compA.close() catch { case _: Exception => () }; compB.close() }
  }
}
