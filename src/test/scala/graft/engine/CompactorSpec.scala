package graft.engine

import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSuite
import graft.model.LogSchema
import graft.storage.{LogTier, ManifestLog}

class CompactorSpec extends SparkSuite {

  private def append(store: ManifestLog, n: Int, c: String = "c", s: String = "s"): Unit =
    store.append(spark.createDataFrame(
      (1 to n).map(i => Row(Timestamp.from(Instant.parse("2024-01-01T00:00:00Z")), "INFO", s"row$i")).asJava,
      LogSchema.fileSchema), c, s)

  test("size-triggered rotation: hot drains to cold once the threshold is crossed, counts identical") {
    val store = new ManifestLog(spark, tempDir("compactor"))
    val compactor = new Compactor(store, thresholdBytes = 1) // any append triggers
    try {
      append(store, 10)
      compactor.maybeCompact("c", "s")
      // async: wait for the background compaction to land. Deadline is
      // deliberately huge — suites share one SparkSession and this job
      // can be starved behind other suites' FIFO-queued jobs (observed
      // as a full-suite-only flake); the common case exits in seconds.
      val deadline = System.currentTimeMillis + 240000
      while (store.hotBytes("c", "s") > 0 && System.currentTimeMillis < deadline) Thread.sleep(100)
      val (coldFiles, _, hotFiles, _) = store.tierStats("c", "s")
      assert(coldFiles > 0 && hotFiles === 0, "hot tier should have drained to cold")
      assert(store.read("c", "s").count() === 10)
    } finally compactor.close()
  }

  test("below threshold: no compaction queued") {
    val store = new ManifestLog(spark, tempDir("compactor"))
    val compactor = new Compactor(store, thresholdBytes = Long.MaxValue)
    try {
      append(store, 3)
      compactor.maybeCompact("c", "s")
      Thread.sleep(300)
      val (coldFiles, _, hotFiles, _) = store.tierStats("c", "s")
      assert(coldFiles === 0 && hotFiles === 1)
    } finally compactor.close()
  }

  test("noteAppend: counter-based rotation triggers only once the accumulated bytes cross the threshold") {
    // probe: measure the size of one batch file, then start clean
    val probeStore = new ManifestLog(spark, tempDir("compactor-probe"))
    val oneBatch = probeStore.append(spark.createDataFrame(
      (1 to 3).map(i => Row(Timestamp.from(Instant.parse("2024-01-01T00:00:00Z")), "INFO", s"row$i")).asJava,
      LogSchema.fileSchema), "c", "s")
    assert(oneBatch > 0)

    val store = new ManifestLog(spark, tempDir("compactor"))
    // threshold just above one batch: the first check must NOT
    // trigger, the second (accumulated) must
    val compactor = new Compactor(store, thresholdBytes = oneBatch + 1)
    try {
      def appendBatch(): Long = store.append(spark.createDataFrame(
        (1 to 3).map(i => Row(Timestamp.from(Instant.parse("2024-01-01T00:00:00Z")), "INFO", s"row$i")).asJava,
        LogSchema.fileSchema), "c", "s")
      appendBatch(); compactor.maybeCompact("c", "s")
      Thread.sleep(300)
      assert(store.tierStats("c", "s")._1 === 0, "compacted below threshold")
      appendBatch(); compactor.maybeCompact("c", "s")
      val deadline = System.currentTimeMillis + 240000 // see rotation test
      while (store.hotBytes("c", "s") > 0 && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(store.hotBytes("c", "s") === 0, "accumulated bytes should have triggered rotation")
      assert(store.read("c", "s").count() === 6)
    } finally compactor.close()
  }

  test("maintenance loop over a ManifestLog: rotation + opt-in snapshot GC collect retired files") {
    val root = tempDir("maint-ml")
    val store = new ManifestLog(spark, root)
    val compactor = new Compactor(store, thresholdBytes = 1)
    try {
      val b = spark.createDataFrame(
        Seq(Row(Timestamp.from(Instant.parse("2024-01-01T00:00:00Z")), "INFO", "x"),
            Row(Timestamp.from(Instant.parse("2024-01-01T00:01:00Z")), "INFO", "y")).asJava,
        LogSchema.fileSchema)
      store.append(b, "c", "s")
      store.append(b, "c", "s")
      // small-but-nonzero grace: zero would race compaction's
      // publish window (a renamed-but-unswapped cold file matches
      // expire's never-visible rule the instant it lands), aborting
      // and retrying the compaction — 2 s dwarfs the ms-scale
      // rename→commit gap while keeping the test fast; no reader is
      // pinned to an old manifest here
      compactor.startMaintenance(java.time.Duration.ofMillis(100),
        manifestGcGrace = Some(java.time.Duration.ofSeconds(2)))
      def hotFilesOnDisk(): Int = {
        val d = new java.io.File(s"$root/hot/container=c/session=s")
        if (!d.isDirectory) 0
        else d.listFiles.count(f => f.isFile && f.getName.endsWith(".parquet"))
      }
      val deadline = System.currentTimeMillis + 480000
      while ((store.tierStats("c", "s")._3 > 0 || hotFilesOnDisk() > 0) &&
             System.currentTimeMillis < deadline) Thread.sleep(200)
      // rotation moved hot → cold (manifest view) AND the GC sweep
      // deleted the retired hot files from disk, not just the manifest
      assert(store.tierStats("c", "s")._3 == 0, "maintenance never rotated the manifest session")
      assert(hotFilesOnDisk() == 0, "snapshot GC left retired hot files on disk")
      assert(store.read("c", "s").count() === 4)
    } finally compactor.close()
  }

  test("maintenance loop rotates hot sessions whose appends bypassed byte accounting") {
    val store = new ManifestLog(spark, tempDir("maint"))
    val compactor = new Compactor(store, thresholdBytes = 1) // any hot byte rotates
    try {
      append(store, 1) // no rotation check after it — only the maintenance tick runs one
      compactor.startMaintenance(java.time.Duration.ofMillis(100))
      // Deliberately huge deadline: suites run in parallel on ONE shared
      // SparkSession, so this test's compaction job can be starved for
      // minutes behind other suites' FIFO-queued jobs; the common case
      // exits in a few seconds.
      val deadline = System.currentTimeMillis + 480000
      while (store.tierStats("c", "s")._3 > 0 && System.currentTimeMillis < deadline)
        Thread.sleep(200)
      assert(store.tierStats("c", "s")._3 === 0, "maintenance should have rotated the session")
      assert(store.tierStats("c", "s")._1 > 0, "rows landed cold")
      assert(store.read("c", "s").count() === 1)
    } finally compactor.close()
  }

  test("close() performs the shutdown flush (T5): all hot sessions compacted synchronously") {
    val store = new ManifestLog(spark, tempDir("compactor"))
    val compactor = new Compactor(store, thresholdBytes = Long.MaxValue)
    append(store, 2, "c1", "s1")
    append(store, 2, "c2", "s2")
    compactor.close()
    assert(store.hotBytes("c1", "s1") === 0 && store.hotBytes("c2", "s2") === 0)
    assert(store.read("c1", "s1").count() === 2)
    assert(store.read("c2", "s2").count() === 2)
  }

  /** A [[LogTier]] over `inner` that counts every call and answers
    * `hotBytes` through `hot` (default: the inner store). */
  private final class StubTier(inner: ManifestLog) extends LogTier {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var hot: (String, String) => Long = inner.hotBytes
    private def call[T](t: => T): T = { calls.incrementAndGet(); t }
    def read(c: String, s: String): DataFrame = call(inner.read(c, s))
    def append(df: DataFrame, c: String, s: String): Long = call(inner.append(df, c, s))
    def tierStats(c: String, s: String): (Long, Long, Long, Long) = call(inner.tierStats(c, s))
    def sessions(): Seq[(String, String)] = call(inner.sessions())
    override def hotBytes(c: String, s: String): Long = call(hot(c, s))
    def compact(c: String, s: String): Long = call(inner.compact(c, s))
    override def withReadSnapshot[T](c: String, s: String)(f: => T): T = call(f)
    def statsAndRows(c: String, s: String): ((Long, Long, Long, Long), Long) =
      call(inner.statsAndRows(c, s))
  }

  private def awaitCold(store: ManifestLog, c: String = "c", s: String = "s"): Unit = {
    val deadline = System.currentTimeMillis + 240000 // see the rotation test
    while (store.hotBytes(c, s) > 0 && System.currentTimeMillis < deadline) Thread.sleep(100)
  }

  test("constructing a Compactor makes no store call") {
    val inner = new ManifestLog(spark, tempDir("compactor-count"))
    append(inner, 2)
    val tier = new StubTier(inner)
    val compactor = new Compactor(tier, thresholdBytes = Long.MaxValue)
    try assert(tier.calls.get === 0, "construction touched the store")
    finally compactor.close()
  }

  test("a Compactor over a session already at the threshold rotates it after the first new append") {
    val store = new ManifestLog(spark, tempDir("compactor-restart"))
    (1 to 3).foreach(_ => append(store, 3))
    val before = store.hotBytes("c", "s")
    // a restart: the hot bytes on disk already reach the threshold, one
    // new batch alone would not
    val compactor = new Compactor(store, thresholdBytes = before)
    try {
      append(store, 3)
      compactor.maybeCompact("c", "s")
      awaitCold(store)
      assert(store.hotBytes("c", "s") === 0, "pre-existing hot bytes did not count toward rotation")
      assert(store.read("c", "s").count() === 12)
    } finally compactor.close()
  }

  test("a rotation check that throws after an append neither fails the flush nor duplicates the batch") {
    val root = tempDir("compactor-throw")
    var tier: StubTier = null
    val server = new graft.api.LogServer(spark, root, makeTier = (sp, dir) => {
      tier = new StubTier(new ManifestLog(sp, dir)); tier
    }).start()
    try {
      tier.hot = (_, _) => throw new java.io.IOException("injected hot-bytes failure")
      val rows = (1 to 5).map(i =>
        Row(Timestamp.from(Instant.parse("2024-01-01T00:00:00Z")), "INFO", s"row$i"))
      server.ingestBuffer.add("c", "s", rows)
      server.ingestBuffer.flush("c", "s") // throws if the check's failure escaped
      server.ingestBuffer.flush("c", "s") // a re-buffered batch would append again here
      assert(server.ingestBuffer.bufferedBytes === 0)
      assert(server.store.read("c", "s").count() === 5)
    } finally {
      if (tier != null) tier.hot = (_, _) => 0L
      server.close()
    }
  }

  test("close() interrupting a maintenance tick logs no failure") {
    val inner = new ManifestLog(spark, tempDir("compactor-interrupt"))
    append(inner, 1)
    val tier = new StubTier(inner)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    // the first tick's hot-bytes call blocks until interrupted; every
    // other call (later ticks, the shutdown flush) answers normally
    tier.hot = (c, s) =>
      if (Thread.currentThread.getName == "graft-maintenance" && first.getAndSet(false)) {
        entered.countDown()
        new java.util.concurrent.CountDownLatch(1).await()
        0L
      } else inner.hotBytes(c, s)
    val compactor = new Compactor(tier, thresholdBytes = Long.MaxValue)
    compactor.startMaintenance(java.time.Duration.ofMillis(50))
    assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS), "no tick reached the store")
    val captured = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(captured, true))
    try compactor.close() finally System.setErr(err)
    val failures = captured.toString.linesIterator
      .filter(l => l.contains("[compactor]") && l.contains("failed")).toList
    assert(failures.isEmpty, s"shutdown logged maintenance failures: $failures")
    assert(inner.read("c", "s").count() === 1)
  }
}
