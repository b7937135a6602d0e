package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Row, SparkSession}
import graft.storage.ManifestLog

/** SCALECHECK for the SERVICE tier: the query families have a
  * measured 10× growth story; this main gives the ingest/commit path
  * one too, answering the two open scale questions:
  *
  *  1. **Manifest-chain resolve cost.** Every read and every commit
  *     resolves the session's newest manifest; the chain grows one
  *     version per flush until `expire` sweeps it. Measured here:
  *     resolve latency at chain lengths 1 → 10⁴ (versions planted
  *     through `ManifestLog.plantVersions`, the commit path's own
  *     encoding and claim, so the timed chain is one the store reads).
  *  2. **Listing/commit hotspots under 10× sessions.** A service run
  *     with 8 writer sessions ([[runTier]]) vs 80 writer sessions at
  *     the same per-session batch count — 10× rows, 10× manifest dirs,
  *     10× compactor work — with post-latency percentiles at both
  *     scales.
  *  3. **Where a session stops being read on the driver.**
  *     [[driverReadBench]] times a GET and a compaction on both sides
  *     of `ManifestLog.DriverReadBytes`.
  *
  * Writes/replaces the `## Service tier` section of SCALECHECK.md.
  * Run on a QUIET box (`sbt "runMain graft.ServiceScaleCheck"`):
  * concurrent compiles poison the numbers.
  */
object ServiceScaleCheck {

  /** Median resolve latency (via tierStats — resolve + one file stat)
    * over `iters` runs. `cold` constructs a FRESH ManifestLog per
    * measurement, so every resolve pays the full directory listing;
    * warm reuses one instance, whose version hint turns steady-state
    * resolves into O(1) existence probes. */
  private def medianResolveMs(spark: SparkSession, root: String, iters: Int,
                              cold: Boolean): Double = {
    val warmLog = if (cold) null else new ManifestLog(spark, root)
    val times = (1 to iters).map { _ =>
      val log = if (cold) new ManifestLog(spark, root) else warmLog
      val t0 = System.nanoTime()
      log.tierStats("c", "s")
      (System.nanoTime() - t0) / 1e6
    }.sorted
    times(times.length / 2)
  }

  def chainBench(spark: SparkSession): Seq[(Long, Double, Double, Double)] = {
    val root = Scratch.localDir + s"/chainbench-${System.nanoTime()}"
    val log = new ManifestLog(spark, root)
    val df = spark.createDataFrame(
      java.util.List.of(Row(java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), "INFO", "x")),
      graft.model.LogSchema.fileSchema)
    log.append(df, "c", "s") // v1, the real hot file
    val entry = "hot/container=c/session=s/" +
      new java.io.File(s"$root/hot/container=c/session=s").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getName
    var planted = 1L
    Seq(1L, 100L, 1000L, 10000L).map { chain =>
      if (chain > planted) { log.plantVersions("c", "s", planted + 1, chain, Seq(entry)); planted = chain }
      // the hint FILE a real chain would carry: last default-cadence
      // commit boundary — planted/cleared through the store's own seam
      // so this bench can never measure a file shape the store would
      // not actually write or read
      val hintAt = (chain / 64L) * 64L
      log.clearHintFile("c", "s")
      val listing = medianResolveMs(spark, root, 21, cold = true)
      if (hintAt > 0) log.plantHintFile("c", "s", hintAt)
      val coldHinted = medianResolveMs(spark, root, 21, cold = true)
      (chain, listing, coldHinted,
       medianResolveMs(spark, root, 21, cold = false))
    }
  }

  /** GC-sweep dedup under the maintenance lease, measured: two
    * gateways on one manifest root tick a 100 ms maintenance cadence
    * for a fixed window, with and without the lease. Unleased, both
    * run every expire sweep (duplicated cluster work — safe, the
    * sweeps are CAS-side idempotent); leased, only the owner sweeps.
    * Returns (unleased A, unleased B, leased A, leased B) sweep-tick
    * counts. */
  def leaseBench(spark: SparkSession): (Long, Long, Long, Long) = {
    val root = Scratch.localDir + s"/leasebench-${System.nanoTime()}"
    val logA = new ManifestLog(spark, root)
    val logB = new ManifestLog(spark, root)
    val df = spark.createDataFrame(
      java.util.List.of(Row(java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), "INFO", "x")),
      graft.model.LogSchema.fileSchema)
    (0 until 4).foreach { i =>
      logA.append(df, "c", s"s$i"); logA.append(df, "c", s"s$i")
      logA.compact("c", s"s$i") // retired manifests → expire has real work
    }
    def run(withLease: Boolean): (Long, Long) = {
      val leaseDir = new org.apache.hadoop.fs.Path(s"$root/_maintenance/gc-$withLease")
      val fs = leaseDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def lease(id: String) = if (!withLease) None
        else Some(new storage.MaintenanceLease(fs, leaseDir, id, ttlMs = 60000L))
      val ca = new engine.Compactor(logA)
      val cb = new engine.Compactor(logB)
      val period = java.time.Duration.ofMillis(100)
      val grace = java.time.Duration.ofMillis(1)
      ca.startMaintenance(period, manifestGcGrace = Some(grace), gcLease = lease("gw-a"))
      Thread.sleep(400) // A establishes ownership first (deterministic owner)
      cb.startMaintenance(period, manifestGcGrace = Some(grace), gcLease = lease("gw-b"))
      Thread.sleep(2000)
      val r = (ca.gcSweepTicks.get, cb.gcSweepTicks.get)
      ca.close(); cb.close()
      r
    }
    val (ua, ub) = run(withLease = false)
    val (la, lb) = run(withLease = true)
    (ua, ub, la, lb)
  }

  /** Catalog-chain cost at 1 / 10² / 10⁴ mutations under the DELTA
    * store (checkpointEvery=16 — the production wiring in
    * LogServer.catalogOn): per scale, the median COMMIT latency
    * (serialize ONE delta record + the chain's claim, whose predecessor
    * guard is two existence checks; the prune listing amortizes at
    * checkpoint cadence), the median STEADY READ (warm instance: frontier-hint
    * probe, no state reload), a FRESH-GATEWAY first read (listing +
    * one checkpoint parse + ≤15 delta applies — what a new process
    * pays once), the newest DELTA record size and the newest
    * CHECKPOINT size. The mutation mix is createUser (one commit
    * each), so live state GROWS with the mutation count — the delta
    * commit and record size must stay flat anyway, while the
    * checkpoint column shows the O(state) cost now paid only every
    * 16th version. Returns (mutations, commitMs, readMs, freshMs,
    * deltaBytes, ckptBytes). */
  def catalogBench(): Seq[(Long, Double, Double, Double, Long, Long)] = {
    val dir = java.nio.file.Paths.get(Scratch.localDir, s"catbench-${System.nanoTime()}")
    val hp = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
    def catalog() = new graft.catalog.CatalogService(
      graft.storage.StateRecord.chain(fs, hp), checkpointEvery = 16)
    val svc = catalog()
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    var done = 0L
    Seq(1L, 100L, 10000L).map { target =>
      while (done < target) {
        svc.createUser(f"u$done%06d", "pw"); done += 1
      }
      val commitMs = median((1 to 21).map { i =>
        val t0 = System.nanoTime()
        svc.createContainer("admin", f"bench_${target}_$i%02d")
        (System.nanoTime() - t0) / 1e6
      })
      val readMs = median((1 to 21).map { _ =>
        val t0 = System.nanoTime()
        svc.verifyPassword("admin", "admin")
        (System.nanoTime() - t0) / 1e6
      })
      val freshMs = median((1 to 5).map { _ =>
        val t0 = System.nanoTime()
        catalog().verifyPassword("admin", "admin")
        (System.nanoTime() - t0) / 1e6
      }.toSeq)
      val chain = graft.storage.StateRecord.chain(fs, hp)
      val byKind = chain.files().groupBy(st => chain.versionOf(st) % 16 == 0)
      def newest(ckpt: Boolean): Long =
        byKind.getOrElse(ckpt, Seq.empty).lastOption.map(_.getLen).getOrElse(0L)
      (target, commitMs, readMs, freshMs, newest(false), newest(true))
    }
  }

  /** Row-level purge pricing: what a deletion request costs against
    * the manifest store, at three predicate
    * shapes over the same time-clustered corpus — a NO-MATCH sweep
    * (the pure detection pass: one scan, no rewrite), a NARROW purge
    * (rows confined to a few time-adjacent cold files — the
    * user-scoped takedown shape; cost = the affected files, not the
    * session), and a SCATTERED purge (matches in every file — the
    * worst case, cost ≈ a full compaction), plus the expire sweep
    * that closes the grace window. Small targetFileBytes so the
    * compacted session spans many cold files and the affected-subset
    * economics are actually visible. Returns (label, ms, rowsPurged,
    * filesRewritten). */
  def purgeBench(spark: SparkSession): Seq[(String, Double, Long, Long)] =
    Seq(("1×", 200000L), ("10×", 2000000L)).flatMap { case (scale, n) =>
      val root = Scratch.localDir + s"/purgebench-${System.nanoTime()}"
      try purgeBenchAt(spark, root, n).map { case (l, ms, p, r) =>
        (s"$scale $l", ms, p, r)
      }
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }

  private def purgeBenchAt(spark: SparkSession, root: String,
                           n: Long): Seq[(String, Double, Long, Long)] = {
    import org.apache.spark.sql.functions._
    val log = new ManifestLog(spark, root, targetFileBytes = 256L * 1024)
    val df = spark.range(n).select(
      timestamp_seconds(lit(1735689600L) + col("id")).as("timestamp"),
      when(col("id") % 100 === 0, "error").otherwise("info").as("level"),
      concat(lit("row-"), col("id").cast("string")).as("message"))
    log.append(df, "c", "s")
    log.compact("c", "s") // range-clustered: ids cluster into time slices
    def files(): Set[String] = log.dataEntries("c", "s").toSet
    val totalFiles = files().count(_.startsWith("cold/"))
    def run(label: String, pred: org.apache.spark.sql.Column): (String, Double, Long, Long) = {
      val before = files()
      val t0 = System.nanoTime()
      val purged = log.rewriteExcluding("c", "s", pred)
      val ms = (System.nanoTime() - t0) / 1e6
      val rewritten = (before -- files()).size.toLong
      (f"$label (of $totalFiles files)", ms, purged, rewritten)
    }
    val noMatch = run("no-match detection pass",
      col("message") === "row-never-written")
    // ids 50k..51k are one contiguous time slice → few adjacent files
    val narrow = run("narrow purge (1k adjacent rows)",
      col("message").isin((50000L until 51000L).map(i => s"row-$i"): _*))
    // every 100th row → matches land in every cold file
    val scattered = run("scattered purge (1% everywhere)",
      col("level") === "error")
    val t0 = System.nanoTime()
    log.expire("c", "s", java.time.Instant.now().plusSeconds(60))
    val expireMs = (System.nanoTime() - t0) / 1e6
    Seq(noMatch, narrow, scattered,
      ("expire sweep (closes the grace window)", expireMs, 0L, 0L))
  }

  /** The two read paths of a session on both sides of
    * [[ManifestLog.DriverReadBytes]]: median ms of a capped time-range
    * GET over the session's whole time span (`limit(10001)`, after a
    * one-row append so no plan is reused — the read-your-writes shape),
    * so the driver path decodes every file, with the session decoded on
    * the driver and with the file scan, and of one compaction of the same
    * hot files each way. Sessions are
    * `files` hot files of 2,000 log rows, compacted, plus four small hot
    * files. Returns (rows, on-disk bytes, decoded bytes, driver GET ms,
    * scan GET ms, driver compaction ms, scan compaction ms). */
  def driverReadBench(spark: SparkSession): Seq[(Long, Long, Long, Double, Double, Double, Double)] = {
    import scala.jdk.CollectionConverters._
    val words = ("request served cache miss hit retry timeout user order payment db query " +
      "shard node disk read write flush commit compaction error started stopped ok").split(" ")
    val r = new java.util.Random(7)
    var ts = 1735689600000L
    def batch(n: Int) = spark.createDataFrame((0 until n).map { _ =>
      ts += 1 + r.nextInt(50)
      val len = math.max(4, (60 * math.exp(r.nextGaussian() * 0.6)).toInt)
      val msg = new StringBuilder
      while (msg.length < len) { if (msg.nonEmpty) msg += ' '; msg ++= words(r.nextInt(words.length)) }
      Row(new java.sql.Timestamp(ts), Seq("DEBUG", "INFO", "WARN", "ERROR")(r.nextInt(4)), msg.toString)
    }.asJava, graft.model.LogSchema.fileSchema)
    def ms(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // the first size runs twice: its first pass warms the JIT and is dropped
    Seq(4, 4, 8, 12, 16, 20, 24, 32).zipWithIndex.flatMap { case (files, i) =>
      val roots = Seq("driver", "scan").map(p => Scratch.localDir + s"/driverread-$p-${System.nanoTime()}")
      try {
        val t0 = ts
        val writers = roots.map(new ManifestLog(spark, _))
        (1 to files).foreach { _ => val b = batch(2000); writers.foreach(_.append(b, "c", "s")) }
        val compactMs = roots.zip(Seq(Long.MaxValue, 0L)).map { case (root, budget) =>
          val log = new ManifestLog(spark, root)
          log.driverReadBytes = budget
          ms(log.compact("c", "s"))
        }
        val writer = new ManifestLog(spark, roots.head)
        (1 to 4).foreach(_ => writer.append(batch(500), "c", "s"))
        val driver = new ManifestLog(spark, roots.head); driver.driverReadBytes = Long.MaxValue
        val scan = new ManifestLog(spark, roots.head); scan.driverReadBytes = 0L
        val local = driver.read("c", "s").queryExecution.optimizedPlan
          .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation].data
        val decoded = local.iterator.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
          .getSizeInBytes + 64L).sum
        val (_, coldBytes, _, hotBytes) = driver.tierStats("c", "s")
        def get(log: ManifestLog): Double = {
          val engine = new graft.engine.QueryEngine(log)
          ms(engine.readLogs("c", "s", Some(java.time.Instant.ofEpochMilli(t0)),
            Some(java.time.Instant.ofEpochMilli(ts))).limit(10001).collect())
        }
        val (d, sc) = (0 until 12).map { k =>
          writer.append(batch(1), "c", "s")
          if (k % 2 == 0) { val a = get(driver); (a, get(scan)) } else { val b = get(scan); (get(driver), b) }
        }.drop(4).unzip
        if (i == 0) None
        else Some((local.size.toLong, coldBytes + hotBytes, decoded, median(d), median(sc), compactMs(0), compactMs(1)))
      } finally roots.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }
  }

  /** One service run's headline numbers — rows ingested over the write
    * window, post latency percentiles, settled-read throughput +
    * latency (the version-keyed plan cache's serving numbers), errors.
    * [[main]] compares these across a 10× session/volume scale-up. */
  final case class TierResult(rows: Long, dtWrite: Double, posts: Int,
                              p50Ms: Double, p99Ms: Double,
                              roReadsPerSec: Double, roRowsPerSec: Double,
                              readP50Ms: Double, readP99Ms: Double,
                              errors: Int,
                              readStages: Seq[(String, Double, Double)] = Seq.empty) {
    def rowsPerSec: Double = rows / math.max(dtWrite, 1e-9)
  }

  /** One gateway on a fresh ManifestLog root under the full HTTP
    * service path (auth → containers/sessions → concurrent POST /logs +
    * GET /logs), with the buffer threshold forced low enough that
    * size-triggered rotation and async compaction run MID-TRAFFIC, then
    * a settled read-only phase. Prints one stderr detail line; None if
    * the run failed. */
  def runTier(spark: SparkSession, nWriters: Int, nBatches: Int,
              label: String): Option[TierResult] = {
    val root = Scratch.localDir + s"/svcscale-${System.nanoTime()}"
    // server startup stays INSIDE the try: a bind/scratch failure must
    // degrade to a FAILED row, not abort the remaining measurements
    var server: api.LogServer = null
    try {
      server = new api.LogServer(spark, root, bufferSizeLimit = 64 * 1024).start()
      val client = HttpClient.newHttpClient()
      val base = s"http://localhost:${server.boundPort}"
      def send(method: String, path: String, body: Option[String],
               token: Option[String]): HttpResponse[String] = {
        var b = HttpRequest.newBuilder(URI.create(s"$base$path"))
        b = body.fold(b.method(method, BodyPublishers.noBody()))(j =>
          b.method(method, BodyPublishers.ofString(j)).header("Content-Type", "application/json"))
        token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), BodyHandlers.ofString())
      }
      val tokenBody = send("POST", "/api/auth/login",
        Some("""{"username":"admin","password":"admin"}"""), None).body
      val token = tokenBody.split("\"token\"\\s*:\\s*\"")(1).takeWhile(_ != '"')
      send("POST", "/api/containers", Some("""{"container_id":"bench"}"""), Some(token))

      // Sized so the buffered ingest path is measured, not the harness:
      // 40k rows across 8 concurrent writers (the default shape) is ~2
      // orders of magnitude more posts than any fixed cost (JIT,
      // first-flush, first-GET plan), while still finishing in seconds.
      // A much smaller shape (4x15x40 = 2.4k rows) lets one cold GET
      // dominate the whole measured window.
      val rowsPerBatch = 100
      (1 to nWriters).foreach { w =>
        send("POST", "/api/containers/bench/sessions",
          Some(s"""{"session_id":"w$w"}"""), Some(token))
      }
      val appendsOk = new AtomicInteger(0)
      val readsOk = new AtomicInteger(0)
      val rowsRead = new java.util.concurrent.atomic.AtomicLong(0)
      val errors = new AtomicInteger(0)
      val postNanos = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      @volatile var writing = true
      // a transport-level failure (connection reset while rotation +
      // compaction run mid-traffic) must count as an error and let the
      // thread continue — an uncaught throw would silently kill the
      // thread and report LOWER throughput with errors=0
      val writers = (1 to nWriters).map { w =>
        new Thread(() => {
          for (b <- 1 to nBatches) {
            try {
              val logs = (1 to rowsPerBatch).map(i =>
                f"""{"level":"INFO","message":"w$w-b$b-r$i payload ${"x" * 64}","timestamp":"2025-01-01T${b % 24}%02d:${i % 60}%02d:00Z"}""")
                .mkString("[", ",", "]")
              val p0 = System.nanoTime()
              val r = send("POST", s"/api/logs/bench/w$w", Some(s"""{"logs":$logs}"""), Some(token))
              postNanos.add(System.nanoTime() - p0)
              if (r.statusCode == 201) appendsOk.incrementAndGet() else errors.incrementAndGet()
            } catch { case _: Exception => errors.incrementAndGet() }
          }
        }, s"svc-writer-$w")
      }
      val readers = (1 to 2).map { r =>
        new Thread(() => {
          var w = r
          while (writing) {
            try {
              val resp = send("GET", s"/api/logs/bench/w${w % nWriters + 1}", None, Some(token))
              if (resp.statusCode == 200) {
                readsOk.incrementAndGet()
                // "total_rows":N — GETs return whole sessions, so the
                // meaningful read metric is row volume, not requests
                val m = "\"total_rows\":(\\d+)".r.findFirstMatchIn(resp.body)
                m.foreach(g => rowsRead.addAndGet(g.group(1).toLong))
              } else errors.incrementAndGet()
            } catch { case _: Exception => errors.incrementAndGet() }
            w += 1
          }
        }, s"svc-reader-$r")
      }
      val t0 = System.nanoTime()
      writers.foreach(_.start()); readers.foreach(_.start())
      writers.foreach(_.join(300000))
      // ingest rate over the WRITE window (t0 → last 201): the reader
      // drain after `writing` drops runs one final GET whose duration
      // would otherwise dilute the ingest number it has nothing to do
      // with (reads are reported over the full window, where they ran)
      val dtWrite = (System.nanoTime() - t0) / 1e9
      writing = false
      readers.foreach(_.join(300000))
      val dt = (System.nanoTime() - t0) / 1e9
      // Post-write READ-ONLY phase: CONCURRENT GETs over settled
      // sessions — the stable read-throughput number (mid-write reads
      // above race the ingest window and vary with scheduling). This
      // measures the version-keyed plan cache: an unchanged session's
      // GET skips file-index construction entirely.
      // Every session is read at least twice (first GET fills the
      // plan-cache entry, the rest hit it) from 8 parallel clients —
      // the 10× scale-up (80 sessions) exercises 80 distinct cache
      // keys against the bounded 256-entry LRU.
      val roReads = math.max(40, nWriters * 2)
      val roThreads = 8
      val roRowsA = new java.util.concurrent.atomic.AtomicLong(0)
      val roOkA = new AtomicInteger(0)
      val readNanos = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val ro0 = System.nanoTime()
      val roRunners = (0 until roThreads).map { t =>
        new Thread(() => {
          var i = t
          while (i < roReads) {
            try {
              val g0 = System.nanoTime()
              val resp = send("GET", s"/api/logs/bench/w${i % nWriters + 1}", None, Some(token))
              if (resp.statusCode == 200) {
                // sample latency only for successes: a fast 404/500
                // must not dilute the settled-read percentiles while
                // also counting as an error
                readNanos.add(System.nanoTime() - g0)
                roOkA.incrementAndGet()
                "\"total_rows\":(\\d+)".r.findFirstMatchIn(resp.body)
                  .foreach(g => roRowsA.addAndGet(g.group(1).toLong))
              } else errors.incrementAndGet() // a 500/404 must not read as "slow", it reads as an error
            } catch { case _: Exception => errors.incrementAndGet() }
            i += roThreads
          }
        }, s"svc-ro-reader-$t")
      }
      // per-stage attribution of the settled-read path (token / auth /
      // flush / stats / query / render) — the seam that says where the
      // read p99 is paid
      server.readTimings.clear()
      server.recordReadTimings = true
      roRunners.foreach(_.start()); roRunners.foreach(_.join(300000))
      server.recordReadTimings = false
      // a reader hung past the join timeout would let the stats below
      // be computed while threads still append to readNanos — the run
      // must FAIL loudly instead of publishing silently-wrong numbers
      val stragglers = roRunners.count(_.isAlive)
      require(stragglers == 0,
        s"$stragglers read-only client(s) still running after 300s — read stats unusable")
      val roDt = (System.nanoTime() - ro0) / 1e9
      val (roOk, roRows) = (roOkA.get, roRowsA.get)
      val rows = appendsOk.get.toLong * rowsPerBatch
      def pctSeq(q: Double, samples: Seq[Long]): Double = {
        val lats = samples.sorted
        if (lats.isEmpty) 0.0
        else lats(math.min(lats.length - 1, (q * lats.length).toInt)) / 1e6
      }
      def pctOf(q: Double, ns: java.util.concurrent.ConcurrentLinkedQueue[Long]): Double =
        pctSeq(q, ns.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq)
      def pctMs(q: Double): Double = pctOf(q, postNanos)
      System.err.println(
        f"[svc-scale] $label%-12s $dt%8.3f s  " +
        f"ingest ${rows / dtWrite}%.0f rows/s (${appendsOk.get / dtWrite}%.1f posts/s over $dtWrite%.3f s), " +
        f"${readsOk.get / dt}%.1f concurrent reads/s (${rowsRead.get / dt}%.0f rows/s read), " +
        f"settled ${roOk / roDt}%.1f reads/s (${roRows / roDt}%.0f rows/s, " +
        f"p50 ${pctOf(0.5, readNanos)}%.1f ms p99 ${pctOf(0.99, readNanos)}%.1f ms over $roThreads clients), " +
        f"post p50 ${pctMs(0.5)}%.1f ms p99 ${pctMs(0.99)}%.1f ms, errors=${errors.get}" +
        f" [${nWriters}w x $nBatches batches x $rowsPerBatch rows, 2 readers, 64KiB rotation]")
      val byStage = {
        import scala.jdk.CollectionConverters._
        server.readTimings.asScala.toSeq.groupBy(_._1)
      }
      val stages = graft.api.LogServer.ReadStages.flatMap { st =>
        byStage.get(st).map { xs =>
          (st, pctSeq(0.5, xs.map(_._2)), pctSeq(0.99, xs.map(_._2)))
        }
      }
      if (stages.nonEmpty)
        System.err.println(s"[svc-scale] $label read stages (p50/p99 ms): " +
          stages.map { case (st, a, b) => f"$st $a%.1f/$b%.1f" }.mkString("  "))
      Some(TierResult(rows, dtWrite, appendsOk.get, pctMs(0.5), pctMs(0.99),
        roOk / roDt, roRows / roDt, pctOf(0.5, readNanos), pctOf(0.99, readNanos),
        errors.get, stages))
    } catch {
      case e: Throwable =>
        System.err.println(s"[svc-scale] $label FAILED: ${e.getMessage}")
        None
    } finally if (server != null) server.close()
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", Scratch.localDir)
      .config("spark.sql.warehouse.dir", Scratch.localDir + "/warehouse")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val chain = chainBench(spark)
    chain.foreach { case (n, listMs, coldMs, warmMs) =>
      System.err.println(
        f"[svc-scale] resolve @ chain $n%6d versions: listing $listMs%8.3f ms, " +
        f"cold+hint-file $coldMs%8.3f ms, hinted $warmMs%8.3f ms (medians of 21)")
    }
    val cat = catalogBench()
    cat.foreach { case (n, cMs, rMs, fMs, dB, cB) =>
      System.err.println(
        f"[svc-scale] catalog @ $n%6d mutations: commit $cMs%8.3f ms, " +
        f"read $rMs%8.3f ms, fresh-gateway $fMs%8.3f ms, delta $dB%5d B, checkpoint $cB%9d B")
    }
    val base = runTier(spark, nWriters = 8, nBatches = 50, label = "service_1x")
    val scaled = runTier(spark, nWriters = 80, nBatches = 50, label = "service_10x")
    val (ua, ub, la, lb) = leaseBench(spark)
    System.err.println(
      s"[svc-scale] gc sweeps over 2 s @ 100 ms cadence: unleased A=$ua B=$ub, leased A=$la B=$lb")
    val purge = purgeBench(spark)
    purge.foreach { case (label, ms, purged, rewritten) =>
      System.err.println(
        f"[svc-scale] purge: $label%-42s $ms%9.1f ms, $purged%6d rows purged, $rewritten%3d files rewritten")
    }
    val driverRead = driverReadBench(spark)
    driverRead.foreach { case (rows, disk, decoded, dGet, sGet, dCompact, sCompact) =>
      System.err.println(
        f"[svc-scale] driver read: $rows%7d rows, ${disk / 1024}%6d KiB on disk, ${decoded / 1024}%6d KiB decoded: " +
        f"GET $dGet%7.1f / $sGet%7.1f ms, compaction $dCompact%7.1f / $sCompact%7.1f ms (driver / scan)")
    }

    val sb = new StringBuilder
    sb ++= "## Service tier (ingest/commit path)\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.ServiceScaleCheck\"` on ${java.time.LocalDate.now()}.\n\n"
    sb ++= "Manifest-chain resolve latency (every read and commit pays this once;\n"
    sb ++= "chain grows one version per flush until `expire` sweeps it). `listing`\n"
    sb ++= "= a fresh instance with no hint file; `cold start` = a fresh instance\n"
    sb ++= "seeding its probe from the persisted `hint` file (written every 64th\n"
    sb ++= "commit, the `_last_checkpoint` recipe); `steady` = the in-process\n"
    sb ++= "version hint probing the frontier directly:\n\n"
    sb ++= "| chain length | resolve (listing) | resolve (cold start) | resolve (steady) |\n|---|---|---|---|\n"
    chain.foreach { case (n, l, c, w) =>
      sb ++= f"| $n | $l%.3f ms | $c%.3f ms | $w%.3f ms |\n" }
    sb ++= "\nCatalog (shared version chain, DELTA records with checkpoint every\n"
    sb ++= "16th version — the production wiring) at growing mutation counts.\n"
    sb ++= "commit = one mutation (serialize ONE delta record + CAS claim with\n"
    sb ++= "its two-check predecessor guard; prune's listing amortizes at checkpoint\n"
    sb ++= "cadence). Live state grows with the mutation count here, so a flat\n"
    sb ++= "commit column and a flat delta column ARE the O(1)-per-mutation\n"
    sb ++= "claim (the reference's SQLite economics); the checkpoint column is\n"
    sb ++= "the O(state) cost now paid only every 16th version. read =\n"
    sb ++= "warm-instance verify (frontier-hint probe, no reload); fresh\n"
    sb ++= "gateway = first resolve of a new process (listing + one checkpoint\n"
    sb ++= "parse + <=15 delta applies, paid once). NOTE on the 10^4 fresh\n"
    sb ++= "row: this bench fires the whole burst inside one prune-grace\n"
    sb ++= "window (commits are now sub-ms), so every version file is still\n"
    sb ++= "in-grace and the one-time listing walks all of them; in steady\n"
    sb ++= "state the directory is bounded by keepVersions + cadence + the\n"
    sb ++= "grace window's arrivals, and the next checkpoint's prune sweeps\n"
    sb ++= "the burst once it ages out:\n\n"
    sb ++= "| mutations | commit (median) | steady read | fresh gateway | delta record | checkpoint |\n|---|---|---|---|---|---|\n"
    cat.foreach { case (n, cMs, rMs, fMs, dB, cB) =>
      sb ++= f"| $n | $cMs%.3f ms | $rMs%.3f ms | $fMs%.3f ms | $dB%d B | ${cB / 1024}%d KiB |\n" }
    sb ++= "\nService throughput at 1× vs 10× sessions (ManifestLog tier, one\n"
    sb ++= "gateway; 10× = 80 writer sessions → 10× rows, manifest dirs, and\n"
    sb ++= "compactor work). Settled reads are CONCURRENT GETs (8 clients) over\n"
    sb ++= "every session against the version-keyed plan cache (bounded LRU,\n"
    sb ++= "256 entries — 80 sessions exercise 80 distinct keys):\n\n"
    sb ++= "| scale | rows | rows/s | posts | post p50 | post p99 | settled reads/s | read rows/s | read p50 | read p99 | errors |\n|---|---|---|---|---|---|---|---|---|---|---|\n"
    Seq("1× (8 sessions)" -> base, "10× (80 sessions)" -> scaled).foreach {
      case (name, Some(r)) =>
        sb ++= f"| $name | ${r.rows} | ${r.rowsPerSec}%.0f | ${r.posts} | ${r.p50Ms}%.1f ms | ${r.p99Ms}%.1f ms | ${r.roReadsPerSec}%.1f | ${r.roRowsPerSec}%.0f | ${r.readP50Ms}%.1f ms | ${r.readP99Ms}%.1f ms | ${r.errors} |\n"
      case (name, None) => sb ++= s"| $name | FAILED | | | | | | | | | |\n"
    }
    sb ++= "\nSettled-read STAGE attribution (p50 / p99 ms —\n"
    sb ++= "where a GET actually pays: token = bearer verify incl. catalog\n"
    sb ++= "resolve, auth = session ownership, flush = read-your-writes, stats =\n"
    sb ++= "manifest resolve + file stat, query = plan lookup + collect, render =\n"
    sb ++= "JSON assembly + response write). Only requests that complete the\n"
    sb ++= "full batch-read 200 path publish samples, so every column's\n"
    sb ++= "percentile is over the SAME request population:\n\n"
    val stageCols = graft.api.LogServer.ReadStages
    sb ++= "| scale | " + stageCols.mkString(" | ") +
      " |\n|---|" + stageCols.map(_ => "---|").mkString + "\n"
    Seq("1×" -> base, "10×" -> scaled).foreach {
      case (name, Some(r)) if r.readStages.nonEmpty =>
        val m = r.readStages.map(s => s._1 -> s).toMap
        sb ++= s"| $name | " + stageCols
          .map(st => m.get(st).map { case (_, a, b) => f"$a%.1f / $b%.1f" }.getOrElse("—"))
          .mkString(" | ") + " |\n"
      case (name, _) =>
        sb ++= s"| $name |" + stageCols.map(_ => " — |").mkString + "\n"
    }
    sb ++= "\nReading the attribution: the read p99 is dominated by the\n"
    sb ++= "read-your-writes FLUSH — a session's first GET after ingest flushes\n"
    sb ++= "its buffered rows to parquet before the scan (the reference's own\n"
    sb ++= "ack-before-flush semantics; p50 flush is ~0 because repeat reads\n"
    sb ++= "no-op). Per-stage p99s are flat-to-better at 10x (stats/token/auth\n"
    sb ++= "are milliseconds; query typically improves as the plan cache warms\n"
    sb ++= "across more sessions), so the read path carries NO term that grows\n"
    sb ++= "with session count or state size — run-to-run deltas in the\n"
    sb ++= "headline read p99 (either direction) track the first-touch-flush\n"
    sb ++= "mix and host jitter: the 10x shape has 10x sessions but only ~2\n"
    sb ++= "reads per session, so a larger FRACTION of its reads pay the\n"
    sb ++= "first-touch flush. Manifest resolve and the shared catalog are\n"
    sb ++= "measured OFF the critical path (stats and token rows).\n"
    sb ++= "\nGC-sweep dedup under the maintenance lease (two gateways, one\n"
    sb ++= "manifest root, 100 ms maintenance cadence, ~2 s window; sweeps are\n"
    sb ++= "CAS-side idempotent so the unleased duplication is waste, not a\n"
    sb ++= "correctness issue):\n\n"
    sb ++= "| mode | gateway A sweeps | gateway B sweeps |\n|---|---|---|\n"
    sb ++= s"| no lease (both sweep) | $ua | $ub |\n"
    sb ++= s"| CAS lease (owner only) | $la | $lb |\n"
    sb ++= "\nRow-level purge (`ManifestLog.rewriteExcluding`): the\n"
    sb ++= "deletion-request price on a 200k-row (1×) and\n"
    sb ++= "2M-row (10×) session, each compacted into time-clustered cold\n"
    sb ++= "files. The detection pass is one scan (no rewrite); a NARROW purge\n"
    sb ++= "— the SAME 1,000 time-adjacent rows at both scales — rewrites only\n"
    sb ++= "the files that hold matching rows, so its REWRITE cost is\n"
    sb ++= "~flat across the 10× step (the measured form of the\n"
    sb ++= "'purge cost scales with affected data, not session size' claim in\n"
    sb ++= "ManifestLog.rewriteExcluding; the residual growth in the narrow\n"
    sb ++= "line is the detection scan, which at 100 TB prunes on footer\n"
    sb ++= "stats for clustered predicates); a SCATTERED purge that matches\n"
    sb ++= "in every file degenerates to a full compaction and grows with\n"
    sb ++= "the session, by construction — the ~10× line. `expire` closes\n"
    sb ++= "the snapshot grace window and completes the deletion:\n\n"
    sb ++= "| operation | time | rows purged | files rewritten |\n|---|---|---|---|\n"
    purge.foreach { case (label, ms, purged, rewritten) =>
      sb ++= f"| $label | $ms%.1f ms | $purged | $rewritten |\n" }
    sb ++= "\nDriver-side reads (`ManifestLog.DriverReadBytes`, "
    sb ++= s"${ManifestLog.DriverReadBytes / 1024 / 1024} MiB decoded): a capped\n"
    sb ++= "GET whose range covers the whole session, and a compaction of the same\n"
    sb ++= "session, with its rows decoded on the driver and with a Spark file scan (medians of 8 GETs,\n"
    sb ++= "each after a one-row append, as in read-your-writes traffic). The\n"
    sb ++= "budget sits where the two GET columns cross:\n\n"
    sb ++= "| rows | on disk | decoded | GET driver | GET scan | compaction driver | compaction scan |\n|---|---|---|---|---|---|---|\n"
    driverRead.foreach { case (rows, disk, decoded, dGet, sGet, dCompact, sCompact) =>
      sb ++= f"| $rows | ${disk / 1024} KiB | ${decoded / 1024} KiB | $dGet%.1f ms | $sGet%.1f ms | $dCompact%.1f ms | $sCompact%.1f ms |\n" }
    sb ++= "\nReading: resolve is one directory listing + one (newest) manifest\n"
    sb ++= "read — the chain-length term is the LISTING. The deployment bound is\n"
    sb ++= "`expire`'s sweep of superseded manifests (grace-windowed); the live\n"
    sb ++= "entry-list size is bounded separately by compaction. On object\n"
    sb ++= "stores, listings page (~1000 keys/request) — the in-process version\n"
    sb ++= "hint keeps steady-state resolves at O(1) existence probes, and the\n"
    sb ++= "persisted hint file gives a FRESH gateway the same O(delta) first\n"
    sb ++= "resolve (delta <= 64, the hint cadence; advisory only — a stale or\n"
    sb ++= "torn hint fails the probe and falls back to the listing). See\n"
    sb ++= "ManifestLog.resolve/writeHintFile.\n"

    val out = java.nio.file.Paths.get("SCALECHECK.md")
    val marker = "## Service tier"
    val cur = if (java.nio.file.Files.exists(out))
      new String(java.nio.file.Files.readAllBytes(out), "UTF-8") else ""
    val updated = cur.indexOf(marker) match {
      case -1 => cur + "\n" + sb.toString
      case i => cur.substring(0, i) + sb.toString // section is the file tail
    }
    java.nio.file.Files.write(out, updated.getBytes("UTF-8"))
    System.err.println("[svc-scale] wrote SCALECHECK.md service section")
    spark.stop()
  }
}
