package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

/** Timed ingest-while-query benchmark over the REFERENCE'S one real
  * workload: the full HTTP service path (auth → containers/sessions →
  * concurrent POST /logs + GET /logs) against the ManifestLog store,
  * with the buffer threshold forced low enough that size-triggered
  * rotation and async compaction run MID-TRAFFIC — the measured number
  * is the serving path, not a quiet store. Reported on STDERR as a
  * `log_service_throughput` detail line (the budgeted stdout JSON line
  * is reserved for the query timings); opt out with
  * SPARK_GRAFT_SERVICE_BENCH=0. */
object ServiceBench {

  /** Standalone dev entry: `runMain graft.ServiceBench`. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", Scratch.localDir)
      .config("spark.sql.warehouse.dir", Scratch.localDir + "/warehouse")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark)
    spark.stop()
  }

  /** Measure the service end-to-end on one gateway, then on TWO
    * gateways sharing one manifest root (every commit races the
    * version CAS — the multi-node scaling number). */
  def run(spark: SparkSession): Unit = {
    runTier(spark, nWriters = 8, nBatches = 50, labelSuffix = "")
    runManifestDualGateway(spark)
  }

  /** Two LogServer instances over ONE ManifestLog root AND one shared
    * CAS catalog (the control plane spans gateways — one login, one
    * provisioning pass, every request's token verify resolves the
    * shared catalog), writers split across them —
    * measures what adding a gateway buys when all commits contend on
    * the same per-session manifest CAS. Workload totals match
    * [[runTier]] (8 writers × 50 × 100), so the rows/s line is
    * directly comparable to the single-gateway manifest number. */
  private def runManifestDualGateway(spark: SparkSession): Unit = {
    val shared = Scratch.localDir + s"/svcbench-m2-${System.nanoTime()}"
    val label = "log_service_throughput_manifest_2gw"
    var servers: Seq[api.LogServer] = Seq.empty
    try {
      servers = (1 to 2).map { i =>
        new api.LogServer(spark, s"$shared/gw$i", bufferSizeLimit = 64 * 1024,
          makeTier = (sp, _) => new storage.ManifestLog(sp, s"$shared/data"),
          makeCatalog = api.LogServer.catalogOn(s"$shared/data")).start()
      }
      val client = HttpClient.newHttpClient()
      def send(srv: api.LogServer, method: String, path: String, body: Option[String],
               token: Option[String]): HttpResponse[String] = {
        var b = HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}$path"))
        b = body.fold(b.method(method, BodyPublishers.noBody()))(j =>
          b.method(method, BodyPublishers.ofString(j)).header("Content-Type", "application/json"))
        token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), BodyHandlers.ofString())
      }
      // ONE login + ONE provisioning pass through gateway 1 — the shared
      // catalog makes the token and the namespace visible on gateway 2
      val body = send(servers.head, "POST", "/api/auth/login",
        Some("""{"username":"admin","password":"admin"}"""), None).body
      val token = body.split("\"token\"\\s*:\\s*\"")(1).takeWhile(_ != '"')
      val tokens = Seq(token, token)
      val nWriters = 8; val nBatches = 50; val rowsPerBatch = 100
      send(servers.head, "POST", "/api/containers",
        Some("""{"container_id":"bench"}"""), Some(token))
      (1 to nWriters).foreach { w =>
        send(servers.head, "POST", "/api/containers/bench/sessions",
          Some(s"""{"session_id":"w$w"}"""), Some(token))
      }
      val appendsOk = new AtomicInteger(0)
      val errors = new AtomicInteger(0)
      val writers = (1 to nWriters).map { w =>
        val gw = (w - 1) % 2 // writers split across the two gateways
        new Thread(() => {
          for (b <- 1 to nBatches) {
            try {
              val logs = (1 to rowsPerBatch).map(i =>
                f"""{"level":"INFO","message":"w$w-b$b-r$i payload ${"x" * 64}","timestamp":"2025-01-01T${b % 24}%02d:${i % 60}%02d:00Z"}""")
                .mkString("[", ",", "]")
              val r = send(servers(gw), "POST", s"/api/logs/bench/w$w",
                Some(s"""{"logs":$logs}"""), Some(tokens(gw)))
              if (r.statusCode == 201) appendsOk.incrementAndGet() else errors.incrementAndGet()
            } catch { case _: Exception => errors.incrementAndGet() }
          }
        }, s"svc2-writer-$w")
      }
      val t0 = System.nanoTime()
      writers.foreach(_.start()); writers.foreach(_.join(300000))
      val dt = (System.nanoTime() - t0) / 1e9
      val rows = appendsOk.get.toLong * rowsPerBatch
      System.err.println(
        f"[bench] $label%-33s $dt%8.3f s  " +
        f"ingest ${rows / dt}%.0f rows/s (${appendsOk.get / dt}%.1f posts/s), errors=${errors.get}" +
        f" [2 gateways x ${nWriters / 2} writers, shared manifest root + shared CAS catalog, 64KiB rotation]")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
    } finally servers.foreach(s => try s.close() catch { case _: Exception => () })
  }

  /** One service run's headline numbers — rows ingested over the write
    * window, post latency percentiles, settled-read throughput +
    * latency (the version-keyed plan cache's serving numbers), errors.
    * `ServiceScaleCheck` compares these across a 10× session/volume
    * scale-up. */
  final case class TierResult(rows: Long, dtWrite: Double, posts: Int,
                              p50Ms: Double, p99Ms: Double,
                              roReadsPerSec: Double, roRowsPerSec: Double,
                              readP50Ms: Double, readP99Ms: Double,
                              errors: Int,
                              readStages: Seq[(String, Double, Double)] = Seq.empty) {
    def rowsPerSec: Double = rows / math.max(dtWrite, 1e-9)
  }

  def runTier(spark: SparkSession, nWriters: Int, nBatches: Int,
              labelSuffix: String): Option[TierResult] = {
    val root = Scratch.localDir + s"/svcbench-manifest-${System.nanoTime()}"
    val label = "log_service_throughput_manifest" + labelSuffix
    // server startup stays INSIDE the try: a bind/scratch failure must
    // degrade to the FAILED detail line, never escape past the bench's
    // already-printed stdout JSON and kill the process
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
        f"[bench] $label%-33s $dt%8.3f s  " +
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
        System.err.println("[bench] read stages (p50/p99 ms): " +
          stages.map { case (st, a, b) => f"$st $a%.1f/$b%.1f" }.mkString("  "))
      Some(TierResult(rows, dtWrite, appendsOk.get, pctMs(0.5), pctMs(0.99),
        roOk / roDt, roRows / roDt, pctOf(0.5, readNanos), pctOf(0.99, readNanos),
        errors.get, stages))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
        None
    } finally if (server != null) server.close()
  }
}
