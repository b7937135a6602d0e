package graft.perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._
import graft.api.LogServer
import graft.storage.ManifestLog
import Traffic.SessionGen

/** Closed-loop HTTP clients against a `LogServer` on the ManifestLog
  * tier: `service_read` (settled reads on plan-cache hits) and
  * `service_mixed` (writers beside read-your-writes readers). */
object Service {

  final case class Resp(code: Int, body: String)

  /** A keep-alive HTTP/1.1 connection with TCP_NODELAY, so a request
    * leaves in one segment and no delayed-ACK stall lands on the client
    * side of the measurement. */
  private final class Conn(port: Int) {
    val sock = new java.net.Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true); sock.setSoTimeout(60000)
    val in = new java.io.BufferedInputStream(sock.getInputStream, 1 << 16)
    val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
    def close(): Unit = try sock.close() catch { case _: Exception => () }
  }
  private val conns = ThreadLocal.withInitial[scala.collection.mutable.Map[Int, Conn]](
    () => scala.collection.mutable.Map.empty[Int, Conn])

  /** One HTTP exchange on this thread's connection to `port`; a stale
    * keep-alive connection is replaced once. */
  def call(port: Int, method: String, path: String, body: String = null,
           token: String = null): Resp = {
    val payload = if (body == null) Array.emptyByteArray else body.getBytes(StandardCharsets.UTF_8)
    val head = new StringBuilder(s"$method $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n")
    if (token != null) head ++= s"Authorization: Bearer $token\r\n"
    if (body != null) head ++= "Content-Type: application/json\r\n"
    head ++= s"Content-Length: ${payload.length}\r\n\r\n"
    def attempt(): Resp = {
      val c = conns.get.getOrElseUpdate(port, new Conn(port))
      try {
        c.out.write(head.toString.getBytes(StandardCharsets.US_ASCII)); c.out.write(payload); c.out.flush()
        readResponse(c)
      } catch { case e: java.io.IOException => c.close(); conns.get.remove(port); throw e }
    }
    try attempt() catch { case _: java.io.IOException => attempt() }
  }

  private def readLine(in: java.io.InputStream): String = {
    val sb = new StringBuilder
    var b = in.read()
    while (b != '\n') {
      if (b < 0) throw new java.io.EOFException("connection closed")
      if (b != '\r') sb += b.toChar
      b = in.read()
    }
    sb.toString
  }

  private def readResponse(c: Conn): Resp = {
    val status = readLine(c.in)
    val code = status.split(" ")(1).toInt
    var length = -1; var chunked = false; var close = false
    var line = readLine(c.in)
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      val (k, v) = (line.take(i).trim.toLowerCase, line.drop(i + 1).trim)
      if (k == "content-length") length = v.toInt
      if (k == "transfer-encoding" && v.equalsIgnoreCase("chunked")) chunked = true
      if (k == "connection" && v.equalsIgnoreCase("close")) close = true
      line = readLine(c.in)
    }
    val bytes =
      if (chunked) {
        val buf = new java.io.ByteArrayOutputStream()
        var n = Integer.parseInt(readLine(c.in).trim.split(";")(0), 16)
        while (n > 0) { buf.write(c.in.readNBytes(n)); readLine(c.in); n = Integer.parseInt(readLine(c.in).trim.split(";")(0), 16) }
        readLine(c.in)
        buf.toByteArray
      } else if (length >= 0) c.in.readNBytes(length)
      else { close = true; c.in.readAllBytes() }
    if (close) { c.close(); conns.get.values.find(_ eq c).foreach(_ => conns.get.filterInPlace((_, x) => x ne c)) }
    Resp(code, new String(bytes, StandardCharsets.UTF_8))
  }

  private val TotalRows = "\"total_rows\":(\\d+)".r
  def totalRows(body: String): Option[Int] =
    TotalRows.findFirstMatchIn(body).map(_.group(1).toInt)

  /** A running server with its traced tier, token and sessions. */
  final class Rig(ctx: Ctx, val root: String, rotationBytes: Long) {
    var tier: TracedTier = _
    val server: LogServer = new LogServer(ctx.spark, root, bufferSizeLimit = rotationBytes,
      makeTier = (sp, dir) => { tier = new TracedTier(sp, new ManifestLog(sp, dir), ctx.tracer); tier }).start()
    val port: Int = server.boundPort
    val token: String = {
      val r = call(port, "POST", "/api/auth/login", """{"username":"admin","password":"admin"}""")
      require(r.code == 200, s"login failed: ${r.code} ${r.body}")
      r.body.split("\"token\"\\s*:\\s*\"")(1).takeWhile(_ != '"')
    }
    locally {
      // 409: the container survives from before a reopen
      val r = call(port, "POST", "/api/containers", """{"container_id":"bench"}""", token)
      require(r.code == 201 || r.code == 409, s"container create failed: ${r.code} ${r.body}")
    }

    def createSession(name: String): Unit = {
      val r = call(port, "POST", "/api/containers/bench/sessions", s"""{"session_id":"$name"}""", token)
      require(r.code == 201, s"session create failed: ${r.code} ${r.body}")
    }
    def post(s: String, b: Traffic.Batch): Resp = call(port, "POST", s"/api/logs/bench/$s", b.json, token)
    def get(s: String, range: Option[(Long, Long)]): Resp =
      call(port, "GET", s"/api/logs/bench/$s${Traffic.rangeQuery(range)}", null, token)
    def close(): Unit = server.close()
  }

  /** Latency samples and outcome counts of one operation kind. A failed
    * or refused operation is recorded as an infinite latency, so it
    * misses every latency limit. */
  final class Ops {
    val lat = new ConcurrentLinkedQueue[java.lang.Double]()
    val attempted = new AtomicLong(); val failed = new AtomicLong()
    def ok(ms: Double): Unit = { attempted.incrementAndGet(); lat.add(ms) }
    def fail(why: String): Unit = {
      attempted.incrementAndGet(); failed.incrementAndGet(); lat.add(Double.PositiveInfinity)
      if (failed.get <= 5) System.err.println(s"[perfbench] failed operation: $why")
    }
    def samples: Seq[Double] = lat.asScala.toSeq.map(_.doubleValue)
    def pct(q: Double): Double = Stats.pct(samples, q)
    def mean: Double = Stats.mean(samples)
  }

  /** Run `clients` until `until` (nanoTime) or their own end; a client
    * still alive a minute after the deadline fails the run. */
  def runClients(clients: Seq[(String, () => Unit)], deadlineNs: Long): Unit = {
    val threads = clients.map { case (name, body) => new Thread(() => body(), name) }
    threads.foreach(_.start())
    val joinBy = deadlineNs + 60L * 1000000000L
    threads.foreach(t => t.join(math.max(1L, (joinBy - System.nanoTime()) / 1000000L)))
    val stragglers = threads.filter(_.isAlive)
    require(stragglers.isEmpty,
      s"${stragglers.size} client(s) still running past the join timeout: ${stragglers.map(_.getName).mkString(",")}")
  }

  /** Timed GET with its row-count check: total_rows must lie within
    * [lower, upper] computed from the ledger. */
  private def checkedGet(rig: Rig, g: SessionGen, range: Option[(Long, Long)], ops: Ops,
                         tracer: Tracer, client: Int): Unit = {
    val lower = g.countIn(g.ackedRows, range)
    val key = s"bench/${g.name}"
    val t0 = System.nanoTime()
    val r = tracer.span("http.GET", "api", key = key, attrs = Map("client" -> client.toString)) {
      try rig.get(g.name, range) catch { case e: Exception => Resp(-1, String.valueOf(e)) }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val upper = g.countIn(g.sentRows, range)
    totalRows(r.body) match {
      case Some(n) if r.code == 200 && n >= lower && n <= upper => ops.ok(ms)
      case other => ops.fail(s"GET $key$range -> ${r.code} rows=$other expected [$lower, $upper]")
    }
  }

  private def postBatch(rig: Rig, g: SessionGen, b: Traffic.Batch, ops: Ops, tracer: Tracer): Unit = {
    g.sent(b)
    val t0 = System.nanoTime()
    val r = tracer.span("http.POST", "api", key = s"bench/${g.name}") {
      try rig.post(g.name, b) catch { case e: Exception => Resp(-1, String.valueOf(e)) }
    }
    if (r.code == 201) { g.acked(b); ops.ok((System.nanoTime() - t0) / 1e6) }
    else { g.dropped(b); ops.fail(s"POST bench/${g.name} -> ${r.code} ${r.body.take(200)}") }
  }

  /** Run `body(i)` for i in 0 until n on n threads; rethrows the first
    * failure. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val error = new AtomicReference[Throwable](null)
    val threads = (0 until n).map { i =>
      new Thread(() => try body(i) catch { case e: Throwable => error.compareAndSet(null, e) }, s"perfbench-setup-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    Option(error.get).foreach(e => throw e)
  }

  /** Open a server on the root a closed server left, and compare every
    * session's row count with the rows acknowledged for it, reading
    * with `clients` threads. Each of these first reads after the reopen
    * (an empty plan cache) is recorded in `cold`; returns the time from
    * the reopen until the server has answered its login and
    * container requests. */
  def reopenCheck(ctx: Ctx, root: String, gens: Seq[SessionGen], rotationBytes: Long,
                  clients: Int, cold: Ops): Double = {
    val t0 = System.nanoTime()
    val again = new Rig(ctx, root, rotationBytes)
    val s = (System.nanoTime() - t0) / 1e9
    try {
      parallel(clients) { c =>
        gens.indices.filter(_ % clients == c).map(gens).foreach { g =>
          val g0 = System.nanoTime()
          val r = try again.get(g.name, None) catch { case e: Exception => Resp(-1, String.valueOf(e)) }
          if (r.code == 200 && totalRows(r.body).contains(g.ackedRows)) cold.ok((System.nanoTime() - g0) / 1e6)
          else cold.fail(s"after reopen bench/${g.name}: ${r.code} rows=${totalRows(r.body)} acknowledged=${g.ackedRows}")
        }
      }
      System.err.println(f"[perfbench] reopen: $s%.3f s, then read back: ${(System.nanoTime() - t0) / 1e9 - s}%.3f s")
      s
    } finally again.close()
  }

  /** Server reopens after the window; `restart_s` is their median. */
  val Reopens = 5

  /** Bytes of every file under `dir`. */
  def du(dir: java.io.File): Long =
    if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(du).sum).getOrElse(0L)

  /** Storage-layer figures read after the window: manifest versions and
    * files per session, plus the decorator's counters. */
  private def storageMetrics(ctx: Ctx, rig: Rig, gens: Seq[SessionGen], posts: Long,
                             bufferedMax: Long): Seq[Metric] = {
    val t = ctx.tracer
    val versions = gens.map(g => rig.tier.inner.versions("bench", g.name).size)
    val files = gens.map { g => val (cf, _, hf, _) = rig.tier.inner.tierStats("bench", g.name); cf + hf }
    val appends = t.counter("storage.appends")
    val readCalls = t.counter("storage.read_calls")
    val userBytes = gens.map(_.ackedBytes).sum.toDouble
    val appendMs = t.samplesOf("storage.append.ms")
    Seq(
      Metric("ingest.flushes", appends, "count"),
      Metric("ingest.posts_per_flush", if (appends > 0) posts.toDouble / appends else 0.0, "ratio"),
      Metric("ingest.buffered_bytes_max", bufferedMax, "bytes"),
      Metric("storage.append_p50_ms", nz(Stats.median(appendMs)), "ms"),
      Metric("storage.append_p99_ms", nz(Stats.pct(appendMs, 0.99)), "ms"),
      Metric("storage.append_busy_s", appendMs.sum / 1000.0, "s"),
      Metric("storage.read_plan_ms", nz(Stats.median(t.samplesOf("storage.read.ms"))), "ms"),
      Metric("storage.read_plan_reuse",
        if (readCalls > 0) t.counter("storage.read_plan_reused").toDouble / readCalls else 0.0, "ratio"),
      Metric("storage.tier_stats_ms", nz(Stats.median(t.samplesOf("storage.tier_stats.ms"))), "ms"),
      Metric("storage.compactions", t.counter("storage.compactions"), "count"),
      Metric("storage.compact_busy_s", t.samplesOf("storage.compact.ms").sum / 1000.0, "s"),
      Metric("storage.compact_bytes_retired", t.sum("storage.compact_bytes_retired"), "bytes"),
      Metric("storage.bytes_written_per_user_byte",
        if (userBytes > 0) (t.sum("storage.append_bytes") + t.sum("storage.compact_bytes_written")) / userBytes
        else 0.0, "ratio"),
      Metric("storage.manifest_versions_max", if (versions.isEmpty) 0 else versions.max, "count"),
      Metric("storage.files_per_session", files.sum.toDouble / math.max(1, files.size), "count"))
  }

  private def nz(v: Double): Double = if (v.isNaN) 0.0 else v

  /** Per-stage p50/p99 from `LogServer.recordReadTimings`. */
  private def seamMetrics(rig: Rig): Seq[Metric] = {
    val byStage = rig.server.readTimings.asScala.toSeq.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2 / 1e6) }
    def pq(stage: String, name: String): Seq[Metric] = {
      val xs = byStage.getOrElse(stage, Seq.empty)
      Seq(Metric(s"${name}_p50_ms", nz(Stats.median(xs)), "ms"),
          Metric(s"${name}_p99_ms", nz(Stats.pct(xs, 0.99)), "ms"))
    }
    pq("token", "catalog.verify_token") ++ pq("auth", "catalog.session_access") ++
      pq("flush", "ingest.read_flush") ++ pq("query", "engine.read_query") ++ pq("render", "api.render")
  }

  /** Samples `bufferedBytes` every 10 ms while tracing. */
  private final class BufferSampler(rig: Rig, on: Boolean) {
    val max = new AtomicLong(0)
    @volatile private var running = on
    private val th = new Thread(() => while (running) {
      max.accumulateAndGet(rig.server.ingestBuffer.bufferedBytes, math.max)
      Thread.sleep(10)
    }, "perfbench-buffer-sampler")
    if (on) th.start()
    def stop(): Long = { running = false; if (on) th.join(); max.get }
  }

  // ---------------------------------------------------------------- read

  val ReadSessions = 32

  def read(ctx: Ctx): Result = {
    val clients = math.max(1, math.min(4, ctx.nproc))
    val rotation = 10L * 1024 * 1024
    var rig: Rig = null
    // server start and provisioning are repeated and the median kept;
    // the pre-ingest runs once, on the last server
    val r = new SplittableRandom(ctx.seed)
    val gens = (0 until ReadSessions).map(k => new SessionGen(f"r$k%02d", r.split(), k))
    val serverS = ctx.repeatSetup { i =>
      if (rig != null) rig.close()
      rig = new Rig(ctx, ctx.work(s"server-read-$i"), rotation)
      gens.foreach(g => rig.createSession(g.name))
    }
    val ingest0 = System.nanoTime()
    // skewed session sizes: a fixed log-spaced set from 20 to 3,000 rows,
    // dealt to sessions in seeded order, posted in batches of up to 1,000
    val sizes = new scala.util.Random(ctx.seed).shuffle(
      (0 until ReadSessions).map(k => (20 * math.pow(150.0, k / (ReadSessions - 1.0))).toInt))
    val batches = gens.zip(sizes).map { case (g, size) =>
      var left = size
      val out = Vector.newBuilder[Traffic.Batch]
      while (left > 0) { val n = math.min(left, 1000); out += g.batch(r, n); left -= n }
      out.result()
    }
    // each client thread posts its own sessions, then reads each back
    // whole: that flushes the buffer and fills the plan cache
    parallel(clients) { c =>
      gens.indices.filter(_ % clients == c).foreach { k =>
        val g = gens(k)
        batches(k).foreach { b =>
          g.sent(b)
          val resp = rig.post(g.name, b)
          require(resp.code == 201, s"pre-ingest POST failed: ${resp.code} ${resp.body}")
          g.acked(b)
        }
        val resp = rig.get(g.name, None)
        require(resp.code == 200 && totalRows(resp.body).contains(g.ackedRows),
          s"pre-ingest read-back of ${g.name} failed: ${resp.code}")
      }
    }
    val preIngestS = (System.nanoTime() - ingest0) / 1e9
    System.err.println(f"[perfbench] pre-ingest: $preIngestS%.3f s")
    val setup = serverS + preIngestS
    val ops = new Ops
    val tracer = ctx.tracer
    // client c owns the sessions with index % clients == c and picks
    // among them uniformly
    val owned = (0 until clients).map { c =>
      val mine = gens.zipWithIndex.filter(_._2 % clients == c).map(_._1)
      (mine, Traffic.zipfCdf(mine.size, 0.0))
    }
    rig.server.readTimings.clear()
    rig.server.recordReadTimings = tracer.enabled
    val sampler = new BufferSampler(rig, tracer.enabled)
    ctx.sparkTrace.begin()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    runClients((0 until clients).map { c =>
      s"perfbench-reader-$c" -> (() => {
        val r = new SplittableRandom(ctx.seed * 1000 + c)
        val (mine, cdf) = owned(c)
        while (System.nanoTime() < deadline) {
          val g = mine(Traffic.pick(r, cdf))
          checkedGet(rig, g, g.range(r), ops, tracer, c)
        }
      })
    }, deadline)
    val windowS = (System.nanoTime() - t0) / 1e9
    ctx.sparkTrace.end()
    rig.server.recordReadTimings = false
    val bufferedMax = sampler.stop()
    val layers =
      if (!tracer.enabled) Seq.empty
      else seamMetrics(rig) ++ storageMetrics(ctx, rig, gens, 0L, bufferedMax) ++
        Seq(Metric("api.err_frac", ops.failed.get.toDouble / math.max(1L, ops.attempted.get), "ratio"))
    val userBytes = gens.map(_.ackedBytes).sum.toDouble
    val spaceAmp = du(new java.io.File(rig.root, "data")) / userBytes
    // restart: close, reopen on the same root, read back
    rig.close()
    val cold = new Ops
    val restartS = Stats.median((0 until Reopens).map { _ => reopenCheck(ctx, rig.root, gens, rotation, clients, cold) })
    val done = ops.attempted.get - ops.failed.get
    val report = Seq(
      Metric("read_per_s", done / windowS, "1/s"),
      Metric("read_p50_ms", ops.pct(0.5), "ms"),
      Metric("read_p95_ms", ops.pct(0.95), "ms"),
      Metric("read_p99_ms", ops.pct(0.99), "ms"),
      Metric("read_samples", ops.attempted.get, "count"),
      Metric("cold_read_p50_ms", cold.pct(0.5), "ms"),
      Metric("cold_read_mean_ms", cold.mean, "ms"),
      Metric("restart_s", restartS, "s"))
    Result(
      attempted = ops.attempted.get + cold.attempted.get, failed = ops.failed.get + cold.failed.get,
      setupS = setup,
      e2e = Seq(
        Metric("op_p50_ms", ops.pct(0.5), "ms"),
        Metric("op_tail_ms", ops.pct(0.95), "ms"),
        Metric("second_mean_ms", cold.mean, "ms"),
        Metric("work_per_s", done / windowS, "1/s"),
        Metric("side_work_s", restartS, "s"),
        Metric("space_amp", spaceAmp, "ratio")),
      report = report, layer = layers, ops = ops.attempted.get)
  }

  // --------------------------------------------------------------- mixed

  val MixedSessions = 16
  private val QuietMs = 250L
  private val Bursts = 3
  private val WarmupBurstS = 2.0

  def mixed(ctx: Ctx): Result = {
    val writers = math.max(1, math.min(3, ctx.nproc - 1))
    val rotation = 256L * 1024
    var rig: Rig = null
    val r = new SplittableRandom(ctx.seed)
    val gens = (0 until MixedSessions).map(k => new SessionGen(f"m$k%02d", r.split(), k))
    val setup = ctx.repeatSetup { i =>
      if (rig != null) rig.close()
      rig = new Rig(ctx, ctx.work(s"server-mixed-$i"), rotation)
      gens.foreach(g => rig.createSession(g.name))
    }
    val tracer = ctx.tracer
    val posts = new Ops; val fresh = new Ops
    // global Zipf popularity; writer w owns the ranks with rank % writers == w
    val ranked = new scala.util.Random(ctx.seed * 17).shuffle(gens)
    val owned = (0 until writers).map { w =>
      val mine = ranked.zipWithIndex.filter(_._2 % writers == w)
      val weights = mine.map { case (_, rank) => 1.0 / math.pow(rank + 1, 1.1) }
      (mine.map(_._1), weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray)
    }
    val lastWritten = new AtomicReference[SessionGen](null)
    val lastAckNs = new AtomicLong(0)
    val writerRng = (0 until writers).map(w => new SplittableRandom(ctx.seed * 1000 + w))
    val readerRng = new SplittableRandom(ctx.seed * 1000 + 999)
    // A burst writes for `seconds`, then waits for the service to settle:
    // the ingest buffer is empty and no append or compaction has run for
    // QuietMs (the one compactor worker starts a queued job within
    // microseconds of the previous one ending). Returns the write time
    // (to the last ack) and the settle time.
    def burst(seconds: Double, posts: Ops, fresh: Ops): (Double, Double) = {
      val b0 = System.nanoTime()
      val deadline = b0 + (seconds * 1e9).toLong
      val writerClients = (0 until writers).map { w =>
        s"perfbench-writer-$w" -> (() => {
          val r = writerRng(w)
          val (mine, cdf) = owned(w)
          while (System.nanoTime() < deadline) {
            val g = mine(Traffic.pick(r, cdf))
            val before = posts.failed.get
            postBatch(rig, g, g.batch(r, Traffic.batchRows(r)), posts, tracer)
            if (posts.failed.get == before) {
              lastWritten.set(g); lastAckNs.set(System.nanoTime())
            }
          }
        })
      }
      val readerClient = "perfbench-fresh-reader" -> (() => {
        while (System.nanoTime() < deadline) {
          val g = lastWritten.get
          if (g == null) Thread.sleep(1)
          else checkedGet(rig, g, g.range(readerRng), fresh, tracer, writers)
        }
      })
      runClients(writerClients :+ readerClient, deadline)
      val settleBy = System.nanoTime() + 60L * 1000000000L
      def quiet: Boolean =
        rig.server.ingestBuffer.bufferedBytes == 0 && rig.tier.writesRunning == 0 &&
          System.nanoTime() - rig.tier.lastWriteEnd > QuietMs * 1000000L
      while (!quiet) {
        require(System.nanoTime() < settleBy, "service did not settle within 60 s of the last ack")
        Thread.sleep(2)
      }
      ((lastAckNs.get - b0) / 1e9, math.max(0L, rig.tier.lastWriteEnd - lastAckNs.get) / 1e9)
    }
    // an untimed warm-up burst (JIT, first flush and compaction) is set-up
    val warm = new Ops
    val w0 = System.nanoTime()
    burst(WarmupBurstS, warm, warm)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val warmupRows = gens.map(_.ackedRows.toLong).sum

    rig.server.readTimings.clear()
    rig.server.recordReadTimings = tracer.enabled
    val sampler = new BufferSampler(rig, tracer.enabled)
    ctx.sparkTrace.begin()
    val timed = (0 until Bursts).map(_ => burst(ctx.seconds / Bursts, posts, fresh))
    val writeS = timed.map(_._1).sum
    val settles = timed.map(_._2)
    val settleS = settles.sum / settles.size
    System.err.println(s"[perfbench] settle per burst (s): ${settles.map(x => f"$x%.3f").mkString(" ")}")
    // every acknowledged row is readable
    val unreadable = gens.count { g =>
      val resp = rig.get(g.name, None)
      !(resp.code == 200 && totalRows(resp.body).contains(g.ackedRows))
    }
    ctx.sparkTrace.end()
    rig.server.recordReadTimings = false
    val bufferedMax = sampler.stop()
    val userBytes = gens.map(_.ackedBytes).sum.toDouble
    val spaceAmp = du(new java.io.File(rig.root, "data")) / userBytes
    val layers =
      if (!tracer.enabled) Seq.empty
      else seamMetrics(rig) ++ storageMetrics(ctx, rig, gens, posts.attempted.get - posts.failed.get, bufferedMax) ++
        Seq(Metric("api.err_frac",
          (posts.failed.get + fresh.failed.get).toDouble / math.max(1L, posts.attempted.get + fresh.attempted.get), "ratio"))
    rig.close()
    val cold = new Ops
    val restartS = Stats.median((0 until Reopens).map { _ => reopenCheck(ctx, rig.root, gens, rotation, writers + 1, cold) })
    // rows acknowledged inside the timed bursts, over their write time
    val rowsPerS = (gens.map(_.ackedRows.toLong).sum - warmupRows) / writeS
    val report = Seq(
      Metric("ingest_rows_per_s", rowsPerS, "rows/s"),
      Metric("post_p50_ms", posts.pct(0.5), "ms"),
      Metric("post_p99_ms", posts.pct(0.99), "ms"),
      Metric("post_samples", posts.attempted.get, "count"),
      Metric("fresh_read_p50_ms", fresh.pct(0.5), "ms"),
      Metric("fresh_read_mean_ms", fresh.mean, "ms"),
      Metric("fresh_read_samples", fresh.attempted.get, "count"),
      Metric("settle_s", settleS, "s"),
      Metric("restart_s", restartS, "s"),
      Metric("space_amp", spaceAmp, "ratio"))
    Result(
      attempted = posts.attempted.get + fresh.attempted.get + warm.attempted.get + cold.attempted.get + gens.size,
      failed = posts.failed.get + fresh.failed.get + warm.failed.get + cold.failed.get + unreadable,
      setupS = setup + warmupS,
      e2e = Seq(
        Metric("op_p50_ms", posts.pct(0.5), "ms"),
        Metric("op_tail_ms", posts.pct(0.99), "ms"),
        Metric("second_mean_ms", fresh.mean, "ms"),
        Metric("work_per_s", rowsPerS, "1/s"),
        Metric("side_work_s", restartS, "s"),
        Metric("space_amp", spaceAmp, "ratio")),
      report = report, layer = layers,
      ops = posts.attempted.get + fresh.attempted.get)
  }
}
