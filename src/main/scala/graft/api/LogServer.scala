package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.concurrent.Executors
import scala.util.matching.Regex
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.catalog.CatalogService
import graft.engine.{Compactor, QueryEngine}
import graft.ingest.JsonIngest
import graft.model.LogSchema
import graft.storage.{LogTier, ManifestLog}

/** The reference's HTTP surface (main.py:51-347, P1-P10) over the Spark
  * engine: token auth, container/session CRUD with ownership, and
  * GET/POST log endpoints wired to [[QueryEngine]]/[[ManifestLog]], with the
  * same status-code contract — 400 validation, 401 authN, 403 authZ,
  * 409 conflict, 500 fallback — and the same response shapes (README.md:
  * 106-299). Runs on the JDK's built-in HttpServer: the service layer is
  * control flow, not dataflow; every data operation is a Spark plan.
  *
  * Scale note: the server is a thin driver-side gateway. Reads stream
  * via `toLocalIterator` (one partition resident at a time) and writes
  * go through a per-session write-behind buffer
  * ([[graft.ingest.IngestBuffer]] — one hot-tier append per flushed
  * batch, not per POST) with size-triggered async compaction
  * ([[Compactor]]), so the HTTP layer never materializes a dataset. A
  * flush starts no Spark job: the batch's rows are already on the
  * driver and are written there.
  */
final class LogServer(spark: SparkSession, root: String, port: Int = 0,
                      bufferSizeLimit: Long = 10L * 1024 * 1024,
                      ingestFlushBytes: Long = 4L * 1024 * 1024,
                      ingestFlushMs: Long = 100,
                      makeTier: (SparkSession, String) => LogTier = LogServer.defaultTier,
                      maxBodyBytes: Int = 32 * 1024 * 1024,
                      makeCatalog: (SparkSession, String) => CatalogService = LogServer.defaultCatalog,
                      maxStreamMs: Long = 10 * 60 * 1000L,
                      // default caps the batch GET at 100k rows (413 +
                      // stream=true hint past it) — a DECLARED deviation
                      // from the reference's unbounded batch read; <= 0
                      // means uncapped (reference-compatible). README
                      // "Design decisions vs the reference".
                      maxNonStreamRows: Int = 100000)
    extends AutoCloseable {

  /** Constructor-injected control plane: the CAS-committed catalog on a
    * data root ([[LogServer.catalogOn]]), by default this server's own
    * `<root>/data` — login, ownership and revocation span every gateway
    * on that root, like the data plane's manifests. `root` here is the
    * SERVER root; a factory for a shared data root closes over it. */
  val catalog: CatalogService = makeCatalog(spark, root)
  /** Constructor-injected store: a [[ManifestLog]] on `<root>/data` by
    * default, or any [[LogTier]] (a shared root, a traced decorator) —
    * every handler below talks to the trait only. */
  val store: LogTier = makeTier(spark, s"$root/data")
  val engine = new QueryEngine(store)
  val compactor = new Compactor(store, bufferSizeLimit)
  /** Write-behind ingest buffer (reference writer.py:233-259 semantics:
    * 201 = buffered; size/time-bounded flush; read paths flush first). */
  val ingestBuffer = new graft.ingest.IngestBuffer(ingestFlushBytes, ingestFlushMs)({
    (c, s, rows) =>
      val bytes = store.append(JsonIngest.toDataFrame(spark, rows), c, s)
      compactor.noteAppend(c, s, bytes)
  })

  private val mapper = new ObjectMapper()
  /** Forces streaming responses past [[maxStreamMs]] to abort even when
    * the handler thread is parked in a blocked `write` (a client that
    * stopped reading its socket) — closing the exchange fails the write
    * with an IOException, which ends the response through the normal
    * mid-stream abort path. The in-loop deadline check alone
    * cannot reach that state. */
  private val streamWatchdog =
    Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-stream-watchdog"); t.setDaemon(true); t
    })
  private val http = HttpServer.create(new InetSocketAddress(port), 0)
  http.setExecutor(Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  }))
  http.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): LogServer = { http.start(); this }
  def boundPort: Int = http.getAddress.getPort

  /** Graceful shutdown: stop accepting, flush buffered ingest (after
    * which every acked row is durable), then drain compactions + final
    * rotation flush (reference cleanup_handler, main.py:350-365).
    * Finally release the session's memoized derived relations — a
    * long-lived process that cycles servers must not accumulate pinned
    * checkpoint blocks (`Tables.invalidate`). */
  override def close(): Unit = {
    // stop(1): give in-flight exchange handlers up to a second to
    // finish — stop(0) returns with handlers still running, and a
    // racing postLogs must hit the ingest buffer's closed-rejection,
    // not a post-drain ack
    http.stop(1)
    // Every cleanup step runs regardless of earlier failures (a
    // compactor drain error must not skip Tables.invalidate — that is
    // the pinned-checkpoint leak this method exists to prevent), and
    // the FIRST failure is the one thrown: an ingest-drain error
    // (acked rows stranded — the error the caller must see) is never
    // masked by a later cleanup exception, which rides along as
    // suppressed instead.
    var primary: Throwable = null
    def step(f: => Unit): Unit =
      try f catch {
        case t: Throwable =>
          if (primary == null) primary = t else primary.addSuppressed(t)
      }
    step(ingestBuffer.close()) // throws if acked rows could not be drained
    step(compactor.close())
    step(streamWatchdog.shutdownNow())
    step { graft.ops.Tables.invalidate(spark); () }
    if (primary != null) throw primary
  }

  // ---- routing ----

  private val LogsPath: Regex = "/api/logs/([^/]+)/([^/]+)".r
  private val SessionsPath: Regex = "/api/containers/([^/]+)/sessions".r

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath
      (ex.getRequestMethod, path) match {
        case ("POST", "/api/auth/login")       => login(ex)
        case ("POST", "/api/auth/logout")      => authed(ex)((u, t) => logout(ex, u, t))
        case ("POST", "/api/containers")       => authed(ex)((u, _) => createContainer(ex, u))
        case ("GET",  "/api/containers")       => authed(ex)((u, _) => listContainers(ex, u))
        case ("POST", SessionsPath(c))         => authed(ex)((u, _) => createSession(ex, u, c))
        case ("GET",  SessionsPath(c))         => authed(ex)((u, _) => listSessions(ex, u, c))
        case ("GET",  LogsPath(c, s))          => authed(ex)((u, _) => getLogs(ex, u, c, s))
        case ("POST", LogsPath(c, s))          => authed(ex)((u, _) => postLogs(ex, u, c, s))
        case _ => error(ex, 404, "Not found")
      }
    } catch {
      case e: Exception => try error(ex, 500, String.valueOf(e.getMessage)) catch { case _: Exception => () }
    } finally ex.close()
  }

  /** Opt-in per-stage timing of the read path — ServiceScaleCheck's
    * p99 attribution seam. Off by default; the disabled cost is the
    * `System.nanoTime()` pairs plus one volatile read per stage — no
    * allocation, nothing enqueued. Stages
    * ([[LogServer.ReadStages]]): `token` (bearer verify — catalog
    * resolve), `auth` (session ownership), `flush` (read-your-writes
    * buffer flush), `stats` (tier resolve + file stat), `query` (plan
    * lookup + collect), `render` (JSON assembly + response write).
    *
    * Samples are STAGED per request and published only when the
    * request completes the full batch-read 200 path, so every
    * published request carries ALL six stages — per-stage percentiles
    * are computed over ONE population. Streaming GETs, empty-session
    * short-circuits, POSTs (whose `authed` token check also stages a
    * sample) and error paths publish nothing; their staged samples
    * are discarded at the next request's entry. Handlers run
    * synchronously on one executor thread, so a ThreadLocal buffer
    * is request-scoped. */
  @volatile private[graft] var recordReadTimings = false
  private[graft] val readTimings =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
  private val stagedTimings =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[(String, Long)]] {
      override def initialValue() =
        scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    }
  private def noteStage(stage: String, nanos: Long): Unit =
    if (recordReadTimings) stagedTimings.get() += ((stage, nanos))
  private def publishStagedTimings(): Unit =
    if (recordReadTimings) {
      val staged = stagedTimings.get()
      // Publish ONLY a complete stage set in canonical order: a request
      // already past `authed` when the flag flipped on staged a suffix
      // only, and a buffer left from a
      // previous measurement window (the flag flipped off before this
      // thread's next `authed` cleared it) carries another tier's
      // samples — either would mix populations in the per-stage
      // percentiles. Always clear, so nothing leaks across windows.
      if (staged.map(_._1) == LogServer.ReadStages) staged.foreach(readTimings.add)
      staged.clear()
    }

  /** Bearer authN (auth.py:257-283): 401 on missing header, bad format,
    * or invalid/expired token; otherwise the handler gets (user, token). */
  private def authed(ex: HttpExchange)(f: (String, String) => Unit): Unit = {
    val header = Option(ex.getRequestHeaders.getFirst("Authorization"))
    header match {
      case None => error(ex, 401, "No authorization header provided")
      case Some(h) =>
        h.split("\\s+").filter(_.nonEmpty) match {
          case Array(scheme, token) if scheme.equalsIgnoreCase("bearer") =>
            if (recordReadTimings) stagedTimings.get().clear()
            val t0 = System.nanoTime()
            val who = catalog.verifyToken(token)
            noteStage("token", System.nanoTime() - t0)
            who match {
              case Some(user) => f(user, token)
              case None => error(ex, 401, "Invalid or expired token")
            }
          case _ => error(ex, 401, "Invalid authorization header format. Use: Bearer <token>")
        }
    }
  }

  // ---- auth endpoints (P1-P2, main.py:51-92) ----

  private def login(ex: HttpExchange): Unit = withJson(ex) { body =>
    val user = body.flatMap(textField(_, "username"))
    val pass = body.flatMap(textField(_, "password"))
    (user, pass) match {
      case (Some(u), Some(p)) =>
        if (!catalog.verifyPassword(u, p)) error(ex, 401, "Invalid credentials")
        else {
          val o = mapper.createObjectNode()
          o.put("token", catalog.createToken(u, 24))
          o.put("user_id", u)
          o.put("expires_in_hours", 24)
          respond(ex, 200, o)
        }
      case _ => error(ex, 400, "Missing username or password")
    }
  }

  private def logout(ex: HttpExchange, user: String, token: String): Unit = {
    catalog.revokeToken(token)
    val o = mapper.createObjectNode()
    o.put("message", "Logged out successfully")
    respond(ex, 200, o)
  }

  // ---- container endpoints (P4-P5, main.py:97-143) ----

  private def createContainer(ex: HttpExchange, user: String): Unit =
    withJson(ex)(_.flatMap(textField(_, "container_id")) match {
      case None => error(ex, 400, "Missing container_id")
      case Some(cid) if !LogSchema.isValidId(cid) =>
        error(ex, 400, "Invalid container_id format. Use alphanumeric, hyphens, or underscores")
      case Some(cid) =>
        if (!catalog.createContainer(user, cid)) error(ex, 409, "Container already exists")
        else {
          val o = mapper.createObjectNode()
          o.put("container_id", cid); o.put("user_id", user)
          o.put("message", "Container created successfully")
          respond(ex, 201, o)
        }
    })

  private def listContainers(ex: HttpExchange, user: String): Unit = {
    val cs = catalog.userContainers(user)
    val o = mapper.createObjectNode()
    o.put("user_id", user)
    val arr = o.putArray("containers")
    cs.foreach { case (cid, at) =>
      val n = mapper.createObjectNode()
      n.put("container_id", cid); n.put("created_at", sqlTs(at)); arr.add(n)
    }
    o.put("count", cs.size)
    respond(ex, 200, o)
  }

  // ---- session endpoints (P6-P7, main.py:148-217) ----
  // Catalog stores a namespaced id; the reference uses `<container>_<session>`
  // (main.py:168), but '_' is a legal id character, so containers "a"/"a_b"
  // with sessions "b_c"/"c" would collide. We namespace with '/', which can
  // never appear in a valid id — purely internal, responses are unchanged
  // (list strips the prefix back off, main.py:198-206).
  private def nsKey(container: String, session: String) = s"$container/$session"

  private def createSession(ex: HttpExchange, user: String, cid: String): Unit = {
    if (!catalog.verifyContainerAccess(user, cid))
      return error(ex, 403, "Container not found or access denied")
    withJson(ex)(_.flatMap(textField(_, "session_id")) match {
      case None => error(ex, 400, "Missing session_id")
      case Some(sid) if !LogSchema.isValidId(sid) =>
        error(ex, 400, "Invalid session_id format. Use alphanumeric, hyphens, or underscores")
      case Some(sid) =>
        if (!catalog.createSession(user, cid, nsKey(cid, sid)))
          error(ex, 409, "Session already exists or container not found")
        else {
          val o = mapper.createObjectNode()
          o.put("session_id", sid); o.put("container_id", cid); o.put("user_id", user)
          o.put("message", "Session created successfully")
          respond(ex, 201, o)
        }
    })
  }

  private def listSessions(ex: HttpExchange, user: String, cid: String): Unit = {
    if (!catalog.verifyContainerAccess(user, cid))
      return error(ex, 403, "Container not found or access denied")
    val ss = catalog.containerSessions(user, cid)
    val o = mapper.createObjectNode()
    o.put("container_id", cid); o.put("user_id", user)
    val arr = o.putArray("sessions")
    ss.foreach { case (sid, at) =>
      val n = mapper.createObjectNode()
      n.put("session_id", sid.stripPrefix(s"$cid/")); n.put("created_at", sqlTs(at)); arr.add(n)
    }
    o.put("count", ss.size)
    respond(ex, 200, o)
  }

  // ---- log endpoints (P8-P9, main.py:222-347) ----

  private def getLogs(ex: HttpExchange, user: String, c: String, s: String): Unit = {
    val ta = System.nanoTime()
    val allowed = catalog.verifySessionAccess(user, nsKey(c, s))
    noteStage("auth", System.nanoTime() - ta)
    if (!allowed)
      return error(ex, 403, "Session not found or access denied")
    val params = queryParams(ex)
    val startRaw = params.get("start_ts")
    val endRaw = params.get("end_ts")
    val streaming = params.get("stream").exists(_.equalsIgnoreCase("true"))
    // Read-your-writes across the ingest buffer: everything acked before
    // this GET began is on disk before the scan lists files.
    val tf = System.nanoTime()
    ingestBuffer.flush(c, s)
    noteStage("flush", System.nanoTime() - tf)

    val (start, end) =
      try (startRaw.map(parseParamTs), endRaw.map(parseParamTs))
      catch { case e: IllegalArgumentException =>
        return error(ex, 400, s"Invalid timestamp format: ${e.getMessage}")
      }

    // Empty short-circuit before any scan (main.py:256-263). Same
    // response SHAPE as the MATCHING scan path — batch shape with the
    // filter echo for batch requests, the leaner streamed shape for
    // stream=true — so a client never sees a schema that depends on
    // whether files happen to exist (the streamed shape carries no
    // total_rows/filter).
    val tst = System.nanoTime()
    val (cf, _, hf, _) = store.tierStats(c, s)
    noteStage("stats", System.nanoTime() - tst)
    val filesScanned = cf + hf
    if (filesScanned == 0) {
      val o = mapper.createObjectNode()
      o.put("container", c); o.put("session", s)
      o.putArray("logs")
      if (!streaming) {
        o.put("total_rows", 0); o.put("files_scanned", 0)
        val f = o.putObject("filter")
        startRaw.fold(f.putNull("start_ts"))(v => { f.put("start_ts", v); f })
        endRaw.fold(f.putNull("end_ts"))(v => { f.put("end_ts", v); f })
      } else o.put("files_scanned", 0)
      return respond(ex, 200, o)
    }

    if (streaming) {
      // Chunked emission, one JSON log object at a time (main.py:266-274).
      // The tier's read snapshot spans the WHOLE stream: the DataFrame's
      // file listing resolves ONCE at plan time, so the listed files must
      // stay live until the last row is sent.
      //
      // Error contract (a broad per-element swallow would turn ANY
      // first-fetch failure into a plausible empty 200, exactly the
      // silent-empty failure walkFiles' own doc forbids):
      //  - the FIRST fetch runs before the chunked 200 commits, so a
      //    query that cannot produce its first row surfaces as 500;
      //  - a MID-STREAM failure aborts the body without the closing
      //    "]}"— the client sees truncated/invalid JSON, never a
      //    complete-looking response with silently missing rows.
      // two-layer stream bound: the in-loop deadline catches a SLOW
      // client; the watchdog catches a STOPPED one (handler parked in a
      // blocked write never reaches the deadline check — closing the
      // exchange fails the write and the abort path ends the response)
      val guard = streamWatchdog.schedule(new Runnable {
        def run(): Unit = try ex.close() catch { case _: Exception => () }
      }, maxStreamMs + 1000, java.util.concurrent.TimeUnit.MILLISECONDS)
      try store.withReadSnapshot(c, s) {
        val it = engine.streamJson(c, s, start, end)
        val head =
          try { if (it.hasNext) Some(it.next()) else None }
          catch { case scala.util.control.NonFatal(e) =>
            return error(ex, 500, s"Log read failed: ${e.getMessage}")
          }
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, 0)
        val out = ex.getResponseBody
        def w(str: String): Unit = out.write(str.getBytes(StandardCharsets.UTF_8))
        w(s"""{"container":${mapper.writeValueAsString(c)},"session":${mapper.writeValueAsString(s)},"logs":[""")
        // Bounded window: a client-paced response must not hold the
        // handler thread forever. Past the cap the stream aborts through
        // the mid-stream error contract below: no closing "]}", so the
        // client sees truncation, never a complete-looking response.
        val deadline = System.nanoTime() + maxStreamMs * 1000000L
        try {
          head.foreach(w)
          var more = head.isDefined
          while (more) {
            if (System.nanoTime() > deadline)
              throw new java.io.IOException(
                s"response exceeded the $maxStreamMs ms stream cap")
            if (it.hasNext) { w(","); w(it.next()) } else more = false
          }
          w(s"""],"files_scanned":$filesScanned}""")
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[server] stream $c/$s aborted mid-response: ${e.getMessage}")
        } finally out.close()
      } finally guard.cancel(false)
    } else {
      val tq = System.nanoTime()
      // Bounded batch response: the non-stream path materializes the
      // whole filtered result on this gateway's heap
      // before rendering — the one remaining unbounded driver-side
      // collect. LIMIT cap+1 keeps the bound inside the Spark plan (the
      // scan stops early; nothing past the cap ever reaches the driver),
      // and cap+1 distinguishes "exactly at the bound" from "over it"
      // without a separate count job. Over the bound → 413 with the
      // stream=true hint, matching the reference's own stance that big
      // reads stream (reader.py:148-179); the chunked path has no row
      // bound (its memory is one partition via toLocalIterator, and its
      // time bound is the deadline + watchdog pair above).
      // CONTRACT NOTE: the default cap is a DECLARED BEHAVIOR CHANGE
      // vs the reference, whose batch read returns all
      // matching rows (reader.py read); deployments that need the
      // reference-compatible unbounded batch set maxNonStreamRows <= 0
      // (documented in README's API-deviations table alongside the
      // other declared deviations).
      val capped = maxNonStreamRows > 0
      val rows = store.withReadSnapshot(c, s) {
        val base = engine.readLogs(c, s, start, end)
        (if (capped) base.limit(maxNonStreamRows + 1) else base).collect()
      }
      val tr = System.nanoTime()
      noteStage("query", tr - tq)
      if (capped && rows.length > maxNonStreamRows)
        return error(ex, 413,
          s"Result exceeds the $maxNonStreamRows-row batch response cap; re-request with stream=true")
      val o = mapper.createObjectNode()
      o.put("container", c); o.put("session", s)
      val arr = o.putArray("logs")
      rows.foreach(r => QueryEngine.putRow(arr.addObject(), r))
      o.put("total_rows", rows.length)
      o.put("files_scanned", filesScanned)
      val f = o.putObject("filter")
      startRaw.fold(f.putNull("start_ts"))(v => { f.put("start_ts", v); f })
      endRaw.fold(f.putNull("end_ts"))(v => { f.put("end_ts", v); f })
      respond(ex, 200, o)
      noteStage("render", System.nanoTime() - tr)
      publishStagedTimings()
    }
  }

  private def postLogs(ex: HttpExchange, user: String, c: String, s: String): Unit = {
    if (!catalog.verifySessionAccess(user, nsKey(c, s)))
      return error(ex, 403, "Session not found or access denied")
    withJson(ex) { body =>
    if (body.isEmpty || !body.get.has("logs"))
      return error(ex, 400, "Missing \"logs\" field in request body")
    // Shape + content validation live in ONE place (JsonIngest.toRows —
    // not-an-array / empty / non-object / missing-field / bad-timestamp);
    // every failure maps to 400 with the validator's message.
    val rows =
      try JsonIngest.toRows(body.get.get("logs"))
      catch { case e: JsonIngest.IngestValidationException =>
        return error(ex, 400, e.getMessage)
      }
    // Buffered ack (reference main.py:330-337: 201 = buffered, not
    // archived) — one storage append per flushed batch, not per POST.
    ingestBuffer.add(c, s, rows)
    val o = mapper.createObjectNode()
    o.put("container", c); o.put("session", s)
    o.put("message", "Logs received"); o.put("count", rows.size)
    respond(ex, 201, o)
    }
  }

  // ---- helpers ----

  /** Per-request body cap: the ingest buffer's global byte bound only
    * counts rows AFTER they reach the buffer — without a cap here one
    * oversized POST (or a few concurrent ones) materializes unbounded
    * byte[]/JSON trees on the gateway heap first. */
  private val MaxBodyBytes = maxBodyBytes

  /** Left(message) = body over [[MaxBodyBytes]] (a distinct 413, not a
    * generic 400); Right(None) = missing/malformed/non-object JSON. On
    * over-cap the remaining request body is drained
    * (bounded) so a keep-alive connection is not left mid-body. */
  private def readBody(ex: HttpExchange): Either[String, Option[JsonNode]] =
    try {
      val tooLarge = Left(s"Request body exceeds $MaxBodyBytes bytes")
      val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
        .flatMap(v => scala.util.Try(v.toLong).toOption)
      if (declared.exists(_ > MaxBodyBytes)) {
        ex.getRequestBody.close() // let the server discard the body
        tooLarge
      } else {
        val in = ex.getRequestBody
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        var over = false
        while (n >= 0 && !over) {
          if (out.size() + n > MaxBodyBytes) over = true
          else { out.write(buf, 0, n); n = in.read(buf) }
        }
        if (over) {
          // drain what's in flight, bounded — an unbounded attacker
          // stream gets its connection dropped instead
          var drained = 0L
          var k = in.read(buf)
          while (k >= 0 && drained < MaxBodyBytes.toLong) { drained += k; k = in.read(buf) }
          if (k >= 0) in.close()
          tooLarge
        } else if (out.size() == 0) Right(None)
        else Right(Option(mapper.readTree(out.toByteArray)).filter(n => !n.isNull && n.isObject))
      }
    } catch { case _: Exception => Right(None) }

  /** Parse the JSON body, answering 413 directly on over-cap; the
    * handler sees the same Option[JsonNode] contract as before. */
  private def withJson(ex: HttpExchange)(f: Option[JsonNode] => Unit): Unit =
    readBody(ex) match {
      case Left(msg) => error(ex, 413, msg)
      case Right(body) => f(body)
    }

  private def textField(n: JsonNode, name: String): Option[String] =
    Option(n.get(name)).filter(_.isTextual).map(_.asText)

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { q =>
      q.split("&").filter(_.nonEmpty).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(urlDecode(k) -> urlDecode(v))
          case Array(k) => Some(urlDecode(k) -> "")
          case _ => None
        }
      }.toMap
    }

  private def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Shared flexible ISO parse ([[JsonIngest.parseIsoFlexible]]) — the
    * format that wrote rows can always query them, including Python
    * fromisoformat's bare-date form (`2024-01-01` = midnight UTC).
    * URL-decoding turns an unencoded '+' into a space, so the server's
    * OWN emitted format ('...T00:00:05+00:00') pasted into a query
    * param would otherwise 400 — any space PAST the date/time separator
    * position (index 10) can only have been a '+' offset sign, restore
    * it: the API must round-trip its own output. */
  private def parseParamTs(s: String): Instant =
    JsonIngest.parseIsoFlexible(
      if (s.length > 11) s.substring(0, 11) + s.substring(11).replace(' ', '+')
      else s)

  /** created_at in listings: SQLite CURRENT_TIMESTAMP shape (UTC,
    * second precision, space separator). */
  private val sqlTsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  private def sqlTs(i: Instant): String = sqlTsFmt.format(i)

  private def respond(ex: HttpExchange, code: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsString(body).getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }

  private def error(ex: HttpExchange, code: Int, msg: String): Unit = {
    val o = mapper.createObjectNode()
    o.put("error", msg)
    respond(ex, code, o)
  }
}

object LogServer {
  /** Canonical read-path stage order for the attribution seam
    * (`recordReadTimings`) — the ONE list ServiceScaleCheck renders
    * from, so adding a stage is a one-line
    * change here plus its `noteStage` call. */
  val ReadStages: Seq[String] =
    Seq("token", "auth", "flush", "stats", "query", "render")

  /** The default store: a [[ManifestLog]] on the server's `<root>/data`. */
  val defaultTier: (SparkSession, String) => LogTier = (sp, dir) => new ManifestLog(sp, dir)

  /** The control plane on `dataRoot`: one CAS-committed catalog at
    * `<dataRoot>/catalog-cas`, spanning every gateway that mounts the
    * same root — tokens, ownership, conflicts and revocation are
    * cluster-wide, like the data plane's manifests. Delta-chain mode
    * (checkpoint every 16th version): a mutation commits O(its own
    * size), not the full catalog snapshot — the SQLite control plane's
    * O(1)-per-mutation economics at any live-state size. Every record
    * names its own kind, so a root holding full snapshots at every
    * version reads unchanged; a gateway that parses only snapshots must
    * not share a root with this one. A
    * `<serverRoot>/catalog/catalog.json` left by the retired per-gateway
    * JSON catalog is imported into an empty chain first
    * ([[CatalogService.importLegacy]]). */
  def catalogOn(dataRoot: String): (SparkSession, String) => CatalogService =
    (sp, serverRoot) => {
      val dir = new org.apache.hadoop.fs.Path(s"$dataRoot/catalog-cas")
      val fs = dir.getFileSystem(sp.sparkContext.hadoopConfiguration)
      val store = new graft.catalog.CasStateStore(fs, dir, checkpointEvery = 16)
      CatalogService.importLegacy(store, Paths.get(serverRoot, "catalog", "catalog.json"))
      new CatalogService(store)
    }

  /** The default control plane: the catalog on the server's own data
    * root, `<serverRoot>/data/catalog-cas`. */
  val defaultCatalog: (SparkSession, String) => CatalogService =
    (sp, serverRoot) => catalogOn(s"$serverRoot/data")(sp, serverRoot)
}

/** Standalone entry point: `runMain graft.api.ServerMain [root] [port]`.
  * Data lives in a [[ManifestLog]] under `<root>/data` and the catalog
  * in the CAS chain at `<root>/data/catalog-cas`, so every gateway
  * started on one root shares logins and ownership. */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft-server")
    val catalogDir = s"$root/data/catalog-cas"
    // Removed selectors are refused rather than ignored. The storage tier
    // (a third argument or GRAFT_TIER) is gone: every server runs on
    // ManifestLog. GRAFT_CATALOG is gone too: `shared`, what every server
    // now does, is accepted; any other value asked for a catalog this
    // binary no longer keeps, and ignoring it would move logins and
    // ownership without a word.
    val removedTierVar = "GRAFT_TIER"
    val removedCatalogVar = "GRAFT_CATALOG"
    val refused =
      if (args.length > 2 || sys.env.contains(removedTierVar))
        Some(s"ServerMain takes [root] [port] only: the storage tier selector " +
          s"(third argument / $removedTierVar) was removed and every server runs on ManifestLog.")
      else sys.env.get(removedCatalogVar).filter(_ != "shared").map(v =>
        s"$removedCatalogVar=$v is no longer supported: every server keeps its catalog in " +
          s"the CAS chain at $catalogDir (what $removedCatalogVar=shared selected); a " +
          s"catalog.json under $root/catalog is imported into an empty chain once. " +
          s"Unset $removedCatalogVar.")
    refused.foreach { msg => System.err.println(msg); sys.exit(2) }
    val port = args.lift(1).map(_.toInt).getOrElse(5123)
    // Validate BEFORE anything starts: a malformed value crashing main
    // after http.start() would leave a degraded server running (the
    // dispatcher thread is non-daemon) with no maintenance loop and no
    // shutdown hook; a negative value would make the GC horizon a
    // FUTURE instant that deletes files under live readers.
    val gcGrace = sys.env.get("GRAFT_GC_GRACE_HOURS").map { h =>
      val hours = try h.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"GRAFT_GC_GRACE_HOURS must be a whole number of hours, got '$h'")
      }
      require(hours > 0, s"GRAFT_GC_GRACE_HOURS must be > 0, got $hours")
      java.time.Duration.ofHours(hours)
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .appName("graft-log-server")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", graft.Scratch.localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // GC-sweep lease BEFORE the server starts, like the gcGrace
    // validation above: InetAddress/getFileSystem can throw, and a
    // throw after http.start() would leave a degraded server running
    // with no maintenance loop and no shutdown hook (the same hazard
    // the pre-start validation comment documents). The sweep is
    // deduplicated cluster-wide through this CAS lease on the shared
    // root: one gateway owns the GC window, the others skip it,
    // ownership migrates on shutdown/crash (MaintenanceLeaseSpec).
    val gcLease = gcGrace.map { _ =>
      val leaseDir = new org.apache.hadoop.fs.Path(s"$root/data/_maintenance/gc-sweep")
      val fs = leaseDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val holder = s"${java.net.InetAddress.getLocalHost.getHostName}:" +
        s"${ProcessHandle.current.pid}:$port"
      // TTL must exceed the owner's renewal cadence — the GC sweep runs
      // at most hourly (Compactor caps the cadence), and the owner only
      // renews when it sweeps, so anything under ~1 h would let the
      // lease lapse between renewals and thrash ownership
      new graft.storage.MaintenanceLease(fs, leaseDir, holder, ttlMs = 3 * 3600 * 1000L)
    }
    val server = new LogServer(spark, root, port).start()
    // periodic rotation check; GRAFT_GC_GRACE_HOURS opts into snapshot
    // GC (the horizon must exceed the longest reader scan / publish
    // stall).
    server.compactor.startMaintenance(java.time.Duration.ofSeconds(60),
      manifestGcGrace = gcGrace, gcLease = gcLease)
    println(s"graft log server listening on port ${server.boundPort}, root=$root, catalog=$catalogDir")
    // close() THROWS on a lossy ingest drain (by contract) — Spark must
    // still stop deterministically after the server's cleanup, not race
    // it from Spark's own internal shutdown hook
    sys.addShutdownHook { try server.close() finally spark.stop() }
    Thread.currentThread.join()
  }
}
