package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import graft.SparkSuite
import graft.catalog.CatalogService
import graft.storage.{LogTier, ManifestLog}

/** Golden end-to-end API tests: the README "Complete Workflow Example"
  * (README.md:248-299) and "Testing Access Control" recipes
  * (README.md:350-366) replayed against the Spark-backed server, plus
  * the 400/401/403/409/413 contract and the streaming read path, all
  * on the server's default [[graft.storage.ManifestLog]] store.
  *
  * The whole contract runs once per root layout a gateway can start
  * with: manifests and catalog under the server's own root
  * ([[LogServerSpec]]) and on a data root shared with other gateways
  * ([[LogServerManifestSpec]]). A client must not see which one it is
  * talking to. */
abstract class LogServerContractSpec extends SparkSuite with BeforeAndAfterAll {

  /** The store and the control plane of every server this suite starts. */
  protected def makeTier: (SparkSession, String) => LogTier
  protected def makeCatalog: (SparkSession, String) => CatalogService

  private var server: LogServer = _
  private def base = s"http://localhost:${server.boundPort}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def beforeAll(): Unit = {
    server = new LogServer(spark, tempDir("server"), makeTier = makeTier, makeCatalog = makeCatalog).start()
  }
  override def afterAll(): Unit = server.close()

  private def req(method: String, path: String, body: Option[String] = None,
                  token: Option[String] = None): HttpResponse[String] = {
    var b = HttpRequest.newBuilder(URI.create(s"$base$path"))
    b = body match {
      case Some(j) => b.method(method, BodyPublishers.ofString(j))
        .header("Content-Type", "application/json")
      case None => b.method(method, BodyPublishers.noBody())
    }
    token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), BodyHandlers.ofString())
  }

  private def js(r: HttpResponse[String]): JsonNode = mapper.readTree(r.body)

  test("complete README workflow: login → container → session → write → read → list → logout") {
    // 1. login
    val login = req("POST", "/api/auth/login",
      Some("""{"username": "admin", "password": "admin"}"""))
    assert(login.statusCode === 200)
    val token = js(login).get("token").asText
    assert(token.nonEmpty && js(login).get("expires_in_hours").asInt === 24)

    // 2-3. create container + session
    val cc = req("POST", "/api/containers",
      Some("""{"container_id": "my-app"}"""), Some(token))
    assert(cc.statusCode === 201 && js(cc).get("message").asText === "Container created successfully")
    val cs = req("POST", "/api/containers/my-app/sessions",
      Some("""{"session_id": "run-001"}"""), Some(token))
    assert(cs.statusCode === 201 && js(cs).get("session_id").asText === "run-001")

    // 4. write 3 logs
    val post = req("POST", "/api/logs/my-app/run-001", Some(
      """{"logs": [
        |  {"level": "INFO", "message": "Process started", "timestamp": "2025-11-30T10:00:00Z"},
        |  {"level": "INFO", "message": "Task completed", "timestamp": "2025-11-30T10:05:00Z"},
        |  {"level": "ERROR", "message": "Connection timeout", "timestamp": "2025-11-30T10:10:00Z"}
        |]}""".stripMargin), Some(token))
    assert(post.statusCode === 201)
    assert(js(post).get("count").asInt === 3 && js(post).get("message").asText === "Logs received")

    // 5. read back — full response-shape check (README.md:205-226)
    val get = req("GET", "/api/logs/my-app/run-001", token = Some(token))
    assert(get.statusCode === 200)
    val body = js(get)
    assert(body.get("container").asText === "my-app" && body.get("session").asText === "run-001")
    assert(body.get("total_rows").asInt === 3 && body.get("files_scanned").asInt >= 1)
    assert(body.get("filter").get("start_ts").isNull && body.get("filter").get("end_ts").isNull)
    val logs = body.get("logs")
    val msgs = (0 until logs.size).map(i => logs.get(i).get("message").asText).sorted
    assert(msgs === Seq("Connection timeout", "Process started", "Task completed"))
    val one = (0 until logs.size).map(logs.get).find(_.get("message").asText == "Process started").get
    assert(one.get("timestamp").asText === "2025-11-30T10:00:00+00:00") // python isoformat shape
    assert(one.get("container").asText === "my-app" && one.get("session").asText === "run-001")

    // time-filtered read: inclusive bounds
    val filtered = req("GET",
      "/api/logs/my-app/run-001?start_ts=2025-11-30T10:05:00Z&end_ts=2025-11-30T10:10:00Z",
      token = Some(token))
    assert(js(filtered).get("total_rows").asInt === 2)
    assert(js(filtered).get("filter").get("start_ts").asText === "2025-11-30T10:05:00Z")

    // the API's OWN emitted timestamp shape (+00:00 offset) round-trips
    // as a query param — both percent-encoded and raw '+' (which
    // URL-decodes to a space the server restores)
    val plusEnc = req("GET",
      "/api/logs/my-app/run-001?start_ts=2025-11-30T10:05:00%2B00:00&end_ts=2025-11-30T10:10:00+00:00",
      token = Some(token))
    assert(plusEnc.statusCode === 200 && js(plusEnc).get("total_rows").asInt === 2)

    // streaming read returns the same logs
    val streamed = req("GET", "/api/logs/my-app/run-001?stream=true", token = Some(token))
    assert(streamed.statusCode === 200)
    val sbody = js(streamed)
    assert(sbody.get("logs").size === 3 && sbody.get("files_scanned").asInt >= 1)

    // 6-7. listings
    val lc = req("GET", "/api/containers", token = Some(token))
    assert(js(lc).get("count").asInt >= 1)
    val containerIds = (0 until js(lc).get("containers").size)
      .map(i => js(lc).get("containers").get(i).get("container_id").asText)
    assert(containerIds.contains("my-app"))
    val ls = req("GET", "/api/containers/my-app/sessions", token = Some(token))
    assert(js(ls).get("count").asInt === 1)
    assert(js(ls).get("sessions").get(0).get("session_id").asText === "run-001") // prefix stripped

    // 8. logout revokes the token
    assert(req("POST", "/api/auth/logout", token = Some(token)).statusCode === 200)
    val after = req("GET", "/api/containers", token = Some(token))
    assert(after.statusCode === 401 && js(after).get("error").asText === "Invalid or expired token")
  }

  test("401 contract: missing header, bad format, bad credentials") {
    val noTok = req("GET", "/api/logs/my-app/run-001")
    assert(noTok.statusCode === 401 && js(noTok).get("error").asText === "No authorization header provided")
    val badFmt = HttpRequest.newBuilder(URI.create(s"$base/api/containers"))
      .header("Authorization", "Basic xyz").GET().build()
    val badFmtR = client.send(badFmt, BodyHandlers.ofString())
    assert(badFmtR.statusCode === 401 && js(badFmtR).get("error").asText.startsWith("Invalid authorization header format"))
    val badCreds = req("POST", "/api/auth/login", Some("""{"username": "admin", "password": "nope"}"""))
    assert(badCreds.statusCode === 401 && js(badCreds).get("error").asText === "Invalid credentials")
    val missing = req("POST", "/api/auth/login", Some("""{"username": "admin"}"""))
    assert(missing.statusCode === 400 && js(missing).get("error").asText === "Missing username or password")
  }

  test("403 contract: another user's container and session are denied") {
    val admin = js(req("POST", "/api/auth/login",
      Some("""{"username": "admin", "password": "admin"}"""))).get("token").asText
    req("POST", "/api/containers", Some("""{"container_id": "secure"}"""), Some(admin))
    req("POST", "/api/containers/secure/sessions", Some("""{"session_id": "priv"}"""), Some(admin))

    server.catalog.createUser("mallory", "pw")
    val mallory = js(req("POST", "/api/auth/login",
      Some("""{"username": "mallory", "password": "pw"}"""))).get("token").asText
    val readDenied = req("GET", "/api/logs/secure/priv", token = Some(mallory))
    assert(readDenied.statusCode === 403 && js(readDenied).get("error").asText === "Session not found or access denied")
    val writeDenied = req("POST", "/api/logs/secure/priv",
      Some("""{"logs":[{"level":"I","message":"x","timestamp":"2025-01-01T00:00:00Z"}]}"""), Some(mallory))
    assert(writeDenied.statusCode === 403)
    val sessDenied = req("POST", "/api/containers/secure/sessions",
      Some("""{"session_id": "sneak"}"""), Some(mallory))
    assert(sessDenied.statusCode === 403 && js(sessDenied).get("error").asText === "Container not found or access denied")
    val listDenied = req("GET", "/api/containers/secure/sessions", token = Some(mallory))
    assert(listDenied.statusCode === 403)
  }

  test("409/400 contract: duplicates and invalid ids") {
    val token = js(req("POST", "/api/auth/login",
      Some("""{"username": "admin", "password": "admin"}"""))).get("token").asText
    req("POST", "/api/containers", Some("""{"container_id": "dup"}"""), Some(token))
    val dup = req("POST", "/api/containers", Some("""{"container_id": "dup"}"""), Some(token))
    assert(dup.statusCode === 409 && js(dup).get("error").asText === "Container already exists")
    req("POST", "/api/containers/dup/sessions", Some("""{"session_id": "s1"}"""), Some(token))
    val dupS = req("POST", "/api/containers/dup/sessions", Some("""{"session_id": "s1"}"""), Some(token))
    assert(dupS.statusCode === 409)
    val badId = req("POST", "/api/containers", Some("""{"container_id": "no/slash"}"""), Some(token))
    assert(badId.statusCode === 400 && js(badId).get("error").asText.startsWith("Invalid container_id format"))
    val noId = req("POST", "/api/containers", Some("""{}"""), Some(token))
    assert(noId.statusCode === 400 && js(noId).get("error").asText === "Missing container_id")
  }

  test("400 contract on POST logs: missing/mistyped/empty logs, bad timestamp") {
    val token = js(req("POST", "/api/auth/login",
      Some("""{"username": "admin", "password": "admin"}"""))).get("token").asText
    req("POST", "/api/containers", Some("""{"container_id": "v"}"""), Some(token))
    req("POST", "/api/containers/v/sessions", Some("""{"session_id": "s"}"""), Some(token))
    def post(body: String) = req("POST", "/api/logs/v/s", Some(body), Some(token))

    val missing = post("""{"notlogs": []}""")
    assert(missing.statusCode === 400 && js(missing).get("error").asText === "Missing \"logs\" field in request body")
    val notArr = post("""{"logs": "x"}""")
    assert(notArr.statusCode === 400 && js(notArr).get("error").asText === "\"logs\" must be an array")
    val empty = post("""{"logs": []}""")
    assert(empty.statusCode === 400 && js(empty).get("error").asText === "\"logs\" array cannot be empty")
    val badTs = post("""{"logs": [{"level":"I","message":"m","timestamp":"nope"}]}""")
    assert(badTs.statusCode === 400 && js(badTs).get("error").asText.contains("Invalid ISO-8601 timestamp"))
    val missingField = post("""{"logs": [{"level":"I","timestamp":"2025-01-01T00:00:00Z"}]}""")
    assert(missingField.statusCode === 400 && js(missingField).get("error").asText.contains("Missing required field 'message'"))

    // bad query-param timestamp on GET → 400 (main.py:292-295)
    val badParam = req("GET", "/api/logs/v/s?start_ts=garbage", token = Some(token))
    assert(badParam.statusCode === 400 && js(badParam).get("error").asText.startsWith("Invalid timestamp format"))
  }

  test("empty session short-circuits with files_scanned=0 (main.py:256-263)") {
    val token = js(req("POST", "/api/auth/login",
      Some("""{"username": "admin", "password": "admin"}"""))).get("token").asText
    req("POST", "/api/containers", Some("""{"container_id": "emptyc"}"""), Some(token))
    req("POST", "/api/containers/emptyc/sessions", Some("""{"session_id": "nothing"}"""), Some(token))
    val r = req("GET", "/api/logs/emptyc/nothing", token = Some(token))
    assert(r.statusCode === 200)
    assert(js(r).get("total_rows").asInt === 0 && js(r).get("files_scanned").asInt === 0)
    assert(js(r).get("logs").size === 0)
  }

  test("unknown route → 404") {
    assert(req("GET", "/api/nope").statusCode === 404)
  }

  test("413 contract: oversized body gets a distinct status and the connection stays usable") {
    // dedicated server with a tiny cap so the test body stays small
    val small = new LogServer(spark, tempDir("server-413"), maxBodyBytes = 4096,
      makeTier = makeTier, makeCatalog = makeCatalog).start()
    try {
      val smallBase = s"http://localhost:${small.boundPort}"
      def sreq(method: String, path: String, body: Option[String],
               token: Option[String]): HttpResponse[String] = {
        var b = HttpRequest.newBuilder(URI.create(s"$smallBase$path"))
        b = body.fold(b.method(method, BodyPublishers.noBody()))(j =>
          b.method(method, BodyPublishers.ofString(j)).header("Content-Type", "application/json"))
        token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), BodyHandlers.ofString())
      }
      val token = mapper.readTree(sreq("POST", "/api/auth/login",
        Some("""{"username":"admin","password":"admin"}"""), None).body).get("token").asText
      sreq("POST", "/api/containers", Some("""{"container_id":"big"}"""), Some(token))
      sreq("POST", "/api/containers/big/sessions", Some("""{"session_id":"s"}"""), Some(token))
      val hugeMsg = "x" * 8192
      val over = sreq("POST", "/api/logs/big/s",
        Some(s"""{"logs":[{"level":"INFO","message":"$hugeMsg","timestamp":"2025-01-01T00:00:00Z"}]}"""),
        Some(token))
      assert(over.statusCode === 413)
      assert(mapper.readTree(over.body).get("error").asText.contains("exceeds"))
      // same client (keep-alive pool): the connection was not left
      // wedged mid-body — a normal request still succeeds
      val ok = sreq("POST", "/api/logs/big/s",
        Some("""{"logs":[{"level":"INFO","message":"small","timestamp":"2025-01-01T00:00:00Z"}]}"""),
        Some(token))
      assert(ok.statusCode === 201)
      val back = sreq("GET", "/api/logs/big/s", None, Some(token))
      assert(back.statusCode === 200 &&
        mapper.readTree(back.body).get("total_rows").asInt === 1)
    } finally small.close()
  }
  test("413 contract: non-stream GET past maxNonStreamRows is rejected with the stream=true hint (and streams fine)") {
    // dedicated server with a 2-row batch cap: 3 rows must 413 on the
    // batch path but stream completely — the bound protects the
    // gateway heap, not the data
    val capped = new LogServer(spark, tempDir("server-rowcap"), maxNonStreamRows = 2,
      makeTier = makeTier, makeCatalog = makeCatalog).start()
    try {
      val cbase = s"http://localhost:${capped.boundPort}"
      def creq(method: String, path: String, body: Option[String],
               token: Option[String]): HttpResponse[String] = {
        var b = HttpRequest.newBuilder(URI.create(s"$cbase$path"))
        b = body.fold(b.method(method, BodyPublishers.noBody()))(j =>
          b.method(method, BodyPublishers.ofString(j)).header("Content-Type", "application/json"))
        token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), BodyHandlers.ofString())
      }
      val token = mapper.readTree(creq("POST", "/api/auth/login",
        Some("""{"username":"admin","password":"admin"}"""), None).body).get("token").asText
      creq("POST", "/api/containers", Some("""{"container_id":"rowcap"}"""), Some(token))
      creq("POST", "/api/containers/rowcap/sessions", Some("""{"session_id":"s"}"""), Some(token))
      creq("POST", "/api/logs/rowcap/s", Some(
        """{"logs":[
          |  {"level":"INFO","message":"r1","timestamp":"2025-01-01T00:00:00Z"},
          |  {"level":"INFO","message":"r2","timestamp":"2025-01-01T00:00:01Z"},
          |  {"level":"INFO","message":"r3","timestamp":"2025-01-01T00:00:02Z"}
          |]}""".stripMargin), Some(token))
      // over the bound → 413 with the hint, NOT a truncated 200
      val over = creq("GET", "/api/logs/rowcap/s", None, Some(token))
      assert(over.statusCode === 413, s"expected 413, got ${over.statusCode}: ${over.body}")
      assert(mapper.readTree(over.body).get("error").asText.contains("stream=true"))
      // a filtered read UNDER the bound keeps the exact batch shape
      val under = creq("GET",
        "/api/logs/rowcap/s?start_ts=2025-01-01T00:00:00Z&end_ts=2025-01-01T00:00:01Z",
        None, Some(token))
      assert(under.statusCode === 200)
      val ub = mapper.readTree(under.body)
      assert(ub.get("total_rows").asInt === 2 && ub.get("logs").size === 2)
      assert(ub.get("filter").get("start_ts").asText === "2025-01-01T00:00:00Z")
      // exactly AT the bound is still a complete 200 (cap+1 probe row)
      assert(ub.get("total_rows").asInt === 2)
      // the same oversized read streams completely
      val streamed = creq("GET", "/api/logs/rowcap/s?stream=true", None, Some(token))
      assert(streamed.statusCode === 200)
      val sb = mapper.readTree(streamed.body)
      assert(sb.get("logs").size === 3 && sb.get("files_scanned").asInt >= 1)
    } finally capped.close()
  }

  test("maxNonStreamRows <= 0 restores the reference-compatible UNCAPPED batch read (declared deviation opt-out)") {
    val uncapped = new LogServer(spark, tempDir("server-nocap"), maxNonStreamRows = 0,
      makeTier = makeTier, makeCatalog = makeCatalog).start()
    try {
      val cbase = s"http://localhost:${uncapped.boundPort}"
      def creq(method: String, path: String, body: Option[String],
               token: Option[String]): HttpResponse[String] = {
        var b = HttpRequest.newBuilder(URI.create(s"$cbase$path"))
        b = body.fold(b.method(method, BodyPublishers.noBody()))(j =>
          b.method(method, BodyPublishers.ofString(j)).header("Content-Type", "application/json"))
        token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), BodyHandlers.ofString())
      }
      val token = mapper.readTree(creq("POST", "/api/auth/login",
        Some("""{"username":"admin","password":"admin"}"""), None).body).get("token").asText
      creq("POST", "/api/containers", Some("""{"container_id":"nocap"}"""), Some(token))
      creq("POST", "/api/containers/nocap/sessions", Some("""{"session_id":"s"}"""), Some(token))
      val rows = (1 to 5).map(i =>
        s"""{"level":"INFO","message":"r$i","timestamp":"2025-01-01T00:00:0${i - 1}Z"}""")
      creq("POST", "/api/logs/nocap/s",
        Some(s"""{"logs":[${rows.mkString(",")}]}"""), Some(token))
      val got = creq("GET", "/api/logs/nocap/s", None, Some(token))
      assert(got.statusCode === 200, s"uncapped batch read failed: ${got.body}")
      assert(mapper.readTree(got.body).get("total_rows").asInt === 5)
    } finally uncapped.close()
  }

  test("stream cap: a response past maxStreamMs aborts TRUNCATED (no closing brace), releasing the view lock") {
    // dedicated server with a zero cap: the first loop iteration after
    // the head row trips the deadline — the body must be cut off before
    // the closing "]}…" so the client can never mistake it for complete
    val capped = new LogServer(spark, tempDir("server-cap"), maxStreamMs = 0L,
      makeTier = makeTier, makeCatalog = makeCatalog).start()
    try {
      val cbase = s"http://localhost:${capped.boundPort}"
      def creq(method: String, path: String, body: Option[String],
               token: Option[String]): HttpResponse[String] = {
        var b = HttpRequest.newBuilder(URI.create(s"$cbase$path"))
        b = body.fold(b.method(method, BodyPublishers.noBody()))(j =>
          b.method(method, BodyPublishers.ofString(j)).header("Content-Type", "application/json"))
        token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), BodyHandlers.ofString())
      }
      val token = mapper.readTree(creq("POST", "/api/auth/login",
        Some("""{"username":"admin","password":"admin"}"""), None).body).get("token").asText
      creq("POST", "/api/containers", Some("""{"container_id":"cap"}"""), Some(token))
      creq("POST", "/api/containers/cap/sessions", Some("""{"session_id":"s"}"""), Some(token))
      creq("POST", "/api/logs/cap/s", Some(
        """{"logs":[
          |  {"level":"INFO","message":"r1","timestamp":"2025-01-01T00:00:00Z"},
          |  {"level":"INFO","message":"r2","timestamp":"2025-01-01T00:00:01Z"},
          |  {"level":"INFO","message":"r3","timestamp":"2025-01-01T00:00:02Z"}
          |]}""".stripMargin), Some(token))
      val r = creq("GET", "/api/logs/cap/s?stream=true", None, Some(token))
      // a complete streamed body closes with `],"files_scanned":N}` —
      // truncation means that footer never arrives
      assert(!r.body.contains("files_scanned"),
        s"capped stream returned a complete-looking body: ${r.body}")
      // the aborted stream left the session usable: a write + batch read proceed
      assert(creq("POST", "/api/logs/cap/s",
        Some("""{"logs":[{"level":"INFO","message":"r4","timestamp":"2025-01-01T00:00:03Z"}]}"""),
        Some(token)).statusCode === 201)
      val back = creq("GET", "/api/logs/cap/s", None, Some(token))
      assert(back.statusCode === 200 &&
        mapper.readTree(back.body).get("total_rows").asInt === 4)
    } finally capped.close()
  }
}

/** The contract on the default layout, as `ServerMain` starts a server:
  * manifests and catalog under the server root's own `data/`. */
class LogServerSpec extends LogServerContractSpec {
  protected def makeTier = LogServer.defaultTier
  protected def makeCatalog = LogServer.defaultCatalog
}

/** The SAME contract laid out as a multi-gateway deployment runs: every
  * server this suite starts keeps its manifests and its catalog on ONE
  * data root apart from its server root. */
class LogServerManifestSpec extends LogServerContractSpec {
  private lazy val sharedData = tempDir("shared-data")
  protected def makeTier: (SparkSession, String) => LogTier =
    (sp, _) => new ManifestLog(sp, sharedData)
  protected def makeCatalog = LogServer.catalogOn(sharedData)
}
