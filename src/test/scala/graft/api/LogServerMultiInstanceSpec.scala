package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
import org.scalatest.BeforeAndAfterAll
import graft.SparkSuite
import graft.storage.ManifestLog

/** TWO LogServer instances sharing ONE ManifestLog storage root AND
  * ONE CAS-committed catalog — the full multi-gateway deployment:
  * every manifest commit from either server races through the version
  * CAS, a read through one gateway sees every batch either gateway
  * has flushed, and the CONTROL plane spans gateways too — a
  * token minted on gateway A authorizes on gateway B, duplicate
  * creation across gateways conflicts exactly once, revocation is
  * cluster-wide.
  *
  * Read-your-writes is per-gateway by design (a GET flushes ITS
  * server's write-behind buffer, not the peer's) — the cross-instance
  * contract is: once a gateway has flushed (its own GET, timer, or
  * shutdown), the rows are in the shared manifest and every other
  * gateway's next read sees them. The tests below force that ordering
  * explicitly rather than sleeping on the flush timer.
  */
class LogServerMultiInstanceSpec extends SparkSuite with BeforeAndAfterAll {

  private var sharedData: String = _
  private var a: LogServer = _
  private var b: LogServer = _
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def beforeAll(): Unit = {
    sharedData = tempDir("multi-data")
    def make(root: String): LogServer =
      new LogServer(spark, root,
        makeTier = (sp, _) => new ManifestLog(sp, sharedData),
        makeCatalog = LogServer.catalogOn(sharedData)).start()
    a = make(tempDir("multi-a"))
    b = make(tempDir("multi-b"))
  }
  override def afterAll(): Unit = { a.close(); b.close() }

  private def req(server: LogServer, method: String, path: String,
                  body: Option[String] = None, token: Option[String] = None)
      : HttpResponse[String] = {
    var rb = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${server.boundPort}$path"))
    rb = body match {
      case Some(j) => rb.method(method, BodyPublishers.ofString(j))
        .header("Content-Type", "application/json")
      case None => rb.method(method, BodyPublishers.noBody())
    }
    token.foreach(t => rb = rb.header("Authorization", s"Bearer $t"))
    client.send(rb.build(), BodyHandlers.ofString())
  }

  private def login(server: LogServer): String =
    mapper.readTree(req(server, "POST", "/api/auth/login",
      Some("""{"username":"admin","password":"admin"}""")).body).get("token").asText

  private def setup(server: LogServer, token: String, c: String, s: String): Unit = {
    req(server, "POST", "/api/containers", Some(s"""{"container_id":"$c"}"""), Some(token))
    req(server, "POST", s"/api/containers/$c/sessions",
      Some(s"""{"session_id":"$s"}"""), Some(token))
  }

  private def post(server: LogServer, token: String, c: String, s: String,
                   msgs: Seq[String]): Int = {
    val logs = msgs.map(m =>
      s"""{"level":"INFO","message":"$m","timestamp":"2025-01-01T00:00:00Z"}""")
      .mkString("[", ",", "]")
    req(server, "POST", s"/api/logs/$c/$s", Some(s"""{"logs":$logs}"""), Some(token))
      .statusCode
  }

  private def totalRows(server: LogServer, token: String, c: String, s: String): Int =
    mapper.readTree(req(server, "GET", s"/api/logs/$c/$s", token = Some(token)).body)
      .get("total_rows").asInt

  test("control plane spans gateways: A's token works on B, duplicates 409 once, revocation propagates") {
    val ta = login(a)
    // a token minted on gateway A authorizes gateway B's endpoints
    assert(req(b, "GET", "/api/containers", token = Some(ta)).statusCode == 200)
    // one container namespace: create via A, duplicate via B conflicts
    assert(req(a, "POST", "/api/containers",
      Some("""{"container_id":"xgw"}"""), Some(ta)).statusCode == 201)
    assert(req(b, "POST", "/api/containers",
      Some("""{"container_id":"xgw"}"""), Some(ta)).statusCode == 409)
    // a session created through B with A's token is readable through A
    assert(req(b, "POST", "/api/containers/xgw/sessions",
      Some("""{"session_id":"sx"}"""), Some(ta)).statusCode == 201)
    assert(req(a, "GET", "/api/logs/xgw/sx", token = Some(ta)).statusCode == 200)
    // logout through A revokes the token cluster-wide
    assert(req(a, "POST", "/api/auth/logout", token = Some(ta)).statusCode == 200)
    assert(req(b, "GET", "/api/containers", token = Some(ta)).statusCode == 401)
    assert(req(a, "GET", "/api/containers", token = Some(ta)).statusCode == 401)
  }

  test("writes through either gateway are visible through both once each has flushed") {
    val (ta, tb) = (login(a), login(b))
    setup(a, ta, "shared", "s1") // ONE provisioning — the catalog is shared
    assert(post(a, ta, "shared", "s1", Seq("a1", "a2", "a3")) == 201)
    assert(post(b, tb, "shared", "s1", Seq("b1", "b2")) == 201)
    // each gateway's GET flushes its OWN buffer into the shared store;
    // after both have read once, both see the union
    totalRows(b, tb, "shared", "s1")
    totalRows(a, ta, "shared", "s1")
    assert(totalRows(a, ta, "shared", "s1") == 5)
    assert(totalRows(b, tb, "shared", "s1") == 5)
  }

  test("concurrent writers through both gateways: every acked batch lands exactly once") {
    val (ta, tb) = (login(a), login(b))
    setup(a, ta, "shared", "race")
    val perThread = 5
    val acked = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = Seq((a, ta, "A"), (b, tb, "B")).flatMap { case (srv, tok, tag) =>
      (1 to 2).map { t =>
        new Thread(() => (1 to perThread).foreach { i =>
          if (post(srv, tok, "shared", "race", Seq(s"$tag$t-$i", s"$tag$t-$i")) == 201)
            acked.incrementAndGet()
        }, s"multi-writer-$tag$t")
      }
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(acked.get == 4 * perThread, s"only ${acked.get} posts acked")
    totalRows(a, ta, "shared", "race"); totalRows(b, tb, "shared", "race")
    assert(totalRows(a, ta, "shared", "race") == 4 * perThread * 2)
  }

  test("compaction through one gateway never loses the other gateway's flushed rows") {
    val (ta, tb) = (login(a), login(b))
    setup(a, ta, "shared", "cmp")
    assert(post(a, ta, "shared", "cmp", Seq("pre-1", "pre-2")) == 201)
    totalRows(a, ta, "shared", "cmp") // flush A
    assert(post(b, tb, "shared", "cmp", Seq("mid-1")) == 201)
    totalRows(b, tb, "shared", "cmp") // flush B
    // compact via A's tier object; B reads from the swapped manifest
    a.store.compact("shared", "cmp")
    assert(totalRows(b, tb, "shared", "cmp") == 3)
    assert(post(b, tb, "shared", "cmp", Seq("post-1")) == 201)
    totalRows(b, tb, "shared", "cmp")
    assert(totalRows(a, ta, "shared", "cmp") == 4)
  }

  private def loginAs(server: LogServer, user: String, password: String): HttpResponse[String] =
    req(server, "POST", "/api/auth/login",
      Some(s"""{"username":"$user","password":"$password"}"""))

  private def containersOf(server: LogServer, token: String): Set[String] = {
    val cs = mapper.readTree(req(server, "GET", "/api/containers", token = Some(token)).body)
      .get("containers")
    (0 until cs.size).map(cs.get(_).get("container_id").asText).toSet
  }

  test("two gateways on one server root share the default catalog; concurrent creates survive a restart") {
    // the default layout: no makeTier/makeCatalog, so both gateways keep
    // manifests and catalog under the one root's data/
    val root = tempDir("one-root")
    val (x, y) = (new LogServer(spark, root).start(), new LogServer(spark, root).start())
    val ids = (for (side <- Seq("x", "y"); i <- 1 to 6) yield s"c-$side-$i").toSet
    try {
      val t = login(x)
      assert(req(y, "GET", "/api/containers", token = Some(t)).statusCode == 200)
      assert(req(x, "POST", "/api/containers",
        Some("""{"container_id":"onebox"}"""), Some(t)).statusCode == 201)
      assert(req(y, "POST", "/api/containers",
        Some("""{"container_id":"onebox"}"""), Some(t)).statusCode == 409)
      // distinct creates racing through both gateways: every one is acked
      val codes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
      val threads = Seq(("x", x), ("y", y)).flatMap { case (side, srv) =>
        Seq(1 to 3, 4 to 6).map(range => new Thread(() => range.foreach { i =>
          val id = s"c-$side-$i"
          codes.add(id -> req(srv, "POST", "/api/containers",
            Some(s"""{"container_id":"$id"}"""), Some(t)).statusCode)
        }))
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      assert(codes.size == ids.size && codes.asScala.forall(_._2 == 201), s"racing creates: $codes")
    } finally { x.close(); y.close() }
    // restart: a fresh gateway on the same root sees every create
    val z = new LogServer(spark, root).start()
    try assert(containersOf(z, login(z)) == ids + "onebox")
    finally z.close()
  }

  test("gateways on a server root with a legacy catalog.json serve its logins and ownership") {
    def sha(x: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val root = tempDir("legacy-root")
    val legacy = java.nio.file.Paths.get(root, "catalog", "catalog.json")
    java.nio.file.Files.createDirectories(legacy.getParent)
    java.nio.file.Files.writeString(legacy,
      s"""{"users":[
         |  {"user_id":"admin","password_hash":"${sha("admin")}","created_at":"2026-01-01T00:00:00Z"},
         |  {"user_id":"bob","password_hash":"${sha("secret")}","created_at":"2026-01-01T00:00:01Z"}],
         |"tokens":[],
         |"containers":[{"container_id":"bobbox","user_id":"bob","created_at":"2026-01-01T00:00:02Z","seq":1}],
         |"sessions":[]}""".stripMargin)
    val (x, y) = (new LogServer(spark, root).start(), new LogServer(spark, root).start())
    try {
      val bob = loginAs(y, "bob", "secret")
      assert(bob.statusCode == 200, bob.body)
      val tb = mapper.readTree(bob.body).get("token").asText
      assert(containersOf(x, tb) == Set("bobbox"))
      // the imported ownership holds: admin cannot take bob's container id
      assert(req(x, "POST", "/api/containers",
        Some("""{"container_id":"bobbox"}"""), Some(login(x))).statusCode == 409)
    } finally { x.close(); y.close() }
  }
}
