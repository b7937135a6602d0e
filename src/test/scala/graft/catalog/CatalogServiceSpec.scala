package graft.catalog

import java.nio.file.Files
import java.time.{Clock, Duration, Instant, ZoneOffset}
import org.scalatest.funsuite.AnyFunSuite
import graft.storage.{StateRecord, VersionChain}

/** Auth/tenancy semantics from the reference (auth.py:25-249): SHA-256
  * passwords, default admin, 24 h lazy token expiry, ownership checks,
  * duplicate → conflict, restart persistence. */
class CatalogServiceSpec extends AnyFunSuite {

  /** Mutable clock so expiry is testable without sleeping. */
  private final class FakeClock(var now: Instant) extends Clock {
    def getZone = ZoneOffset.UTC
    override def withZone(z: java.time.ZoneId): Clock = this
    def instant() = now
  }

  private def chainAt(dir: java.nio.file.Path): VersionChain[StateRecord] = {
    val p = new org.apache.hadoop.fs.Path(dir.toString)
    StateRecord.chain(p.getFileSystem(new org.apache.hadoop.conf.Configuration()), p)
  }

  private def record(payload: String): Array[Byte] = StateRecord(isDelta = false, payload).bytes

  /** Sets every version file's mtime to ten minutes ago, except `keep`. */
  private def ageVersions(dir: java.nio.file.Path, keep: Set[Long] = Set.empty): Unit =
    dir.toFile.listFiles((_, n) => n.matches("v\\d{20}\\.json")).foreach { f =>
      if (!keep(f.getName.stripPrefix("v").stripSuffix(".json").toLong))
        assert(f.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000))
    }

  test("default admin/admin exists; wrong password and unknown user fail") {
    val c = new CatalogService(chainAt(Files.createTempDirectory("cat-cas")))
    assert(c.verifyPassword("admin", "admin"))
    assert(!c.verifyPassword("admin", "wrong"))
    assert(!c.verifyPassword("ghost", "admin"))
  }

  test("token round-trip: create, verify, revoke") {
    val c = new CatalogService(chainAt(Files.createTempDirectory("cat-cas")))
    val t = c.createToken("admin")
    assert(c.verifyToken(t) === Some("admin"))
    c.revokeToken(t)
    assert(c.verifyToken(t) === None)
  }

  test("tokens expire after 24h and are deleted lazily on verify") {
    val clock = new FakeClock(Instant.parse("2026-01-01T00:00:00Z"))
    val c = new CatalogService(chainAt(Files.createTempDirectory("cat-cas")), clock)
    val t = c.createToken("admin", expiresInHours = 24)
    clock.now = clock.now.plus(Duration.ofHours(23))
    assert(c.verifyToken(t) === Some("admin"))
    clock.now = clock.now.plus(Duration.ofHours(2))
    assert(c.verifyToken(t) === None) // expired → deleted
    clock.now = clock.now.minus(Duration.ofHours(10))
    assert(c.verifyToken(t) === None) // stays deleted even if time rewinds
  }

  test("container create: duplicate rejected even across users") {
    val c = new CatalogService(chainAt(Files.createTempDirectory("cat-cas")))
    c.createUser("alice", "pw")
    assert(c.createContainer("admin", "app"))
    assert(!c.createContainer("admin", "app"))
    assert(!c.createContainer("alice", "app")) // global id namespace (PRIMARY KEY)
  }

  test("session create requires container ownership; duplicate rejected") {
    val c = new CatalogService(chainAt(Files.createTempDirectory("cat-cas")))
    c.createUser("alice", "pw")
    assert(c.createContainer("admin", "app"))
    assert(!c.createSession("alice", "app", "app_run")) // not the owner
    assert(!c.createSession("admin", "ghost", "ghost_run")) // no such container
    assert(c.createSession("admin", "app", "app_run"))
    assert(!c.createSession("admin", "app", "app_run")) // duplicate
  }

  test("access checks compare owners (auth.py:205-223)") {
    val c = new CatalogService(chainAt(Files.createTempDirectory("cat-cas")))
    c.createUser("alice", "pw")
    c.createContainer("admin", "app")
    c.createSession("admin", "app", "app_run")
    assert(c.verifyContainerAccess("admin", "app"))
    assert(!c.verifyContainerAccess("alice", "app"))
    assert(c.verifySessionAccess("admin", "app_run"))
    assert(!c.verifySessionAccess("alice", "app_run"))
    assert(!c.verifySessionAccess("admin", "nope"))
  }

  test("listings are owner-scoped and newest-first") {
    val clock = new FakeClock(Instant.parse("2026-01-01T00:00:00Z"))
    val c = new CatalogService(chainAt(Files.createTempDirectory("cat-cas")), clock)
    c.createContainer("admin", "app1")
    clock.now = clock.now.plusSeconds(60)
    c.createContainer("admin", "app2")
    c.createUser("alice", "pw")
    c.createContainer("alice", "hers")
    assert(c.userContainers("admin").map(_._1) === Seq("app2", "app1"))
    c.createSession("admin", "app1", "app1_r1")
    clock.now = clock.now.plusSeconds(60)
    c.createSession("admin", "app1", "app1_r2")
    assert(c.containerSessions("admin", "app1").map(_._1) === Seq("app1_r2", "app1_r1"))
    assert(c.containerSessions("alice", "app1") === Seq.empty) // not the owner → empty
  }

  test("cleanupExpiredTokens removes only the expired ones") {
    val start = Instant.parse("2026-01-01T00:00:00Z")
    val clock = new FakeClock(start)
    val dir = Files.createTempDirectory("cat-cas")
    val c = new CatalogService(chainAt(dir), clock)
    val shortLived = c.createToken("admin", expiresInHours = 1)
    val longLived = c.createToken("admin", expiresInHours = 48)
    clock.now = clock.now.plus(Duration.ofHours(2))
    // the next login sweeps the expired token, never presented again
    c.createToken("admin")
    // a reopened instance replays checkpoint plus deltas; its clock is
    // back before any expiry, so a token it still held would verify
    val reopened = new CatalogService(chainAt(dir), new FakeClock(start))
    assert(reopened.verifyToken(shortLived) === None)
    assert(reopened.verifyToken(longLived) === Some("admin"))
    assert(c.verifyToken(shortLived) === None)
    assert(c.verifyToken(longLived) === Some("admin"))
  }

  test("createUser rejects duplicates; tokens are url-safe and unique") {
    val c = new CatalogService(chainAt(Files.createTempDirectory("cat-cas")))
    assert(c.createUser("dana", "pw"))
    assert(!c.createUser("dana", "other"))
    val tokens = (1 to 20).map(_ => c.createToken("dana"))
    assert(tokens.distinct.size === 20)
    assert(tokens.forall(_.matches("^[A-Za-z0-9_-]+$"))) // url-safe base64, no padding
  }

  // ---- several instances on one store: the multi-gateway control plane ----

  test("shared catalog spans instances: tokens, ownership, conflicts and revocation are cluster-wide") {
    val dir = Files.createTempDirectory("cat-cas")
    val a = new CatalogService(chainAt(dir))
    val b = new CatalogService(chainAt(dir))
    // a token minted on A authorizes on B
    val t = a.createToken("admin")
    assert(b.verifyToken(t) === Some("admin"))
    // duplicate container creation across instances conflicts exactly once
    assert(a.createContainer("admin", "app"))
    assert(!b.createContainer("admin", "app"))
    // ownership travels: session created via A, access-checked via B
    assert(a.createSession("admin", "app", "app_run"))
    assert(b.verifySessionAccess("admin", "app_run"))
    assert(!b.createSession("admin", "app", "app_run"))
    // revocation on A is immediately visible on B
    a.revokeToken(t)
    assert(b.verifyToken(t) === None)
    // users created on B can log in via A
    assert(b.createUser("carol", "pw"))
    assert(a.verifyPassword("carol", "pw"))
  }

  test("shared catalog: concurrent same-id creation from two instances — exactly one winner") {
    val dir = Files.createTempDirectory("cat-cas")
    val a = new CatalogService(chainAt(dir))
    val b = new CatalogService(chainAt(dir))
    (1 to 10).foreach { i =>
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = Seq(a, b).map(c => new Thread(() => {
        if (c.createContainer("admin", s"race$i")) wins.incrementAndGet()
      }))
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      assert(wins.get == 1, s"container race$i created ${wins.get} times")
    }
    // every round's winner is visible to both instances afterwards
    assert(a.userContainers("admin").size == 10)
    assert(b.userContainers("admin").size == 10)
  }

  test("shared catalog: no lost updates — concurrent DISTINCT mutations all survive the CAS storm") {
    // the same-id race above proves exactly-one-winner; this proves the
    // complementary property: under sustained cross-gateway contention,
    // a commit that loses the version CAS re-applies its mutation at
    // the new frontier and NO accepted mutation is silently dropped
    val dir = Files.createTempDirectory("cat-cas")
    val a = new CatalogService(chainAt(dir))
    val b = new CatalogService(chainAt(dir))
    val perSide = 8
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = for ((c, side) <- Seq((a, "a"), (b, "b")); i <- 1 to perSide) yield
      new Thread(() => {
        try {
          if (!c.createContainer("admin", s"storm_${side}_$i"))
            errs.add(new AssertionError(s"storm_${side}_$i rejected as duplicate"))
        } catch { case t: Throwable => errs.add(t) }
      })
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"storm raised: ${errs.peek()}")
    val expected = (for (side <- Seq("a", "b"); i <- 1 to perSide)
      yield s"storm_${side}_$i").toSet
    for (c <- Seq(a, b)) {
      val seen = c.userContainers("admin").map(_._1).toSet
      assert(expected.subsetOf(seen),
        s"lost updates: ${expected diff seen} missing after the storm")
    }
  }

  test("shared catalog: lazy token expiry propagates across instances") {
    val dir = Files.createTempDirectory("cat-cas")
    val clock = new FakeClock(Instant.parse("2026-01-01T00:00:00Z"))
    val a = new CatalogService(chainAt(dir), clock)
    val b = new CatalogService(chainAt(dir), clock)
    val t = a.createToken("admin", expiresInHours = 1)
    assert(b.verifyToken(t) === Some("admin"))
    clock.now = clock.now.plus(Duration.ofHours(2))
    assert(b.verifyToken(t) === None) // B performs the lazy deletion...
    assert(a.verifyToken(t) === None) // ...and A sees the deletion commit
  }

  test("shared catalog: an incomplete frontier record degrades reads to the last committed state") {
    val dir = Files.createTempDirectory("cat-cas")
    val a = new CatalogService(chainAt(dir))
    val t = a.createToken("admin")
    // plant a frame-mismatched record ABOVE the committed frontier — a
    // committer crashed mid-record on an O_EXCL-fallback mount, or
    // external damage; readers must keep serving the committed state
    val slot = dir.toFile.listFiles((_, n) => n.matches("v\\d{20}\\.json"))
      .map(_.getName.stripPrefix("v").stripSuffix(".json").toLong).max
    Files.write(dir.resolve(f"v${slot + 1}%020d.json"),
      "#graft-state 9999\n{\"trunca".getBytes("UTF-8"))
    val b = new CatalogService(chainAt(dir))
    assert(b.verifyToken(t) === Some("admin"))
    assert(b.verifyPassword("admin", "admin"))
  }

  test("shared catalog: a pruned version slot cannot be re-claimed below the live frontier (ABA guard)") {
    // a committer stalled past the prune grace between resolve and
    // claim finds its target slot EMPTY (prune vacated it); claiming it
    // would succeed invisibly below the frontier — the claim must be
    // refused instead
    val dir = Files.createTempDirectory("cat-cas")
    val c = new CatalogService(chainAt(dir), keepVersions = 4, pruneGraceMs = 60000)
    (2 to 11).foreach(i => assert(c.createUser(s"u$i", "pw"))) // v2..v11
    ageVersions(dir)
    assert(c.createUser("u12", "pw")) // v12 prunes every version <= 8
    assert(!dir.resolve(f"v${2L}%020d.json").toFile.exists)
    val stale = chainAt(dir)
    assert(!stale.claim(1L, record("""{"stale":true}""")),
      "claimed a pruned slot below the live frontier — this commit is invisible to every reader")
    assert(stale.resolve().valid == 12L, "the stale claim must not disturb the live frontier")
    assert(new CatalogService(chainAt(dir)).verifyPassword("u12", "pw"))
  }

  test("shared catalog: the predecessor guard commits at the frontier and refuses a taken or prune-vacated slot") {
    val dir = Files.createTempDirectory("cat-cas")
    val st = chainAt(dir)
    (1L to 5L).foreach(v => assert(st.claim(v - 1, record(s"""{"v":$v}"""))))
    // an occupied slot is refused
    assert(!st.claim(4L, record("""{"dup":true}""")))
    // the real frontier slot commits
    assert(st.claim(5L, record("""{"v":6}""")))
    // a resolve from before a prune refuses its vacated successor slot
    val dir2 = Files.createTempDirectory("cat-cas")
    val st2 = chainAt(dir2)
    (1L to 12L).foreach(v => assert(st2.claim(v - 1, record(s"""{"v":$v}"""))))
    ageVersions(dir2)
    assert(st2.prune((v, _) => v <= 8).size == 8)
    assert(!st2.claim(1L, record("""{"stale":true}""")),
      "a stale-resolve claim of a vacated slot slipped past the predecessor guard")
    assert(st2.resolve().valid == 12L)
  }

  test("shared catalog: prune with out-of-order mtimes never opens a gap below a surviving version") {
    // gateway a commits v1..v5; gateway b (keep = 4, 60 s grace) commits
    // v6..v12. Every version but v5 looks old, as after a clock step or
    // on skewed gateways. Pruning v6..v9 around the surviving v5 would
    // leave a at v5 believing it is the frontier ("v5 there, v6 absent")
    // and let it commit into the v6 hole, invisible to every reader.
    val dir = Files.createTempDirectory("cat-cas")
    val chainA = chainAt(dir)
    val a = new CatalogService(chainA)
    (2 to 5).foreach(i => assert(a.createUser(s"a$i", "pw"))) // v1 (admin)..v5
    val b = new CatalogService(chainAt(dir), keepVersions = 4, pruneGraceMs = 60000)
    (6 to 12).foreach(i => assert(b.createUser(s"b$i", "pw"))) // v6..v12
    ageVersions(dir, keep = Set(5L))
    assert(b.createUser("b13", "pw")) // v13 prunes
    assert(chainA.resolve().valid == 13L, "gateway a stopped at a surviving version below a gap")
    assert(a.verifyPassword("b13", "pw"))
    assert(!chainA.claim(5L, record("""{"stale":true}""")),
      "a commit at v6 must be refused: v6 is taken")
  }

  test("shared catalog: version chain stays bounded under sustained mutation (prune)") {
    val dir = Files.createTempDirectory("cat-cas")
    val c = new CatalogService(chainAt(dir), keepVersions = 8, pruneGraceMs = 0)
    (1 to 40).foreach(i => c.createContainer("admin", s"box$i"))
    val files = dir.toFile.listFiles((_, n) => n.startsWith("v")).length
    assert(files <= 9, s"$files version files retained (keep=8)")
    // the surviving newest state is complete
    val fresh = new CatalogService(chainAt(dir))
    assert(fresh.userContainers("admin").size == 40)
  }

  // ---- delta chain: O(mutation) commits ----

  test("delta chain: commit payload is O(mutation) at any live-state size; fresh gateway reconstructs checkpoint+tail") {
    val dir = Files.createTempDirectory("cat-delta")
    val a = new CatalogService(chainAt(dir), checkpointEvery = 8)
    (1 to 60).foreach(i => assert(a.createUser(f"user$i%03d", "pw")))
    val t = a.createToken("user001")
    assert(a.createContainer("user001", "cbox"))
    // the newest DELTA record is a few hundred bytes no matter how many
    // users the catalog holds; the newest CHECKPOINT carries the state
    val files = dir.toFile.listFiles((_, n) => n.matches("v\\d{20}\\.json"))
      .sortBy(_.getName)
    def vOf(f: java.io.File) = f.getName.stripPrefix("v").stripSuffix(".json").toLong
    val deltas = files.filterNot(f => vOf(f) % 8 == 0)
    val ckpts = files.filter(f => vOf(f) % 8 == 0)
    assert(ckpts.nonEmpty, "no checkpoint written by the cadence")
    assert(deltas.nonEmpty)
    val maxDelta = deltas.map(_.length()).max
    val maxCkpt = ckpts.map(_.length()).max
    assert(maxDelta < 512, s"a delta record weighs $maxDelta B — O(state) leak?")
    assert(maxCkpt > maxDelta * 4, s"checkpoint $maxCkpt B vs delta $maxDelta B")
    // a FRESH gateway reconstructs the full state from checkpoint + tail
    val b = new CatalogService(chainAt(dir), checkpointEvery = 8)
    assert(b.verifyToken(t) === Some("user001"))
    assert(b.verifyPassword("user042", "pw"))
    assert(!b.createContainer("user002", "cbox")) // global id namespace survives
    assert(b.userContainers("user001").map(_._1) === Seq("cbox"))
  }

  test("delta chain: cross-gateway mutations stay idempotent and ordered; deletes travel as deltas") {
    val dir = Files.createTempDirectory("cat-delta")
    val a = new CatalogService(chainAt(dir), checkpointEvery = 8)
    val b = new CatalogService(chainAt(dir), checkpointEvery = 8)
    val t = a.createToken("admin")
    assert(b.verifyToken(t) === Some("admin")) // B applied A's delta
    a.revokeToken(t)
    assert(b.verifyToken(t) === None) // the delete delta travels
    // interleaved creations from both sides — every one survives, and
    // per-user listings stay newest-first across gateways
    (1 to 12).foreach { i =>
      val c = if (i % 2 == 0) a else b
      assert(c.createContainer("admin", f"dbox$i%02d"))
    }
    assert(a.userContainers("admin").size == 12)
    assert(b.userContainers("admin").size == 12)
  }

  test("delta chain: prune keeps the reconstruction window; sustained churn stays bounded") {
    val dir = Files.createTempDirectory("cat-delta")
    val c = new CatalogService(chainAt(dir), keepVersions = 8, pruneGraceMs = 0, checkpointEvery = 8)
    (1 to 40).foreach(i => c.createContainer("admin", s"box$i"))
    val files = dir.toFile.listFiles((_, n) => n.matches("v\\d{20}\\.json"))
    assert(files.length <= 9, s"${files.length} version files retained (keep=8)")
    // a fresh gateway still reconstructs the complete state
    val fresh = new CatalogService(chainAt(dir), checkpointEvery = 8)
    assert(fresh.userContainers("admin").size == 40)
  }

  test("delta chain: a torn frontier record degrades reads to the last committed chain") {
    val dir = Files.createTempDirectory("cat-delta")
    val a = new CatalogService(chainAt(dir), checkpointEvery = 8)
    (1 to 10).foreach(i => a.createUser(s"u$i", "pw"))
    val t = a.createToken("u3")
    val slot = dir.toFile.listFiles((_, n) => n.matches("v\\d{20}\\.json"))
      .map(_.getName.stripPrefix("v").stripSuffix(".json").toLong).max
    Files.write(dir.resolve(f"v${slot + 1}%020d.json"),
      "#graft-delta 9999\n{\"trunca".getBytes("UTF-8"))
    val b = new CatalogService(chainAt(dir), checkpointEvery = 8)
    assert(b.verifyToken(t) === Some("u3"))
    assert(b.verifyPassword("u7", "pw"))
  }

  test("delta chain: the record kind at each version is structural") {
    val dir = Files.createTempDirectory("cat-delta")
    val c = new CatalogService(chainAt(dir), checkpointEvery = 4)
    (2 to 9).foreach(i => assert(c.createUser(s"k$i", "pw"))) // v2..v9
    val chain = chainAt(dir)
    (1L to 9L).foreach { v =>
      assert(chain.read(v).get.isDelta == (v % 4 != 0), s"v$v has the wrong record kind")
    }
  }

  test("state survives restart via catalog.json (tokens included)") {
    // a catalog.json as the retired per-gateway JSON catalog wrote it:
    // bob/secret, one token (stored as its SHA-256), container and
    // session — plus one row holding a raw `token` instead of its digest
    val t = "legacy-bearer-token-for-bob"
    val raw = "raw-bearer-token-for-bob"
    def sha(x: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val root = Files.createTempDirectory("catalog")
    val legacy = root.resolve("catalog.json")
    Files.writeString(legacy,
      s"""{"users":[
         |  {"user_id":"admin","password_hash":"${sha("admin")}","created_at":"2026-01-01T00:00:00Z"},
         |  {"user_id":"bob","password_hash":"${sha("secret")}","created_at":"2026-01-01T00:00:01Z"}],
         |"tokens":[{"token_hash":"${sha(t)}","user_id":"bob",
         |  "created_at":"2026-01-01T00:00:02Z","expires_at":"2999-01-01T00:00:00Z"},
         |  {"token":"$raw","user_id":"bob",
         |  "created_at":"2026-01-01T00:00:02Z","expires_at":"2999-01-01T00:00:00Z"}],
         |"containers":[{"container_id":"box","user_id":"bob","created_at":"2026-01-01T00:00:03Z","seq":1}],
         |"sessions":[{"session_id":"box_run","container_id":"box","user_id":"bob",
         |  "created_at":"2026-01-01T00:00:04Z","seq":2}]}""".stripMargin)
    val dir = Files.createTempDirectory("cat-cas")
    // v1 of a fresh delta-cadence store is a delta record
    CatalogService.importLegacy(chainAt(dir), legacy)
    val c2 = new CatalogService(chainAt(dir), checkpointEvery = 16) // fresh instance, same dir
    assert(c2.verifyPassword("bob", "secret"))
    assert(c2.verifyToken(t) === Some("bob"))
    assert(c2.verifyToken(raw) === None, "a raw-token row must not authenticate")
    assert(c2.verifyContainerAccess("bob", "box"))
    assert(c2.verifySessionAccess("bob", "box_run"))
    assert(!c2.createContainer("bob", "box")) // still a duplicate after reload
  }
}
