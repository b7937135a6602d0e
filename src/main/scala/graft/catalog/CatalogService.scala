package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.{MessageDigest, SecureRandom}
import java.time.{Clock, Instant}
import java.util.Base64
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.storage.{StateRecord, VersionChain}

/** Control-plane catalog: users, tokens, containers, sessions — the Spark
  * engine's counterpart of the reference's SQLite auth DB (auth.py:25-84).
  * Same semantics:
  *
  *  - passwords hashed SHA-256 (auth.py:103-105); default `admin`/`admin`
  *    user created on first start (auth.py:91-101)
  *  - tokens are 32 random url-safe bytes (auth.py:124), expire after 24 h,
  *    and expired tokens are deleted lazily on verification (auth.py:135-155)
  *    and swept at each login
  *  - containers/sessions are owned; creation of a duplicate fails
  *    (conflict), session creation requires container ownership
  *    (auth.py:170-203); access checks compare owner ids (auth.py:205-223)
  *  - list endpoints order by created_at DESC (auth.py:225-249)
  *
  * This is deliberately NOT a Spark dataflow: a catalog is point lookups
  * and single-row upserts, the exact opposite of a scan-oriented engine —
  * at 100 TB of *log data* the catalog is still tiny (thousands of rows)
  * and lives in memory.
  *
  * The committed state is a [[graft.storage.VersionChain]] of
  * [[graft.storage.StateRecord]]s, and every mutation is a
  * compare-and-swap transaction against it — the SAME chain the data
  * plane's [[graft.storage.ManifestLog]] commits through. Every instance
  * on one store directory therefore sees one catalog: a token minted on
  * gateway A authorizes on gateway B,
  * duplicate container creation across gateways conflicts exactly once,
  * revocation is visible everywhere. Mutations commit DELTA records
  * (`#graft-delta`; a full `#graft-state` snapshot only at every
  * `checkpointEvery`-th version), so a commit pays O(the mutation), not
  * O(live state) — the reference's SQLite O(1)-per-mutation economics —
  * and a fresh gateway rebuilds from one checkpoint plus at most
  * `checkpointEvery − 1` deltas. Reads resolve the latest committed chain
  * (a probe pair on a clean frontier) and re-apply only the deltas they
  * are behind, never a snapshot re-parse in steady state; a mutation
  * re-applies against the current state on every CAS retry, exactly like
  * a manifest commit.
  *
  * Each checkpoint commit prunes versions at least `keepVersions` below
  * it whose mtime is older than `pruneGraceMs`: the chain walk of any
  * frontier starts at or above that checkpoint, and the grace lets a
  * reader that resolved an older version still read it (one that loses
  * the race re-resolves). The catalog is current-state-only, like the
  * reference's SQLite tables: nothing here time-travels.
  */
object CatalogService {
  final case class User(userId: String, passwordHash: String, createdAt: Instant)
  /** `tokenHash` is the SHA-256 of the bearer token — the raw token is
    * returned to the caller once at creation and never persisted, so
    * reading catalog state does not yield usable credentials (state
    * records are also written owner-only). */
  final case class Token(tokenHash: String, userId: String, createdAt: Instant, expiresAt: Instant)
  final case class Container(containerId: String, userId: String, createdAt: Instant)
  final case class Session(sessionId: String, containerId: String, userId: String, createdAt: Instant)

  /** One-time import of a `catalog.json` written by the retired
    * per-gateway JSON catalog. Without it, a root written in that mode
    * restarts with only `admin`, and any user could re-create an existing
    * container id and read that container's logs. Runs only on an empty
    * chain: the file's bytes become a v1 delta verbatim — its row format
    * is the snapshot format, which a delta record shares, and a delta at
    * the bottom of the chain applies to the empty state under any
    * cadence. A caller that loses v1 to a concurrent committer warns and
    * does not retry: the chain it lost to is the catalog now. */
  private[graft] def importLegacy(chain: VersionChain[StateRecord], legacyFile: Path): Unit =
    if (Files.exists(legacyFile) && chain.resolve().valid == 0) {
      val record = StateRecord(isDelta = true, Files.readString(legacyFile))
      if (!chain.claim(0L, record.bytes, ownerOnly = true))
        System.err.println(s"[catalog] $legacyFile not imported: another gateway " +
          "committed the catalog's first version first; that chain is the catalog")
    }
}

final class CatalogService(chain: VersionChain[StateRecord], clock: Clock = Clock.systemUTC(),
                           keepVersions: Int = 32, pruneGraceMs: Long = 60000L,
                           checkpointEvery: Int = 1) {
  import CatalogService._

  require(keepVersions >= 1, "keepVersions must retain at least the frontier")
  require(checkpointEvery >= 1 && checkpointEvery <= keepVersions,
    "checkpointEvery must be in [1, keepVersions]")

  private val users = mutable.LinkedHashMap[String, User]()
  private val tokens = mutable.LinkedHashMap[String, Token]()
  private val containers = mutable.LinkedHashMap[String, Container]()
  private val sessions = mutable.LinkedHashMap[String, Session]()
  private val rng = new SecureRandom()
  private val mapper = new ObjectMapper()
  // Monotonic tiebreaker: created_at DESC listings must be stable even when
  // two rows share a wall-clock microsecond (SQLite got this from rowid).
  private var seq = 0L
  private val seqOf = mutable.HashMap[(String, String), Long]()
  /** The committed version the in-memory maps reflect. */
  private var loadedVersion = -1L

  transact {
    if (users.contains("admin")) ((), None)
    else {
      val u = User("admin", sha256Hex("admin"), clock.instant())
      users("admin") = u
      ((), Some(new Delta().putUser(u)))
    }
  }

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  // ---- the transaction spine ----

  /** The mutation a transaction commits, as an idempotent record of
    * upserts/deletes in the SAME row format as the full snapshot —
    * [[loadFrom]] applies both, so a delta is literally a partial
    * snapshot plus explicit deletes. Idempotence (upserts keyed by id,
    * `seq` merged by max, deletes of absent keys no-ops) is what makes
    * re-application after a rollback or a replayed record harmless. */
  private final class Delta {
    val node: ObjectNode = mapper.createObjectNode()
    private def arr(name: String): ArrayNode = node.get(name) match {
      case a: ArrayNode => a
      case _ => node.putArray(name)
    }
    def putUser(u: User): Delta = { arr("users").add(userNode(u)); this }
    def putToken(t: Token): Delta = { arr("tokens").add(tokenNode(t)); this }
    def delToken(hash: String): Delta = { arr("del_tokens").add(hash); this }
    def putContainer(c: Container): Delta = { arr("containers").add(containerNode(c)); this }
    def putSession(sx: Session): Delta = { arr("sessions").add(sessionNode(sx)); this }
    def json: String = mapper.writeValueAsString(node)
  }

  /** Run a state mutation `f` (returning (result, Some(delta) iff the
    * maps changed)) as a CAS transaction: sync to the latest committed
    * state, apply `f`, claim version+1 with the DELTA record (or the full
    * snapshot at a checkpoint version), so the commit payload is
    * O(mutation), not O(live state). A lost claim discards the local
    * application (the next iteration force-reloads committed state) and
    * RE-APPLIES `f` against the winner's state, so concurrent gateways
    * serialize without a lock and no mutation is ever silently dropped.
    * A frontier blocked by an in-flight/incomplete record (O_EXCL-fallback
    * mounts, external damage) is retried within a grace window, then
    * surfaced loudly.
    *
    * LOCKING: the instance monitor is held per CAS ITERATION (one
    * resolve + apply + `f` + claim — bounded IO), never across the
    * backoff sleeps. A blocked commit — a torn frontier record from a
    * crashed remote writer, or sustained cross-gateway contention —
    * would otherwise stall every read-only call on this gateway for up
    * to 65 s, and verifyToken / verifyContainerAccess sit on the auth
    * path of every request. Before the monitor is released for a
    * backoff, `loadedVersion` is poisoned so reads in the unlocked
    * window force-reload committed state instead of serving this
    * iteration's uncommitted application of `f`. */
  private def transact[A](f: => (A, Option[Delta])): A = {
    val deadline = System.currentTimeMillis() + 65000L
    var dirty = false
    while (true) {
      val result: Option[A] = synchronized {
        val r = sync(force = dirty)
        dirty = false
        val (a, deltaOpt) = f
        // a call that changed nothing needs no commit — it must NOT
        // block on an in-flight/unreadable frontier record (e.g. a
        // valid-token verify while another gateway is mid-commit)
        if (deltaOpt.isEmpty) Some(a)
        else {
          // never claim past an unreadable frontier with state from
          // below it — that would supersede the concurrent commit we
          // could not read (the lost-update hazard)
          val next = r.valid + 1
          val ckpt = checkpointEvery == 1 || next % checkpointEvery == 0
          val committed = r.slot == r.valid && {
            // a claim that THROWS (IO fault, not a CAS loss) must not
            // leave the applied-but-uncommitted mutation in the maps
            // with loadedVersion still at the frontier — this gateway
            // would serve phantom state until some later commit moved
            // the version. Poison the loaded version so the next access
            // force-reloads committed state, then propagate.
            val record = if (ckpt) StateRecord(isDelta = false, stateJson)
                         else StateRecord(isDelta = true, deltaOpt.get.json)
            try chain.claim(r.valid, record.bytes, ownerOnly = true)
            catch { case t: Throwable => loadedVersion = -1L; throw t }
          }
          if (committed) {
            loadedVersion = next
            // prune amortizes at the checkpoint cadence: its listing is
            // the one O(accumulated files) term on the commit path
            if (ckpt) {
              val horizon = System.currentTimeMillis() - pruneGraceMs
              chain.prune((v, mtime) => v <= next - keepVersions && mtime < horizon)
              chain.sweepTemps(horizon)
            }
            Some(a)
          } else {
            // lost/deferred the claim: roll back by force-reloading
            // next iteration, and poison loadedVersion NOW — the
            // monitor is about to be released for the backoff, and a
            // read landing in that window must not see the maps'
            // uncommitted application of `f`
            dirty = true
            loadedVersion = -1L
            if (System.currentTimeMillis() > deadline)
              throw new java.io.IOException(
                s"catalog commit blocked past 65s at version slot ${r.slot} " +
                (if (r.slot == r.valid) "(sustained CAS contention)"
                 else s"(unreadable record holds the frontier above committed v${r.valid} " +
                      "— in-flight writer crashed mid-record, or external damage; " +
                      "inspect and remove the file to restore catalog writes)"))
            None
          }
        }
      }
      result match {
        case Some(a) => return a
        case None =>
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current().nextLong(1L, 8L))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Read barrier: reflect the latest committed state. */
  private def syncRead(): Unit = sync(force = false)

  /** Bring the maps to the committed frontier and return it. Unchanged
    * version → no-op (a probe pair). Otherwise walk down from the
    * frontier: reaching the version the maps already hold applies only
    * the deltas above it (the steady-state path when other gateways
    * commit); reaching a checkpoint, or the bottom of a young chain,
    * rebuilds from it plus the deltas above (a fresh gateway, a
    * rollback, or a chain that moved past a checkpoint). A record pruned
    * under the walk means a newer frontier exists: re-resolve. */
  private def sync(force: Boolean): VersionChain.Frontier[StateRecord] =
    VersionChain.retryPruned {
      val r = chain.resolve()
      if (force || r.valid != loadedVersion) {
        var v = r.valid
        var rec = r.record
        var tail = List.empty[String]
        var base: Option[String] = None
        var incremental = false
        while (v > 0 && base.isEmpty && !incremental) rec match {
          case Some(StateRecord(false, p)) => base = Some(p)
          case Some(StateRecord(true, p)) =>
            tail = p :: tail
            v -= 1
            if (!force && v == loadedVersion) incremental = true
            else if (v > 0) rec = chain.read(v)
          case None => throw new java.io.IOException(
            s"catalog state chain broken: record v$v below the committed " +
              s"frontier v${r.valid} is incomplete — external damage; restore or " +
              "remove the file and its dependents to recover")
        }
        if (!incremental) {
          users.clear(); tokens.clear(); containers.clear(); sessions.clear()
          seqOf.clear(); seq = 0L
          base.foreach(p => loadFrom(mapper.readTree(p)))
        }
        tail.foreach(p => loadFrom(mapper.readTree(p)))
        loadedVersion = r.valid
      }
      r
    }

  // ---- users / tokens (auth.py:103-167) ----

  def createUser(userId: String, password: String): Boolean = transact {
    if (users.contains(userId)) (false, None)
    else {
      val u = User(userId, sha256Hex(password), clock.instant())
      users(userId) = u
      (true, Some(new Delta().putUser(u)))
    }
  }

  def verifyPassword(userId: String, password: String): Boolean = synchronized {
    syncRead()
    users.get(userId).exists(_.passwordHash == sha256Hex(password))
  }

  /** Mints a token. The same delta drops every expired token:
    * [[verifyToken]] expires a token only when it is presented, so an
    * abandoned login would otherwise stay in every checkpoint. */
  def createToken(userId: String, expiresInHours: Int = 24): String = transact {
    val bytes = new Array[Byte](32)
    rng.nextBytes(bytes)
    val tok = Base64.getUrlEncoder.withoutPadding.encodeToString(bytes)
    val now = clock.instant()
    val h = sha256Hex(tok)
    val t = Token(h, userId, now, now.plusSeconds(expiresInHours.toLong * 3600))
    val d = new Delta()
    tokens.filter(_._2.expiresAt.isBefore(now)).keys.toList.foreach { k =>
      tokens.remove(k); d.delToken(k)
    }
    tokens(h) = t
    (tok, Some(d.putToken(t)))
  }

  /** Some(userId) if the token exists and is unexpired; expired tokens are
    * deleted on the spot (lazy expiry, auth.py:147-153). Lookup is by
    * token digest — the store never holds the raw token. */
  def verifyToken(token: String): Option[String] = transact {
    val h = sha256Hex(token)
    tokens.get(h) match {
      case Some(t) if t.expiresAt.isBefore(clock.instant()) =>
        tokens.remove(h); (None, Some(new Delta().delToken(h)))
      case Some(t) => (Some(t.userId), None)
      case None => (None, None)
    }
  }

  def revokeToken(token: String): Unit = transact {
    val h = sha256Hex(token)
    if (tokens.remove(h).isDefined) ((), Some(new Delta().delToken(h)))
    else ((), None)
  }

  // ---- containers / sessions (auth.py:170-249) ----

  def createContainer(userId: String, containerId: String): Boolean = transact {
    if (containers.contains(containerId)) (false, None)
    else {
      val c = Container(containerId, userId, clock.instant())
      containers(containerId) = c
      seq += 1; seqOf(("c", containerId)) = seq
      (true, Some(new Delta().putContainer(c))) // node reads seqOf — set first
    }
  }

  /** Creation requires container ownership AND a fresh session id — both
    * failure modes collapse to `false` (→ 409), matching auth.py:183-203. */
  def createSession(userId: String, containerId: String, sessionId: String): Boolean = transact {
    val owned = containers.get(containerId).exists(_.userId == userId)
    if (!owned || sessions.contains(sessionId)) (false, None)
    else {
      val sx = Session(sessionId, containerId, userId, clock.instant())
      sessions(sessionId) = sx
      seq += 1; seqOf(("s", sessionId)) = seq
      (true, Some(new Delta().putSession(sx)))
    }
  }

  def verifyContainerAccess(userId: String, containerId: String): Boolean = synchronized {
    syncRead()
    containers.get(containerId).exists(_.userId == userId)
  }

  def verifySessionAccess(userId: String, sessionId: String): Boolean = synchronized {
    syncRead()
    sessions.get(sessionId).exists(_.userId == userId)
  }

  /** (container_id, created_at) owned by the user, newest first. */
  def userContainers(userId: String): Seq[(String, Instant)] = synchronized {
    syncRead()
    containers.values.filter(_.userId == userId).toSeq
      .sortBy(c => (-c.createdAt.toEpochMilli, -seqOf.getOrElse(("c", c.containerId), 0L)))
      .map(c => (c.containerId, c.createdAt))
  }

  /** (session_id, created_at) in the container, newest first; empty when
    * the user does not own the container (auth.py:234-243). */
  def containerSessions(userId: String, containerId: String): Seq[(String, Instant)] = synchronized {
    syncRead()
    if (!containers.get(containerId).exists(_.userId == userId)) Seq.empty
    else sessions.values.filter(_.containerId == containerId).toSeq
      .sortBy(s => (-s.createdAt.toEpochMilli, -seqOf.getOrElse(("s", s.sessionId), 0L)))
      .map(s => (s.sessionId, s.createdAt))
  }

  // ---- state (de)serialization ----

  // row-node builders shared by the full snapshot and the delta records
  // — ONE wire format for a row, wherever it appears
  private def userNode(u: User): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("user_id", u.userId); n.put("password_hash", u.passwordHash)
    n.put("created_at", u.createdAt.toString); n
  }
  private def tokenNode(t: Token): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("token_hash", t.tokenHash); n.put("user_id", t.userId)
    n.put("created_at", t.createdAt.toString); n.put("expires_at", t.expiresAt.toString); n
  }
  private def containerNode(c: Container): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("container_id", c.containerId); n.put("user_id", c.userId)
    n.put("created_at", c.createdAt.toString)
    n.put("seq", seqOf.getOrElse(("c", c.containerId), 0L)); n
  }
  private def sessionNode(sx: Session): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("session_id", sx.sessionId); n.put("container_id", sx.containerId)
    n.put("user_id", sx.userId); n.put("created_at", sx.createdAt.toString)
    n.put("seq", seqOf.getOrElse(("s", sx.sessionId), 0L)); n
  }

  private def stateJson: String = {
    val o = mapper.createObjectNode()
    def put(name: String, rows: Iterable[ObjectNode]): Unit = {
      val arr = o.putArray(name)
      rows.foreach(arr.add)
    }
    put("users", users.values.map(userNode))
    put("tokens", tokens.values.map(tokenNode))
    put("containers", containers.values.map(containerNode))
    put("sessions", sessions.values.map(sessionNode))
    mapper.writeValueAsString(o)
  }

  /** Apply a snapshot OR a delta: every array is an upsert keyed by the
    * row's id (`seq` merged by max), and `del_tokens` (delta-only) is an
    * explicit delete list — so applying a record twice, or re-applying a
    * record the maps already reflect, is a no-op (idempotent replay). */
  private def loadFrom(o: JsonNode): Unit = {
    def arr(name: String): Iterator[ObjectNode] = o.path(name) match {
      case a: ArrayNode => Iterator.range(0, a.size()).map(a.get(_).asInstanceOf[ObjectNode])
      case _ => Iterator.empty
    }
    o.path("del_tokens") match {
      case a: ArrayNode => Iterator.range(0, a.size()).foreach(i => tokens.remove(a.get(i).asText))
      case _ => ()
    }
    arr("users").foreach { n =>
      users(n.get("user_id").asText) = User(n.get("user_id").asText,
        n.get("password_hash").asText, Instant.parse(n.get("created_at").asText))
    }
    // A token row is its SHA-256 digest; a row without one (a raw
    // `token`) is skipped, so its holder logs in again.
    arr("tokens").filter(_.has("token_hash")).foreach { n =>
      val h = n.get("token_hash").asText
      tokens(h) = Token(h, n.get("user_id").asText,
        Instant.parse(n.get("created_at").asText), Instant.parse(n.get("expires_at").asText))
    }
    arr("containers").foreach { n =>
      containers(n.get("container_id").asText) = Container(n.get("container_id").asText,
        n.get("user_id").asText, Instant.parse(n.get("created_at").asText))
      val sq = n.path("seq").asLong(0L)
      seqOf(("c", n.get("container_id").asText)) = sq; seq = math.max(seq, sq)
    }
    arr("sessions").foreach { n =>
      sessions(n.get("session_id").asText) = Session(n.get("session_id").asText,
        n.get("container_id").asText, n.get("user_id").asText,
        Instant.parse(n.get("created_at").asText))
      val sq = n.path("seq").asLong(0L)
      seqOf(("s", n.get("session_id").asText)) = sq; seq = math.max(seq, sq)
    }
  }
}
