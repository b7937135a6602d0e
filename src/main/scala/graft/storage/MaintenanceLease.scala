package graft.storage

import org.apache.hadoop.fs.{FileSystem, Path}
import com.fasterxml.jackson.databind.ObjectMapper

/** Cross-process maintenance lease — the coordination primitive that
  * turns "cross-process compaction belongs in a maintenance window"
  * from an operator convention into enforced code. One process at a
  * time holds the lease for a named maintenance domain (an index
  * table's compaction, a manifest root's GC sweep); everyone else
  * skips that work until the holder releases or its lease expires.
  *
  * Built on the SAME [[VersionChain]] of [[StateRecord]]s as the
  * shared catalog: the lease state is a single JSON record
  * `{holder, expiresAtMs}` whose commit version is the FENCE — a
  * holder that loses the slot race reads the winner's record instead
  * of overwriting it, so two gateways on one shared root can never
  * both believe they own a window. This deliberately reuses the
  * control plane's one definition of "atomically claimed" rather than
  * inventing a lock-file dialect with its own crash semantics.
  *
  * Expiry is wall-clock with the same skew posture as every retention
  * horizon in this engine (manifest GC grace, catalog prune grace):
  * the TTL must exceed clock skew between gateways plus the longest
  * stall a holder can take mid-window — and holders RENEW on a cadence
  * well under the TTL, so handover after a crash is bounded by one TTL
  * while a live holder keeps the lease indefinitely (stable-owner
  * semantics: maintenance does not ping-pong between gateways).
  *
  * What the lease is NOT: a correctness gate for the data plane's
  * per-session manifest compaction — that path is safe under dueling
  * by construction (CAS commits; chaos-tested) and the lease would
  * only add a coordination dependency to it. The lease exists for
  * (a) index-table rewrites, whose staged-swap protocol assumes one
  * rewriter at a time across processes, and (b) de-duplicating
  * cluster-wide sweeps (GC) that N gateways would otherwise all run.
  */
final class MaintenanceLease(fs: FileSystem, dir: Path,
                             val holderId: String, ttlMs: Long) {

  require(ttlMs > 0, "lease TTL must be positive")

  private val chain = StateRecord.chain(fs, dir)
  private val mapper = new ObjectMapper()

  /** Local belief: the expiry instant of the lease THIS instance
    * holds, 0 when not held. Belief is always re-validated against the
    * store by [[tryAcquire]]/[[renew]]; it exists so [[held]] and
    * [[release]] don't pay a resolve. */
  @volatile private var heldUntilMs: Long = 0L

  private def now(): Long = System.currentTimeMillis()

  /** Still holding by local belief (unexpired)? A `true` here is only
    * as strong as the renewal cadence — a holder that stops renewing
    * must treat its window as closed once this flips false. */
  def held: Boolean = heldUntilMs > now()

  private def payload(expiresAtMs: Long): String = {
    val o = mapper.createObjectNode()
    o.put("holder", holderId)
    o.put("expiresAtMs", expiresAtMs)
    o.toString
  }

  /** (holder, expiresAtMs) of the committed record, if parseable. */
  private def parse(p: String): Option[(String, Long)] =
    try {
      val n = mapper.readTree(p)
      if (n.hasNonNull("holder") && n.hasNonNull("expiresAtMs"))
        Some((n.get("holder").asText(), n.get("expiresAtMs").asLong()))
      else None
    } catch { case _: Exception => None }

  /** Claims `after + 1` with a snapshot record; on success, prunes
    * versions 32 or more below it whose mtime is a minute old. */
  private def commit(after: Long, expiresAtMs: Long): Boolean = {
    val ok = chain.claim(after, StateRecord(isDelta = false, payload(expiresAtMs)).bytes,
      ownerOnly = true)
    if (ok) {
      val horizon = now() - 60000L
      chain.prune((v, mtime) => v <= after + 1 - 32 && mtime < horizon)
      chain.sweepTemps(horizon)
    }
    ok
  }

  /** First time this instance observed the current unreadable frontier
    * slot, for the torn-record unwedge path: (slot, firstSeenMs). */
  @volatile private var tornSince: (Long, Long) = null

  /** Instance-level monitor: threads SHARING one instance serialize
    * their window lifecycle here — without it, a committed record
    * carrying this instance's own holderId reads as "mine, extend"
    * to every thread at once and two threads of one process could
    * both enter the window (review-caught; the storm spec's bodies
    * were just too short to trip it). Cross-PROCESS exclusion is the
    * CAS record's job; holder ids must be process-unique (hostname +
    * pid in ServerMain). */
  private val monitor = new Object
  private var inWindow = false

  /** Acquire or extend the lease. True = this process owns the
    * maintenance window until now+TTL (the holder calling again
    * renews — acquire IS renew). False = another holder's unexpired
    * lease, a same-id record this instance doesn't remember committing
    * (a crashed predecessor with our id — waited out like any foreign
    * lease), an in-flight commit at the frontier, or a lost CAS race —
    * skip the window and try again next cadence tick; never block. */
  def tryAcquire(): Boolean = monitor.synchronized {
    var attempts = 0
    while (attempts < 8) {
      attempts += 1
      val r = chain.resolve()
      val slot = r.slot
      if (r.valid < slot) {
        // Unreadable record at the frontier: normally a commit in
        // flight — skip this cycle. But a writer that crashed mid-write
        // on an O_EXCL-fallback mount leaves the slot torn FOREVER, and
        // "skip" would wedge GC/compaction cluster-wide with nothing
        // surfaced. A torn record can only matter while it could still
        // become a live lease, so after watching the SAME slot stay
        // unreadable for a full TTL, supersede it. Residual exposure:
        // a writer STALLED (not dead) past the TTL mid-write finishes
        // into a superseded slot and wrongly believes it holds the
        // window — the same pause ≫ grace assumption every retention
        // horizon in this engine documents.
        heldUntilMs = 0L
        val t0 = now()
        val seen = tornSince
        if (seen == null || seen._1 != slot) { tornSince = (slot, t0); return false }
        if (t0 - seen._2 <= ttlMs) return false
        System.err.println(s"[lease] $dir: unreadable record has held slot v$slot " +
          s"for > ${ttlMs}ms; superseding the torn frontier")
        val exp = t0 + ttlMs
        if (commit(slot, exp)) {
          tornSince = null; heldUntilMs = exp; return true
        }
        return false
      }
      tornSince = null
      val t = now()
      // a live record is OURS only if this instance remembers holding
      // it (heldUntilMs > 0) — a record with our id but no local belief
      // is a crashed/duplicate-id predecessor and is waited out
      val liveForeign = r.record.flatMap(rec => parse(rec.payload)).exists { case (h, exp) =>
        exp > t && (h != holderId || !held)
      }
      if (liveForeign) { heldUntilMs = 0L; return false }
      val exp = t + ttlMs
      if (commit(slot, exp)) {
        heldUntilMs = exp
        return true
      }
      // lost the slot race — re-resolve and re-evaluate
    }
    heldUntilMs = 0L
    false
  }

  /** Extend an already-held lease; false = lost it (expired and taken,
    * or never held). Alias of [[tryAcquire]] with held-precondition
    * semantics made explicit at call sites. */
  def renew(): Boolean = held && tryAcquire()

  /** Hand the window back early: commit an already-expired record so
    * the next contender acquires immediately instead of waiting out
    * the TTL. Losing this CAS means someone already superseded us
    * (only possible after our expiry) — nothing to release. */
  def release(): Unit = monitor.synchronized {
    if (heldUntilMs == 0L) return
    heldUntilMs = 0L
    val r = chain.resolve()
    if (r.valid == r.slot && r.record.flatMap(rec => parse(rec.payload)).exists(_._1 == holderId))
      commit(r.slot, 0L) // best-effort; expiry is the backstop
  }

  /** Run `body` inside the window: acquire → run → release. None when
    * the lease is contended — including by another thread of THIS
    * instance mid-window (the inWindow gate; without it the first
    * thread's release would open the window to a foreign holder while
    * the second is still inside). Long-running bodies renew() on their
    * own cadence; the TTL bounds how stale a crashed holder's claim
    * can get. */
  def withLease[A](body: => A): Option[A] = {
    monitor.synchronized {
      if (inWindow || !tryAcquire()) return None
      inWindow = true
    }
    try Some(body)
    finally monitor.synchronized { inWindow = false; release() }
  }
}
