package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import graft.storage.Cas

/** Versioned state store committed through the engine's CAS primitive
  * ([[graft.storage.Cas]]) — the control-plane twin of
  * [[graft.storage.ManifestLog]]'s version chain, built for the
  * catalog: every version is claimed with an atomic
  * create-if-absent at `<dir>/v<%020d>.json`, so any number of gateway
  * processes on one shared root serialize their catalog mutations
  * without a lock and read each other's commits immediately.
  *
  * TWO record kinds (the manifest tier's delta+checkpoint recipe — the
  * reference's SQLite control plane pays O(1) per mutation,
  * auth.py:25-84, and so must this):
  *
  *  - `#graft-delta` — a mutation record. Payload size is the
  *    MUTATION, not the live state, so commit cost stays flat no
  *    matter how many users/tokens/containers the catalog holds.
  *  - `#graft-state` — a full snapshot (checkpoint). Written every
  *    [[checkpointEvery]]-th version (structurally: version multiples
  *    of the cadence are snapshots, everything else is a delta — the
  *    committer cannot get this wrong, [[tryCommit]] enforces it), so
  *    a fresh gateway reconstructs state from ONE checkpoint plus at
  *    most `checkpointEvery − 1` deltas, never the whole history.
  *
  * `checkpointEvery = 1` (the default) makes every commit a snapshot —
  * the pre-delta behavior, which is also what single-record state like
  * [[graft.storage.MaintenanceLease]] wants.
  *
  * Records are framed (`#graft-state <bytes>` / `#graft-delta <bytes>`
  * header line before the payload) so a mid-write read on an
  * O_EXCL-fallback mount parses as INCOMPLETE and is skipped/retried,
  * never half-applied — the same detectability contract the manifest
  * header/footer provides. Committers never claim past an unreadable
  * frontier (the caller's `slot == valid` guard), so an incomplete
  * record can only sit AT the frontier: every record below it is
  * complete, which is what makes the dense delta-chain walk safe.
  *
  * Old versions are pruned on successful CHECKPOINT commit (keep the
  * newest [[keepVersions]], never at-or-above the newest checkpoint —
  * the chain a reader needs — and only past a grace window so a
  * concurrent reader that just resolved an older version can still
  * read it; a reader losing that race gets FileNotFound and
  * re-resolves). Unlike
  * data manifests there is nothing to time-travel here — the catalog
  * is current-state-only, exactly like the reference's SQLite tables.
  */
object CasStateStore {
  /** Minimum prune grace for the O(1) fresh-resolve commit guard: the
    * freshness window is grace/4, leaving ≥ 3·grace/4 (15 s here) of
    * slack that must dominate cross-host clock skew — NTP-disciplined
    * fleets sit at milliseconds; a fleet that can't promise seconds of
    * agreement should raise the grace, not shrink this. */
  private[catalog] val MinFastPathGraceMs = 20000L

  /** One resolved frontier: `slot` = highest version FILE present
    * regardless of validity, `valid` = newest COMPLETE version, `base`
    * = the newest checkpoint payload at or below `valid` (None when
    * the chain bottoms out before any checkpoint — a young store),
    * `deltas` = every delta payload in `(baseVersion, valid]`,
    * ascending and DENSE (baseVersion = valid − deltas.size). */
  final case class Resolved(slot: Long, valid: Long,
                            base: Option[String], deltas: Vector[(Long, String)])
}

final class CasStateStore(fs: FileSystem, dir: Path,
                          keepVersions: Int = 32,
                          pruneGraceMs: Long = 60000L,
                          checkpointEvery: Int = 1) {
  import CasStateStore.Resolved

  require(keepVersions >= 1, "keepVersions must retain at least the frontier")
  // prune never deletes at-or-above the newest checkpoint; with the
  // cadence bounded by keepVersions that is already implied by the
  // keep window (newest checkpoint ≥ latest − cadence + 1), so the two
  // safety arguments can never disagree
  require(checkpointEvery >= 1 && checkpointEvery <= keepVersions,
    "checkpointEvery must be in [1, keepVersions]")

  private val versionRe = "v\\d{20}\\.json".r

  private def pathOf(v: Long): Path = new Path(dir, f"v$v%020d.json")
  private def versionOf(p: Path): Long =
    p.getName.stripPrefix("v").stripSuffix(".json").toLong

  /** Structural record kind for a version: multiples of the cadence
    * are checkpoints (full snapshots), everything else is a delta.
    * Public so the caller knows WHICH payload to build. */
  def isCheckpoint(version: Long): Boolean =
    checkpointEvery == 1 || version % checkpointEvery == 0

  private def frame(payload: Array[Byte], isDelta: Boolean): Array[Byte] = {
    val kind = if (isDelta) "#graft-delta" else "#graft-state"
    val h = s"$kind ${payload.length}\n".getBytes("UTF-8")
    h ++ payload
  }

  /** (isDelta, payload) if the record is complete (frame length
    * matches), else None (a fresh in-flight O_EXCL write, or external
    * damage). */
  private def readValid(p: Path): Option[(Boolean, String)] = {
    val in = fs.open(p)
    val bytes = try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var k = in.read(buf)
      while (k >= 0) { out.write(buf, 0, k); k = in.read(buf) }
      out.toByteArray
    } finally in.close()
    val nl = bytes.indexOf('\n'.toByte)
    if (nl < 0) return None
    val head = new String(bytes, 0, nl, "UTF-8")
    val isDelta = head.startsWith("#graft-delta ")
    if (!isDelta && !head.startsWith("#graft-state ")) return None
    val declared = try head.substring(head.indexOf(' ') + 1).trim.toInt
                   catch { case _: NumberFormatException => return None }
    if (bytes.length - nl - 1 != declared) None
    else Some((isDelta, new String(bytes, nl + 1, declared, "UTF-8")))
  }

  /** Legacy single-record view: (claim slot, newest valid version, its
    * payload). Only meaningful for snapshot-only stores
    * (checkpointEvery = 1, e.g. the maintenance lease) — a delta tail
    * cannot be flattened to one payload here, so it surfaces loudly
    * rather than silently serving a stale base. */
  def resolve(): (Long, Long, Option[String]) = {
    val r = resolveChain()
    if (r.deltas.nonEmpty)
      throw new IllegalStateException(
        "resolve() on a delta-chain store — use resolveChain()")
    (r.slot, r.valid, r.base)
  }

  /** The full chain view: newest checkpoint + dense delta tail.
    *
    * FAST PATH (the manifest tier's version-hint recipe): the catalog
    * resolve sits on the auth path of EVERY request, and the listing
    * is a paged LIST per call on object stores. Once a CLEAN frontier
    * (slot == valid) is known, the next resolve probes `v(slot+1)` for
    * absence and re-confirms `v(slot)` exists — two existence checks,
    * no listing, no re-read (records are immutable once complete).
    * Safe against [[prune]] for the same structural reason as the
    * manifest probe: pruning deletes ascending and only versions ≤
    * latest − keepVersions, so "slot readable and slot+1 absent" can
    * only mean slot IS the frontier; a pruned-under-us hint fails the
    * re-confirm and falls back to the listing. An UNCLEAN frontier
    * (valid < slot: in-flight record whose content may complete later)
    * is never cached.
    *
    * The listing path is INCREMENTAL when a clean hint exists: the
    * chain walk stops at the hint's version and reuses its
    * already-read prefix, so a reader that is one commit behind pays
    * one listing plus ONE record read, not a checkpoint re-parse —
    * the control-plane read cost is O(versions behind), not O(state). */
  def resolveChain(): Resolved = {
    val h = frontierHint
    if (h != null) {
      try {
        if (!fs.exists(pathOf(h.valid + 1)) && fs.exists(pathOf(h.valid))) return h
      } catch { case _: java.io.IOException => () } // fall through to listing
    }
    // a chain record pruned under our walk means a concurrent committer
    // advanced the frontier AND its checkpoint — re-listing always sees
    // a strictly newer chain, so each retry makes progress. Under
    // sustained checkpoint-cadence churn across many gateways a small
    // fixed cap could be exhausted on the auth path; retry on a time
    // budget with a short backoff instead, and only then propagate (at
    // that point the FNF is indistinguishable from external damage).
    val deadline = System.nanoTime() + 2_000_000_000L
    while (true) {
      try return resolveByListing(frontierHint)
      catch {
        case e: java.io.FileNotFoundException =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(20L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def resolveByListing(hint: Resolved): Resolved = {
    if (!fs.exists(dir)) return Resolved(0L, 0L, None, Vector.empty)
    val files = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && versionRe.matches(st.getPath.getName))
      .sortBy(st => -versionOf(st.getPath))
    val slot = files.headOption.map(st => versionOf(st.getPath)).getOrElse(0L)
    // newest COMPLETE record is the valid frontier; torn/in-flight
    // records can only sit above it (committers never claim past an
    // unreadable frontier)
    val top = files.iterator.flatMap { st =>
      readValid(st.getPath).map { case (d, p) => (versionOf(st.getPath), d, p) }
    }.nextOption()
    val r = top match {
      case None => Resolved(slot, 0L, None, Vector.empty)
      case Some((v, false, snap)) => Resolved(slot, v, Some(snap), Vector.empty)
      case Some((vTop, true, dTop)) =>
        var acc: List[(Long, String)] = List(vTop -> dTop)
        var base: Option[String] = None
        var v = vTop - 1
        var done = false
        while (!done && v >= 1) {
          if (hint != null && hint.valid == v) {
            // the hint's chain reconstructs exactly version v — reuse
            // its prefix instead of re-reading down to the checkpoint
            base = hint.base
            acc = hint.deltas.toList ++ acc
            done = true
          } else readValid(pathOf(v)) match {
            case Some((true, p)) => acc = (v -> p) :: acc; v -= 1
            case Some((false, p)) => base = Some(p); done = true
            case None => throw new java.io.IOException(
              s"catalog state chain broken: record v$v below the committed " +
                s"frontier v$vTop is incomplete — external damage; restore or " +
                "remove the file and its dependents to recover")
          }
        }
        Resolved(slot, vTop, base, acc.toVector)
    }
    frontierHint = if (r.slot > 0 && r.slot == r.valid) r else null
    r
  }

  /** Last known CLEAN frontier: slot == valid, chain included.
    * Null until the first clean full resolve. */
  @volatile private var frontierHint: Resolved = null

  /** Claim `version` with `payload`; true = committed (and old
    * versions pruned). False = slot taken — the caller re-resolves,
    * re-applies its mutation, and retries at the new frontier.
    * `isDelta` must match [[isCheckpoint]] — the prune safety argument
    * ("never delete at-or-above the newest checkpoint") reasons from
    * version numbers alone, so the record kind at each version is a
    * structural invariant, not a caller choice.
    *
    * `resolvedAtMs` (0 = unknown) is when the caller's resolve
    * observed the predecessor frontier — it selects the ABA guard:
    *
    *  - FRESH resolve (younger than a QUARTER of the prune grace): ONE
    *    existence probe of the target slot suffices. The hazard the
    *    guard exists for is a target slot CLAIMED by someone else and
    *    then VACATED by prune below the live frontier — but prune only
    *    deletes files whose mtime predates the grace horizon, and any
    *    claim of the target after our resolve carries an mtime newer
    *    than the resolve, so within the freshness window a vacated
    *    slot is structurally impossible: a lost slot still HAS its
    *    file, and the probe sees it. (The target cannot have been
    *    claimed BEFORE our resolve either — resolve's clean-frontier
    *    proof is "slot readable ∧ slot+1 absent", and prune deletes
    *    ascending.) This keeps the commit path at O(1) filesystem ops
    *    regardless of how many in-grace version files a mutation burst
    *    has accumulated — the listing guard made a 10⁴-mutation burst
    *    quadratic (measured in ServiceScaleCheck's catalog rows).
    *    CLOCK CONTRACT: the freshness argument compares THIS host's
    *    clock against mtimes another gateway's prune judged by ITS
    *    clock (the same cross-host assumption prune's reader grace
    *    already makes), so the fast path demands margin: it engages
    *    only when the grace is large enough that the remaining
    *    3/4-grace slack dominates any NTP-grade skew
    *    ([[CasStateStore.MinFastPathGraceMs]] ≥ 20 s grace → ≥ 15 s
    *    slack), and otherwise falls back to the listing guard, which
    *    has no clock dependency.
    *  - STALE/UNKNOWN resolve: the original full listing — if any
    *    version ≥ the target exists, this attempt already lost. A
    *    version created AFTER this listing cannot have been pruned yet
    *    (grace exceeds listing→claim latency in any real config;
    *    graceMs=0 is test-only). */
  def tryCommit(version: Long, payload: String,
                resolvedAtMs: Long = 0L, isDelta: Boolean = false): Boolean = {
    require(isDelta == !isCheckpoint(version),
      s"record kind mismatch at v$version: " +
        s"${if (isCheckpoint(version)) "checkpoint" else "delta"} expected " +
        s"(cadence $checkpointEvery)")
    fs.mkdirs(dir)
    val freshResolve = resolvedAtMs > 0L &&
      pruneGraceMs >= CasStateStore.MinFastPathGraceMs &&
      System.currentTimeMillis() - resolvedAtMs < pruneGraceMs / 4
    val occupied = try {
      if (freshResolve) fs.exists(pathOf(version))
      else fs.listStatus(dir).exists { st =>
        st.isFile && versionRe.matches(st.getPath.getName) &&
          versionOf(st.getPath) >= version
      }
    } catch { case _: java.io.FileNotFoundException => false }
    if (occupied) { frontierHint = null; return false }
    val ok = Cas.tryClaim(fs, pathOf(version),
      frame(payload.getBytes("UTF-8"), isDelta), ownerOnly = true)
    if (ok) {
      val h = frontierHint
      frontierHint =
        if (!isDelta) Resolved(version, version, Some(payload), Vector.empty)
        else if (h != null && h.valid == version - 1)
          Resolved(version, version, h.base, h.deltas :+ (version -> payload))
        else null // chain prefix unknown here; the next resolve re-lists
      // prune amortizes at the checkpoint cadence: its directory listing
      // is the one O(accumulated files) term left on the commit path, so
      // a delta commit must not pay it (checkpointEvery=1 prunes every
      // commit — the pre-delta behavior). Between checkpoints the
      // directory grows by at most checkpointEvery files.
      if (isCheckpoint(version)) prune(version)
    }
    ok
  }

  private def prune(latest: Long): Unit = {
    val horizon = System.currentTimeMillis() - pruneGraceMs
    // the newest checkpoint at or below the frontier and every record
    // above it ARE the state — structurally protected regardless of
    // the keep window (cadence ≤ keepVersions makes this redundant,
    // but the chain's integrity must not hang on that arithmetic)
    val newestCkpt =
      if (checkpointEvery == 1) latest else (latest / checkpointEvery) * checkpointEvery
    try {
      val all = fs.listStatus(dir).toSeq
      // version files are deleted in ASCENDING order — the frontier
      // probe's safety ("slot readable and slot+1 absent ⇒ slot is the
      // frontier") requires that no deletion ever removes v+1 while v
      // still exists, even transiently mid-sweep
      all.filter(st => st.isFile && versionRe.matches(st.getPath.getName))
        .sortBy(st => versionOf(st.getPath))
        .foreach { st =>
          val v = versionOf(st.getPath)
          if (v <= latest - keepVersions && v < newestCkpt &&
              st.getModificationTime < horizon)
            fs.delete(st.getPath, false)
        }
      // committers killed between temp write and link/rename leave
      // .tmp- orphans no one else sweeps (the manifest tier's expire
      // handles its own); the grace window far exceeds any in-flight
      // few-KB write
      all.foreach { st =>
        if (st.isFile && st.getPath.getName.startsWith(".tmp-") &&
            st.getModificationTime < horizon)
          fs.delete(st.getPath, false)
      }
    } catch { case _: java.io.FileNotFoundException => () }
  }
}
