package graft.storage

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** One version chain: immutable records at `<dir>/v<%020d><suffix>`, each
  * version claimed once through [[Cas.tryClaim]]'s atomic
  * create-if-absent, so any number of processes on one shared root
  * serialize their writes without a lock. Every versioned store in graft
  * is one: a session's manifests ([[ManifestLog]], no suffix), the
  * catalog ([[graft.catalog.CatalogService]]) and each
  * [[MaintenanceLease]] (both `.json` [[StateRecord]]s). The caller owns
  * the record format (`decode`) and its policy; the chain owns naming,
  * listing, resolve, claim and deletion, and keeps two invariants:
  *
  *  - PREFIX DELETION. [[prune]] deletes versions in ascending order and
  *    stops at the first one its caller keeps, and never deletes the
  *    newest. So the versions on disk always run without a gap from the
  *    lowest to the newest, whatever the file mtimes say (a clock step,
  *    gateways with skewed clocks). "v readable and v+1 absent" therefore
  *    proves v is the frontier, which is what lets [[resolve]] probe
  *    forward from a hint instead of listing.
  *  - PREDECESSOR GUARD. A writer that resolved v claims v+1 only if v
  *    exists both before and after the claim ([[claim]]). By prefix
  *    deletion, v existing proves v+1 was never vacated, so a writer
  *    stalled past a sweep cannot publish into a hole below the live
  *    frontier, where every reader would miss it (the lost update). If v
  *    vanishes during the claim, the claim throws rather than ack a
  *    record nobody will read.
  *
  * A record `decode` rejects (a write torn on an O_EXCL-fallback mount,
  * or external damage) is skipped by resolve, which reports
  * `slot > valid`. Claims are dense (claiming v+1 needs v), so such a
  * record holds `valid + 1`, the slot a writer claims next: no writer
  * claims past an unreadable frontier with state from below it, a torn
  * record can only sit at the frontier, and every record below the valid
  * frontier is complete.
  */
final class VersionChain[R](fs: FileSystem, dir: Path, suffix: String,
                            decode: Array[Byte] => Option[R]) {
  import VersionChain._

  private val nameRe = ("v\\d{20}" + java.util.regex.Pattern.quote(suffix)).r

  private[storage] def pathOf(v: Long): Path = new Path(dir, f"v$v%020d$suffix")
  private[graft] def versionOf(st: FileStatus): Long = st.getPath.getName.substring(1, 21).toLong

  /** Version files, ascending. */
  private[graft] def files(): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
      .filter(st => st.isFile && nameRe.matches(st.getPath.getName)).sortBy(versionOf)
    catch { case _: FileNotFoundException => Seq.empty }

  /** The record at `v`; None when it does not decode. Throws
    * FileNotFoundException when `v` does not exist. */
  def read(v: Long): Option[R] = {
    val in = fs.open(pathOf(v))
    try decode(in.readAllBytes()) finally in.close()
  }

  /** Every version ascending, with its mtime and record; a version
    * deleted during the scan is left out. */
  def scan(): Seq[(Long, Long, Option[R])] = files().flatMap { st =>
    try Some((versionOf(st), st.getModificationTime, read(versionOf(st))))
    catch { case _: FileNotFoundException => None }
  }

  /** The last clean frontier this instance saw, with the length and
    * mtime its record was read at. */
  @volatile private var hint: Hint[R] = null

  /** The frontier. With a clean hint (or, on a cold start, a `seed`
    * version known to have existed) it probes forward with existence
    * checks: an unchanged frontier costs two metadata calls and no read.
    * Past [[ProbeBudget]] probes, or when the probe ends at an unreadable
    * or vanished version, it lists the directory instead. */
  def resolve(seed: => Long = 0L): Frontier[R] = {
    val h = hint
    val from = if (h != null) h.frontier.valid else seed
    val probed = if (from > 0) probe(from, h) else null
    if (probed != null) probed else retryPruned(listing())
  }

  private def probe(from: Long, h: Hint[R]): Frontier[R] = {
    var v = from
    var n = 0
    while (n < ProbeBudget && fs.exists(pathOf(v + 1))) { v += 1; n += 1 }
    if (n == ProbeBudget) return null
    try {
      val st = fs.getFileStatus(pathOf(v))
      if (h != null && h.frontier.valid == v && h.len == st.getLen &&
          h.mtime == st.getModificationTime) h.frontier
      else remember(st, read(v))
    } catch { case _: FileNotFoundException => null }
  }

  private def listing(): Frontier[R] = {
    val all = files()
    val slot = all.lastOption.map(versionOf).getOrElse(0L)
    all.reverseIterator.map(st => (st, read(versionOf(st))))
      .collectFirst { case (st, Some(r)) => (st, r) } match {
      case Some((st, r)) if versionOf(st) == slot => remember(st, Some(r))
      case Some((st, r)) => hint = null; Frontier(slot, versionOf(st), Some(r))
      case None => hint = null; Frontier(slot, 0L, None)
    }
  }

  /** Caches `st`'s record as the clean frontier; null when it does not
    * decode. */
  private def remember(st: FileStatus, rec: Option[R]): Frontier[R] = rec match {
    case Some(r) =>
      val f = Frontier(versionOf(st), versionOf(st), rec)
      hint = Hint(f, st.getLen, st.getModificationTime)
      f
    case None => null
  }

  private[storage] def predecessorSurvives(v: Long): Boolean = v == 0 || fs.exists(pathOf(v))

  /** Claims `after + 1` with `bytes` for a writer that resolved `after`.
    * False when the slot is taken or `after` is gone (re-resolve and
    * retry). Throws when `after` vanished during the claim: the record
    * then sits below the live frontier, so the write is not acked.
    * `ownerOnly` writes the file 0600, for records holding credentials. */
  def claim(after: Long, bytes: Array[Byte], ownerOnly: Boolean = false): Boolean = {
    if (!predecessorSurvives(after)) return false
    if (after == 0) fs.mkdirs(dir)
    val dst = pathOf(after + 1)
    if (!Cas.tryClaim(fs, dst, bytes, ownerOnly)) return false
    if (!predecessorSurvives(after))
      throw new java.io.IOException(
        s"$dst was claimed after its predecessor v$after was deleted (a stall " +
        "between resolve and claim outlasted the deletion grace): the record is " +
        "below the live frontier and invisible to readers, so the write is NOT " +
        "acked; retry it, and widen the grace past worst-case stalls")
    remember(fs.getFileStatus(dst), decode(bytes))
    true
  }

  /** Deletes versions in ascending order while `mayDelete(version,
    * mtimeMs)` holds, stopping at the first it keeps; the newest version
    * is never deleted. Returns the versions removed. */
  def prune(mayDelete: (Long, Long) => Boolean): Seq[Long] =
    files().dropRight(1).iterator
      .takeWhile(st => mayDelete(versionOf(st), st.getModificationTime))
      .map { st => fs.delete(st.getPath, false); versionOf(st) }
      .toVector

  /** Deletes claim temp files (`.tmp-*`, left by writers killed
    * mid-claim) older than `horizonMs`; returns how many. */
  def sweepTemps(horizonMs: Long): Int =
    try fs.listStatus(dir).count { st =>
      st.isFile && st.getPath.getName.startsWith(".tmp-") &&
        st.getModificationTime < horizonMs && fs.delete(st.getPath, false)
    } catch { case _: FileNotFoundException => 0 }
}

object VersionChain {
  /** Forward probes a resolve spends before one listing is cheaper. */
  val ProbeBudget = 64

  /** A resolved chain: `slot` = the highest version file, `valid` = the
    * newest record that decodes (0 when none), `record` = that record. */
  final case class Frontier[R](slot: Long, valid: Long, record: Option[R])

  private final case class Hint[R](frontier: Frontier[R], len: Long, mtime: Long)

  /** Runs `body`, re-running it while it fails with FileNotFoundException
    * for up to 2 s: a version deleted under a reader means a newer
    * frontier exists, so each retry sees a strictly newer chain. After
    * the budget the error is indistinguishable from external damage and
    * propagates. */
  def retryPruned[A](body: => A): A = {
    val deadline = System.nanoTime() + 2000000000L
    while (true) {
      try return body
      catch {
        case e: FileNotFoundException =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(20L)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** A catalog or lease record: a `#graft-state <n>` (snapshot) or
  * `#graft-delta <n>` header line, then the n payload bytes. A write
  * torn mid-record decodes as None. */
final case class StateRecord(isDelta: Boolean, payload: String) {
  def bytes: Array[Byte] = {
    val p = payload.getBytes(UTF_8)
    s"${if (isDelta) "#graft-delta" else "#graft-state"} ${p.length}\n".getBytes(UTF_8) ++ p
  }
}

object StateRecord {
  def decode(bytes: Array[Byte]): Option[StateRecord] = {
    val nl = bytes.indexOf('\n'.toByte)
    if (nl < 0) return None
    val head = new String(bytes, 0, nl, UTF_8)
    val isDelta = head.startsWith("#graft-delta ")
    if (!isDelta && !head.startsWith("#graft-state ")) return None
    val declared = head.substring(head.indexOf(' ') + 1).trim.toIntOption
    if (!declared.contains(bytes.length - nl - 1)) None
    else Some(StateRecord(isDelta, new String(bytes, nl + 1, bytes.length - nl - 1, UTF_8)))
  }

  /** The `.json` chain of state records in `dir`. */
  def chain(fs: FileSystem, dir: Path): VersionChain[StateRecord] =
    new VersionChain(fs, dir, ".json", decode)
}
