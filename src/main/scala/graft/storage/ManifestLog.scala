package graft.storage

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft.model.LogSchema

/** MANIFEST-SWAP log store: graft's one storage tier, hot append files
  * and cold compacted archives behind a versioned MANIFEST per session
  * (the reference's hot buffers + cold archives + SQLite catalog,
  * writer.py / reader.py / metadata.py, as one multi-node-safe store).
  * The manifest, not the directory, is the source of truth, so readers
  * never need a lock — on one node or many:
  *
  * {{{
  *   <root>/hot/container=<c>/session=<s>/append-<uuid>.parquet
  *   <root>/cold/container=<c>/session=<s>/compact-<uuid>.parquet
  *   <root>/manifest/container=<c>/session=<s>/v<%020d>   // file list
  * }}}
  *
  *  - READERS resolve the highest manifest version and scan exactly
  *    its files. No lock, ever: a reader pinned to version N keeps a
  *    consistent file set no matter what writers do, because data
  *    files are immutable and retired files are deleted only by
  *    [[expire]] after a grace window (the Iceberg/Delta snapshot-
  *    isolation recipe, from public designs).
  *  - APPENDS publish an immutable file, then commit manifest N+1 =
  *    N ∪ {file}. The commit — not the file landing — is the
  *    visibility point.
  *  - COMPACTION rewrites the manifest's hot subset into sized cold
  *    files entirely OUTSIDE any lock, then commits manifest N+1 =
  *    (current − hot snapshot) ∪ cold files as its LAST step. Readers
  *    see the pre- or post-swap set, never both and never neither —
  *    exactly-once visibility with zero reader blocking
  *    (ManifestLogSpec holds a compaction mid-publish and proves
  *    reads and appends proceed).
  *
  * Manifest commits are a REAL compare-and-swap on the version number
  * — safe for two ManifestLog instances (different JVMs, different
  * nodes) sharing one root, not just two threads of one process:
  * a committer claims the `v<N+1>` slot with an atomic,
  * fully-formed create-if-absent — POSIX `link(2)` of a
  * fully-written temp file on local filesystems (plain `rename`
  * silently REPLACES an existing destination), temp-file + rename
  * elsewhere (HDFS rename REFUSES an
  * existing destination atomically at the namenode; object stores
  * without atomic rename need a real commit coordinator, the same
  * operational contract the public table formats state). Both paths
  * publish a COMPLETE manifest or nothing, so a claim is never
  * observable half-written. A loser re-resolves the new current
  * entry set, RE-APPLIES its update function against it, and retries
  * at the next version — concurrent commits serialize without a lock
  * and none is ever silently overwritten or deleted (a reclaim-by-
  * delete path would race a competing committer's just-completed
  * claim and destroy a real commit — this design never deletes at
  * the commit frontier). A manifest has ONE on-disk format: a
  * `#graft-manifest <n>` HEADER (first line), the `n` entries, and a
  * `#commit <n>` footer, purely as CORRUPTION detection: the header
  * says a matching footer must follow, so TAIL TRUNCATION — the
  * primary at-rest failure mode, which destroys the footer first — is
  * always detected; any other shape is a loud, operator-actionable
  * error, never silently skipped. The in-process lock remains only to keep
  * same-instance committers from burning CAS retries against each
  * other. Appends that land mid-compaction are preserved: the swap's
  * update function subtracts only the snapshot it compacted from
  * whatever the CURRENT entry set is at commit time — re-applied
  * from scratch on every CAS retry — and DECLINES entirely if a
  * competing instance's compaction already retired any of that
  * snapshot (re-adding rows a concurrent swap moved to its own cold
  * files would duplicate them permanently).
  *
  * Crash safety: a crash between publishing files and committing the
  * manifest leaves unreferenced files — never a wrong manifest — and
  * [[expire]] collects them after the grace window. A crash between a
  * compaction's cold publish and its swap leaves the hot snapshot
  * fully referenced (no loss, no duplicate); the orphaned cold files
  * age out the same way.
  */
final class ManifestLog(spark: SparkSession, root: String,
                        targetFileBytes: Long = 128L * 1024 * 1024,
                        hintFileEvery: Long = 64L) extends LogTier {

  private val hotDir = s"$root/hot"
  private val coldDir = s"$root/cold"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Orphaned staging dirs from a crashed writer are garbage (their data
  // was never referenced) — but this store has no single-instance-per-
  // root assumption (the whole point is multi-node operation), so a
  // second instance constructed mid-append must NOT
  // clobber a live writer's staging dir. Sweep only dirs old enough
  // that no in-flight write can still own them (an unguarded sweep
  // deletes a concurrent instance's staging between its parquet write
  // and rename).
  // A staging dir's mtime can sit at job-start for the length of the
  // parquet write (the _temporary subtree churns without touching the
  // top dir), so the age guard must exceed the LONGEST write this
  // store will ever run, with slack for cross-node clock skew — 24 h,
  // the Iceberg-style orphan-cleanup posture, not a "reasonable
  // timeout".
  private val StagingSweepAgeMs = 24L * 60 * 60 * 1000
  locally {
    val rootPath = new Path(root)
    if (fs.exists(rootPath)) {
      val horizon = System.currentTimeMillis() - StagingSweepAgeMs
      fs.listStatus(rootPath).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".staging-") &&
            st.getModificationTime < horizon)
          fs.delete(st.getPath, true)
      }
    }
  }

  private val manifestLocks = new ConcurrentHashMap[(String, String), Object]()
  private val compactLocks = new ConcurrentHashMap[(String, String), Object]()

  /** Test hook: runs after a compaction has published its cold files
    * and immediately before the manifest swap — the widest window in
    * which a lock-based design would block readers. */
  private[storage] var beforeSwap: () => Unit = () => ()

  private def manifestDir(container: String, session: String): Path =
    new Path(s"$root/manifest/container=$container/session=$session")

  private val versionRe = "v\\d{20}".r

  /** Root-relative entry for a data file path. */
  private def rel(p: Path): String = {
    val r = new Path(root).toUri.getPath
    val s = p.toUri.getPath
    require(s.startsWith(r + "/"), s"$p outside store root $root")
    s.stripPrefix(r + "/")
  }
  private def abs(entry: String): String = s"$root/$entry"

  /** Retained manifest files, ascending by version. */
  private def listManifests(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && versionRe.matches(st.getPath.getName))
      .sortBy(_.getPath.getName)

  /** Latest committed (version, entries); (0, empty) before the first
    * commit. A reader calls this once and scans exactly the result —
    * snapshot isolation by immutability. CORRUPT manifests (footer/
    * count mismatch — external damage, never this code's own output)
    * are skipped so reads degrade to the newest intact state while
    * [[commit]] surfaces the corruption loudly.
    *
    * COST (measured): the listing path is O(chain length) —
    * 1.7 ms at 1 version, 178 ms at 10⁴ on tmpfs, and on an object
    * store every 10³ versions is another paged LIST round-trip. Under
    * sustained commit load (a commit per flush) the chain grows until
    * [[expire]] sweeps it, so every read and every commit would pay
    * that. The fix is an in-process VERSION HINT: once a session's
    * frontier is known, the next resolve probes `v(hint+1)` — absent
    * means the frontier is unmoved (one existence check + one manifest
    * read, chain-length-independent), present means walk forward the
    * few versions a concurrent committer added. The probe is safe
    * against concurrent [[expire]] sweeps: a sweep deletes ascending
    * and a version is only deletable if its predecessor is, so "v
    * readable and v+1 absent" can only mean v IS the frontier; any
    * raced deletion surfaces as FileNotFound and falls back to the
    * full listing (which re-seeds the hint). */
  private[storage] def resolve(container: String, session: String): (Long, Seq[String]) = {
    val key = (container, session)
    val dir = manifestDir(container, session)
    val hint = versionHints.get(key)
    if (hint != null && hint.longValue > 0) {
      val probed = resolveByProbe(dir, hint.longValue)
      if (probed != null) { versionHints.put(key, probed._1); return probed }
    } else if (hintFileTried.add(key)) {
      // cold start: no in-process hint yet — seed the probe from the
      // persisted hint file before paying the full listing. AT MOST
      // ONCE per (session, instance): empty/expired sessions resolve
      // to (0, Nil) and clear their in-process hint, and without this
      // guard every subsequent resolve would re-pay the fs.open (plus
      // a doomed probe when a stale hint file outlives its chain) —
      // a permanent per-read tax on sessions the file cannot help
      val fh = readHintFile(dir)
      if (fh > 0) {
        val probed = resolveByProbe(dir, fh)
        if (probed != null) { versionHints.put(key, probed._1); return probed }
      }
    }
    val r = listManifests(dir).reverseIterator.flatMap { st =>
      try Some((st.getPath.getName.stripPrefix("v").toLong, readEntries(st.getPath)))
      catch {
        case _: ManifestLog.IncompleteManifestException =>
          noteCorruptSkip(st.getPath); None
        case _: java.io.FileNotFoundException => None // expired under us
      }
    }.nextOption().getOrElse((0L, Nil))
    if (r._1 > 0) versionHints.put(key, r._1)
    else versionHints.remove(key) // fully expired session: drop the stale hint
    r
  }

  /** Frontier hint per session: a version number that existed at some
    * point (from a listing or this instance's own commit). */
  private val versionHints = new ConcurrentHashMap[(String, String), java.lang.Long]()

  /** Sessions whose hint FILE this instance has already consulted —
    * the cold-start read happens once per session per process. */
  private val hintFileTried =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  // ---- persistent frontier hint (the `_last_checkpoint` recipe) ----
  //
  // The in-process hint makes STEADY-STATE resolve O(1), but a fresh
  // gateway's first resolve per session still lists the whole manifest
  // dir — O(chain), a paged LIST on object stores. Every
  // `hintFileEvery`-th commit writes the version number to a `hint`
  // file (best-effort, temp+rename, last-wins), so a cold instance
  // seeds the forward probe from it: a healthy chain's frontier is at
  // most `hintFileEvery - 1` ahead of the hint, which must stay
  // STRICTLY under the probe budget (the probe returns null AT the
  // budget) — enforced below, since a larger cadence would silently
  // defeat the feature. Safety is the probe's own: a stale, torn,
  // regressed, or expired-past hint (including a crashed writer
  // leaving the hint a full cadence behind) fails the probe and falls
  // back to the listing — the hint can make a resolve slower, never
  // wrong. The file name matches neither the version pattern nor the
  // data layout, so listings, expire's sweeps and readers all ignore
  // it; its `.tmp-` staging orphans ride the existing aged-tmp
  // collection.
  require(hintFileEvery >= 1 && hintFileEvery <= ManifestLog.ProbeBudget,
    s"hintFileEvery must be in [1, ${ManifestLog.ProbeBudget}] (the resolve probe budget)")

  private def hintFilePath(dir: Path): Path = new Path(dir, "hint")

  private def writeHintFile(dir: Path, v: Long): Unit =
    try {
      val tmp = new Path(dir, s".tmp-hint-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      fs.delete(hintFilePath(dir), false) // rename-over portability; last-wins race is safe
      if (!fs.rename(tmp, hintFilePath(dir))) fs.delete(tmp, false)
    } catch {
      // advisory only — and it runs AFTER the manifest published, so a
      // failure here must never make a durable commit look failed (the
      // caller would retry and double-append). Object-store clients
      // surface RuntimeExceptions too; swallow everything non-fatal.
      case scala.util.control.NonFatal(_) => ()
    }

  /** Bench/test seam: plant or clear the hint file through the real
    * writer so external measurements can never drift from the store's
    * actual name/encoding/location contract. */
  private[graft] def plantHintFile(container: String, session: String, v: Long): Unit =
    writeHintFile(manifestDir(container, session), v)
  private[graft] def clearHintFile(container: String, session: String): Unit =
    try fs.delete(hintFilePath(manifestDir(container, session)), false)
    catch { case _: java.io.IOException => () }

  /** Bench/test seam: plant versions `from..to` of a session, each
    * holding `entries`, through the commit path's own encoding and
    * claim primitive — a long chain without paying a commit per
    * version, in the one format the store reads. Fails if a slot is
    * already taken. */
  private[graft] def plantVersions(container: String, session: String,
                                   from: Long, to: Long, entries: Seq[String]): Unit = {
    val dir = manifestDir(container, session)
    fs.mkdirs(dir)
    val payload = ManifestLog.encode(entries)
    (from to to).foreach { v =>
      require(tryClaim(vPath(dir, v), payload), s"plantVersions: slot v$v is taken")
    }
  }

  private[storage] def readHintFile(dir: Path): Long =
    try {
      val in = fs.open(hintFilePath(dir))
      val s = try new String(in.readNBytes(32), "UTF-8").trim finally in.close()
      val v = s.toLong
      if (v > 0) v else 0L
    } catch { case _: Exception => 0L } // absent/torn/garbage: no hint

  private def vPath(dir: Path, v: Long): Path = new Path(dir, f"v$v%020d")

  /** O(delta) frontier walk from `hint`; null = fall back to the full
    * listing (hint expired under us, frontier corrupt, or the chain
    * moved further than probing is worth). */
  private def resolveByProbe(dir: Path, hint: Long): (Long, Seq[String]) = {
    var v = hint
    var probes = 0
    while (probes < ManifestLog.ProbeBudget && fs.exists(vPath(dir, v + 1))) { v += 1; probes += 1 }
    if (probes >= ManifestLog.ProbeBudget) return null // far behind: one listing beats N probes
    try (v, readEntries(vPath(dir, v)))
    catch {
      case _: java.io.FileNotFoundException => null // expired under us
      // corrupt frontier: the listing path owns skip-and-count semantics
      case _: ManifestLog.IncompleteManifestException => null
    }
  }

  // Read-side degradation must be OBSERVABLE: resolve
  // skipping a corrupt frontier silently serves an older snapshot —
  // acked data disappears from reads with no signal until a writer
  // happens to commit and trips the loud error. Count every skip and
  // warn once per damaged file so a read-mostly session surfaces the
  // problem instead of serving stale data indefinitely.
  private val corruptSkips = new java.util.concurrent.atomic.AtomicLong(0)
  private val warnedCorrupt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def noteCorruptSkip(p: Path): Unit = {
    corruptSkips.incrementAndGet()
    // bound the warned set: past 1024 distinct damaged files the
    // counter still moves, only the per-file warning dedup stops
    if (warnedCorrupt.size < 1024 && warnedCorrupt.add(p.toString))
      System.err.println(
        s"[manifest] WARNING: skipping corrupt manifest $p — reads are " +
        "serving an OLDER snapshot for this session until the file is " +
        "repaired or removed (this store never writes partial manifests)")
  }
  /** Times a read resolved past a corrupt manifest (serving an older
    * snapshot) — the health counter an operator alerts on. */
  def corruptManifestSkips: Long = corruptSkips.get()

  /** Grace before a CORRUPT version file (footer/count mismatch) at
    * the commit frontier turns from "maybe a visibility lag on an
    * eventually-consistent store — retry" into a loud, operator-
    * actionable failure. Both claim paths publish fully-formed files
    * atomically, so this code never produces such a file itself. */
  private val StaleClaimMs = 60000L
  private val MaxCommitRetries = 100

  /** Commit version N+1 = update(entries of N), as a compare-and-swap
    * on the version number: claim `v<N+1>` with atomic
    * create-if-absent; on collision re-resolve, RE-APPLY `update` to
    * the new current entries, and retry at the next version. Correct
    * across processes/nodes sharing one root — the in-process lock
    * only stops same-instance committers from contending the CAS. */
  private def commit(container: String, session: String)
                    (update: Seq[String] => Seq[String]): Seq[String] =
    manifestLocks.computeIfAbsent((container, session), _ => new Object).synchronized {
      val dir = manifestDir(container, session)
      fs.mkdirs(dir)
      var attempt = 0
      while (true) {
        val (v, cur) = resolve(container, session)
        val next = update(cur)
        if (next eq cur) return cur // update declined — no new version
        val dst = vPath(dir, v + 1)
        // ABA guard: a committer that stalls (GC/VM pause, partition)
        // past the expire horizon between resolve and claim can find
        // its target slot EMPTY because expire vacated it below the
        // live frontier — claiming it would "succeed" invisibly (every
        // reader resolves the higher frontier) and silently drop acked
        // rows. Expire's deletions are a PREFIX of the valid chain
        // (mtime monotonicity, ascending sweep), so one O(1) probe
        // NARROWS the hole to the probe→claim window: if the
        // predecessor we resolved still exists, our slot was not
        // vacated as of the probe; if it is gone, the resolve is
        // stale — re-resolve instead of claiming. (v=0 has no
        // predecessor and nothing below v1 to vacate.) The residual —
        // a pause between probe and claim that outlasts the expire
        // grace — is the same pause>>grace exposure the operational
        // horizon contract covers; the post-publish re-probe below
        // turns that silent drop into a loud error.
        if (!predecessorSurvives(dir, v)) {
          versionHints.remove((container, session)) // arbitrarily stale
        } else if (tryPublish(dst, next)) {
          // Re-probe AFTER the claim: the claim cannot be retracted,
          // but within the expire contract a just-superseded
          // predecessor is never deletable yet (its successor — our
          // file — has a fresh mtime, and sweeps delete v only when
          // v's successor predates the horizon), so absence here
          // proves the resolve was stale and our file sits BELOW the
          // live frontier, invisible to every reader. Fail the commit
          // loudly instead of acking rows that were silently dropped.
          if (!predecessorSurvives(dir, v)) {
            versionHints.remove((container, session))
            throw new java.io.IOException(
              s"manifest commit for $container/$session claimed slot v${v + 1} " +
              "whose predecessor was expire-vacated (a stall between resolve and " +
              "claim outlasted the expire horizon): the published file is below " +
              "the live frontier and invisible to readers — the commit is NOT " +
              "acked; retry it, and widen the expire horizon past worst-case " +
              "commit stalls")
          }
          versionHints.put((container, session), v + 1)
          if ((v + 1) % hintFileEvery == 0) writeHintFile(dir, v + 1)
          return next
        }
        // lost the CAS to another instance (or a fresh in-flight claim
        // holds the slot): back off briefly, then re-resolve + re-apply
        attempt += 1
        if (attempt >= MaxCommitRetries) {
          // Diagnose before blaming contention: a CORRUPT frontier file
          // younger than the stale grace also makes tryPublish return
          // false, and without this check it would surface as "lost the
          // CAS 100 times" — pointing the operator at contention when
          // the real problem is a damaged file blocking the slot.
          val frontierCorrupt =
            fs.exists(dst) && (try { readEntries(dst); false } catch {
              case _: ManifestLog.IncompleteManifestException => true
              case _: java.io.FileNotFoundException => false
            })
          throw new java.io.IOException(
            if (frontierCorrupt)
              s"manifest $dst is corrupt (not a header, entries, footer manifest); commits for " +
              "this session are blocked — inspect and remove the file to restore " +
              "service (this store never writes partial manifests)"
            else
              s"manifest commit for $container/$session lost the version CAS $attempt times")
        }
        Thread.sleep(java.util.concurrent.ThreadLocalRandom.current().nextLong(1L, 8L))
      }
      throw new IllegalStateException("unreachable")
    }

  /** The commit loop's ABA-guard predicate: true iff claiming slot
    * `resolvedV + 1` cannot be a claim of an expire-vacated slot.
    * Sound because expire's deletions are a prefix of the valid chain:
    * for `resolvedV + 1` to have existed and been vacated, `resolvedV`
    * itself must have been deleted first — so the predecessor still
    * existing proves the slot was never vacated. `resolvedV == 0` has
    * no predecessor and nothing below v1 to vacate. */
  private[storage] def predecessorSurvives(dir: Path, resolvedV: Long): Boolean =
    resolvedV == 0 || fs.exists(vPath(dir, resolvedV))

  /** Atomically claim + write `dst`. False = slot taken (a committed
    * manifest or a competing claim that just landed). A file at the
    * slot that does not parse (any shape but header, entries, footer —
    * external damage, or an O_EXCL claim still being written) is
    * retried while fresh and then surfaced as a loud error: it is
    * NEVER deleted here, because a delete-and-reclaim races a
    * competing committer completing the very same slot and would
    * destroy a real commit. */
  private def tryPublish(dst: Path, entries: Seq[String]): Boolean = {
    val payload = ManifestLog.encode(entries)
    if (fs.exists(dst)) {
      val corrupt =
        try { readEntries(dst); false } catch {
          case _: ManifestLog.IncompleteManifestException => true
          case _: java.io.FileNotFoundException => return tryClaim(dst, payload)
        }
      if (!corrupt) return false // lost the CAS to a real commit
      val stale =
        try System.currentTimeMillis() - fs.getFileStatus(dst).getModificationTime > StaleClaimMs
        catch { case _: java.io.FileNotFoundException => return tryClaim(dst, payload) }
      if (!stale) return false // fresh: possibly a visibility lag — caller retries
      throw new java.io.IOException(
        s"manifest $dst is corrupt (not a header, entries, footer manifest) and older than " +
        s"${StaleClaimMs / 1000}s — commits for this session are blocked; " +
        "inspect and remove the file to restore service (this store never " +
        "writes partial manifests, so this indicates external damage or a " +
        "filesystem without atomic rename)")
    }
    tryClaim(dst, payload)
  }

  /** The create-if-absent primitive — shared with the control plane
    * ([[Cas.tryClaim]]): hard-link claims locally (with an O_EXCL
    * fallback for link-less mounts, whose non-atomic content the
    * header+footer format makes read as a FRESH corrupt file — skipped
    * by readers, retried by committers inside the stale-claim grace),
    * temp+rename elsewhere, with rename-on-a-free-slot raised as an IO
    * fault instead of burning CAS retries as phantom contention. */
  private def tryClaim(dst: Path, payload: Array[Byte]): Boolean =
    Cas.tryClaim(fs, dst, payload)

  /** Append a batch: publish an immutable hot file, then commit it
    * into the manifest (the visibility point). Returns published
    * bytes. */
  def append(df: DataFrame, container: String, session: String): Long =
    doAppend(df, container, session, None)

  /** [[append]] with a caller-supplied idempotency tag — the
    * exactly-once hook for streaming `foreachBatch` replay (tag =
    * batch id), with NO side-channel marker files: the MANIFEST is
    * the replay ledger.
    * Tagged files publish as `tag-<tag>.parquet`; a replay checks the
    * committed-tag set first and no-ops (returns -1). Compaction
    * retires the FILE but the tag is also recorded as a tombstone
    * entry (`#tag <tag>`) the readers skip — so a tag stays committed
    * for the life of the session no matter how many rewrites its rows
    * survive, for free because the manifest swap is already atomic. */
  def appendIdempotent(df: DataFrame, container: String, session: String,
                       tag: String): Long = {
    // the tag becomes a FILENAME component; beyond '/' and whitespace,
    // a ':' would parse as a URI scheme in Hadoop Path ("tag-batch:7"
    // → scheme "tag-batch", Wrong-FS errors after the staging write
    // already ran) — allow only the filename-safe charset
    require(tag.nonEmpty && tag.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"invalid idempotency tag (use letters, digits, '.', '_', '-'): $tag")
    doAppend(df, container, session, Some(tag))
  }

  /** Move `src` to `dst` WITHOUT ever replacing an existing `dst`:
    * hard link + unlink on local filesystems (link(2) fails with
    * EEXIST where rename silently replaces), rename elsewhere (HDFS
    * refuses an existing destination atomically). False = dst already
    * existed (or, on the generic arm, the rename failed — callers that
    * cannot tolerate a collision treat false as an error). */
  private def publishExclusive(src: Path, dst: Path): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
      val s = java.nio.file.Paths.get(src.toUri.getPath)
      val d = java.nio.file.Paths.get(dst.toUri.getPath)
      try {
        java.nio.file.Files.createLink(d, s)
        java.nio.file.Files.deleteIfExists(s)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    case _ =>
      try fs.rename(src, dst)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  private def tagEntry(tag: String): String = s"#tag $tag"
  private def fileTag(entry: String): Option[String] = {
    val name = entry.substring(entry.lastIndexOf('/') + 1)
    if (name.startsWith("tag-") && name.endsWith(".parquet"))
      Some(name.stripPrefix("tag-").stripSuffix(".parquet"))
    else None
  }
  /** Tags committed in an entry list: tombstones plus live tag files. */
  private def committedTags(entries: Seq[String]): Set[String] =
    entries.iterator.flatMap { e =>
      if (e.startsWith("#tag ")) Some(e.stripPrefix("#tag "))
      else fileTag(e)
    }.toSet

  private def doAppend(df: DataFrame, container: String, session: String,
                       idemTag: Option[String]): Long = {
    require(LogSchema.isValidId(container), s"invalid container id: $container")
    require(LogSchema.isValidId(session), s"invalid session id: $session")
    // cheap pre-check outside the write (the commit re-checks atomically)
    idemTag.foreach { t =>
      if (committedTags(resolve(container, session)._2).contains(t)) return -1L
    }
    val staging = new Path(s"$root/.staging-${UUID.randomUUID()}")
    val batch = df.select("timestamp", "level", "message")
    batch.queryExecution.optimizedPlan match {
      // Rows already on the driver (every HTTP ingest flush): write them
      // here. A Spark write of a local batch costs two jobs, a shuffle
      // and task serialization — ~100 ms for a few KB of rows.
      case local: LocalRelation => writeLocal(local, new Path(staging, "part-00000.parquet"))
      case _ =>
        batch
          // repartition(1), NOT coalesce(1): coalesce collapses the whole
          // final stage of the appended plan into one task, so a derived
          // batch (a curation run's decision relation, a delta's correction
          // join) computes single-threaded just to land in one staging
          // file. The keyless repartition keeps the derivation at full
          // parallelism and moves only the batch-sized rows through one
          // tiny exchange; assignment is deterministic per run (sort-
          // before-repartition, SPARK-23207) and row order inside a
          // manifest file is not a contract (citation/shard digests are
          // order-free, readers filter or sort).
          .repartition(1)
          .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    }
    val st = walk(staging).headOption.getOrElse(
      throw new java.io.IOException(s"append: staging $staging produced no visible file"))
    val target = new Path(s"$hotDir/container=$container/session=$session")
    fs.mkdirs(target)
    // Create the manifest dir BEFORE the data file becomes findable: a
    // crash right after publish would otherwise leave a session with
    // hot data but no manifest directory — invisible to sessions() and
    // therefore never reached by the maintenance loop's expire sweep
    // (a permanent orphan leak).
    fs.mkdirs(manifestDir(container, session))
    val fileName = idemTag match {
      case Some(t) => s"tag-$t.parquet"
      case None => s"append-${UUID.randomUUID()}.parquet"
    }
    val dst = new Path(target, fileName)
    // A tagged replay racing (or resuming after) another writer of the
    // same tag targets the same path. Published data files are
    // IMMUTABLE — snapshot isolation depends on it — so the publish
    // must never replace an existing file (local-FS rename silently
    // would: the same wart the manifest claim path avoids). On a tag
    // collision the FIRST file stands (both carry the identical batch
    // per the foreachBatch replay contract) and the COMMIT below
    // decides: it re-checks the tag under the manifest CAS and refuses
    // a duplicate entry. For UUID-named appends a collision is
    // impossible, so a failed publish is a real IO error.
    if (!publishExclusive(st.getPath, dst) && idemTag.isEmpty)
      throw new java.io.IOException(s"append: publish ${st.getPath} -> $dst failed")
    fs.delete(staging, true)
    var committed = true
    commit(container, session) { cur =>
      idemTag match {
        case Some(t) if committedTags(cur).contains(t) => committed = false; cur
        case _ =>
          // Inside the manifest lock — the same lock [[expire]] sweeps
          // under — so within this process the file provably exists at
          // the instant the manifest referencing it commits. (A
          // publish stalled past the CROSS-NODE GC horizon can still
          // lose the file to a remote sweep; this check turns that
          // into a loud failed append instead of a manifest pointing
          // at nothing. See [[expire]]'s horizon contract.)
          if (!fs.exists(dst))
            throw new java.io.IOException(
              s"append: published file $dst vanished before commit " +
              "(GC horizon shorter than the publish stall?); batch not committed")
          cur :+ rel(dst)
      }
    }
    if (committed) st.getLen else -1L
  }

  /** Writes a driver-resident batch to one Parquet `file` on the calling
    * thread, through the writer a Spark write task would use. Running it
    * under the session's SQLConf applies the same codec, timestamp type,
    * time zone and rebase mode, so the file matches a Spark-written one
    * (LocalAppendSpec compares the footers). */
  private def writeLocal(batch: LocalRelation, file: Path): Unit =
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val conf = spark.sessionState.newHadoopConf()
      if (fs.getScheme == "file") {
        conf.setClass("fs.file.impl", classOf[ManifestLog.NioLocalFileSystem], classOf[FileSystem])
        conf.setBoolean("fs.file.impl.disable.cache", true)
      }
      val job = Job.getInstance(conf)
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, batch.schema)
      val task = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(new TaskID(new JobID("graft-append", 0), TaskType.MAP, 0), 0))
      val writer = factory.newInstance(file.toString, batch.schema, task)
      try batch.data.foreach(writer.write) finally writer.close()
    }

  /** Data entries (no `#tag` tombstones) of the latest manifest. */
  private def dataEntries(container: String, session: String): Seq[String] =
    resolve(container, session)._2.filterNot(_.startsWith("#"))

  private def toDf(entries: Seq[String], container: String, session: String): DataFrame =
    if (entries.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], LogSchema.schema)
    else
      spark.read.schema(LogSchema.fileSchema).parquet(entries.map(abs): _*)
        .withColumn("container", lit(container))
        .withColumn("session", lit(session))
        .select(LogSchema.schema.fieldNames.map(col): _*)

  // Version-keyed read cache: without it a gateway GET re-resolves AND
  // re-plans (spark.read → InMemoryFileIndex build + footer reads) on
  // every request. A manifest version pins an
  // immutable file set, so the VERSION is the cache key by
  // construction: a hit reuses the plan, a version bump misses and
  // rebuilds — staleness is impossible, no invalidation hooks needed.
  // Bounded LRU; entries hold only the unexecuted plan, not data.
  private val ReadCacheMax = 256
  private val readCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String), (Long, DataFrame)](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), (Long, DataFrame)]): Boolean =
          size() > ReadCacheMax
      })

  /** The session's rows as of the latest manifest — lock-free; safe
    * to materialize at any time, including mid-compaction. Plan
    * construction is cached per (session, version): repeated reads of
    * an unchanged session skip the file-index build entirely. */
  def read(container: String, session: String): DataFrame = {
    val (v, entries) = resolve(container, session)
    val key = (container, session)
    val hit = readCache.get(key)
    if (hit != null && hit._1 == v) hit._2
    else {
      val df = toDf(entries.filterNot(_.startsWith("#")), container, session)
      readCache.put(key, (v, df))
      df
    }
  }

  /** Committed manifest versions of a session, ascending — the
    * time-travel listing ([[readAt]] pins one). Corrupt versions are
    * excluded (reads skip them too). */
  def versions(container: String, session: String): Seq[Long] =
    listManifests(manifestDir(container, session)).flatMap { st =>
      try { readEntries(st.getPath); Some(st.getPath.getName.stripPrefix("v").toLong) }
      catch {
        case _: ManifestLog.IncompleteManifestException => None
        case _: java.io.FileNotFoundException => None
      }
    }

  /** SNAPSHOT READ (time travel): the session's rows exactly as of
    * manifest `version` — the reproducibility hook a training-data
    * pipeline needs to cite the store state a derivation ran against.
    * Data files are immutable and [[expire]] deletes retired ones only
    * after its grace window, so within that window a pinned version
    * replays its exact row set no matter how many appends/compactions
    * landed since. A version that never committed, was expired, or is
    * corrupt fails loudly — a silent fallback to "nearest version"
    * would defeat the reproducibility contract. */
  def readAt(container: String, session: String, version: Long): DataFrame = {
    val p = vPath(manifestDir(container, session), version)
    // Plan cache keyed by the typed (container, session, version)
    // triple: a pinned version is an immutable file set, so the PLAN is
    // reusable by construction; the lifecycle runs re-plan the same
    // pinned prior-run snapshot on every invocation, and the seal's
    // replay citation plans the identical version twice per run. Only
    // the unexecuted plan is cached — every execution still reads the
    // files, so the seal's replay proof keeps reading disk.
    // The hit path checks only that the manifest file still exists: an
    // expired version fails as loudly as the uncached path, but a
    // manifest damaged after its first read keeps serving the cached
    // plan instead of failing integrity checks in readEntries. A plan
    // enters the cache only once readEntries has accepted the manifest.
    val key = (container, session, version)
    val hit = readAtCache.get(key)
    if (hit != null && fs.exists(p)) hit
    else {
      val entries =
        try readEntries(p)
        catch {
          case _: java.io.FileNotFoundException =>
            throw new java.io.IOException(
              s"snapshot v$version of $container/$session does not exist " +
              "(never committed, or expired past the GC grace window)")
        }
      val df = toDf(entries.filterNot(_.startsWith("#")), container, session)
      readAtCache.put(key, df)
      df
    }
  }

  /** Bounded LRU of [[readAt]] plans — see the cache note there. */
  private val readAtCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String, Long), DataFrame](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String, Long), DataFrame]): Boolean =
          size() > ReadCacheMax
      })

  /** Every (container, session) with a manifest directory — the
    * maintenance loop's work list (one shallow listing per level,
    * never a data-file walk). */
  def sessions(): Seq[(String, String)] = {
    val mroot = new Path(s"$root/manifest")
    if (!fs.exists(mroot)) return Seq.empty
    for {
      c <- fs.listStatus(mroot).toSeq
      if c.isDirectory && c.getPath.getName.startsWith("container=")
      s <- fs.listStatus(c.getPath).toSeq
      if s.isDirectory && s.getPath.getName.startsWith("session=")
    } yield (c.getPath.getName.stripPrefix("container="),
             s.getPath.getName.stripPrefix("session="))
  }

  /** (cold files, cold bytes, hot files, hot bytes) of the CURRENT
    * manifest — the [[LogTier]] summary surface. Counts come straight
    * off the entry list; sizes are one file-status call per live entry
    * (on a cluster the manifest would carry sizes inline — the
    * reference's SQLite catalog does exactly that — but the contract
    * is the same: never a data scan). Inherits the trait's no-op
    * [[withReadSnapshot]]: manifest reads are snapshot-isolated by
    * construction. */
  def tierStats(container: String, session: String): (Long, Long, Long, Long) =
    statsOf(dataEntries(container, session))

  private def statsOf(entries: Seq[String]): (Long, Long, Long, Long) = {
    def stats(prefix: String): (Long, Long) = {
      val sel = entries.filter(_.startsWith(prefix))
      (sel.size.toLong,
       sel.map(e => fs.getFileStatus(new Path(abs(e))).getLen).sum)
    }
    val (cf, cb) = stats("cold/")
    val (hf, hb) = stats("hot/")
    (cf, cb, hf, hb)
  }

  /** Stats AND row count off ONE manifest resolve — the summary
    * consistency contract ([[LogTier.statsAndRows]]): a concurrent
    * append or compaction between two independent resolves can no
    * longer mix file counts and row totals from different snapshots. */
  override def statsAndRows(container: String, session: String)
      : ((Long, Long, Long, Long), Long) = {
    val entries = dataEntries(container, session)
    (statsOf(entries), toDf(entries, container, session).count())
  }

  /** Compact the manifest's current hot subset into sized, range-
    * clustered cold files; the manifest swap is the LAST step and the
    * only moment visibility changes. Retired hot files stay on disk
    * for in-flight readers until [[expire]]. Returns retired bytes. */
  def compact(container: String, session: String): Long =
    compactLocks.computeIfAbsent((container, session), _ => new Object).synchronized {
      val (_, entries) = resolve(container, session)
      val snapshot = entries.filter(_.startsWith("hot/"))
      if (snapshot.isEmpty) return 0L
      val bytes = snapshot.map(e => fs.getFileStatus(new Path(abs(e))).getLen).sum
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val df = spark.read.schema(LogSchema.fileSchema).parquet(snapshot.map(abs): _*)
      val staging = new Path(s"$root/.staging-${UUID.randomUUID()}")
      // Range-cluster by timestamp (not hash-repartition): each cold file
      // covers a tight, mostly non-overlapping time slice, so its parquet
      // footer min/max actually prunes and time-range reads skip whole
      // files. Same row multiset either way; this is purely a layout
      // choice, and at 100 TB layout IS the read path (the reference gets
      // it for free only because each buffer flush is one contiguous
      // ingest slice, writer.py:300-335). Message is the range tiebreak:
      // a snapshot whose rows share one timestamp must still split into
      // nOut sized files.
      df.repartitionByRange(nOut, col("timestamp"), col("message"))
        .sortWithinPartitions(col("timestamp"))
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val staged = walk(staging)
      if (staged.isEmpty)
        throw new java.io.IOException(
          s"compact: staging $staging lists no files for a non-empty snapshot")
      val target = new Path(s"$coldDir/container=$container/session=$session")
      fs.mkdirs(target)
      val coldRel = staged.map { st =>
        val dst = new Path(target, s"compact-${UUID.randomUUID()}.parquet")
        if (!publishExclusive(st.getPath, dst))
          throw new java.io.IOException(s"compact: publish ${st.getPath} -> $dst failed")
        rel(dst)
      }
      fs.delete(staging, true)
      beforeSwap()
      // THE swap: subtract exactly the compacted snapshot from whatever
      // is current (mid-compaction appends survive), add the cold files
      // — and keep every retired tag committed via a tombstone entry,
      // so a batch replay after its file was rewritten still no-ops.
      // The cold files were unreferenced until this very commit, so a
      // compaction paused past the GC grace window can have lost them:
      // verify INSIDE the manifest lock (atomic against this process's
      // [[expire]], which sweeps under the same lock; a remote node's
      // sweep is excluded by the horizon contract) and abort with the
      // hot snapshot fully intact — re-compaction re-reads it, no loss.
      val retired = snapshot.toSet
      val tombstones = snapshot.flatMap(fileTag).map(tagEntry)
      // Cross-instance guard: compactLocks is in-process only, so a
      // compaction on ANOTHER instance can race this one through the
      // commit CAS. If any file of our snapshot is no longer in the
      // current entry set, a competing swap already retired it — its
      // cold files carry those rows. Applying our swap anyway would
      // re-add the same rows via OUR cold files: permanent row
      // duplication. Decline the commit (the update returns `cur`
      // unchanged) and discard our never-referenced cold output; any
      // hot files the competitor did NOT cover remain hot and a later
      // compaction handles them.
      var applied = false
      commit(container, session) { cur =>
        if (!snapshot.forall(cur.toSet)) { applied = false; cur }
        else {
          coldRel.foreach { e =>
            if (!fs.exists(new Path(abs(e))))
              throw new java.io.IOException(
                s"compact: staged cold file $e vanished before the swap " +
                "(publish stalled past the GC grace window); hot snapshot retained")
          }
          applied = true
          cur.filterNot(retired) ++ coldRel ++ tombstones
        }
      }
      if (!applied) {
        coldRel.foreach(e => fs.delete(new Path(abs(e)), false))
        return 0L
      }
      bytes
    }

  /** PHYSICAL ROW-LEVEL PURGE (right-to-be-forgotten for the data
    * plane): rewrite every live file that holds rows matching `pred`
    * with those rows dropped, through the same staged
    * rewrite-then-swap as [[compact]] — publish replacement files
    * nobody references, then commit a manifest that swaps them in as
    * the LAST step. Tombstone masks and curation corrections fix the
    * derived artifacts; THIS is what makes a deletion request against
    * the stored rows themselves honorable end-to-end.
    *
    * `pred` ranges over the file columns (timestamp, level, message);
    * rows where it evaluates NULL are KEPT (a takedown must name its
    * rows — null is "not this row", the same null-safety rule as the
    * curation gates). Files with no matching row are NOT rewritten:
    * the affected set comes from one `input_file_name()` pass, so the
    * purge cost scales with the data that actually changes, not the
    * session (at 100 TB with time-clustered cold files, a
    * user-scoped purge touches the files whose footers admit the
    * predicate — the same pruning economics as the read path).
    *
    * Durability of the purge vs snapshot isolation: the swap removes
    * the rows from the CURRENT version immediately, but readers
    * pinned to older versions (and [[readAt]] time travel) can still
    * reach the retired files until [[expire]]'s grace window passes —
    * exactly the table-format contract (Delta VACUUM after DELETE,
    * public docs). A deletion request is therefore FULFILLED when
    * purge + expire-past-grace have both run; RewriteExcludingSpec
    * proves no version readable after that pair resurrects a purged
    * row. Crash anywhere before the commit leaves every row visible
    * and the staged files as expire-collectable orphans (no partial
    * purge is ever observable); a competing compaction retiring part
    * of the affected snapshot makes the commit DECLINE (return 0) —
    * the caller re-runs against the new file set, rows never
    * duplicate or vanish.
    *
    * Returns rows purged (0 = nothing matched, or the commit declined
    * to a concurrent rewrite — re-run to distinguish). */
  def rewriteExcluding(container: String, session: String,
                       pred: org.apache.spark.sql.Column): Long =
    compactLocks.computeIfAbsent((container, session), _ => new Object).synchronized {
      val (_, entries) = resolve(container, session)
      val live = entries.filterNot(_.startsWith("#"))
      if (live.isEmpty) return 0L
      val hit = pred <=> lit(true) // null-safe: NULL keeps the row
      val affectedPaths = spark.read.schema(LogSchema.fileSchema)
        .parquet(live.map(abs): _*)
        .filter(hit).select(input_file_name().as("f")).distinct()
        .collect().map(r => new Path(r.getString(0)).toUri.getPath).toSet
      val snapshot = live.filter(e =>
        affectedPaths.contains(new Path(abs(e)).toUri.getPath))
      if (snapshot.isEmpty) return 0L
      val bytes = snapshot.map(e => fs.getFileStatus(new Path(abs(e))).getLen).sum
      val aff = spark.read.schema(LogSchema.fileSchema).parquet(snapshot.map(abs): _*)
      val purged = aff.filter(hit).count()
      val survivors = aff.filter(!hit)
      val nSurv = survivors.count()
      // replacement files: cold-tier, range-clustered like compact's
      // output (a purge rewrite IS a compaction of the affected files)
      val coldRel: Seq[String] =
        if (nSurv == 0) Seq.empty
        else {
          val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
          val staging = new Path(s"$root/.staging-${UUID.randomUUID()}")
          survivors.repartitionByRange(nOut, col("timestamp"), col("message"))
            .sortWithinPartitions(col("timestamp"))
            .write.mode(SaveMode.Overwrite).parquet(staging.toString)
          val staged = walk(staging)
          if (staged.isEmpty)
            throw new java.io.IOException(
              s"purge: staging $staging lists no files for $nSurv surviving rows")
          val target = new Path(s"$coldDir/container=$container/session=$session")
          fs.mkdirs(target)
          val rels = staged.map { st =>
            val dst = new Path(target, s"purge-${UUID.randomUUID()}.parquet")
            if (!publishExclusive(st.getPath, dst))
              throw new java.io.IOException(s"purge: publish ${st.getPath} -> $dst failed")
            rel(dst)
          }
          fs.delete(staging, true)
          rels
        }
      beforeSwap()
      // retired tag files keep their tags committed via tombstones, so
      // a batch replay after its file was purged still no-ops — the
      // same replay contract as compaction (a purged row must not come
      // back through a redelivered ingest batch)
      val retired = snapshot.toSet
      val tombstones = snapshot.flatMap(fileTag).map(tagEntry)
      var applied = false
      commit(container, session) { cur =>
        // a competing instance's compaction/purge already retired part
        // of our snapshot: its rewrite carries those rows (or their
        // absence) — applying ours anyway would re-add survivor rows
        // its output also carries. Decline; the caller re-runs.
        if (!snapshot.forall(cur.toSet)) { applied = false; cur }
        else {
          coldRel.foreach { e =>
            if (!fs.exists(new Path(abs(e))))
              throw new java.io.IOException(
                s"purge: staged file $e vanished before the swap " +
                "(publish stalled past the GC grace window); snapshot retained")
          }
          applied = true
          cur.filterNot(retired) ++ coldRel ++ tombstones
        }
      }
      if (!applied) {
        coldRel.foreach(e => fs.delete(new Path(abs(e)), false))
        return 0L
      }
      // the purge is the engine's only in-store MUTATOR: memoized
      // derived relations over this root (any session) now hold rows
      // the store no longer does — drop them so the next read
      // re-derives (otherwise the right-to-be-forgotten story has a hole
      // at the cache layer)
      graft.ops.Tables.invalidateDir(root)
      purged
    }

  /** Snapshot GC. `olderThan` is the reader grace window: any scan (or
    * in-flight append/compaction publish) started before that horizon
    * has finished. The deletion rule keys on when a file became
    * UNREFERENCED — its retirement time, the commit time of the first
    * manifest that superseded its newest referencing manifest — NOT on
    * the file's own mtime: a hot file written long ago but retired a
    * second ago must survive the full grace window for readers pinned
    * to the pre-swap manifest (a creation-time rule deletes exactly
    * those files).
    *
    *  - a data file referenced by some RETAINED manifest M (< latest):
    *    deletable iff the next retained version after M committed
    *    before the horizon (that commit is when the file left the
    *    visible set);
    *  - a data file referenced by NO manifest (crashed writer, or a
    *    compaction stalled between cold-publish and swap): deletable
    *    iff its own mtime is older than the horizon — creation time IS
    *    the right clock for a file that was never visible. (A
    *    compaction stalled longer than the grace window loses its
    *    staged cold files to this rule; [[compact]] re-verifies them
    *    before the swap and aborts with the hot snapshot intact.)
    *  - a superseded manifest: deletable iff its NEXT retained version
    *    committed before the horizon — no reader can still be pinned
    *    to it, and every file whose retirement it recorded is
    *    deletable in this same sweep.
    *
    * The sweep runs under the session's MANIFEST LOCK, so within this
    * process it can never interleave with a publish→commit window (an
    * append or swap verifies its files inside the same lock). Across
    * nodes the contract is operational, exactly as in the table-format
    * designs this store follows: the horizon must exceed the longest
    * possible publish stall AND the longest reader scan (days, not
    * minutes, in production — orphan cleanup is a blunt instrument).
    *
    * Returns files deleted. */
  def expire(container: String, session: String, olderThan: java.time.Instant): Long =
    manifestLocks.computeIfAbsent((container, session), _ => new Object).synchronized {
      val cutoff = olderThan.toEpochMilli
      val dir = manifestDir(container, session)
      // all retained manifests, ascending by version, with entry sets;
      // one vanished mid-read (a concurrent remote sweep) is skipped —
      // its deletion means its successor already predated some horizon
      // corrupt manifests are excluded from the retained chain (readers
      // skip them too); those BELOW the latest valid version are dead
      // weight and swept below once past the horizon — a corrupt file
      // AT the frontier is kept so commit() can surface it loudly
      var corrupt: List[(Long, Long)] = Nil // (version, mtime)
      val manifests: Seq[(Long, Long, Set[String])] =
        listManifests(dir).flatMap { st =>
          try Some((st.getPath.getName.stripPrefix("v").toLong,
                    st.getModificationTime, readEntries(st.getPath).toSet))
          catch {
            case _: java.io.FileNotFoundException => None
            case _: ManifestLog.IncompleteManifestException =>
              corrupt ::= (st.getPath.getName.stripPrefix("v").toLong,
                           st.getModificationTime)
              None
          }
        }
      var n = 0L
      // With no manifest at all, every data file is a never-visible
      // orphan (a writer that crashed before its first commit) — the
      // mtime clock applies to all of them.
      val latestEntries = manifests.lastOption.map(_._3).getOrElse(Set.empty[String])
      Seq(hotDir, coldDir).foreach { d =>
        walk(new Path(s"$d/container=$container/session=$session")).foreach { st =>
          val r = rel(st.getPath)
          if (!latestEntries.contains(r)) {
            val newestRef = manifests.lastIndexWhere(_._3.contains(r))
            val deletable =
              if (newestRef < 0) st.getModificationTime < cutoff // never visible
              else manifests(newestRef + 1)._2 < cutoff          // retired before horizon
            if (deletable) { fs.delete(st.getPath, false); n += 1 }
          }
        }
      }
      // a superseded manifest goes when its successor predates the horizon.
      // By mtime monotonicity these deletions are a PREFIX of the valid
      // chain — no gap ever opens between two surviving VALID versions,
      // which is what keeps resolveByProbe's "v readable and v+1 absent
      // ⇒ v is the frontier" argument sound.
      val deletedValid = scala.collection.mutable.Set[Long]()
      manifests.sliding(2).foreach {
        case Seq((v, _, _), (_, succMtime, _)) if succMtime < cutoff =>
          if (fs.delete(vPath(dir, v), false)) { deletedValid += v; n += 1 }
        case _ => ()
      }
      // temp files of claims that crashed between write and rename are
      // never referenced by anything; collect them once past the horizon
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        if (st.isFile && st.getPath.getName.startsWith(".tmp-") &&
            st.getModificationTime < cutoff && fs.delete(st.getPath, false)) n += 1
      }
      // corrupt version files strictly below the latest retained valid
      // version serve no one (readers skip them, commit never revisits
      // old slots) — sweep them once past the horizon so external
      // damage doesn't accumulate forever. BUT only below the LOWEST
      // surviving valid version: deleting corrupt v while valid v-1
      // survives would open a gap a stale version hint could stop in —
      // a probe would read v-1, conclude it is the frontier, and a
      // commit from that state would claim the freed slot and be
      // silently superseded (a lost update).
      // Gaps next to surviving CORRUPT files are harmless — a probe can
      // never conclude at an unreadable version.
      if (corrupt.nonEmpty) {
        val minSurvivingValid = manifests.map(_._1)
          .find(v => !deletedValid.contains(v)).getOrElse(Long.MaxValue)
        corrupt.foreach { case (v, mtime) =>
          if (v < minSurvivingValid && mtime < cutoff &&
              fs.delete(vPath(dir, v), false)) n += 1
        }
      }
      // crashed appends' root-level staging dirs: a long-lived instance
      // never re-runs the constructor sweep, so collect them here —
      // under BOTH the caller's grace AND the constructor's 24 h
      // in-flight-writer bound (a parquet staging write can churn for
      // a long time without touching the top dir's mtime)
      val stagingCutoff = math.min(cutoff,
        System.currentTimeMillis() - StagingSweepAgeMs)
      val rootPath = new Path(root)
      if (fs.exists(rootPath)) fs.listStatus(rootPath).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".staging-") &&
            st.getModificationTime < stagingCutoff &&
            fs.delete(st.getPath, true)) n += 1
      }
      n
    }

  /** Parse a manifest. The one accepted shape is a
    * `#graft-manifest <n>` header line, exactly `n` entry lines and a
    * `#commit <n>` footer line. Everything else throws
    * [[ManifestLog.IncompleteManifestException]]:
    *  - zero bytes or a torn header: the O_EXCL fallback of
    *    [[Cas.tryClaim]] on link-less mounts creates the final name
    *    EMPTY and then writes content, so a racing reader can see
    *    either. Serving such a file as (v, Nil) would let a concurrent
    *    committer CAS v+1 with only its own entry, dropping the chain;
    *  - a missing or mismatched footer: tail truncation (the at-rest
    *    threat eats the LAST line first) or other external damage;
    *  - no header: not a file this store writes.
    * Callers skip-and-count such a file on read and retry-then-fail on
    * commit; nothing deletes it. */
  private def readEntries(p: Path): Seq[String] = {
    val in = fs.open(p)
    val txt = try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var k = in.read(buf)
      while (k >= 0) { out.write(buf, 0, k); k = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
    val lines = txt.split("\n").iterator.filter(_.nonEmpty).toSeq
    if (lines.size >= 2) {
      val entries = lines.slice(1, lines.size - 1)
      if (lines.head == ManifestLog.header(entries) && lines.last == ManifestLog.footer(entries))
        return entries
    }
    throw new ManifestLog.IncompleteManifestException(p.toString)
  }

  /** Recursive parquet listing ([[StoreFiles.walkParquet]]). */
  private def walk(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    StoreFiles.walkParquet(fs, dir)
}

object ManifestLog {
  /** Forward-probe budget for hint-seeded resolves: past this many
    * existence checks, one listing beats N probes. The hint-file
    * cadence must stay ≤ this (class-level require) so a healthy
    * chain's cold start always probes through. */
  private[storage] val ProbeBudget = 64

  /** Format header (FIRST line): its presence declares "a matching
    * footer must follow", which is what makes tail truncation — the
    * failure mode that destroys the footer first — detectable. */
  private[storage] def header(entries: Seq[String]): String =
    s"#graft-manifest ${entries.size}"
  /** Commit footer (last line) — survives only when the tail is
    * intact, so header+footer together bracket the entry list. */
  private[storage] def footer(entries: Seq[String]): String = s"#commit ${entries.size}"
  /** A manifest's bytes: header, entries, footer, one per line. */
  private[storage] def encode(entries: Seq[String]): Array[Byte] =
    (header(entries) +: entries :+ footer(entries)).mkString("", "\n", "\n").getBytes("UTF-8")

  /** A version file that is not a complete header, entries, footer
    * manifest. */
  final class IncompleteManifestException(path: String)
    extends java.io.IOException(s"manifest $path is not a complete header, entries, footer manifest")

  /** The local filesystem for driver-side staging writes. Without
    * Hadoop's native library, the stock local filesystem forks a `chmod`
    * process for every file and directory it creates: three forks (the
    * staging dir, the file, its checksum sidecar), about 9 ms of a
    * 17 ms append on a 4-core host. This one sets permissions through
    * java.nio and writes no checksum sidecar, which publishing leaves
    * behind anyway. */
  private[storage] final class NioLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def setPermission(p: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Unit =
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString(
          Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
            .map(_.SYMBOL).mkString))
  }
}
