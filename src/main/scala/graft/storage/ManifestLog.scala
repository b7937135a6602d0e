package graft.storage

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.collection.immutable.ArraySeq
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
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
  *   <root>/manifest/container=<c>/session=<s>/v<20-digit version>  // file list
  * }}}
  *
  *  - READERS resolve the highest manifest version and scan exactly
  *    its files. No lock, ever: a reader pinned to version N keeps a
  *    consistent file set no matter what writers do, because data
  *    files are immutable and retired files are deleted only by
  *    [[expire]] after a grace window (the Iceberg/Delta snapshot-
  *    isolation recipe, from public designs).
  *  - SMALL SESSIONS never start a Spark job. When the resolved files
  *    decode to at most [[ManifestLog.DriverReadBytes]], reads and
  *    compactions decode them on the calling thread with Spark's own
  *    Parquet reader. A read returns a `LocalRelation`, whose filters,
  *    projection and limit the optimizer folds, so its `collect()` runs
  *    no job. Larger sessions keep the file-scan plan; a decode that
  *    passes the budget stops there, so no read or compaction holds
  *    more than the budget of decoded rows.
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
  * a committer claims the `v<N+1>` slot of the session's
  * [[VersionChain]], an atomic create-if-absent that publishes a
  * COMPLETE manifest or nothing (object stores without atomic rename
  * need a real commit coordinator, the same operational contract the
  * public table formats state). A loser re-resolves the new current
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

  /** Root-relative entry for a data file path. */
  private def rel(p: Path): String = {
    val r = new Path(root).toUri.getPath
    val s = p.toUri.getPath
    require(s.startsWith(r + "/"), s"$p outside store root $root")
    s.stripPrefix(r + "/")
  }
  private def abs(entry: String): String = s"$root/$entry"

  private val chains = new ConcurrentHashMap[(String, String), VersionChain[Seq[String]]]()

  /** The session's manifest chain; it holds the session's frontier hint. */
  private[storage] def chain(container: String, session: String): VersionChain[Seq[String]] =
    chains.computeIfAbsent((container, session),
      _ => new VersionChain(fs, manifestDir(container, session), "", ManifestLog.decode))

  /** Latest committed (version, entries); (0, empty) before the first
    * commit. A reader calls this once and scans exactly the result —
    * snapshot isolation by immutability. CORRUPT manifests (footer/
    * count mismatch — external damage, never this code's own output)
    * are skipped so reads degrade to the newest intact state while
    * [[commit]] surfaces the corruption loudly. */
  private[storage] def resolve(container: String, session: String): (Long, Seq[String]) = {
    val key = (container, session)
    val c = chain(container, session)
    // cold start: seed the probe from the hint file at most once per
    // session and instance, so a session the file cannot help (empty,
    // expired, stale file) does not pay the read on every resolve
    val f = c.resolve(if (hintFileTried.add(key)) readHintFile(manifestDir(container, session)) else 0L)
    if (f.slot > f.valid) noteCorruptSkip(c.pathOf(f.slot))
    (f.valid, f.record.getOrElse(Nil))
  }

  /** Sessions whose hint FILE this instance has already consulted —
    * the cold-start read happens once per session per process. */
  private val hintFileTried =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  // ---- persistent frontier hint (the `_last_checkpoint` recipe) ----
  //
  // The chain's in-process hint makes STEADY-STATE resolve O(1), but a
  // fresh gateway's first resolve per session still lists the whole
  // manifest dir — O(chain), a paged LIST on object stores. Every
  // `hintFileEvery`-th commit writes the version number to a `hint`
  // file (best-effort, temp+rename, last-wins), so a cold instance
  // seeds the forward probe from it: a healthy chain's frontier is at
  // most `hintFileEvery - 1` ahead of the hint, which must stay
  // STRICTLY under the probe budget (the probe gives up AT the
  // budget) — enforced below, since a larger cadence would silently
  // defeat the feature. Safety is the probe's own: a stale, torn,
  // regressed, or expired-past hint (including a crashed writer
  // leaving the hint a full cadence behind) fails the probe and falls
  // back to the listing — the hint can make a resolve slower, never
  // wrong. The file name matches neither the version pattern nor the
  // data layout, so listings, expire's sweeps and readers all ignore
  // it; its `.tmp-` staging orphans ride the existing aged-tmp
  // collection.
  require(hintFileEvery >= 1 && hintFileEvery <= VersionChain.ProbeBudget,
    s"hintFileEvery must be in [1, ${VersionChain.ProbeBudget}] (the resolve probe budget)")

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
    * claim — a long chain without paying a commit per version, in the
    * one format the store reads. Fails if a slot is already taken. */
  private[graft] def plantVersions(container: String, session: String,
                                   from: Long, to: Long, entries: Seq[String]): Unit = {
    val c = chain(container, session)
    val payload = ManifestLog.encode(entries)
    (from to to).foreach { v =>
      require(c.claim(v - 1, payload), s"plantVersions: slot v$v is taken")
    }
  }

  private[storage] def readHintFile(dir: Path): Long =
    try {
      val in = fs.open(hintFilePath(dir))
      val s = try new String(in.readNBytes(32), "UTF-8").trim finally in.close()
      val v = s.toLong
      if (v > 0) v else 0L
    } catch { case _: Exception => 0L } // absent/torn/garbage: no hint

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
    * on the version number: claim `v<N+1>` through the chain; on a
    * refused claim re-resolve, RE-APPLY `update` to the new current
    * entries, and retry at the next version. Correct across
    * processes/nodes sharing one root — the in-process lock only stops
    * same-instance committers from contending the CAS. A file at the
    * slot that does not parse (external damage, or an O_EXCL claim
    * still being written) is retried while fresh and then surfaced as a
    * loud error: it is NEVER deleted here, because a delete-and-reclaim
    * races a competing committer completing the very same slot and
    * would destroy a real commit. */
  private def commit(container: String, session: String)
                    (update: Seq[String] => Seq[String]): Seq[String] =
    manifestLocks.computeIfAbsent((container, session), _ => new Object).synchronized {
      val c = chain(container, session)
      var attempt = 0
      while (true) {
        val (v, cur) = resolve(container, session)
        val next = update(cur)
        if (next eq cur) return cur // update declined — no new version
        if (c.claim(v, ManifestLog.encode(next))) {
          if ((v + 1) % hintFileEvery == 0) writeHintFile(manifestDir(container, session), v + 1)
          return next
        }
        // refused: another instance took the slot, the predecessor was
        // swept, or an unreadable file holds the slot
        attempt += 1
        val dst = c.pathOf(v + 1)
        val corruptAgeMs =
          try {
            val age = System.currentTimeMillis() - fs.getFileStatus(dst).getModificationTime
            if (c.read(v + 1).isEmpty) Some(age) else None
          } catch { case _: java.io.FileNotFoundException => None }
        if (corruptAgeMs.exists(age => age > StaleClaimMs || attempt >= MaxCommitRetries))
          throw new java.io.IOException(
            s"manifest $dst is corrupt (not a header, entries, footer manifest); commits for " +
            "this session are blocked — inspect and remove the file to restore service " +
            "(this store never writes partial manifests, so this indicates external damage " +
            "or a filesystem without atomic rename)")
        if (attempt >= MaxCommitRetries)
          throw new java.io.IOException(
            s"manifest commit for $container/$session lost the version CAS $attempt times")
        Thread.sleep(java.util.concurrent.ThreadLocalRandom.current().nextLong(1L, 8L))
      }
      throw new IllegalStateException("unreachable")
    }

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
      case local: LocalRelation =>
        writeLocal(local.schema, local.data, new Path(staging, "part-00000.parquet"))
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
  private def writeLocal(schema: StructType, rows: Iterable[InternalRow], file: Path): Unit =
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val conf = spark.sessionState.newHadoopConf()
      if (fs.getScheme == "file") {
        conf.setClass("fs.file.impl", classOf[ManifestLog.NioLocalFileSystem], classOf[FileSystem])
        conf.setBoolean("fs.file.impl.disable.cache", true)
      }
      val job = Job.getInstance(conf)
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      val task = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID(new TaskID(new JobID("graft-append", 0), TaskType.MAP, 0), 0))
      val writer = factory.newInstance(file.toString, schema, task)
      try rows.foreach(writer.write) finally writer.close()
    }

  /** Data entries (no `#tag` tombstones) of the latest manifest. */
  private[graft] def dataEntries(container: String, session: String): Seq[String] =
    resolve(container, session)._2.filterNot(_.startsWith("#"))

  /** Budget of the driver path in decoded bytes ([[ManifestLog.DriverReadBytes]]).
    * Test and bench seam: 0 keeps every non-empty session on the file scan. */
  private[graft] var driverReadBytes: Long = ManifestLog.DriverReadBytes

  /** The rows of `entries`, decoded on the calling thread with
    * `partition` appended as the constant `values`; None when they would
    * take more than [[driverReadBytes]]: their files already sum to more
    * on disk, or the decoded rows pass it (decoding stops there). No
    * entries is always an empty result: a file scan needs a path. */
  private def decodeUnder(entries: Seq[String], partition: StructType,
                          values: InternalRow): Option[Array[InternalRow]] = {
    val budget = driverReadBytes
    val files = entries.map(e => fs.getFileStatus(new Path(abs(e))))
    if (files.iterator.map(_.getLen).sum > budget) None
    else decode(files, partition, values, budget)
  }

  /** The read twin of [[writeLocal]]: the reader a Spark scan task would
    * use, run under the session's SQLConf, so INT96 conversion and the
    * rebase modes match a Spark read. Rows are copied, because the
    * reader reuses its buffers, and each counts its bytes plus
    * [[ManifestLog.RowOverheadBytes]] against `budget`. */
  private def decode(files: Seq[org.apache.hadoop.fs.FileStatus], partition: StructType,
                     values: InternalRow, budget: Long): Option[Array[InternalRow]] =
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val rows = Array.newBuilder[InternalRow]
      var bytes = 0L
      if (files.nonEmpty) {
        val readFile = readerFor(partition)
        val toUnsafe = UnsafeProjection.create(ManifestLog.decodedSchema(partition))
        val it = files.iterator
        while (bytes <= budget && it.hasNext) {
          val st = it.next()
          val fileRows = readFile(PartitionedFile(values, SparkPath.fromPath(st.getPath), 0L, st.getLen,
            fileSize = st.getLen))
          try while (bytes <= budget && fileRows.hasNext) {
            val row = toUnsafe(fileRows.next()).copy()
            bytes += row.getSizeInBytes + ManifestLog.RowOverheadBytes
            rows += row
          } finally fileRows match { case c: java.io.Closeable => c.close(); case _ => () }
        }
      }
      if (bytes > budget) None else Some(rows.result())
    }

  /** The Parquet reader [[decode]] runs, per partition schema, kept while
    * the session's SQL confs (which it captures) stay the same: building
    * one broadcasts the Hadoop conf, about 15 ms on a 4-core host. The
    * conf is a JobConf, which the reader's per-file task context takes
    * as is; it copies any other Configuration, about 0.7 ms a file. */
  private val readers =
    new ConcurrentHashMap[StructType, (Map[String, String], PartitionedFile => Iterator[InternalRow])]()

  private def readerFor(partition: StructType): PartitionedFile => Iterator[InternalRow] = {
    val confs = spark.sessionState.conf.getAllConfs
    val hit = readers.get(partition)
    if (hit != null && hit._1 == confs) hit._2
    else {
      val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, LogSchema.fileSchema, partition, LogSchema.fileSchema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        new org.apache.hadoop.mapred.JobConf(spark.sessionState.newHadoopConf()))
      readers.put(partition, (confs, readFile))
      readFile
    }
  }

  /** The session's rows over `entries`: decoded on the driver under the
    * budget, else a file-scan plan, which is handed to `keep` (the plan
    * caches hold scans only, never decoded rows). */
  private def toDf(entries: Seq[String], container: String, session: String, mayDecode: Boolean = true)
                  (keep: DataFrame => Unit): DataFrame = {
    val partition = ManifestLog.partitionSchema
    val decoded = if (!mayDecode && entries.nonEmpty) None else decodeUnder(entries, partition,
      InternalRow(UTF8String.fromString(container), UTF8String.fromString(session)))
    decoded match {
      case Some(rows) =>
        GraftShim.ofRows(spark, LocalRelation(
          DataTypeUtils.toAttributes(ManifestLog.decodedSchema(partition)), ArraySeq.unsafeWrapArray(rows)))
      case None =>
        val df = spark.read.schema(LogSchema.fileSchema).parquet(entries.map(abs): _*)
          .withColumn("container", lit(container))
          .withColumn("session", lit(session))
          .select(LogSchema.schema.fieldNames.map(col): _*)
        keep(df)
        df
    }
  }

  // Version-keyed cache of file-scan plans: without it a gateway GET
  // over the driver-read budget re-resolves AND re-plans (spark.read →
  // InMemoryFileIndex build + footer reads) on every request. A
  // manifest version pins an immutable file set, so the VERSION is the
  // cache key by construction: a hit reuses the plan, a version bump
  // misses and rebuilds — staleness is impossible, no invalidation
  // hooks needed. Bounded LRU; entries hold only the unexecuted plan.
  // A driver-decoded read is never kept, so decoded rows live only as
  // long as the read that decoded them. An entry for an OLDER version
  // says the session passed the budget then; sessions only grow (a
  // purge drops the entry), so a read of a newer version goes straight
  // to the scan instead of decoding up to the budget on every commit.
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
    * construction is cached per (session, version) over the budget:
    * repeated reads of an unchanged session skip the file-index build
    * entirely. Under it every call decodes the files afresh. */
  def read(container: String, session: String): DataFrame = {
    val (v, entries) = resolve(container, session)
    val key = (container, session)
    val hit = readCache.get(key)
    if (hit != null && hit._1 == v) hit._2
    else toDf(entries.filterNot(_.startsWith("#")), container, session, mayDecode = hit == null)(
      df => readCache.put(key, (v, df)))
  }

  /** Committed manifest versions of a session, ascending — the
    * time-travel listing ([[readAt]] pins one). Corrupt versions are
    * excluded (reads skip them too). */
  def versions(container: String, session: String): Seq[Long] =
    chain(container, session).scan().collect { case (v, _, Some(_)) => v }

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
    val c = chain(container, session)
    // Plan cache keyed by the typed (container, session, version)
    // triple: a pinned version is an immutable file set, so the PLAN is
    // reusable by construction; the lifecycle runs re-plan the same
    // pinned prior-run snapshot on every invocation, and the seal's
    // replay citation plans the identical version twice per run. Only
    // an unexecuted file-scan plan is cached — every execution still
    // reads the files, and a driver-decoded read decodes them on every
    // call — so the seal's replay proof keeps reading disk.
    // The hit path checks only that the manifest file still exists: an
    // expired version fails as loudly as the uncached path, but a
    // manifest damaged after its first read keeps serving the cached
    // plan instead of failing its integrity check. A plan enters the
    // cache only once the manifest has decoded.
    val key = (container, session, version)
    val hit = readAtCache.get(key)
    if (hit != null && fs.exists(c.pathOf(version))) hit
    else {
      val entries =
        try c.read(version).getOrElse(
          throw new ManifestLog.IncompleteManifestException(c.pathOf(version).toString))
        catch {
          case _: java.io.FileNotFoundException =>
            throw new java.io.IOException(
              s"snapshot v$version of $container/$session does not exist " +
              "(never committed, or expired past the GC grace window)")
        }
      toDf(entries.filterNot(_.startsWith("#")), container, session)(readAtCache.put(key, _))
    }
  }

  /** Test seam: every plan the two read caches hold. */
  private[storage] def cachedPlans: Seq[DataFrame] = {
    import scala.jdk.CollectionConverters._
    readCache.synchronized(readCache.values.asScala.map(_._2).toList) ++
      readAtCache.synchronized(readAtCache.values.asScala.toList)
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

  /** Hot-tier bytes of the CURRENT manifest — the rotation trigger's
    * input: one file status per hot entry, no cold stat, no data scan. */
  override def hotBytes(container: String, session: String): Long =
    sizeOf(dataEntries(container, session).filter(_.startsWith("hot/")))

  /** Summed on-disk size of data entries (one file status each). */
  private def sizeOf(entries: Seq[String]): Long =
    entries.iterator.map(e => fs.getFileStatus(new Path(abs(e))).getLen).sum

  private def statsOf(entries: Seq[String]): (Long, Long, Long, Long) = {
    def stats(prefix: String): (Long, Long) = {
      val sel = entries.filter(_.startsWith(prefix))
      (sel.size.toLong, sizeOf(sel))
    }
    val (cf, cb) = stats("cold/")
    val (hf, hb) = stats("hot/")
    (cf, cb, hf, hb)
  }

  /** Stats AND row count off ONE manifest resolve — the summary
    * consistency contract ([[LogTier.statsAndRows]]): a concurrent
    * append or compaction between two independent resolves can no
    * longer mix file counts and row totals from different snapshots.
    * Rows are summed from the Parquet footers: exact, and no Spark job. */
  override def statsAndRows(container: String, session: String)
      : ((Long, Long, Long, Long), Long) = {
    val entries = dataEntries(container, session)
    val conf = spark.sessionState.newHadoopConf()
    val rows = entries.iterator.map { e =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(abs(e)), conf))
      try r.getRecordCount finally r.close()
    }.sum
    (statsOf(entries), rows)
  }

  /** Compact the manifest's current hot subset into sized, range-
    * clustered cold files through the staged [[rewrite]]; the manifest
    * swap is the LAST step and the only moment visibility changes.
    * Under the driver-read budget the snapshot is decoded and rewritten
    * on the calling thread, with no Spark job. Retired hot files stay on
    * disk for in-flight readers until [[expire]]. Returns retired bytes
    * (0 when the swap declined). */
  def compact(container: String, session: String): Long =
    compactLocks.computeIfAbsent((container, session), _ => new Object).synchronized {
      val snapshot = resolve(container, session)._2.filter(_.startsWith("hot/"))
      if (snapshot.isEmpty) return 0L
      val stage = decodeUnder(snapshot, new StructType(), InternalRow.empty) match {
        case Some(rows) => stageSorted(rows) _
        case None => stageScan(spark.read.schema(LogSchema.fileSchema).parquet(snapshot.map(abs): _*)) _
      }
      rewrite(container, session, "compact", snapshot, Some(stage))
    }

  /** PHYSICAL ROW-LEVEL PURGE (right-to-be-forgotten for the data
    * plane): rewrite every live file that holds rows matching `pred`
    * with those rows dropped, through the same staged [[rewrite]] as
    * [[compact]]. Tombstone masks and curation corrections fix the
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
    * row.
    *
    * Returns rows purged (0 = nothing matched, or the commit declined
    * to a concurrent rewrite — re-run to distinguish). */
  def rewriteExcluding(container: String, session: String,
                       pred: org.apache.spark.sql.Column): Long =
    compactLocks.computeIfAbsent((container, session), _ => new Object).synchronized {
      val live = dataEntries(container, session)
      if (live.isEmpty) return 0L
      val hit = pred <=> lit(true) // null-safe: NULL keeps the row
      val affectedPaths = spark.read.schema(LogSchema.fileSchema)
        .parquet(live.map(abs): _*)
        .filter(hit).select(input_file_name().as("f")).distinct()
        .collect().map(r => new Path(r.getString(0)).toUri.getPath).toSet
      val snapshot = live.filter(e =>
        affectedPaths.contains(new Path(abs(e)).toUri.getPath))
      if (snapshot.isEmpty) return 0L
      val aff = spark.read.schema(LogSchema.fileSchema).parquet(snapshot.map(abs): _*)
      val purged = aff.filter(hit).count()
      val survivors = aff.filter(!hit)
      if (rewrite(container, session, "purge", snapshot,
                  Some(survivors).filter(!_.isEmpty).map(stageScan)) == 0L) return 0L
      readCache.remove((container, session)) // it may fit the driver-read budget again
      // the purge is the engine's only in-store MUTATOR: memoized
      // derived relations over this root (any session) now hold rows
      // the store no longer does — drop them so the next read
      // re-derives (otherwise the right-to-be-forgotten story has a hole
      // at the cache layer)
      graft.ops.Tables.invalidateDir(root)
      purged
    }

  /** Writes `df` into `staging` as `nOut` files range-clustered by
    * timestamp (not hash-repartitioned): each cold file covers a tight,
    * mostly non-overlapping time slice, so its parquet footer min/max
    * actually prunes and time-range reads skip whole files. Same row
    * multiset either way; this is purely a layout choice, and at 100 TB
    * layout IS the read path (the reference gets it for free only
    * because each buffer flush is one contiguous ingest slice,
    * writer.py:300-335). Message is the range tiebreak: a snapshot whose
    * rows share one timestamp must still split into nOut sized files. */
  private def stageScan(df: DataFrame)(staging: Path, nOut: Int): Unit =
    df.repartitionByRange(nOut, col("timestamp"), col("message"))
      .sortWithinPartitions(col("timestamp"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)

  /** [[stageScan]]'s layout for decoded file rows, on the calling thread:
    * sort them in place by (timestamp, message), then write `nOut`
    * contiguous runs of equal row count (fewer when there are fewer
    * rows; an empty snapshot still writes one file). */
  private def stageSorted(rows: Array[InternalRow])(staging: Path, nOut: Int): Unit = {
    val schema = ManifestLog.decodedSchema(new StructType())
    def key(name: String): SortOrder = {
      val i = schema.fieldIndex(name)
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending)
    }
    java.util.Arrays.sort(rows, new InterpretedOrdering(Seq(key("timestamp"), key("message"))))
    val n = rows.length
    val runs = math.max(1, math.min(nOut, n))
    (0 until runs).foreach { i =>
      writeLocal(schema, rows.view.slice((i.toLong * n / runs).toInt, ((i + 1L) * n / runs).toInt),
        new Path(staging, f"part-$i%05d.parquet"))
    }
  }

  /** The staged rewrite-then-swap [[compact]] and [[rewriteExcluding]]
    * share: `stage` writes the surviving rows (None: no row survives)
    * into a staging directory as the given number of range-clustered
    * files; they are published under names no manifest references, then
    * a manifest commit swaps them in for `snapshot` as the LAST step. A
    * crash anywhere before that commit leaves `snapshot` fully
    * referenced (no loss, no duplicate) and the staged files as
    * [[expire]]-collectable orphans. Returns the bytes `snapshot`
    * retired, or 0 when a competing rewrite already retired part of it
    * (the staged files are deleted; the caller re-runs against the new
    * file set). */
  private def rewrite(container: String, session: String, what: String,
                      snapshot: Seq[String], stage: Option[(Path, Int) => Unit]): Long = {
    val bytes = sizeOf(snapshot)
    val staged = stage.toSeq.flatMap { write =>
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val staging = new Path(s"$root/.staging-${UUID.randomUUID()}")
      write(staging, nOut)
      val files = walk(staging)
      if (files.isEmpty)
        throw new java.io.IOException(
          s"$what: staging $staging lists no files for a non-empty rewrite")
      val target = new Path(s"$coldDir/container=$container/session=$session")
      fs.mkdirs(target)
      val published = files.map { st =>
        val dst = new Path(target, s"$what-${UUID.randomUUID()}.parquet")
        if (!publishExclusive(st.getPath, dst))
          throw new java.io.IOException(s"$what: publish ${st.getPath} -> $dst failed")
        rel(dst)
      }
      fs.delete(staging, true)
      published
    }
    beforeSwap()
    // THE swap: subtract exactly the rewritten snapshot from whatever is
    // current (appends that landed meanwhile survive), add the staged
    // files — and keep every retired tag committed via a tombstone
    // entry, so a batch replay after its file was rewritten still no-ops
    // (a purged row must not come back through a redelivered batch).
    val retired = snapshot.toSet
    val tombstones = snapshot.flatMap(fileTag).map(tagEntry)
    var applied = false
    commit(container, session) { cur =>
      // Cross-instance guard: compactLocks is in-process only, so a
      // rewrite on ANOTHER instance can race this one through the
      // commit CAS. If any file of the snapshot is gone from the
      // current entry set, a competing swap already retired it and its
      // output carries those rows (or their absence): swapping ours in
      // too would duplicate them. Decline (return `cur` unchanged).
      if (!snapshot.forall(cur.toSet)) { applied = false; cur }
      else {
        // The staged files were unreferenced until this very commit, so
        // a rewrite paused past the GC grace window can have lost them:
        // verify INSIDE the manifest lock (atomic against this process's
        // [[expire]], which sweeps under the same lock; a remote node's
        // sweep is excluded by the horizon contract) and abort with the
        // snapshot fully intact — a re-run re-reads it, no loss.
        staged.foreach { e =>
          if (!fs.exists(new Path(abs(e))))
            throw new java.io.IOException(
              s"$what: staged file $e vanished before the swap " +
              "(publish stalled past the GC grace window); snapshot retained")
        }
        applied = true
        cur.filterNot(retired) ++ staged ++ tombstones
      }
    }
    if (applied) bytes
    else { staged.foreach(e => fs.delete(new Path(abs(e)), false)); 0L }
  }

  /** Snapshot GC. `olderThan` is the reader grace window: any scan (or
    * in-flight append/compaction publish) started before that horizon
    * has finished. A manifest is superseded when the NEXT valid version
    * committed (its mtime); a data file becomes unreferenced when the
    * last manifest naming it goes — NOT at the file's own mtime: a hot
    * file written long ago but retired a second ago must survive the
    * full grace window for readers pinned to the pre-swap manifest.
    *
    *  - a superseded manifest goes once it was superseded before the
    *    horizon; a CORRUPT one below the valid frontier (readers skip
    *    it) once its own mtime is. The sweep is the chain's prefix
    *    deletion ([[VersionChain.prune]]): it stops at the first
    *    manifest it keeps, and the frontier is never deleted (a corrupt
    *    file above it is kept so commit can surface it loudly);
    *  - a data file goes once no retained manifest names it: at once if
    *    a deleted manifest named it, else (a crashed writer, or a
    *    compaction stalled between cold-publish and swap) once its own
    *    mtime is older than the horizon — creation time IS the right
    *    clock for a file that was never visible. (A compaction stalled
    *    longer than the grace window loses its staged cold files to
    *    this rule; [[compact]] re-verifies them before the swap and
    *    aborts with the hot snapshot intact.)
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
      val c = chain(container, session)
      val valid = c.scan().collect { case (v, mtime, Some(e)) => (v, mtime, e.toSet) }
      val latest = valid.lastOption.map(_._1).getOrElse(0L)
      val supersededAt = valid.zip(valid.drop(1)).map { case (m, next) => m._1 -> next._2 }.toMap
      val pruned = c.prune((v, mtime) => v < latest && supersededAt.getOrElse(v, mtime) < cutoff).toSet
      var n = pruned.size.toLong
      val (gone, retained) = valid.partition(m => pruned(m._1))
      Seq(hotDir, coldDir).foreach { d =>
        walk(new Path(s"$d/container=$container/session=$session")).foreach { st =>
          val r = rel(st.getPath)
          val deletable =
            !retained.exists(_._3.contains(r)) &&
              (gone.exists(_._3.contains(r)) || st.getModificationTime < cutoff)
          if (deletable && fs.delete(st.getPath, false)) n += 1
        }
      }
      n += c.sweepTemps(cutoff)
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

  /** Recursive parquet listing ([[StoreFiles.walkParquet]]). */
  private def walk(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    StoreFiles.walkParquet(fs, dir)
}

object ManifestLog {
  /** The columns a read adds after the file columns: container, session. */
  private val partitionSchema: StructType =
    StructType(LogSchema.schema.fields.drop(LogSchema.fileSchema.size))

  /** The rows the driver path decodes: the file columns, nullable as a
    * Parquet read makes them, then `partition`. */
  private def decodedSchema(partition: StructType): StructType =
    StructType(LogSchema.fileSchema.fields.map(_.copy(nullable = true)) ++ partition.fields)

  /** Decoded bytes up to which a session is read and compacted on the
    * driver instead of by a Spark job, and so the most decoded rows one
    * read or compaction holds. It is the measured crossover of a capped
    * time-range GET: on a 4-core host the driver path costs about 5 ms
    * per 1,000 log rows (about 210 bytes each decoded) over a base of
    * about 60 ms, the Spark path 130–210 ms at 10k–66k rows, and they
    * cross between 5.3 and 6.9 MiB (`ServiceScaleCheck.driverReadBench`).
    * A compaction was 2–4× faster on the driver at every size measured;
    * the budget holds it to the same heap. */
  private[graft] val DriverReadBytes: Long = 6L * 1024 * 1024

  /** Heap a decoded row takes beyond its bytes: the `UnsafeRow` object,
    * its byte array's header and the reference to it. */
  private val RowOverheadBytes = 64L

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

  /** Parse a manifest. The one accepted shape is a
    * `#graft-manifest <n>` header line, exactly `n` entry lines and a
    * `#commit <n>` footer line. Everything else is None:
    *  - zero bytes or a torn header: the O_EXCL fallback of the chain's
    *    claim on link-less mounts creates the final name EMPTY and then
    *    writes content, so a racing reader can see either. Serving such
    *    a file as (v, Nil) would let a concurrent committer CAS v+1 with
    *    only its own entry, dropping the chain;
    *  - a missing or mismatched footer: tail truncation (the at-rest
    *    threat eats the LAST line first) or other external damage;
    *  - no header: not a file this store writes.
    * Callers skip-and-count such a file on read and retry-then-fail on
    * commit; nothing deletes it. */
  private[storage] def decode(bytes: Array[Byte]): Option[Seq[String]] = {
    val lines = new String(bytes, "UTF-8").split("\n").iterator.filter(_.nonEmpty).toSeq
    val entries = lines.slice(1, lines.size - 1)
    if (lines.size >= 2 && lines.head == header(entries) && lines.last == footer(entries))
      Some(entries)
    else None
  }

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
