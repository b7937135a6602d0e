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
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet, BoundReference, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, InSet, InterpretedOrdering, JoinedRow, LessThan, LessThanOrEqual,
  Literal, PredicateHelper, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.unsafe.array.ByteArrayMethods
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
  *  - A READ COSTS ITS ANSWER. A read's plan is a [[ManifestRelation]]
  *    leaf that holds the version's files and their [[FileStats]], no
  *    rows; at optimization [[FoldManifestReads]] replaces it. A filter's
  *    timestamp bounds drop the files whose time range misses them; when
  *    the rest decode to at most [[ManifestLog.DriverReadBytes]] they are
  *    decoded on the calling thread with Spark's own Parquet reader into
  *    a `LocalRelation` of the rows inside the bounds, whose filter,
  *    projection and limit the optimizer folds, so the `collect()` runs
  *    no job. Otherwise the leaf becomes a file scan of those files.
  *    Compactions under the budget run on the calling thread too. A
  *    decode that passes the budget stops there, so no read or
  *    compaction holds more than the budget of decoded rows.
  *  - FILE STATS are kept in process per session, from the code that
  *    wrote a file or from a decode of all of it; a file without them
  *    costs one `getFileStatus` and overlaps every range. The on-disk
  *    manifest holds entries only: a restarted instance relearns the
  *    stats on its first reads.
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

  FoldManifestReads.install(spark)

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
    try Cas.publishOverwrite(fs, spark.sparkContext.hadoopConfiguration,
      hintFilePath(dir), v.toString.getBytes("UTF-8")) // last-wins race is safe
    catch {
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
                    (update: Seq[String] => Seq[String]): (Long, Seq[String]) =
    manifestLocks.computeIfAbsent((container, session), _ => new Object).synchronized {
      val c = chain(container, session)
      var attempt = 0
      while (true) {
        val (v, cur) = resolve(container, session)
        val next = update(cur)
        if (next eq cur) return (v, cur) // update declined — no new version
        if (c.claim(v, ManifestLog.encode(next))) {
          if ((v + 1) % hintFileEvery == 0) writeHintFile(manifestDir(container, session), v + 1)
          return (v + 1, next)
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
    val written = batch.queryExecution.optimizedPlan match {
      // Rows already on the driver (every HTTP ingest flush): write them
      // here. A Spark write of a local batch costs two jobs, a shuffle
      // and task serialization — ~100 ms for a few KB of rows.
      case local: LocalRelation =>
        Some(writeLocal(local.schema, local.data, new Path(staging, "part-00000.parquet")))
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
        None
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
    val (version, entries) = commit(container, session) { cur =>
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
    if (!committed) return -1L
    noteCommitted(container, session, version, entries,
      Map(rel(dst) -> written.fold(FileStats.measured(st.getLen))(_.copy(onDisk = st.getLen))))
    st.getLen
  }

  /** Writes a driver-resident batch to one Parquet `file` on the calling
    * thread, through the writer a Spark write task would use. Running it
    * under the session's SQLConf applies the same codec, timestamp type,
    * time zone and rebase mode, so the file matches a Spark-written one
    * (LocalAppendSpec compares the footers). Returns the file's stats as
    * a read will decode them, all but its on-disk size, which the caller
    * takes from the staging listing. */
  private def writeLocal(schema: StructType, rows: Iterable[InternalRow], file: Path): FileStats =
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
      // a TIMESTAMP_MILLIS file reads back its timestamps floored to the millisecond
      val stats = new ManifestLog.StatsTally(
        SQLConf.get.parquetOutputTimestampType == SQLConf.ParquetOutputTimestampType.TIMESTAMP_MILLIS)
      val toUnsafe = UnsafeProjection.create(ManifestLog.decodedSchema(new StructType()))
      try rows.foreach { r =>
        writer.write(r)
        stats.add(r, (r match {
          case u: UnsafeRow if u.numFields == LogSchema.fileSchema.size => u
          case other => toUnsafe(other)
        }).getSizeInBytes + ManifestLog.RowOverheadBytes)
      } finally writer.close()
      stats.result(onDisk = 0L)
    }

  /** Budget of the driver path in decoded bytes ([[ManifestLog.DriverReadBytes]]).
    * Test and bench seam: 0 keeps every non-empty read on the file scan. */
  private[graft] var driverReadBytes: Long = ManifestLog.DriverReadBytes

  /** Decoded bytes that reading `files` with `extra` partition bytes a
    * row takes at least: exact for files with complete stats. */
  private def readBytes(files: Seq[(String, FileStats)], extra: Long): Long =
    files.iterator.map { case (_, st) => st.decodedAtLeast + math.max(st.rows, 0L) * extra }.sum

  /** Decodes `files` on the calling thread with the reader a Spark scan
    * task would use, run under the session's SQLConf, so INT96
    * conversion and the rebase modes match a Spark read. Keeps the rows
    * whose timestamp lies in `range` (every row when there is none),
    * with `values` appended as the `partition` columns. Every decoded
    * row, kept or not, counts its bytes plus
    * [[ManifestLog.RowOverheadBytes]] against `budget`; None once they
    * pass it. Each file read hands `learn` its complete stats, or a
    * lower bound where the budget stopped it. */
  private def decode(files: Seq[(String, FileStats)], partition: StructType, values: Seq[String],
                     range: Option[(Long, Long)], budget: Long,
                     learn: (String, FileStats) => Unit): Option[Array[InternalRow]] =
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val rows = Array.newBuilder[InternalRow]
      var bytes = 0L
      if (files.nonEmpty) {
        val readFile = reader()
        val toOut = UnsafeProjection.create(ManifestLog.decodedSchema(partition))
        val joined = new JoinedRow(null, InternalRow.fromSeq(values.map(UTF8String.fromString)))
        val extra = ManifestLog.partitionBytes(values)
        val (lo, hi) = range.getOrElse((Long.MinValue, Long.MaxValue))
        val it = files.iterator
        while (bytes <= budget && it.hasNext) {
          val (entry, st) = it.next()
          val stats = new ManifestLog.StatsTally(millis = false)
          val fileRows = readFile(PartitionedFile(InternalRow.empty, SparkPath.fromPath(new Path(abs(entry))),
            0L, st.onDisk, fileSize = st.onDisk))
          val whole =
            try {
              while (bytes <= budget && fileRows.hasNext) {
                val row = toOut(joined.withLeft(fileRows.next()))
                val size = row.getSizeInBytes + ManifestLog.RowOverheadBytes
                stats.add(row, size - extra)
                bytes += size
                if (range.isEmpty || (!row.isNullAt(0) && row.getLong(0) >= lo && row.getLong(0) <= hi))
                  rows += row.copy()
              }
              !fileRows.hasNext
            } finally fileRows match { case c: java.io.Closeable => c.close(); case _ => () }
          learn(entry, if (whole) stats.result(st.onDisk) else stats.lowerBound(st.onDisk))
        }
      }
      if (bytes > budget) None else Some(rows.result())
    }

  /** The Parquet reader [[decode]] runs over the file columns, kept while
    * the session's SQL confs (which it captures) stay the same: building
    * one broadcasts the Hadoop conf, about 15 ms on a 4-core host. The
    * conf is a JobConf, which the reader's per-file task context takes
    * as is; it copies any other Configuration, about 0.7 ms a file. */
  @volatile private var cachedReader: (Map[String, String], PartitionedFile => Iterator[InternalRow]) = (null, null)

  private def reader(): PartitionedFile => Iterator[InternalRow] = {
    val confs = spark.sessionState.conf.getAllConfs
    val hit = cachedReader
    if (hit._1 == confs) hit._2
    else {
      val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, LogSchema.fileSchema, new StructType(), LogSchema.fileSchema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        new org.apache.hadoop.mapred.JobConf(spark.sessionState.newHadoopConf()))
      cachedReader = (confs, readFile)
      readFile
    }
  }

  /** A file-scan relation over `entries` (the file columns only). */
  private def scanRelation(entries: Seq[String]): LogicalPlan with MultiInstanceRelation =
    GraftShim.analyzed(spark.read.schema(LogSchema.fileSchema).parquet(entries.map(abs): _*)) match {
      case r: MultiInstanceRelation => r
      case other => throw new IllegalStateException(s"a Parquet read planned as ${other.nodeName}")
    }

  /** One manifest version of a session as reads see it: its data
    * entries and what is known of each file ([[FileStats]]), never rows.
    * A read's [[ManifestRelation]] leaf points here; the optimizer turns
    * it into rows or a scan through [[plan]]. Stats only grow more
    * complete: files are immutable, so a learned value cannot go stale,
    * and a snapshot of a newer version starts from the stats of the
    * entries that survive. */
  private[storage] final class Snapshot(val container: String, val session: String,
                                        val version: Long, val entries: Seq[String],
                                        known: Iterator[(String, FileStats)]) {
    private val live = entries.toSet
    private val stats = new ConcurrentHashMap[String, FileStats]()
    known.foreach { case (e, st) => learn(e, st) }

    /** What is known of `entry`; a file without stats costs one
      * `getFileStatus`, once. */
    def stat(entry: String): FileStats =
      stats.computeIfAbsent(entry, e => FileStats.measured(fs.getFileStatus(new Path(abs(e))).getLen))

    def learn(entry: String, st: FileStats): Unit =
      if (live(entry)) stats.merge(entry, st, (a, b) => a.merge(b))

    def knownStats: Iterator[(String, FileStats)] = {
      import scala.jdk.CollectionConverters._
      stats.asScala.iterator
    }

    def onDiskBytes(prefix: String = ""): Long =
      entries.iterator.filter(_.startsWith(prefix)).map(stat(_).onDisk).sum

    /** The whole version's file scan, built on first use. */
    private lazy val fullScan = scanRelation(entries)

    /** The read kept for reuse, once the whole version is over the
      * budget. Its leaf scans when nothing narrows it, so a kept plan
      * never holds decoded rows. */
    @volatile private[storage] var kept: DataFrame = null

    def dataFrame: DataFrame = {
      val hit = kept
      if (hit != null) hit
      else {
        val overBudget = readBytes(entries.map(e => e -> stat(e)), partitionExtra) > driverReadBytes
        val df = GraftShim.ofRows(spark, ManifestRelation(
          DataTypeUtils.toAttributes(ManifestLog.decodedSchema(ManifestLog.partitionSchema)), this,
          scanWhole = overBudget))
        if (overBudget && entries.nonEmpty) kept = df
        df
      }
    }

    private def partitionExtra: Long = ManifestLog.partitionBytes(Seq(container, session))

    /** The rows of the files that overlap `range` (every file when there
      * is none): decoded on the calling thread when they fit the budget,
      * keeping only rows inside the range, else a scan of those files.
      * Either way the result outputs exactly `output`. */
    def plan(output: Seq[Attribute], range: Option[(Long, Long)], scanWhole: Boolean): LogicalPlan = {
      val files = entries.map(e => e -> stat(e))
        .filter { case (_, st) => range.forall { case (lo, hi) => st.overlaps(lo, hi) } }
      val rows =
        if (files.isEmpty) Some(Array.empty[InternalRow])
        else if ((scanWhole && range.isEmpty) || readBytes(files, partitionExtra) > driverReadBytes) None
        else decode(files, ManifestLog.partitionSchema, Seq(container, session), range, driverReadBytes, learn)
      rows match {
        case Some(r) => LocalRelation(output, ArraySeq.unsafeWrapArray(r))
        case None =>
          val names = files.map(_._1)
          val rel = (if (names == entries) fullScan else scanRelation(names)).newInstance()
          val columns = rel.output ++ Seq(Literal(container), Literal(session))
          Project(columns.zip(output).map { case (e, a) => Alias(e, a.name)(exprId = a.exprId) }, rel)
      }
    }
  }

  // Per-session snapshot cache, LRU over 256 sessions. A manifest version
  // pins an immutable file set, so the VERSION is the key by construction:
  // a read of the same version reuses the snapshot (its stats, and its
  // file-scan relation once built), a version bump starts a new one that
  // carries the stats of the entries that survive. Staleness is impossible
  // and nothing needs invalidating. A snapshot holds stats and at most an
  // unexecuted plan, never decoded rows (see [[Snapshot.kept]]).
  private val ReadCacheMax = 256
  private val readCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String), Snapshot](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[(String, String), Snapshot]): Boolean =
          size() > ReadCacheMax
      })

  /** The snapshot of the session's latest manifest. */
  private def current(container: String, session: String): Snapshot = {
    val (v, all) = resolve(container, session)
    val key = (container, session)
    readCache.synchronized {
      val hit = readCache.get(key)
      if (hit != null && hit.version == v) hit
      else {
        val snap = new Snapshot(container, session, v, all.filterNot(_.startsWith("#")),
          if (hit == null) Iterator.empty else hit.knownStats)
        if (hit == null || hit.version < v) readCache.put(key, snap)
        snap
      }
    }
  }

  /** Records a commit of this instance: version `version` holds
    * `entries`, and `learned` the stats of the files it added. */
  private def noteCommitted(container: String, session: String, version: Long,
                            entries: Seq[String], learned: Map[String, FileStats]): Unit =
    readCache.synchronized {
      val key = (container, session)
      val hit = readCache.get(key)
      if (hit != null && hit.version >= version) learned.foreach { case (e, st) => hit.learn(e, st) }
      else readCache.put(key, new Snapshot(container, session, version, entries.filterNot(_.startsWith("#")),
        (if (hit == null) Iterator.empty else hit.knownStats) ++ learned))
    }

  /** Data entries (no `#tag` tombstones) of the latest manifest. */
  private[graft] def dataEntries(container: String, session: String): Seq[String] =
    current(container, session).entries

  /** The session's rows as of the latest manifest — lock-free; safe
    * to materialize at any time, including mid-compaction. The plan is a
    * [[ManifestRelation]] leaf over the version's files; the optimizer
    * turns it into the rows the query can return (see [[FoldManifestReads]]). */
  def read(container: String, session: String): DataFrame =
    current(container, session).dataFrame

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
    // Snapshots of pinned versions are cached by (container, session,
    // version): the lifecycle runs re-read the same pinned prior-run
    // snapshot on every invocation, and the seal's replay citation reads
    // the identical version twice per run. Every execution still reads
    // the files, so the seal's replay proof keeps reading disk. The hit
    // path checks only that the manifest file still exists: an expired
    // version fails as loudly as the uncached path, but a manifest
    // damaged after its first read keeps serving the cached snapshot
    // instead of failing its integrity check. A snapshot enters the
    // cache only once the manifest has decoded.
    val key = (container, session, version)
    val hit = readAtCache.get(key)
    val snap =
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
        val latest = readCache.get((container, session))
        val s = new Snapshot(container, session, version, entries.filterNot(_.startsWith("#")),
          if (latest == null) Iterator.empty else latest.knownStats)
        readAtCache.put(key, s)
        s
      }
    snap.dataFrame
  }

  /** Test seam: every plan the two read caches hold. */
  private[storage] def cachedPlans: Seq[DataFrame] = {
    import scala.jdk.CollectionConverters._
    (readCache.synchronized(readCache.values.asScala.toList) ++
      readAtCache.synchronized(readAtCache.values.asScala.toList)).flatMap(s => Option(s.kept))
  }

  /** Bounded LRU of [[readAt]] snapshots — see the cache note there. */
  private val readAtCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String, Long), Snapshot](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String, Long), Snapshot]): Boolean =
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
    * off the entry list and sizes from the file stats, so a file this
    * instance wrote or has read costs nothing and any other one
    * `getFileStatus`, once; never a data scan. Inherits the trait's no-op
    * [[withReadSnapshot]]: manifest reads are snapshot-isolated by
    * construction. */
  def tierStats(container: String, session: String): (Long, Long, Long, Long) =
    statsOf(current(container, session))

  /** Hot-tier bytes of the CURRENT manifest — the rotation trigger's
    * input, from the file stats: no data scan. */
  override def hotBytes(container: String, session: String): Long =
    current(container, session).onDiskBytes("hot/")

  private def statsOf(snap: Snapshot): (Long, Long, Long, Long) = {
    def count(prefix: String): Long = snap.entries.count(_.startsWith(prefix)).toLong
    (count("cold/"), snap.onDiskBytes("cold/"), count("hot/"), snap.onDiskBytes("hot/"))
  }

  /** Stats AND row count off ONE manifest resolve — the summary
    * consistency contract ([[LogTier.statsAndRows]]): a concurrent
    * append or compaction between two independent resolves can no
    * longer mix file counts and row totals from different snapshots.
    * Rows come from the file stats, or the Parquet footer of a file
    * without them: exact, and no Spark job. */
  override def statsAndRows(container: String, session: String)
      : ((Long, Long, Long, Long), Long) = {
    val snap = current(container, session)
    lazy val conf = spark.sessionState.newHadoopConf()
    val rows = snap.entries.iterator.map { e =>
      val st = snap.stat(e)
      if (st.complete) st.rows
      else {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(abs(e)), conf))
        try r.getRecordCount finally r.close()
      }
    }.sum
    (statsOf(snap), rows)
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
      val snap = current(container, session)
      val hot = snap.entries.filter(_.startsWith("hot/"))
      if (hot.isEmpty) return 0L
      val files = hot.map(e => e -> snap.stat(e))
      val rows =
        if (readBytes(files, 0L) > driverReadBytes) None
        else decode(files, new StructType(), Nil, None, driverReadBytes, snap.learn)
      val stage = rows match {
        case Some(r) => stageSorted(r) _
        case None => stageScan(spark.read.schema(LogSchema.fileSchema).parquet(hot.map(abs): _*)) _
      }
      rewrite(snap, "compact", hot, Some(stage))
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
      val snap = current(container, session)
      val live = snap.entries
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
      if (rewrite(snap, "purge", snapshot, Some(survivors).filter(!_.isEmpty).map(stageScan)) == 0L)
        return 0L
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
  private def stageScan(df: DataFrame)(staging: Path, nOut: Int): Map[String, FileStats] = {
    df.repartitionByRange(nOut, col("timestamp"), col("message"))
      .sortWithinPartitions(col("timestamp"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    Map.empty
  }

  /** [[stageScan]]'s layout for decoded file rows, on the calling thread:
    * sort them in place by (timestamp, message), then write `nOut`
    * contiguous runs of equal row count (fewer when there are fewer
    * rows; an empty snapshot still writes one file). Returns each
    * staged file's stats by name. */
  private def stageSorted(rows: Array[InternalRow])(staging: Path, nOut: Int): Map[String, FileStats] = {
    val schema = ManifestLog.decodedSchema(new StructType())
    def key(name: String): SortOrder = {
      val i = schema.fieldIndex(name)
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending)
    }
    java.util.Arrays.sort(rows, new InterpretedOrdering(Seq(key("timestamp"), key("message"))))
    val n = rows.length
    val runs = math.max(1, math.min(nOut, n))
    (0 until runs).map { i =>
      val name = f"part-$i%05d.parquet"
      name -> writeLocal(schema, rows.view.slice((i.toLong * n / runs).toInt, ((i + 1L) * n / runs).toInt),
        new Path(staging, name))
    }.toMap
  }

  /** The staged rewrite-then-swap [[compact]] and [[rewriteExcluding]]
    * share: `stage` writes the surviving rows (None: no row survives)
    * into a staging directory as the given number of range-clustered
    * files, returning the stats it knows of them by file name; they are
    * published under names no manifest references, then
    * a manifest commit swaps them in for `snapshot` as the LAST step. A
    * crash anywhere before that commit leaves `snapshot` fully
    * referenced (no loss, no duplicate) and the staged files as
    * [[expire]]-collectable orphans. Returns the bytes `snapshot`
    * retired, or 0 when a competing rewrite already retired part of it
    * (the staged files are deleted; the caller re-runs against the new
    * file set). */
  private def rewrite(snap: Snapshot, what: String, snapshot: Seq[String],
                      stage: Option[(Path, Int) => Map[String, FileStats]]): Long = {
    val (container, session) = (snap.container, snap.session)
    val bytes = snapshot.iterator.map(snap.stat(_).onDisk).sum
    val staged = stage.toSeq.flatMap { write =>
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val staging = new Path(s"$root/.staging-${UUID.randomUUID()}")
      val stats = write(staging, nOut)
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
        rel(dst) -> stats.get(st.getPath.getName).fold(FileStats.measured(st.getLen))(_.copy(onDisk = st.getLen))
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
    val (version, entries) = commit(container, session) { cur =>
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
        staged.foreach { case (e, _) =>
          if (!fs.exists(new Path(abs(e))))
            throw new java.io.IOException(
              s"$what: staged file $e vanished before the swap " +
              "(publish stalled past the GC grace window); snapshot retained")
        }
        applied = true
        cur.filterNot(retired) ++ staged.map(_._1) ++ tombstones
      }
    }
    if (applied) { noteCommitted(container, session, version, entries, staged.toMap); bytes }
    else { staged.foreach { case (e, _) => fs.delete(new Path(abs(e)), false) }; 0L }
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
  private[storage] val partitionSchema: StructType =
    StructType(LogSchema.schema.fields.drop(LogSchema.fileSchema.size))

  /** The rows the driver path decodes: the file columns, nullable as a
    * Parquet read makes them, then `partition`. */
  private[storage] def decodedSchema(partition: StructType): StructType =
    StructType(LogSchema.fileSchema.fields.map(_.copy(nullable = true)) ++ partition.fields)

  /** Bytes the string `values` add to a decoded row: an 8-byte slot each
    * plus the string's bytes rounded up to a word (the `UnsafeRow`
    * layout; the null bitset stays one word up to 64 columns). */
  private[storage] def partitionBytes(values: Seq[String]): Long =
    values.iterator.map(v => 8L + ByteArrayMethods.roundNumberOfBytesToNearestWord(
      UTF8String.fromString(v).numBytes)).sum

  /** Accumulates a file's [[FileStats]] from its rows, timestamp
    * first. `millis`: the file stores milliseconds, so its timestamps
    * read back floored to one. */
  private[storage] final class StatsTally(millis: Boolean) {
    private var rows, bytes = 0L
    private var min = Long.MaxValue
    private var max = Long.MinValue

    /** Adds a row whose file columns decode to `decoded` bytes. */
    def add(row: InternalRow, decoded: Long): Unit = {
      rows += 1
      bytes += decoded
      if (!row.isNullAt(0)) {
        val t = if (millis) Math.floorDiv(row.getLong(0), 1000L) * 1000L else row.getLong(0)
        min = math.min(min, t)
        max = math.max(max, t)
      }
    }

    def result(onDisk: Long): FileStats = FileStats(rows, onDisk, bytes, min, max)
    /** What the rows so far say of a file read only in part. */
    def lowerBound(onDisk: Long): FileStats = FileStats.measured(onDisk).copy(decoded = bytes)
  }

  /** Decoded bytes up to which the files a read needs are decoded on the
    * driver instead of scanned by a Spark job, and a compaction runs on
    * the driver; so the most decoded rows one read or compaction holds.
    * It is the measured crossover of a capped GET whose range covers
    * every file of its session: on a 4-core host the driver path costs
    * about 0.65 ms per 1,000 log rows (about 210 bytes each decoded) over
    * a base of about 55 ms, the Spark path 90–200 ms at 10k–66k rows,
    * and they cross between 10.4 and 13.8 MiB in two runs
    * (`ServiceScaleCheck.driverReadBench`). A compaction was 2–4× faster
    * on the driver at every size measured; the budget holds it to the
    * same heap. */
  private[graft] val DriverReadBytes: Long = 12L * 1024 * 1024

  /** Heap a decoded row takes beyond its bytes: the `UnsafeRow` object,
    * its byte array's header and the reference to it. */
  private[storage] val RowOverheadBytes = 64L

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

/** What the store knows of one immutable data file. Complete stats
  * (`rows` >= 0) come from the code that produced the file or from a
  * decode of all of it: row count, on-disk bytes, decoded bytes (what
  * [[ManifestLog]]'s driver path holds for its rows, file columns only)
  * and the least and greatest timestamp a read returns (an empty range,
  * min > max, for a file without one). Otherwise only the on-disk size
  * is known, `decoded` is a lower bound, and the file overlaps every
  * time range. */
private[storage] final case class FileStats(rows: Long, onDisk: Long, decoded: Long,
                                            minTs: Long, maxTs: Long) {
  def complete: Boolean = rows >= 0

  /** Decoded bytes at least: exact when complete, else the larger of
    * the lower bound and the on-disk size. */
  def decodedAtLeast: Long = if (complete) decoded else math.max(decoded, onDisk)

  def overlaps(lo: Long, hi: Long): Boolean = maxTs >= lo && minTs <= hi

  def merge(o: FileStats): FileStats =
    if (complete) this else if (o.complete) o else copy(decoded = math.max(decoded, o.decoded))
}

private[storage] object FileStats {
  /** A file of which only the on-disk size is known. */
  def measured(onDisk: Long): FileStats = FileStats(-1L, onDisk, 0L, Long.MinValue, Long.MaxValue)
}

/** The plan leaf of a [[ManifestLog]] read: the resolved version's
  * files and their stats, no rows, so analysis and the optimizer's main
  * batches see a plan of constant size. [[FoldManifestReads]] replaces
  * it before physical planning. `scanWhole`: with nothing narrowing it,
  * the leaf becomes the file scan, never decoded rows. */
private[storage] final case class ManifestRelation(output: Seq[Attribute],
                                                   files: ManifestLog#Snapshot,
                                                   scanWhole: Boolean)
    extends LeafNode with MultiInstanceRelation {

  override def producedAttributes: AttributeSet = outputSet

  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics = Statistics(sizeInBytes = BigInt(math.max(1L, files.onDiskBytes())))

  override def doCanonicalize(): LogicalPlan = copy(output = output.map(QueryPlan.normalizeExpressions(_, output)))

  override def simpleString(maxFields: Int): String =
    s"ManifestRelation ${files.container}/${files.session} v${files.version}, " +
      s"${files.entries.size} files [${output.mkString(", ")}]"
}

/** The optimizer rule that turns every [[ManifestRelation]] into the
  * rows its query can return. Under a Filter (through attribute-only
  * projections) the timestamp bounds of the filter's conjuncts select the
  * files whose time range they overlap; a leaf nothing filters reads every
  * file. Files that fit the store's driver-read budget are decoded on the
  * calling thread into a `LocalRelation` of the rows inside the bounds;
  * otherwise the leaf becomes a Parquet scan of those files, aliased to
  * its attributes, into which `FileSourceStrategy` pushes the filter.
  *
  * It runs in the "User Provided Optimizers" batch, after the batch that
  * folds Filter, Project and Limit into a `LocalRelation`, so it applies
  * `ConvertToLocalRelation` itself: a capped GET's `collect()` then
  * starts no job. */
private[storage] object FoldManifestReads extends Rule[LogicalPlan] with PredicateHelper {

  /** Adds the rule to `spark`'s optimizer once. */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ this
  }

  def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(_.isInstanceOf[ManifestRelation])) plan
    else {
      val replaced = plan.transformDown {
        case f @ Filter(cond, child @ LeafUnder(leaf)) if cond.deterministic =>
          val range = timeRange(splitConjunctivePredicates(cond), leaf.output.head)
          f.copy(child = child.transformUp {
            case l: ManifestRelation => l.files.plan(l.output, Some(range), l.scanWhole)
          })
      }.transformUp { case l: ManifestRelation => l.files.plan(l.output, None, l.scanWhole) }
      var folded = replaced
      var next = ConvertToLocalRelation(folded)
      while (!next.fastEquals(folded)) { folded = next; next = ConvertToLocalRelation(folded) }
      folded
    }

  /** The leaf under attribute-only projections. */
  private object LeafUnder {
    def unapply(plan: LogicalPlan): Option[ManifestRelation] = plan match {
      case l: ManifestRelation => Some(l)
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) => unapply(child)
      case _ => None
    }
  }

  private object TsLiteral {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, TimestampType) => Some(v)
      case _ => None
    }
  }

  /** The inclusive [lo, hi] that the conjuncts comparing `ts` with a
    * literal allow (lo > hi: none); other conjuncts leave it unbounded. */
  private def timeRange(conjuncts: Seq[Expression], ts: Attribute): (Long, Long) = {
    def isTs(e: Expression): Boolean = e match {
      case a: Attribute => a.exprId == ts.exprId
      case _ => false
    }
    val (min, max) = (Long.MinValue, Long.MaxValue)
    def above(v: Long) = if (v == max) (max, min) else (v + 1, max)
    def below(v: Long) = if (v == min) (max, min) else (min, v - 1)
    conjuncts.map {
      case GreaterThanOrEqual(a, TsLiteral(v)) if isTs(a) => (v, max)
      case GreaterThan(a, TsLiteral(v)) if isTs(a) => above(v)
      case LessThanOrEqual(a, TsLiteral(v)) if isTs(a) => (min, v)
      case LessThan(a, TsLiteral(v)) if isTs(a) => below(v)
      case EqualTo(a, TsLiteral(v)) if isTs(a) => (v, v)
      case GreaterThanOrEqual(TsLiteral(v), a) if isTs(a) => (min, v)
      case GreaterThan(TsLiteral(v), a) if isTs(a) => below(v)
      case LessThanOrEqual(TsLiteral(v), a) if isTs(a) => (v, max)
      case LessThan(TsLiteral(v), a) if isTs(a) => above(v)
      case EqualTo(TsLiteral(v), a) if isTs(a) => (v, v)
      case In(a, list) if isTs(a) && list.nonEmpty && list.forall(TsLiteral.unapply(_).isDefined) =>
        val vs = list.flatMap(TsLiteral.unapply)
        (vs.min, vs.max)
      case InSet(a, set) if isTs(a) && set.nonEmpty && set.forall(_.isInstanceOf[Long]) =>
        val vs = set.iterator.map(_.asInstanceOf[Long]).toSeq
        (vs.min, vs.max)
      case _ => (min, max)
    }.foldLeft((min, max)) { case ((lo, hi), (l, h)) => (math.max(lo, l), math.min(hi, h)) }
  }
}
