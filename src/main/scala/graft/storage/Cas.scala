package graft.storage

import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}

/** THE atomic create-if-absent primitive behind every cross-process
  * commit in the engine: every [[VersionChain]] (manifests, the shared
  * catalog, maintenance leases) claims its slots through this one
  * definition, so the data plane and the control plane can never
  * diverge on what "atomically claimed" means.
  *
  * Both arms publish a FULLY-FORMED file or nothing:
  *  - Local filesystems: write a fully-written temp file, publish with
  *    `Files.createLink` — POSIX link(2) fails with EEXIST when the
  *    destination exists (rename silently replaces it, which is
  *    exactly the lost-commit hole). Mounts Hadoop classifies as
  *    local but that lack link(2) — some NFS/FUSE/overlay setups —
  *    fall back to an O_EXCL create of the FINAL name + content
  *    write: the create is the atomic claim on POSIX; the content is
  *    not atomic with it, so callers' formats must make a mid-write
  *    read detectable (manifest header/footer, state-record frame)
  *    and treat a fresh unparseable frontier as retry-able.
  *  - Everything else: temp file + `fs.rename` — HDFS rename REFUSES
  *    an existing destination atomically at the namenode. A rename
  *    that fails with the slot UNOCCUPIED is an IO fault (permissions,
  *    quota, vanished parent), not a CAS collision, and raises
  *    immediately — burning retries on it would misreport contention.
  *    Object stores whose rename is copy+delete need a real commit
  *    coordinator (operational contract, as in the public table
  *    formats).
  */
private[graft] object Cas {

  /** Atomically claim `dst` with `payload`. True = this caller owns
    * the slot; false = the slot was already taken. `ownerOnly` writes
    * the file 0600 (POSIX arms) — for records carrying credentials. */
  def tryClaim(fs: FileSystem, dst: Path, payload: Array[Byte],
               ownerOnly: Boolean = false): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
      val dir = java.nio.file.Paths.get(dst.getParent.toUri.getPath)
      val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
      // SYNC: the claimed file is an acked-commit record — without
      // forcing content to stable storage, a power loss after the
      // commit returns could resurface it truncated. Directory-entry
      // durability of the link itself is the documented residual gap
      // (fsync(dir) — the table formats accept the same).
      java.nio.file.Files.write(tmp, payload,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.SYNC)
      if (ownerOnly) restrict(tmp)
      try {
        java.nio.file.Files.createLink(dir.resolve(dst.getName), tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case e @ (_: UnsupportedOperationException | _: java.nio.file.FileSystemException) =>
          // FileSystemException covers transient local IO faults
          // (ENOSPC, EACCES) as well as "mount lacks link(2)" — only
          // the latter may take the O_EXCL fallback: routing a real IO
          // error there would write the FINAL name non-atomically and
          // could leave a partial file wedging the commit slot. One
          // memoized probe per directory decides which case this is.
          if (linkSupported(dir)) throw e // real IO fault — propagate
          else {
            try {
              val f = dir.resolve(dst.getName)
              // claim EMPTY first (the O_EXCL create is the atomic
              // claim), restrict perms while still empty — credential-
              // bearing payloads must never be world-readable, even for
              // the write window — then write + sync the content. A
              // reader in the window sees an incomplete record, which
              // every caller format detects and retries/skips.
              val ch = java.nio.file.Files.newByteChannel(f,
                java.nio.file.StandardOpenOption.CREATE_NEW,
                java.nio.file.StandardOpenOption.WRITE,
                java.nio.file.StandardOpenOption.SYNC)
              try {
                if (ownerOnly) restrict(f)
                ch.write(java.nio.ByteBuffer.wrap(payload))
              } finally ch.close()
              true
            } catch { case _: java.nio.file.FileAlreadyExistsException => false }
          }
      } finally java.nio.file.Files.deleteIfExists(tmp)
    case _ =>
      val tmp = new Path(dst.getParent, s".tmp-${UUID.randomUUID()}")
      val out =
        if (ownerOnly)
          FileSystem.create(fs, tmp,
            new org.apache.hadoop.fs.permission.FsPermission("600"))
        else fs.create(tmp, true)
      try {
        out.write(payload)
        out.hsync() // durable before the rename makes it the commit record
      } finally out.close()
      val renamed =
        try fs.rename(tmp, dst)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      if (!renamed) {
        fs.delete(tmp, false)
        if (!fs.exists(dst))
          throw new java.io.IOException(
            s"claim rename to $dst failed although the slot is unoccupied " +
            "— not a CAS collision; check permissions/quota/parent directory")
      }
      renamed
  }

  /** Memoized per-directory probe: does this mount support link(2)?
    * Creates a scratch file and hard-links it; only a link-specific
    * failure marks the mount link-less. Probe infrastructure failures
    * (cannot even create the scratch file) report "supported" so the
    * ORIGINAL error propagates instead of taking the fallback. */
  private val linkProbe = new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, java.lang.Boolean]()
  private def linkSupported(dir: java.nio.file.Path): Boolean =
    linkProbe.computeIfAbsent(dir, d => {
      try {
        val a = java.nio.file.Files.createTempFile(d, ".linkprobe-", "")
        val b = d.resolve(s".linkprobe-${UUID.randomUUID()}")
        try {
          try { java.nio.file.Files.createLink(b, a); java.lang.Boolean.TRUE }
          catch {
            case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
              java.lang.Boolean.FALSE
          }
        } finally {
          java.nio.file.Files.deleteIfExists(b)
          java.nio.file.Files.deleteIfExists(a)
        }
      } catch { case _: java.io.IOException => java.lang.Boolean.TRUE }
    })

  /** Publish `payload` at `dst`, REPLACING any existing file: stage to
    * a temp name, then a single-step overwrite rename where the
    * filesystem offers one (FileContext OVERWRITE — no window with the
    * destination absent), falling back to delete+rename on schemes
    * with no AbstractFileSystem binding (stock s3a/gs/abfs configs —
    * there the brief no-destination window is the documented cost of
    * the fallback, strictly no worse than the pre-helper behavior).
    * For last-wins pointer/manifest files; commit RECORDS use
    * [[tryClaim]] (create-if-absent), never this. */
  def publishOverwrite(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
                       dst: Path, payload: Array[Byte]): Unit = {
    val tmp = new Path(dst.getParent, s".tmp-${dst.getName}-${UUID.randomUUID()}")
    val os = fs.create(tmp, true)
    try os.write(payload) finally os.close()
    renameOverwrite(fs, conf, tmp, dst)
  }

  /** The well-known fallback name [[renameOverwrite]] retires the old
    * destination to on schemes without a single-step overwrite rename:
    * a reader that finds `dst` absent (the fallback's brief window, or
    * a crash inside it) may read `dst.getName + PrevSuffix` — the last
    * successfully-published value — instead of concluding "nothing was
    * ever published". */
  val PrevSuffix = ".prev"

  /** Rename `src` onto `dst`, REPLACING any existing file: a
    * single-step overwrite rename where the filesystem offers one
    * (FileContext OVERWRITE — no window with the destination absent).
    * On schemes with no AbstractFileSystem binding (stock s3a/gs/abfs
    * configs) the fallback first RETIRES the old destination to the
    * well-known `<name>.prev` instead of deleting it, so a crash
    * between the two renames strands consumers with a readable
    * previous value rather than with nothing (round-12 advice: the
    * old delete+rename fallback left the export-manifest consumers —
    * contracted to read only the manifest — seeing 'no export' while
    * every data file of the old layout sat intact next to them). */
  def renameOverwrite(fs: FileSystem, conf: org.apache.hadoop.conf.Configuration,
                      src: Path, dst: Path): Unit =
    try
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
        .rename(src, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        val prev = new Path(dst.getParent, dst.getName + PrevSuffix)
        try {
          fs.delete(prev, false)
          if (!fs.rename(dst, prev)) fs.delete(dst, false)
        } catch {
          // retiring to .prev is best-effort availability, never a
          // reason to fail the publish itself
          case _: java.io.IOException => fs.delete(dst, false)
        }
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"renameOverwrite: rename $src -> $dst failed")
    }

  private def restrict(p: java.nio.file.Path): Unit =
    try java.nio.file.Files.setPosixFilePermissions(p, java.util.EnumSet.of(
      java.nio.file.attribute.PosixFilePermission.OWNER_READ,
      java.nio.file.attribute.PosixFilePermission.OWNER_WRITE))
    catch { case _: UnsupportedOperationException => () } // non-POSIX FS
}
