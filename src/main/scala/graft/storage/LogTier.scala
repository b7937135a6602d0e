package graft.storage

import org.apache.spark.sql.DataFrame

/** The storage surface [[graft.engine.QueryEngine]], the HTTP service
  * and the [[graft.engine.Compactor]] talk to. [[ManifestLog]] is the
  * store; the trait is the seam a decorator (tracing, fault injection)
  * wraps without the callers changing.
  *
  * Visibility contract: the file set a query scans stays live for the
  * duration of the action. [[withReadSnapshot]] wraps every
  * materializing action; on [[ManifestLog]] it is a no-op, because a
  * resolved manifest names immutable files that only grace-window GC
  * deletes. */
trait LogTier {

  /** The session's rows (bag semantics, duplicates preserved). */
  def read(container: String, session: String): DataFrame

  /** Append a batch (timestamp, level, message); returns published
    * bytes. Ack point per the reference contract: durable, not
    * necessarily archived. */
  def append(df: DataFrame, container: String, session: String): Long

  /** (cold files, cold bytes, hot files, hot bytes) from the file
    * index — the A4-A6 summary surface; never a data scan. */
  def tierStats(container: String, session: String): (Long, Long, Long, Long)

  /** Every (container, session) present in storage — the maintenance
    * loop's work list. */
  def sessions(): Seq[(String, String)]

  /** Hot-tier byte size from the file index (the rotation trigger's
    * input; default derives from [[tierStats]]). */
  def hotBytes(container: String, session: String): Long =
    tierStats(container, session)._4

  /** Rewrite the session's hot tier into sized cold files with
    * exactly-once visibility; returns retired hot bytes. */
  def compact(container: String, session: String): Long

  /** Run a materializing action with the session's visible file set
    * guaranteed live. Default: no-op (snapshot-isolated stores). */
  def withReadSnapshot[T](container: String, session: String)(f: => T): T = f

  /** Tier stats and unfiltered row count from ONE consistent view of
    * the session — the summary endpoint's contract: two independent
    * reads could mix file counts and row totals from different
    * snapshots. */
  def statsAndRows(container: String, session: String): ((Long, Long, Long, Long), Long)
}

/** Listing rule for staged and published data files: recursive
  * descent, hidden (`_`/`.`) names skipped, parquet files only,
  * vanished directories treated as empty. */
private[graft] object StoreFiles {
  def walkParquet(fs: org.apache.hadoop.fs.FileSystem,
                  dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    def go(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      try fs.listStatus(d).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else if (st.isDirectory) go(st.getPath)
        else if (name.endsWith(".parquet")) Seq(st)
        else Seq.empty
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    if (!fs.exists(dir)) Seq.empty else go(dir)
  }
}
