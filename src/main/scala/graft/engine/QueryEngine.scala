package graft.engine

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.storage.LogTier

/** Reference-parity read path (SURVEY §2.2, §2.4, §3 entry point 1).
  *
  * Filters are conjunctive (col, op, value) triples — the reference's
  * entire predicate algebra (reader.py:30-59). Deviation (SURVEY §7.4.4):
  * unknown operators are REJECTED, not silently skipped. Time-range
  * bounds are both inclusive (reader.py:457-473). The store's read is
  * a plan over its files, not their rows; while planning, the time
  * bounds pick the files they overlap, and when those fit the store's
  * driver-read budget they are decoded into a `LocalRelation` of the
  * rows inside the bounds. The optimizer applies the remaining
  * predicates, projection and any limit to those rows, and `collect()`
  * starts no Spark job. Only over that budget do the predicates reach a
  * Parquet scan of those files, where Catalyst pushes them into
  * row-group stats.
  */
final class QueryEngine(store: LogTier) {

  /** Supported pushdown operators (reader.py:39-59), plus `in` as a
    * strict superset (still pushdown-friendly: Catalyst emits an In
    * filter the parquet reader evaluates against dictionaries/stats). */
  private val ops: Map[String, (Column, Any) => Column] = Map(
    "==" -> ((c, v) => c === v), "=" -> ((c, v) => c === v),
    "!=" -> ((c, v) => c =!= v),
    ">=" -> ((c, v) => c >= v), "<=" -> ((c, v) => c <= v),
    ">"  -> ((c, v) => c > v),  "<"  -> ((c, v) => c < v),
    "in" -> ((c, v) => v match {
      case vs: Seq[_] => c.isin(vs.map {
        case i: Instant => java.sql.Timestamp.from(i)
        case other => other
      }: _*)
      case other => throw new IllegalArgumentException(
        s"'in' requires a Seq of values, got: $other")
    }))

  private def toCol(f: (String, String, Any)): Column = f match {
    case (name, op, v) =>
      val fn = ops.getOrElse(op,
        throw new IllegalArgumentException(s"unsupported filter operator: $op"))
      val value = v match {
        case i: Instant => java.sql.Timestamp.from(i)
        case other => other
      }
      fn(col(name), value)
  }

  /** Filtered read over both tiers; AND-only conjunction. `columns`
    * projects the output (F5 — the reference always returns all five
    * columns, reader.py:134-142; projection is the strict superset, and
    * over the driver-read budget Catalyst prunes the parquet scan down
    * to exactly what's named). */
  def readLogs(container: String, session: String,
               start: Option[Instant] = None, end: Option[Instant] = None,
               filters: Seq[(String, String, Any)] = Seq.empty,
               columns: Seq[String] = Seq.empty): DataFrame = {
    val base = store.read(container, session)
    val timeFilters =
      start.map(ts => col("timestamp") >= java.sql.Timestamp.from(ts)).toSeq ++
      end.map(ts => col("timestamp") <= java.sql.Timestamp.from(ts)).toSeq
    val predicates = timeFilters ++ filters.map(toCol)
    val filtered = predicates.foldLeft(base)(_ filter _)
    if (columns.isEmpty) filtered else filtered.select(columns.map(col): _*)
  }

  /** Batched streaming read (S3/S5, §2.5 pagination): rows arrive
    * partition-at-a-time on the driver via `toLocalIterator` — the
    * Spark counterpart of the reference's `scanner.to_batches(
    * batch_size=1000)` generator pipeline (reader.py:148-179, 512-528) —
    * then regrouped into fixed-size pages. Nothing is fully
    * materialized driver-side: memory is one partition + one page. */
  def stream(container: String, session: String,
             start: Option[Instant] = None, end: Option[Instant] = None,
             filters: Seq[(String, String, Any)] = Seq.empty,
             batchSize: Int = 1000): Iterator[Seq[org.apache.spark.sql.Row]] = {
    import scala.jdk.CollectionConverters._
    readLogs(container, session, start, end, filters)
      .toLocalIterator().asScala.grouped(batchSize)
  }

  /** Streamed JSON emission (S9, reader.py:530-546): each element is one
    * JSON-encoded log row, timestamp in the reference's isoformat.
    * Maps directly over `toLocalIterator` — routing through the paged
    * [[stream]] only to flatten it again added a 1000-row buffering
    * layer that made each hasNext refill a whole page (and made the
    * page size a parameter with no observable effect). */
  def streamJson(container: String, session: String,
                 start: Option[Instant] = None, end: Option[Instant] = None): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    readLogs(container, session, start, end)
      .toLocalIterator().asScala.map(QueryEngine.rowToJson)
  }

  /** Filtered count (A1-A3: reader.py:181-206, 348-386, 548-558). */
  def count(container: String, session: String,
            start: Option[Instant] = None, end: Option[Instant] = None,
            filters: Seq[(String, String, Any)] = Seq.empty): Long =
    store.withReadSnapshot(container, session) {
      readLogs(container, session, start, end, filters).count()
    }

  /** Summary (A4-A6): total_rows is UNFILTERED by design — the
    * reference's get_summary scans with no filter (reader.py:227-231) —
    * while file/byte counts come from the file index, not a scan.
    * Stats and rows derive from ONE consistent storage view
    * ([[graft.storage.LogTier.statsAndRows]]: one manifest resolve). */
  def summary(container: String, session: String): LogSummary = {
    val ((coldFiles, coldBytes, hotFiles, hotBytes), totalRows) =
      store.statsAndRows(container, session)
    LogSummary(
      filesScanned = coldFiles + hotFiles,
      totalRows = totalRows,
      totalSizeBytes = coldBytes + hotBytes,
      archiveFiles = coldFiles,
      bufferFiles = hotFiles)
  }
}


object QueryEngine {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.databind.node.ObjectNode
  private val mapper = new ObjectMapper()

  /** Fills `node` with one log row in the reference's response-log
    * JSON object shape: 5 keys, timestamp in Python-isoformat with
    * +00:00 offset (reader.py:139-141, README.md:205-215). */
  def putRow(node: ObjectNode, r: org.apache.spark.sql.Row): ObjectNode = {
    node.put("timestamp", graft.model.LogSchema.formatIso(r.getTimestamp(0).toInstant))
    node.put("level", r.getString(1))
    node.put("message", r.getString(2))
    node.put("container", r.getString(3))
    node.put("session", r.getString(4))
  }

  /** One log row → its [[putRow]] object, serialized. */
  def rowToJson(r: org.apache.spark.sql.Row): String =
    mapper.writeValueAsString(putRow(mapper.createObjectNode(), r))
}

final case class LogSummary(filesScanned: Long, totalRows: Long,
                            totalSizeBytes: Long, archiveFiles: Long,
                            bufferFiles: Long)
