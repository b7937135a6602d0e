package graft.ingest

import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, OffsetDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.model.LogSchema

/** JSON ingest validation — the Spark counterpart of the reference's
  * `create_record_batch` (writer.py:23-93): a `{"logs": [...]}` body is
  * validated shape-first (list of objects, required keys), then the
  * timestamp strings are cast to timestamp(µs, UTC) — ISO-8601 with a
  * `Z` suffix, an explicit offset, or a naive datetime (interpreted as
  * UTC, Arrow's cast semantics) all parse; anything else fails the whole
  * batch with first-row diagnostics (writer.py:81-93) that the API layer
  * maps to HTTP 400 (main.py:339-343).
  *
  * Validation failures throw [[IngestValidationException]]; the batch is
  * all-or-nothing, like the reference's vectorized Arrow cast.
  */
object JsonIngest {

  final class IngestValidationException(msg: String) extends IllegalArgumentException(msg)

  private def fail(msg: String): Nothing = throw new IngestValidationException(msg)

  private val Required = Seq("timestamp", "level", "message")

  /** Validate the decoded `logs` value and build typed rows
    * (timestamp, level, message) for [[graft.storage.LogTier.append]]. */
  def toRows(logs: JsonNode): Seq[Row] = {
    if (logs == null || logs.isNull) fail("Empty logs array")
    if (!logs.isArray) fail("\"logs\" must be an array")
    if (logs.isEmpty) fail("\"logs\" array cannot be empty")
    val entries = logs.elements().asScala.toSeq
    if (!entries.forall(_.isObject)) fail("All log entries must be dictionaries")
    for (f <- Required; e <- entries if !e.has(f))
      fail(s"Missing required field '$f' in at least one log entry")
    entries.zipWithIndex.map { case (e, i) =>
      try {
        Row(Timestamp.from(parseTimestamp(e.get("timestamp"))),
            textOf(e.get("level"), "level"),
            textOf(e.get("message"), "message"))
      } catch {
        case ex: IngestValidationException =>
          // First-bad-row diagnostics, like writer.py:81-93.
          val first = entries.head
          fail(s"Validation failed: ${ex.getMessage}\n" +
            "Sample data (first log entry):\n" +
            s"  timestamp: ${first.get("timestamp")}\n" +
            s"  level: ${first.get("level")}\n" +
            s"  message: ${first.get("message")}\n" +
            s"  failing entry index: $i")
      }
    }
  }

  private def textOf(n: JsonNode, field: String): String =
    if (n.isTextual) n.asText()
    else fail(s"'$field' must be a string, got: $n")

  /** ISO-8601 → Instant. Accepts `Z`, explicit offsets, or naive
    * datetimes (assumed UTC); `T` or space separator; optional fractional
    * seconds. Integers are epoch microseconds (Arrow's int64→timestamp
    * cast reinterprets, writer.py:64-67 inherits that). */
  private[ingest] def parseTimestamp(n: JsonNode): Instant = {
    if (n.isIntegralNumber) {
      val us = n.asLong()
      return Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    }
    if (!n.isTextual) fail(s"timestamp must be an ISO-8601 string, got: $n")
    val raw = n.asText()
    try parseIsoFlexible(raw)
    catch { case _: IllegalArgumentException =>
      fail(s"Invalid ISO-8601 timestamp: '$raw'")
    }
  }

  /** Flexible ISO-8601 string → Instant — the ONE parser shared by the
    * ingest path and the query-param path (round-7 review: two
    * near-identical private copies meant a format the ingest accepted
    * could be unqueryable in `start_ts`). Python `fromisoformat`
    * semantics (main.py:243-247): `T` or space separator, `Z`/explicit
    * offsets, naive datetimes as UTC, and bare dates as midnight UTC.
    * Throws IllegalArgumentException otherwise. */
  private[graft] def parseIsoFlexible(raw: String): Instant = {
    val s = if (raw.length > 10 && raw.charAt(10) == ' ') raw.updated(10, 'T') else raw
    try OffsetDateTime.parse(s).toInstant
    catch { case _: Exception =>
      try LocalDateTime.parse(s).toInstant(ZoneOffset.UTC)
      catch { case _: Exception =>
        try java.time.LocalDate.parse(s).atStartOfDay(ZoneOffset.UTC).toInstant
        catch { case _: Exception => throw new IllegalArgumentException(s"'$raw'") }
      }
    }
  }

  /** Rows → DataFrame in the store's file schema. */
  def toDataFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, LogSchema.fileSchema)
}
