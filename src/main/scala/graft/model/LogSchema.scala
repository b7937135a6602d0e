package graft.model

import java.time.Instant
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.types._

/** The engine's one fixed data-plane schema — the Spark equivalent of the
  * reference's LOG_SCHEMA (reference schema.py:4-10): timestamp(µs, UTC),
  * level, message, plus the denormalized namespace columns container and
  * session (reference writer.py:72-74). In the store layout container and
  * session are directory partition columns, recovered free on read.
  */
object LogSchema {

  val dataFields: Seq[StructField] = Seq(
    StructField("timestamp", TimestampType, nullable = false),
    StructField("level", StringType, nullable = false),
    StructField("message", StringType, nullable = false))

  /** Full 5-column schema as seen by queries. */
  val schema: StructType = StructType(dataFields ++ Seq(
    StructField("container", StringType, nullable = false),
    StructField("session", StringType, nullable = false)))

  /** Partition-file schema: what's physically inside a parquet file
    * (container/session live in the directory names). */
  val fileSchema: StructType = StructType(dataFields)

  /** container/session IDs: alphanumeric plus - and _
    * (reference main.py:110,165), matched against the WHOLE id, so a
    * trailing newline is invalid too. */
  private val IdRe = "[A-Za-z0-9_-]+".r
  def isValidId(id: String): Boolean = id != null && IdRe.matches(id)

  /** ISO-8601 parse accepting a Z suffix or an explicit offset (reference
    * writer.py:64-67 via Arrow's string→timestamp cast; main.py:243-247
    * rewrites Z→+00:00 — JDK 17's ISO_INSTANT handles both directly). */
  def parseIso(s: String): Instant = Instant.parse(s)

  /** ISO output with explicit `+00:00` offset, matching the reference's
    * Python `isoformat()` emission exactly (reader.py:139-141,
    * README.md:212): fractional seconds appear only when non-zero, and
    * then always as 6 digits. */
  private val secFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  def formatIso(i: Instant): String = {
    val micros = i.getNano / 1000
    val frac = if (micros == 0) "" else f".$micros%06d"
    s"${secFmt.format(i)}$frac+00:00"
  }
}
