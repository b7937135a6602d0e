package graft.engine

import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.SparkSuite
import graft.model.LogSchema
import graft.storage.ManifestLog

class QueryEngineSpec extends SparkSuite {

  private def seeded(): (ManifestLog, QueryEngine) = {
    val store = new ManifestLog(spark, tempDir("qe"))
    val rows = Seq(
      ("2024-01-01T00:00:00Z", "INFO", "start"),
      ("2024-01-01T06:00:00Z", "ERROR", "boom"),
      ("2024-01-01T12:00:00Z", "INFO", "mid"),
      ("2024-01-01T18:00:00Z", "WARN", "late"),
      ("2024-01-02T00:00:00Z", "INFO", "next-day"))
    store.append(spark.createDataFrame(
      rows.map { case (ts, l, m) => Row(Timestamp.from(Instant.parse(ts)), l, m) }.asJava,
      LogSchema.fileSchema), "c", "s")
    (store, new QueryEngine(store))
  }

  test("time-range bounds are BOTH inclusive (reader.py:457-473)") {
    val (_, eng) = seeded()
    val got = eng.readLogs("c", "s",
      start = Some(Instant.parse("2024-01-01T06:00:00Z")),
      end = Some(Instant.parse("2024-01-01T18:00:00Z")))
      .collect().map(_.getString(2)).sorted
    assert(got === Array("boom", "late", "mid")) // both endpoints included
  }

  test("open-ended ranges work (either bound optional)") {
    val (_, eng) = seeded()
    assert(eng.count("c", "s", start = Some(Instant.parse("2024-01-01T12:00:00Z"))) === 3)
    assert(eng.count("c", "s", end = Some(Instant.parse("2024-01-01T05:59:59Z"))) === 1)
  }

  test("conjunctive filters chain; all reference ops supported") {
    val (_, eng) = seeded()
    assert(eng.count("c", "s", filters = Seq(("level", "==", "INFO"))) === 3)
    assert(eng.count("c", "s", filters = Seq(("level", "!=", "INFO"))) === 2)
    assert(eng.count("c", "s",
      filters = Seq(("level", "==", "INFO"), ("message", ">", "mid"))) === 2)
  }

  test("'in' filter superset: set membership, still one conjunctive plan") {
    val (_, eng) = seeded()
    assert(eng.count("c", "s", filters = Seq(("level", "in", Seq("ERROR", "WARN")))) === 2)
    intercept[IllegalArgumentException] {
      eng.readLogs("c", "s", filters = Seq(("level", "in", "notaseq"))).count()
    }
  }

  test("unknown filter operator is REJECTED (SURVEY §7.4.4 deviation from silent skip)") {
    val (_, eng) = seeded()
    val e = intercept[IllegalArgumentException] {
      eng.readLogs("c", "s", filters = Seq(("level", "LIKE", "I%")))
    }
    assert(e.getMessage.contains("unsupported filter operator"))
  }

  test("projection prunes output columns (F5 superset; default stays SELECT *)") {
    val (_, eng) = seeded()
    val cols = eng.readLogs("c", "s", columns = Seq("timestamp", "message")).columns
    assert(cols === Array("timestamp", "message"))
    assert(eng.readLogs("c", "s").columns.length === 5)
  }

  test("summary.total_rows ignores filters by design; file stats from index (reader.py:227-231)") {
    val (store, eng) = seeded()
    store.compact("c", "s")
    store.append(spark.createDataFrame(
      Seq(Row(Timestamp.from(Instant.parse("2024-01-03T00:00:00Z")), "INFO", "hot")).asJava,
      LogSchema.fileSchema), "c", "s")
    val s = eng.summary("c", "s")
    assert(s.totalRows === 6)
    assert(s.archiveFiles >= 1 && s.bufferFiles === 1)
    assert(s.filesScanned === s.archiveFiles + s.bufferFiles)
    assert(s.totalSizeBytes > 0)
  }

  test("stream pages rows in batchSize chunks without full materialization") {
    val (_, eng) = seeded()
    val pages = eng.stream("c", "s", batchSize = 2).toSeq
    assert(pages.map(_.size).sum === 5)
    assert(pages.forall(_.size <= 2))
  }

  test("streamJson emits the reference's isoformat timestamps") {
    val (_, eng) = seeded()
    val jsons = eng.streamJson("c", "s",
      start = Some(Instant.parse("2024-01-02T00:00:00Z"))).toSeq
    assert(jsons.size === 1)
    assert(jsons.head.contains("\"timestamp\":\"2024-01-02T00:00:00+00:00\""))
    assert(jsons.head.contains("\"container\":\"c\""))
  }

  test("putRow renders a batch body byte-identical to re-parsing each rowToJson") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = Seq(
      Row(Timestamp.from(Instant.parse("2024-01-02T00:00:00.000001Z")), "INFO",
        "quote \" backslash \\ tab \t newline \n nul \u0000 é ✓ 😀", "c", "s"),
      Row(Timestamp.from(Instant.parse("1970-01-01T00:00:00Z")), "", "</script>", "c-1", "s_2"))
    val direct = mapper.createArrayNode()
    rows.foreach(r => QueryEngine.putRow(direct.addObject(), r))
    val roundTrip = mapper.createArrayNode()
    rows.foreach(r => roundTrip.add(mapper.readTree(QueryEngine.rowToJson(r))))
    assert(mapper.writeValueAsString(direct) === mapper.writeValueAsString(roundTrip))
  }

  test("formatIso matches Python isoformat: fraction only when non-zero") {
    assert(LogSchema.formatIso(Instant.parse("2024-01-02T00:00:00Z")) === "2024-01-02T00:00:00+00:00")
    assert(LogSchema.formatIso(Instant.parse("2024-01-02T00:00:00.123456Z")) === "2024-01-02T00:00:00.123456+00:00")
    assert(LogSchema.formatIso(Instant.parse("2024-01-02T00:00:00.000001Z")) === "2024-01-02T00:00:00.000001+00:00")
  }

  test("parseIso and isValidId cover the reference's edge semantics") {
    assert(LogSchema.parseIso("2024-01-02T03:04:05Z") === Instant.parse("2024-01-02T03:04:05Z"))
    assert(LogSchema.parseIso("2024-01-02T03:04:05+00:00") === Instant.parse("2024-01-02T03:04:05Z"))
    assert(LogSchema.isValidId("abc-123_X"))
    assert(!LogSchema.isValidId("") && !LogSchema.isValidId(null) &&
           !LogSchema.isValidId("a/b") && !LogSchema.isValidId("a b") &&
           !LogSchema.isValidId("abc\n"))
  }
}
