package graft.engine

import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSuite
import graft.model.LogSchema
import graft.storage.ManifestLog

/** SURVEY §5.3 property tests (ScalaCheck):
  *
  *  1. engine result ≡ brute-force in-memory filter for random inclusive
  *     time ranges and conjunctive level filters;
  *  2. a random interleaving of appends and compactions preserves the
  *     row multiset exactly once — the generative form of the reference's
  *     restart double-count bug (writer.py:181-231).
  *
  * One store is seeded per property (Spark jobs are the cost), then the
  * property quantifies over the cheap dimension (filters / op schedules).
  */
class PropertySpec extends SparkSuite {

  private val base = Instant.parse("2024-01-01T00:00:00Z")
  private val levels = Seq("INFO", "WARN", "ERROR", "DEBUG")

  private def check(prop: Prop, trials: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(trials), prop)
    assert(res.passed, res.status.toString)
  }

  test("inclusive time-range + conjunction filters match the brute-force model") {
    val rnd = new scala.util.Random(7)
    val model = (1 to 60).map { i =>
      (base.plusSeconds(rnd.nextInt(30 * 24 * 3600).toLong), levels(rnd.nextInt(levels.length)), s"m$i")
    }
    val store = new ManifestLog(spark, tempDir("prop"))
    val (a, b) = model.splitAt(30)
    store.append(toDf(a), "c", "s"); store.compact("c", "s") // half cold
    store.append(toDf(b), "c", "s") // half hot
    val engine = new QueryEngine(store)

    val genInstant = Gen.choose(0L, 30L * 24 * 3600).map(base.plusSeconds)
    val genRange = for {
      s <- Gen.option(genInstant); e <- Gen.option(genInstant)
      lvl <- Gen.option(Gen.oneOf(levels))
    } yield (s, e, lvl)

    check(Prop.forAll(genRange) { case (start, end, lvl) =>
      val expected = model.count { case (ts, level, _) =>
        start.forall(s => !ts.isBefore(s)) && // inclusive both ends
        end.forall(e => !ts.isAfter(e)) &&
        lvl.forall(_ == level)
      }
      val got = engine.count("c", "s", start, end,
        lvl.map(l => ("level", "==", l: Any)).toSeq)
      got == expected.toLong
    }, trials = 30)
  }

  // run once per compaction stager: the driver one these tiny sessions
  // take at the default budget, and the Spark one (`driverReadBytes = 0`)
  for ((suffix, budget) <- Seq("" -> None, " (Spark stager: driverReadBytes = 0)" -> Some(0L)))
  test("random append/compact interleavings preserve the multiset exactly once" + suffix) {
    // op schedule: for each step, append k rows then maybe compact
    val genSchedule = Gen.listOfN(5, for {
      k <- Gen.choose(1, 6); doCompact <- Gen.oneOf(true, false)
    } yield (k, doCompact))

    var caseNo = 0
    check(Prop.forAll(genSchedule) { schedule =>
      caseNo += 1
      val store = new ManifestLog(spark, tempDir("propsched"), targetFileBytes = 2048)
      budget.foreach(store.driverReadBytes = _)
      var expected = Vector.empty[String]
      var n = 0
      schedule.foreach { case (k, doCompact) =>
        val rows = (1 to k).map { _ => n += 1; (base.plusSeconds(n.toLong), "INFO", s"c$caseNo-r$n") }
        expected ++= rows.map(_._3)
        store.append(toDf(rows), "c", "s")
        if (doCompact) store.compact("c", "s")
      }
      val got = store.read("c", "s").collect().map(_.getString(2)).sorted.toVector
      got == expected.sorted
    }, trials = 8) // each trial runs real Spark jobs — keep the sample tight
  }

  private def toDf(rows: Seq[(Instant, String, String)]) =
    spark.createDataFrame(
      rows.map { case (ts, l, m) => Row(Timestamp.from(ts), l, m) }.asJava,
      LogSchema.fileSchema)
}
