package graft.storage

import java.net.URI
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import graft.SparkSuite
import graft.engine.QueryEngine
import graft.model.LogSchema

/** The local filesystem under the `countfs` scheme, recording each
  * metadata call and open with its path (every `exists` is one
  * `getFileStatus`). */
final class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def getFileStatus(p: Path): FileStatus = {
    CountingLocalFs.calls.add(("stat", p.toUri.getPath)); super.getFileStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.calls.add(("open", p.toUri.getPath)); super.open(p, bufferSize)
  }
}

object CountingLocalFs {
  val calls = new ConcurrentLinkedQueue[(String, String)]()
}

/** A read is a plan over a row-less [[ManifestRelation]] leaf, and the
  * optimizer turns it into only the rows the query can return: the time
  * bounds of a filter select the files, the files that fit the budget are
  * decoded on the driver, the rest are scanned. These specs pin the
  * shapes that must return the same rows as a plain Parquet read, and
  * the costs: jobs started and files touched. */
class FoldedReadSpec extends SparkSuite {
  import LocalAppendSpec.rowsIn
  import LocalReadSpec.{multiset, plainRead}

  private val t0 = Instant.parse("2024-03-01T00:00:00Z")

  /** Batch `i`: `n` rows inside hour `i` after [[t0]], so each append is
    * one hot file covering its own time slice. */
  private def hourBatch(i: Int, n: Int = 40): DataFrame =
    spark.createDataFrame((0 until n).map(k => Row(Timestamp.from(t0.plusSeconds(i * 3600L + k * 60L)),
      Seq("INFO", "WARN", "ERROR")(k % 3), s"h$i-m$k")).asJava, LogSchema.fileSchema)

  private def hour(i: Int): Instant = t0.plusSeconds(i * 3600L)

  private def plainTier(root: String, log: ManifestLog): LogTier = LocalReadSpec.plainTier(spark, root, log)

  private def decodedBytes(log: ManifestLog, c: String, s: String): Long =
    log.read(c, s).queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.iterator.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
        .getSizeInBytes + 64L).sum
      case other => fail(s"not decoded on the driver: ${other.nodeName}")
    }

  test("a GET whose range fits the budget starts no job on a session whose whole is over it") {
    val root = tempDir("folded")
    val log = new ManifestLog(spark, root)
    (0 until 8).foreach(i => log.append(hourBatch(i), "c", "s"))
    val whole = decodedBytes(log, "c", "s")
    log.driverReadBytes = whole * 3 / 8 // two of the eight files fit, three do not
    val engine = new QueryEngine(log)
    def get(lo: Instant, hi: Instant) = engine.readLogs("c", "s", Some(lo), Some(hi)).limit(101)
    val narrow = get(hour(3).plusSeconds(600), hour(4).plusSeconds(300))
    narrow.queryExecution.optimizedPlan match {
      case l: LocalRelation => assert(l.data.size === 36, "only the answer rows are decoded into the plan")
      case other => fail(s"a fitting range was not folded into driver rows: ${other.nodeName}")
    }
    val (rows, jobs) = jobsDuring(get(hour(3).plusSeconds(600), hour(4).plusSeconds(300)).collect())
    assert(jobs === 0, "a GET whose range fits the budget started a Spark job")
    assert(rows.length === 36) // minutes 10..39 of hour 3 and 0..5 of hour 4
    // the same GET over the whole session scans, and agrees
    val (all, scanJobs) = jobsDuring(get(hour(0), hour(8)).collect())
    assert(scanJobs >= 1, "a range over the budget must keep the file scan")
    assert(all.length === 101)
    assert(multiset(engine.readLogs("c", "s", Some(hour(0)), Some(hour(8)))) ===
      multiset(new QueryEngine(plainTier(root, log)).readLogs("c", "s", Some(hour(0)), Some(hour(8)))))
  }

  test("a narrow range opens only the files it overlaps; a warm GET and a flush touch no other data file") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val dir = tempDir("folded-count")
    val log = new ManifestLog(spark, s"countfs://$dir")
    (0 until 6).foreach(i => log.append(hourBatch(i), "c", "s"))
    val files = log.dataEntries("c", "s").map(e => s"$dir/$e")
    def dataCalls[T](body: => T): (T, Seq[(String, String)]) = {
      CountingLocalFs.calls.clear()
      val out = body
      (out, CountingLocalFs.calls.asScala.toSeq.filter { case (_, p) => p.startsWith(dir) && p.endsWith(".parquet") })
    }
    val engine = new QueryEngine(log)
    // the GET's storage calls: the stats stage, then the capped read
    val (rows, calls) = dataCalls {
      log.tierStats("c", "s")
      engine.readLogs("c", "s", Some(hour(2).plusSeconds(120)), Some(hour(2).plusSeconds(600))).limit(101).collect()
    }
    assert(rows.length === 9)
    assert(calls.exists(_ == ("open", files(2))), s"the overlapping file was never opened: $calls")
    assert(calls.forall(_._2 == files(2)), s"files outside the range were touched: $calls")
    // a flush: the append and the rotation check touch no earlier data file
    val (_, flush) = dataCalls { log.append(hourBatch(6), "c", "s"); log.hotBytes("c", "s") }
    assert(flush.forall { case (_, p) => !files.contains(p) }, s"a flush touched earlier data files: $flush")
    // a range outside every file touches none, and answers nothing
    val (none, outside) = dataCalls(engine.readLogs("c", "s", Some(hour(20)), Some(hour(21))).collect())
    assert(none.isEmpty && outside.isEmpty, s"$outside")
  }

  test("the leaf under a self-join, a union, count, toLocalIterator, readAt and a scalar subquery") {
    val root = tempDir("folded-shapes")
    val log = new ManifestLog(spark, root)
    (0 until 3).foreach(i => log.append(hourBatch(i, 12), "c", "a"))
    log.compact("c", "a")
    log.append(hourBatch(3, 12), "c", "a")
    log.append(spark.createDataFrame(rowsIn.asJava, LogSchema.fileSchema), "c", "b")
    val ref = plainTier(root, log)
    for (budget <- Seq(ManifestLog.DriverReadBytes, 0L)) {
      log.driverReadBytes = budget
      val (viaLog, viaRef) = (new QueryEngine(log), new QueryEngine(ref))
      val at = s"budget $budget"
      // self-join on one read
      def selfJoin(t: LogTier) = {
        val d = t.read("c", "a")
        d.alias("x").join(d.alias("y"), col("x.level") === col("y.level"))
          .filter(col("x.timestamp") >= lit(Timestamp.from(hour(1))))
          .select(col("x.message"), col("y.message"))
      }
      assert(multiset(selfJoin(log)) === multiset(selfJoin(ref)), s"$at: self-join")
      // the log_store_roundtrip shape: time-bounded reads of several sessions, unioned
      def union(e: QueryEngine) = Seq("a", "b").map(s =>
        e.readLogs("c", s, Some(Instant.parse("1800-01-01T00:00:00Z")), Some(hour(2).plusSeconds(300))))
        .reduce(_ unionAll _)
      assert(multiset(union(viaLog)) === multiset(union(viaRef)), s"$at: union")
      for (s <- Seq("a", "b")) {
        assert(viaLog.count("c", s) === viaRef.count("c", s), s"$at: count $s")
        assert(viaLog.count("c", s, Some(hour(1)), Some(hour(2))) === viaRef.count("c", s, Some(hour(1)), Some(hour(2))),
          s"$at: ranged count $s")
        // stream=true is toLocalIterator, with and without a range
        for ((lo, hi) <- Seq((None, None), (Some(hour(1).plusSeconds(60)), Some(hour(3)))))
          assert(viaLog.stream("c", s, lo, hi).flatten.map(_.toString).toSeq.sorted ===
            viaRef.stream("c", s, lo, hi).flatten.map(_.toString).toSeq.sorted, s"$at: stream $s $lo")
      }
      // a pinned version: two of the three first appends
      val v2 = log.chain("c", "a").read(2L).get
      assert(multiset(log.readAt("c", "a", 2L).filter(col("timestamp") >= lit(Timestamp.from(hour(1))))) ===
        multiset(plainRead(spark, root, v2, "c", "a").filter(col("timestamp") >= lit(Timestamp.from(hour(1))))), s"$at: readAt")
      // a scalar subquery over the leaf
      val tag = if (budget > 0) "driver" else "scan"
      log.read("c", "a").createOrReplaceTempView(s"folded_log_$tag")
      ref.read("c", "a").createOrReplaceTempView(s"folded_ref_$tag")
      def latest(v: String) = spark.sql(s"SELECT * FROM $v WHERE timestamp = " +
        s"(SELECT max(timestamp) FROM $v WHERE timestamp < TIMESTAMP '2024-03-01 02:30:00')")
      val got = multiset(latest(s"folded_log_$tag"))
      assert(got.size === 1 && got === multiset(latest(s"folded_ref_$tag")), s"$at: scalar subquery")
    }
  }

  test("the read caches never hold decoded rows, whatever the reads decoded") {
    val log = new ManifestLog(spark, tempDir("folded-cache"))
    (0 until 4).foreach { i => log.append(hourBatch(i), "c", "small"); log.append(hourBatch(i), "c", "big") }
    val engine = new QueryEngine(log)
    def reads(): Unit = for (s <- Seq("small", "big"); i <- 0 until 4) {
      engine.readLogs("c", s, Some(hour(i)), Some(hour(i).plusSeconds(900))).limit(11).collect()
      engine.readLogs("c", s).collect()
      log.read("c", s).collect()
      log.readAt("c", s, 2L).collect()
      log.readAt("c", s, 2L).filter(col("timestamp") <= lit(Timestamp.from(hour(0).plusSeconds(300)))).collect()
    }
    reads()
    assert(log.cachedPlans.isEmpty, "a read under the budget was kept")
    log.driverReadBytes = decodedBytes(log, "c", "small") / 3 // a file fits, no whole read does
    reads()
    val plans = log.cachedPlans
    assert(plans.size === 4, "the whole reads over the budget (current and v2 of both sessions) are kept")
    plans.foreach { p =>
      assert(GraftShim.analyzed(p).isInstanceOf[ManifestRelation])
      assert(p.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.isEmpty,
        s"a kept read holds decoded rows:\n${p.queryExecution.optimizedPlan}")
    }
  }
}
