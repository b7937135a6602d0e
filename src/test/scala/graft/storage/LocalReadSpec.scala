package graft.storage

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import graft.SparkSuite
import graft.api.LogServer
import graft.engine.QueryEngine
import graft.model.LogSchema

/** A read whose files decode to at most `ManifestLog.DriverReadBytes`
  * is served from rows decoded on the driver (a `LocalRelation`, no
  * Spark job), a filtered read from the files its time bounds overlap;
  * a larger one, or any read of a store whose `driverReadBytes` seam is
  * 0, keeps the file-scan plan. Compaction takes the same budget. Every
  * path must serve the rows a plain Parquet read of the same files
  * does. */
class LocalReadSpec extends SparkSuite {
  import LocalAppendSpec.{rowsIn, writeConfs, writerSession}
  import LocalReadSpec.{multiset, plainTier}

  private val Gate = ManifestLog.DriverReadBytes
  private val Levels = Seq("INFO", "WARN", "ERROR", "DEBUG")

  /** A store on `s` whose driver path takes at most `budget` decoded bytes. */
  private def store(s: SparkSession, root: String, budget: Long,
                    targetFileBytes: Long = 128L * 1024 * 1024): ManifestLog = {
    val log = new ManifestLog(s, root, targetFileBytes)
    log.driverReadBytes = budget
    log
  }

  /** Whether the optimizer turns `df` into driver-decoded rows. */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Instants the random rows draw from: the fixture's (a pre-1900 one,
    * micros, 2038) plus a few seconds apart, so rows tie and time
    * bounds land exactly on row timestamps. */
  private val instants: Seq[Instant] =
    rowsIn.map(_.getTimestamp(0).toInstant).distinct ++
      (0 until 6).map(i => Instant.parse("2024-03-01T00:00:00Z").plusSeconds(i * 7L).plusNanos(i * 1000L))

  /** `n` random rows on three adjacent instants, so each batch's file
    * covers its own time slice, plus the fixture rows if `fixture`. */
  private def randomRows(r: Random, n: Int, fixture: Boolean): Seq[Row] = {
    val sorted = instants.sorted
    val from = r.nextInt(sorted.size - 2)
    Seq.fill(n)(Row(Timestamp.from(sorted(from + r.nextInt(3))),
      Levels(r.nextInt(Levels.size)), s"m${r.nextInt(12)}")) ++ (if (fixture) rowsIn else Nil)
  }

  /** Writes session `shape` through `writer`, alternating driver-local
    * and derived (Spark-written) batches; the first carries the fixture
    * rows. */
  private def fill(writer: ManifestLog, ws: SparkSession, shape: String, r: Random): Unit = {
    var first = true
    def append(): Unit = {
      val rows = randomRows(r, 5 + r.nextInt(40), first)
      first = false
      val batch =
        if (r.nextBoolean()) ws.createDataFrame(rows.asJava, LogSchema.fileSchema)
        else ws.createDataFrame(ws.sparkContext.parallelize(rows, 2), LogSchema.fileSchema)
      writer.append(batch, "c", shape)
    }
    shape match {
      case "hot" => (1 to 3).foreach(_ => append())
      case "cold" => (1 to 3).foreach(_ => append()); assert(writer.compact("c", shape) > 0L)
      case "mixed" =>
        (1 to 2).foreach(_ => append()); assert(writer.compact("c", shape) > 0L)
        (1 to 2).foreach(_ => append())
      case "empty" => ()
    }
  }

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** A random `readLogs` request: inclusive bounds on row instants (one
    * in eight empty, one in eight outside every row), filters including
    * `in`, and a projection (empty = all columns). */
  private def randomQuery(r: Random)
      : (Option[Instant], Option[Instant], Seq[(String, String, Any)], Seq[String]) = {
    val sorted = instants.sorted
    val lo = r.nextInt(sorted.size)
    val (start, end) = r.nextInt(8) match {
      case 0 => (Some(sorted(lo)), Some(sorted(lo).minusNanos(1000))) // empty: end before start
      case 1 => (Some(Instant.parse("2100-01-01T00:00:00Z")), None) // after every row
      case _ =>
        (if (r.nextBoolean()) Some(sorted(lo)) else None,
         if (r.nextBoolean()) Some(sorted(lo + r.nextInt(sorted.size - lo))) else None)
    }
    val candidates: Seq[(String, String, Any)] = Seq(
      ("level", "==", pick(r, Levels)),
      ("level", "in", Seq(pick(r, Levels), pick(r, Levels))),
      ("message", "!=", s"m${r.nextInt(12)}"),
      ("timestamp", "in", Seq(pick(r, instants), pick(r, instants))),
      ("timestamp", ">", pick(r, instants)))
    val filters = candidates.filter(_ => r.nextInt(3) == 0)
    val columns = r.shuffle(LogSchema.schema.fieldNames.toSeq).take(r.nextInt(6))
    (start, end, filters, columns)
  }

  for ((label, tsType, codec, rebase) <- writeConfs; compactGate <- Seq(Gate, 0L)) {
    val compactPath = if (compactGate > 0) "driver" else "Spark"
    test(s"driver and Spark reads return the same rows: $label, $compactPath compaction") {
      val root = tempDir("local-read")
      val ws = writerSession(spark, tsType, codec, rebase)
      val writer = store(ws, root, compactGate)
      val r = new Random(tsType.hashCode * 31 + compactGate.toInt)
      val shapes = Seq("hot", "cold", "mixed", "empty")
      shapes.foreach(fill(writer, ws, _, r))
      val driverLog = store(spark, root, Gate)
      val sparkLog = store(spark, root, 0L)
      // about one file's rows: narrow ranges decode, wide ones scan
      val smallLog = store(spark, root, 2048L)
      // the writer knows its files' stats from writing them, the others
      // learn them from their first decode
      val engines = Seq("driver" -> new QueryEngine(driverLog), "small" -> new QueryEngine(smallLog),
        "writer" -> new QueryEngine(store(ws, root, Gate)))
      val plainRead = new QueryEngine(plainTier(spark, root, driverLog))
      for (shape <- shapes) {
        assert(isLocal(driverLog.read("c", shape)), s"$shape: under the gate, not a LocalRelation")
        assert(isLocal(sparkLog.read("c", shape)) === (shape == "empty"),
          s"$shape: a budget of 0 must keep the file scan")
        val all = multiset(plainRead.readLogs("c", shape))
        assert(multiset(new QueryEngine(sparkLog).readLogs("c", shape)) === all, s"$shape: full scan")
        for ((name, engine) <- engines)
          assert(multiset(engine.readLogs("c", shape)) === all, s"$shape: full read, $name")
        assert(all.isEmpty === (shape == "empty"))
        if (shape != "empty") assert(all.exists(_.contains("1850-06-01T00:00:00.123456Z")))
        for (_ <- 1 to 16) {
          val (start, end, filters, columns) = randomQuery(r)
          val expected = multiset(plainRead.readLogs("c", shape, start, end, filters, columns))
          for ((name, engine) <- engines)
            assert(multiset(engine.readLogs("c", shape, start, end, filters, columns)) === expected,
              s"$shape via $name: start=$start end=$end filters=$filters columns=$columns")
        }
      }
    }
  }

  test("a gated read, filter, limit and collect, and a gated compaction, start no Spark job") {
    val s = spark
    val root = tempDir("local-read")
    val log = store(s, root, Gate)
    (1 to 3).foreach(_ => log.append(s.createDataFrame(rowsIn.asJava, LogSchema.fileSchema), "c", "s"))
    val (rows, readJobs) =
      jobsDuring(log.read("c", "s").filter(col("level") === "INFO").limit(4).collect())
    assert(readJobs === 0, "a gated read started a Spark job")
    assert(rows.length === 4)
    // the GET's shape: time bounds, an `in` filter and a cap+1 limit
    val t = Instant.parse("2024-01-01T10:00:00Z")
    val (got, getJobs) = jobsDuring(new QueryEngine(log)
      .readLogs("c", "s", Some(t), Some(t.plusSeconds(1)), Seq(("level", "in", Seq("INFO", "WARN"))))
      .limit(101).collect())
    assert(getJobs === 0, "a gated capped GET started a Spark job")
    assert(got.length === 9) // three appends of two "plain" rows and one "micros" row
    val (retired, compactJobs) = jobsDuring(log.compact("c", "s"))
    assert(compactJobs === 0, "a gated compaction started a Spark job")
    assert(retired > 0L)
    assert(multiset(log.read("c", "s")) ===
      multiset(s.createDataFrame((1 to 3).flatMap(_ => rowsIn).asJava, LogSchema.fileSchema)
        .withColumn("container", lit("c")).withColumn("session", lit("s"))))
    // the probe does see the jobs of the same read over the gate
    val sparkLog = store(spark, root, 0L)
    assert(jobsDuring(sparkLog.read("c", "s").limit(4).collect())._2 >= 1)
  }

  test("the budget counts decoded bytes: a highly compressible session over it stays on Spark") {
    // one 4 KiB message on every row: a few KiB on disk, about 4.2 KB a decoded row
    val msg = "x" * 4096
    val t0 = Instant.parse("2024-06-01T00:00:00Z")
    val log = store(spark, tempDir("local-read"), Gate)
    def fill(session: String, batches: Int): Unit = (0 until batches).foreach { b =>
      val rows = (0 until 500).map(i => Row(Timestamp.from(t0.plusSeconds(b * 500L + i)), "INFO", msg))
      log.append(spark.createDataFrame(rows.asJava, LogSchema.fileSchema), "c", session)
    }
    val perBatch = 500L * (4096 + 80) // decoded bytes of a batch, about 2.1 MB
    val (under, over) = ((Gate / perBatch / 2).toInt, (Gate / perBatch + 1).toInt)
    fill("under", under) // under half the budget
    fill("over", over) // past it
    for (session <- Seq("under", "over")) {
      val (_, _, _, onDisk) = log.tierStats("c", session)
      assert(onDisk < Gate / 16, s"$session: $onDisk bytes on disk; the on-disk size alone must not decide")
    }
    log.read("c", "under").queryExecution.optimizedPlan match {
      case local: LocalRelation =>
        val held = local.data.iterator.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
          .getSizeInBytes + 64L).sum
        assert(local.data.size === under * 500)
        assert(held <= Gate, s"a driver read holds $held decoded bytes, over the $Gate budget")
      case other => fail(s"under the budget, not a LocalRelation: ${other.getClass.getSimpleName}")
    }
    assert(!isLocal(log.read("c", "over")), "over the budget in decoded bytes, yet decoded on the driver")
    assert(log.read("c", "over").count() === over * 500L)
    assert(jobsDuring(log.compact("c", "under"))._2 === 0)
    assert(jobsDuring(log.compact("c", "over"))._2 >= 1, "an over-budget compaction ran on the driver")
    assert(log.read("c", "over").filter(col("message") === msg).count() === over * 500L)
  }

  test("a gated compaction writes as many cold files as the Spark path, in disjoint time slices") {
    // 400 distinct timestamps, appended shuffled: the clustering comes
    // from compaction, not from ingest order
    val rows = new Random(11).shuffle((0 until 400).toVector).map(i =>
      Row(Timestamp.from(Instant.parse("2024-05-01T00:00:00Z").plusSeconds(i)), "INFO", s"r$i"))
    val gates = Seq(Gate, 0L)
    val roots = gates.map { _ =>
      val root = tempDir("local-compact")
      new ManifestLog(spark, root).append(spark.createDataFrame(rows.asJava, LogSchema.fileSchema), "c", "s")
      root
    }
    val hot = roots.map(new ManifestLog(spark, _).hotBytes("c", "s"))
    assert(hot.distinct.size === 1, s"the two roots hold different hot files: $hot")
    val target = hot.head / 4 + 1 // four output files
    val layouts = gates.zip(roots).map { case (gate, root) =>
      val log = store(spark, root, gate, targetFileBytes = target)
      val (_, jobs) = jobsDuring(log.compact("c", "s"))
      assert((jobs == 0) === (gate > 0), s"budget $gate: $jobs jobs")
      val conf = spark.sparkContext.hadoopConfiguration
      log.resolve("c", "s")._2.filter(_.startsWith("cold/")).map { e =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(s"$root/$e"), conf))
        try {
          val stats = reader.getFooter.getBlocks.asScala
            .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == "timestamp"))
            .map(_.getStatistics)
          (stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
           stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
        } finally reader.close()
      }.sortBy(_._1)
    }
    assert(layouts.head.size === 4)
    assert(layouts.head.size === layouts(1).size)
    layouts.foreach(_.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(aMax < bMin, s"file time ranges overlap: $layouts")
      case _ => ()
    })
    assert(multiset(new ManifestLog(spark, roots.head).read("c", "s")) ===
      multiset(new ManifestLog(spark, roots(1)).read("c", "s")))
  }

  test("the plan caches never keep a driver-decoded read") {
    val s = spark
    val log = store(s, tempDir("local-read"), Gate)
    (1 to 3).foreach(i => log.append(s.createDataFrame(rowsIn.asJava, LogSchema.fileSchema), "c", s"s$i"))
    for (_ <- 1 to 20; i <- 1 to 3) {
      log.read("c", s"s$i").collect()
      log.readAt("c", s"s$i", 1L).collect()
    }
    assert(log.cachedPlans.isEmpty)
    log.driverReadBytes = 0L
    log.read("c", "s1")
    log.readAt("c", "s1", 1L)
    log.driverReadBytes = Gate
    for (i <- 1 to 3) log.read("c", s"s$i").collect()
    val plans = log.cachedPlans
    assert(plans.size === 2, "the two file-scan plans are cached")
    assert(plans.forall(p => GraftShim.analyzed(p).collect { case l: LocalRelation => l }.isEmpty))
  }

  test("a GET returns exactly cap rows at the cap and 413 one row past it, on both paths") {
    val client = HttpClient.newHttpClient()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (gate <- Seq(Gate, 0L)) {
      val server = new LogServer(spark, tempDir("local-read-server"), maxNonStreamRows = 3,
        makeTier = (s, root) => store(s, root, gate)).start()
      try {
        def req(method: String, path: String, body: Option[String], token: Option[String]): HttpResponse[String] = {
          var b = HttpRequest.newBuilder(URI.create(s"http://localhost:${server.boundPort}$path"))
          b = body.fold(b.method(method, BodyPublishers.noBody()))(j =>
            b.method(method, BodyPublishers.ofString(j)).header("Content-Type", "application/json"))
          token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
          client.send(b.build(), BodyHandlers.ofString())
        }
        val token = Some(mapper.readTree(req("POST", "/api/auth/login",
          Some("""{"username":"admin","password":"admin"}"""), None).body).get("token").asText)
        assert(req("POST", "/api/containers", Some("""{"container_id":"cap"}"""), token).statusCode === 201)
        assert(req("POST", "/api/containers/cap/sessions", Some("""{"session_id":"s"}"""), token).statusCode === 201)
        val logs = (0 until 4).map(i => s"""{"level":"INFO","message":"r$i","timestamp":"2025-01-01T00:00:0${i}Z"}""")
        assert(req("POST", "/api/logs/cap/s", Some(logs.mkString("""{"logs":[""", ",", "]}")), token)
          .statusCode === 201)
        // a second file whose rows lie after the range: the range folds to the first
        val later = (0 until 2).map(i => s"""{"level":"WARN","message":"q$i","timestamp":"2025-01-02T00:00:0${i}Z"}""")
        assert(req("POST", "/api/logs/cap/s", Some(later.mkString("""{"logs":[""", ",", "]}")), token)
          .statusCode === 201)
        val at = req("GET", "/api/logs/cap/s?start_ts=2025-01-01T00:00:00Z&end_ts=2025-01-01T00:00:02Z", None, token)
        assert(at.statusCode === 200, s"budget $gate: ${at.body}")
        assert(mapper.readTree(at.body).get("total_rows").asInt === 3)
        val ranged = req("GET", "/api/logs/cap/s?start_ts=2025-01-01T00:00:00Z&end_ts=2025-01-01T00:00:03Z", None, token)
        assert(ranged.statusCode === 413, s"budget $gate, a range one row past the cap: ${ranged.body}")
        val over = req("GET", "/api/logs/cap/s", None, token)
        assert(over.statusCode === 413, s"budget $gate: ${over.body}")
      } finally server.close()
    }
  }
}

object LocalReadSpec {
  /** A DataFrame's rows as sorted strings: its multiset. */
  private[storage] def multiset(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case t: Timestamp => t.toInstant.toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** The rows of `files` of `root` by a plain Parquet read on `s`, with
    * the partition columns a store read adds. */
  private[storage] def plainRead(s: SparkSession, root: String, files: Seq[String],
                                 c: String, sess: String): DataFrame =
    if (files.isEmpty) s.createDataFrame(java.util.List.of[Row](), LogSchema.schema)
    else s.read.schema(LogSchema.fileSchema).parquet(files.map(e => s"$root/$e"): _*)
      .withColumn("container", lit(c)).withColumn("session", lit(sess))

  /** A `LogTier` whose reads are plain Parquet reads of `log`'s current files. */
  private[storage] def plainTier(s: SparkSession, root: String, log: ManifestLog): LogTier = new LogTier {
    def read(c: String, sess: String): DataFrame = plainRead(s, root, log.dataEntries(c, sess), c, sess)
    def append(df: DataFrame, c: String, sess: String): Long = throw new UnsupportedOperationException
    def tierStats(c: String, sess: String): (Long, Long, Long, Long) = log.tierStats(c, sess)
    def sessions(): Seq[(String, String)] = log.sessions()
    def compact(c: String, sess: String): Long = throw new UnsupportedOperationException
    def statsAndRows(c: String, sess: String): ((Long, Long, Long, Long), Long) = log.statsAndRows(c, sess)
  }
}
