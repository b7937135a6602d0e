package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkEntry
import graft.ops.Prebuild

/** The `query_library` workload: a build pass over the shared derived
  * relations, two untimed warm-up passes, then passes over the declared
  * queries in seed-shuffled order until the run's time is up. Every result is fully collected
  * and fingerprinted, and checked against the expected file. */
object QueryLibrary {

  /** The measured mix: a fixed subset of `SparkEntry.queries` that fits
    * the run time, covering every ops module, and the `Prebuild` rows
    * those queries consume. `--queries all` runs the whole library. */
  val Mix: Seq[String] = Seq(
    "q3_star_join", "q12_sessionize", "q27_corr_subquery",
    "log_error_rate_sli", "log_top_messages",
    "dedup_hamming", "ann_ivf_indexed", "ann_sq8_topk", "text_langid",
    "mm_phash_neardup", "mm_binary_meta", "pipe_gopher_quality")
  val MixBuilds: Seq[String] = Seq(
    "simhash", "hamming_pairs", "gopher_flags", "vectors", "sq8_codes", "phash", "idx_ivf")

  def module(name: String): String =
    if (name.matches("q\\d+_.*")) "relational"
    else if (name.startsWith("log_")) "log"
    else if (name.startsWith("dedup_")) "dedup"
    else if (name.startsWith("ann_") || name.startsWith("emb_")) "similarity"
    else if (name.startsWith("text_")) "text"
    else if (name.startsWith("mm_")) "multimodal"
    else "pipeline"
  val Modules = Seq("relational", "log", "dedup", "similarity", "text", "multimodal", "pipeline")

  final case class Expected(rows: Long, fingerprint: String)

  def readExpected(p: Path): Map[String, Expected] =
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").iterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, fp) = l.split("\t")
        n -> Expected(rows.toLong, fp)
      }.toMap

  // ---- order-insensitive result fingerprint ----

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => fmtDouble(d)
    case f: Float => fmtDouble(f.toDouble)
    case b: java.math.BigDecimal => fmtDouble(b.doubleValue)
    case t: java.sql.Timestamp => s"ts:${t.getTime * 1000 + (t.getNanos / 1000) % 1000}"
    case t: java.time.Instant => s"ts:${t.getEpochSecond * 1000000L + t.getNano / 1000}"
    case t: java.time.LocalDateTime => s"lts:$t"
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("b:", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case other => other.toString
  }

  /** Doubles are compared at 6 significant digits, so summation order
    * cannot change a fingerprint. */
  private def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString

  /** Columns in name order, each row hashed, hashes summed: equal for
    * any row order, different for any multiset change. */
  def fingerprint(df: DataFrame, rows: Array[Row]): String = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var acc = BigInt(0)
    rows.foreach { r =>
      val line = order.map(i => names(i) + ":" + canon(r.get(i))).mkString("|")
      acc += BigInt(1, md.digest(line.getBytes(StandardCharsets.UTF_8)).take(16))
    }
    (acc mod (BigInt(1) << 128)).toString(16)
  }

  // ---- workload ----

  def run(ctx: Ctx, dataDir: String, expectedPath: Path, all: Boolean, record: Option[Path]): Result = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val setup = ctx.repeatSetup { _ =>
      tables.foreach(t => graft.ops.Tables.load(spark, dataDir, t).count())
    }
    val expected = readExpected(expectedPath)
    val names = if (all) SparkEntry.queries.keys.toSeq.sorted else Mix
    val builds = if (all) Prebuild.builds else Prebuild.builds.filter(b => MixBuilds.contains(b._1))
    require(all || builds.size == MixBuilds.size, "a MixBuilds entry is not a Prebuild row")
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    if (record.isEmpty)
      require(names.forall(expected.contains), s"expected file $expectedPath lacks some queries")

    // build pass: each row once, dependency order, untimed by --seconds
    var buildsFailed = 0
    val b0 = System.nanoTime()
    builds.foreach { case (name, force) =>
      val t = System.nanoTime()
      tracer.span(s"build.$name", "ops") {
        try force(spark, dataDir)
        catch { case e: Throwable => buildsFailed += 1; System.err.println(s"[perfbench] build $name failed: $e") }
      }
      System.err.println(f"[perfbench] build $name%-24s ${(System.nanoTime() - t) / 1e9}%.3f s")
    }
    val buildS = (System.nanoTime() - b0) / 1e9
    require(buildsFailed == 0, s"$buildsFailed build(s) failed")

    // query passes in seed-shuffled order
    val rnd = new scala.util.Random(ctx.seed)
    val samples = scala.collection.mutable.Map.empty[String, List[(Double, Double)]]
    var attempted = 0L; var failed = 0L; var passes = 0
    val recorded = scala.collection.mutable.Map.empty[String, Expected]
    def pass(timed: Boolean): Unit = rnd.shuffle(names).foreach { name =>
      val fn = SparkEntry.queries(name)
      attempted += 1
      val id = tracer.newId()
      val s0 = tracer.nowNs
      if (tracer.enabled) SparkTrace.setParent(spark, id)
      val t0 = System.nanoTime()
      val outcome: Either[Throwable, (DataFrame, Array[Row], Double, Double)] =
        try {
          val df = fn(spark, dataDir)
          val t1 = System.nanoTime()
          val rows = df.collect()
          val t2 = System.nanoTime()
          Right((df, rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
        } catch { case e: Throwable => Left(e) }
      if (timed) tracer.add(Span(id, 0L, s"query.$name", "ops", s0, tracer.nowNs, attrs = Map("module" -> module(name))))
      outcome match {
        case Left(e) =>
          failed += 1
          System.err.println(s"[perfbench] query $name failed: $e")
        case Right((df, rows, construct, action)) =>
          val got = Expected(rows.length.toLong, fingerprint(df, rows))
          recorded(name) = got
          if (record.isEmpty && !expected.get(name).contains(got)) {
            failed += 1
            System.err.println(s"[perfbench] query $name result $got differs from expected ${expected.get(name)}")
          } else if (timed) samples(name) = (construct, action) :: samples.getOrElse(name, Nil)
      }
      spark.catalog.clearCache()
    }
    // untimed warm-up passes (JIT, lazily resolved state) count as
    // set-up; then timed passes until the run time is up. After a single
    // warm-up pass the next pass still ran 10-25% slower than the later
    // ones, hence two. `--queries all` and `--record` make one timed pass.
    val single = all || record.nonEmpty
    val warmupS =
      if (single) 0.0
      else { val w0 = System.nanoTime(); pass(timed = false); pass(timed = false); (System.nanoTime() - w0) / 1e9 }
    System.err.println(f"[perfbench] warm-up passes: $warmupS%.3f s")
    val warmupAttempts = attempted
    ctx.sparkTrace.begin()
    val q0 = System.nanoTime()
    val deadline = q0 + (ctx.seconds * 1e9).toLong
    while (passes == 0 || (System.nanoTime() < deadline && !single)) { passes += 1; pass(timed = true) }
    val queryWindowS = (System.nanoTime() - q0) / 1e9
    System.err.println(f"[perfbench] $passes passes in $queryWindowS%.3f s")
    ctx.sparkTrace.end()
    record.foreach { p =>
      Files.write(p, recorded.toSeq.sortBy(_._1).map { case (n, e) => s"$n\t${e.rows}\t${e.fingerprint}" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }

    // per query: median construct and action time over its passes; a
    // query that failed counts as an infinite latency
    val perQuery = names.map { n =>
      val xs = samples.getOrElse(n, Nil)
      val c = Stats.median(xs.map(_._1)); val a = Stats.median(xs.map(_._2))
      n -> (if (xs.isEmpty) (Double.PositiveInfinity, 0.0) else (c, a))
    }
    perQuery.sortBy { case (_, (c, a)) => -(c + a) }.foreach { case (n, (c, a)) =>
      val passMs = samples.getOrElse(n, Nil).reverse.map { case (x, y) => f"${(x + y) * 1000}%.0f" }.mkString(" ")
      System.err.println(f"[perfbench] query $n%-32s construct ${c * 1000}%9.1f ms  action ${a * 1000}%9.1f ms  passes [$passMs]")
    }
    // The median pools every timed execution. The tail is taken over the
    // per-query medians: with ~36 executions a pooled p95 rests on the two
    // slowest, which made it twice as noisy across runs. A failed query
    // counts as an infinite latency in both.
    val pooled = names.flatMap { n =>
      samples.get(n).map(_.map { case (c, a) => c + a }).getOrElse(List(Double.PositiveInfinity))
    }
    val lat = perQuery.map { case (_, (c, a)) => c + a }
    val totalS = lat.sum
    val p50 = Stats.median(pooled) * 1000; val p95 = Stats.pct(lat, 0.95) * 1000
    // construction alone (`fn(spark, dir)`, before the action), pooled
    val constructs = names.flatMap(n => samples.getOrElse(n, Nil).map(_._1))
    val constructP50 = Stats.median(constructs) * 1000
    val constructMean = Stats.mean(constructs) * 1000
    val warehouse = Service.du(new java.io.File(ctx.work("warehouse")))
    val input = Service.du(new java.io.File(dataDir))
    val report = Seq(
      Metric("query_total_s", totalS, "s"),
      Metric("query_p50_ms", p50, "ms"),
      Metric("query_p95_ms", p95, "ms"),
      Metric("construct_p50_ms", constructP50, "ms"),
      Metric("construct_mean_ms", constructMean, "ms"),
      Metric("build_s", buildS, "s"),
      Metric("query_passes", passes, "count"),
      Metric("queries", names.size, "count"))
    val layers =
      if (!tracer.enabled) Seq.empty
      else {
        val byModule = perQuery.groupBy { case (n, _) => module(n) }
        Seq(Metric("ops.construct_s", perQuery.map(_._2._1).sum, "s"),
            Metric("ops.action_s", perQuery.map(_._2._2).sum, "s")) ++
          Modules.map { m =>
            Metric(s"ops.${m}_s", byModule.getOrElse(m, Nil).map { case (_, (c, a)) => c + a }.sum, "s")
          } :+ Metric("ops.builds_failed", buildsFailed, "count")
      }
    Result(attempted = attempted + builds.size, failed = failed + buildsFailed, setupS = setup + warmupS,
      e2e = Seq(
        Metric("op_p50_ms", p50, "ms"),
        Metric("op_tail_ms", p95, "ms"),
        Metric("second_mean_ms", constructMean, "ms"),
        Metric("work_per_s", names.size / totalS, "1/s"),
        Metric("side_work_s", buildS, "s"),
        Metric("space_amp", (warehouse + input).toDouble / input, "ratio")),
      report = report, layer = layers, ops = attempted - warmupAttempts)
  }
}
