package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: operation counts, its set-up time, the
  * declared end-to-end metrics, the named report metrics, and (traced
  * runs only) the per-layer metrics it measured itself. */
final case class Result(attempted: Long, failed: Long, setupS: Double, e2e: Seq[Metric],
                        report: Seq[Metric], layer: Seq[Metric], ops: Long)

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val sparkTrace: SparkTrace,
                workDir: File, val seed: Long, val seconds: Double, val nproc: Int) {
  def work(name: String): String = new File(workDir, name).getAbsolutePath

  /** Run a workload's set-up three times and return the median
    * duration; the last repetition's state is the one measured. */
  def repeatSetup(body: Int => Unit): Double = {
    val times = (0 until 3).map { i =>
      val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] set-up repetitions (s): ${times.map(t => f"$t%.3f").mkString(" ")}")
    Stats.median(times)
  }
}

/** Entry point of one benchmark run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR --expected FILE`.
  * Prints a `report` line with the workload's named metrics and host
  * facts, then the result object as the last line. */
object Main {
  val Workloads = Seq("query_library", "service_read", "service_mixed")

  /** Every per-layer metric with its unit, in report order; a traced
    * run prints all of them, with 0 for a layer the workload does not
    * reach. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "catalog.verify_token_p50_ms" -> "ms", "catalog.verify_token_p99_ms" -> "ms",
    "catalog.session_access_p50_ms" -> "ms", "catalog.session_access_p99_ms" -> "ms",
    "api.render_p50_ms" -> "ms", "api.render_p99_ms" -> "ms", "api.err_frac" -> "ratio",
    "ingest.read_flush_p50_ms" -> "ms", "ingest.read_flush_p99_ms" -> "ms", "ingest.flushes" -> "count",
    "ingest.posts_per_flush" -> "ratio", "ingest.buffered_bytes_max" -> "bytes",
    "storage.append_p50_ms" -> "ms", "storage.append_p99_ms" -> "ms", "storage.append_busy_s" -> "s",
    "storage.read_plan_ms" -> "ms", "storage.read_plan_reuse" -> "ratio", "storage.tier_stats_ms" -> "ms",
    "storage.compactions" -> "count", "storage.compact_busy_s" -> "s",
    "storage.compact_bytes_retired" -> "bytes", "storage.bytes_written_per_user_byte" -> "ratio",
    "storage.manifest_versions_max" -> "count", "storage.files_per_session" -> "count",
    "engine.read_query_p50_ms" -> "ms", "engine.read_query_p99_ms" -> "ms",
    "ops.construct_s" -> "s", "ops.action_s" -> "s", "ops.relational_s" -> "s", "ops.log_s" -> "s",
    "ops.dedup_s" -> "s", "ops.similarity_s" -> "s", "ops.text_s" -> "s", "ops.multimodal_s" -> "s",
    "ops.pipeline_s" -> "s", "ops.builds_failed" -> "count",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.job_wait_ms" -> "ms", "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.slot_busy_frac" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "host.steal_frac" -> "ratio",
    "self.api_s" -> "s", "self.storage_s" -> "s", "self.catalyst_s" -> "s", "self.spark_job_s" -> "s",
    "self.ops_s" -> "s",
    "trace.spans" -> "count")

  /** Any failure ends the process with a non-zero code and no result
    * line; `System.exit` also stops Spark's and the server's threads. */
  def main(args: Array[String]): Unit = {
    var scratch: File = null
    val code =
      try { run(args, dir => scratch = dir); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
      }
      finally if (scratch != null) org.apache.commons.io.FileUtils.deleteQuietly(scratch)
    System.out.flush()
    System.exit(code)
  }

  private def run(args: Array[String], created: File => Unit): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val nproc = Runtime.getRuntime.availableProcessors
    val (steal0, ticks0) = cpuTicks()

    // Spark scratch, the warehouse and the server roots live where graft
    // puts its own scratch files (tmpfs when there is one); the path is
    // left in the --work directory so the launcher can remove it should
    // this process be killed.
    val workDir = java.nio.file.Files.createTempDirectory(
      Paths.get(graft.Scratch.localDir), s"perfbench-$workload-").toFile
    created(workDir)
    java.nio.file.Files.write(Paths.get(opt("work"), "scratch_dir"),
      workDir.getPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val spark = SparkSession.builder().master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", new File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(workDir, "hadoop").getPath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    System.err.println(f"[perfbench] JVM and Spark session start: $sessionS%.3f s")

    val tracer = new Tracer(traced)
    val sparkTrace = new SparkTrace(spark, tracer, nproc).install()
    val ctx = new Ctx(spark, tracer, sparkTrace, workDir, seed, seconds, nproc)
    val res = workload match {
      case "query_library" =>
        QueryLibrary.run(ctx, opt("data"), Paths.get(opt("expected")),
          all = opts.get("queries").contains("all"), record = opts.get("record").map(Paths.get(_)))
      case "service_read" => Service.read(ctx)
      case "service_mixed" => Service.mixed(ctx)
    }
    val setupS = sessionS + res.setupS
    val correct = res.failed == 0
    val (steal1, ticks1) = cpuTicks()
    val stealFrac = if (ticks1 > ticks0) (steal1 - steal0).toDouble / (ticks1 - ticks0) else 0.0

    val host = Map(
      "nproc" -> nproc.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> spark.version,
      "seed" -> seed.toString,
      "workload" -> workload,
      "traced" -> traced.toString,
      "steal_frac" -> f"$stealFrac%.4f")
    val reportMetrics = (Metric("setup_s", setupS, "s") +:
      Metric("failed_frac", res.failed.toDouble / math.max(1L, res.attempted), "ratio") +: res.report)
    println("report " + Json.obj(host).dropRight(1) + ",\"metrics\":" + metricsJson(reportMetrics) + "}")

    val metrics =
      if (!traced) Metric("setup_s", setupS, "s") +: res.e2e
      else {
        val spans = link(tracer.allSpans)
        val spansFile = new File(opt("work"), "spans.jsonl")
        tracer.writeSpans(spans, spansFile.toPath)
        System.err.println(s"[perfbench] ${spans.size} spans written to $spansFile")
        val measured = (res.layer ++ sparkTrace.metrics(res.ops) ++ selfTimes(spans) :+
          Metric("host.steal_frac", stealFrac, "ratio")).map(m => m.name -> m).toMap
        LayerMetrics.map { case (n, unit) => measured.getOrElse(n, Metric(n, 0.0, unit)) }
      }
    println(s"""{"correct":$correct,"attempted":${res.attempted},"failed":${res.failed},"metrics":${metricsJson(metrics)}}""")
    System.out.flush()
    System.err.println(f"[perfbench] result after ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.3f s")
    spark.stop()
  }

  private def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s"""${Json.str(m.name)}:{"value":${Json.num(finite(m.value))},"unit":${Json.str(m.unit)}}""")
      .mkString("{", ",", "}")

  /** An infinite latency (a failed operation at that percentile) prints
    * as 1e12 so the output stays valid JSON. */
  private def finite(v: Double): Double = if (v.isInfinite) 1e12 else v

  /** Resolve parents the recorder could not know: a server-side storage
    * span belongs to the client request with the same container/session
    * whose window holds its start, and a job or Catalyst span whose
    * parent is a storage read belongs to that read's request, since the
    * read's collect runs after the read call returns. */
  def link(spans: Seq[Span]): Seq[Span] = {
    val requests = spans.filter(_.layer == "api").groupBy(_.key)
    def requestOf(s: Span): Long =
      requests.getOrElse(s.key, Nil).find(r => r.startNs <= s.startNs && s.startNs <= r.endNs).map(_.id).getOrElse(0L)
    val storage = spans.filter(s => s.layer == "storage")
      .map(s => s.id -> (if (s.parent == 0L) s.copy(parent = requestOf(s)) else s)).toMap
    spans.map { s =>
      storage.get(s.id).getOrElse(storage.get(s.parent) match {
        case Some(p) if p.name == "storage.read" => s.copy(parent = p.parent)
        case _ => s
      })
    }
  }

  /** Layer self times: each span's duration minus the part of it that
    * its descendants cover, summed per layer. */
  def selfTimes(spans: Seq[Span]): Seq[Metric] = {
    val children = spans.groupBy(_.parent)
    def self(s: Span): Long = {
      def desc(x: Span): Seq[Span] = children.getOrElse(x.id, Nil).flatMap(c => c +: desc(c))
      s.durNs - Stats.covered(desc(s).map(d => (d.startNs, d.endNs)), s.startNs, s.endNs)
    }
    def sumLayer(layer: String): Double = spans.filter(_.layer == layer).map(self).sum / 1e9
    Seq(Metric("self.api_s", sumLayer("api"), "s"),
        Metric("self.storage_s", sumLayer("storage"), "s"),
        Metric("self.catalyst_s", sumLayer("catalyst"), "s"),
        Metric("self.spark_job_s", sumLayer("spark.job"), "s"),
        Metric("self.ops_s", sumLayer("ops"), "s"),
        Metric("trace.spans", spans.size, "count"))
  }

  /** (steal ticks, total ticks) from the aggregate `cpu` line of
    * /proc/stat; zeros where that file does not exist. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }
}
