package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark- and JVM-layer instruments for one measured window: a
  * `QueryExecutionListener` for Catalyst phase times and a
  * `SparkListener` for jobs, stages and task metrics, plus GC time and
  * heap peak. Events are counted only between
  * [[begin]] and [[end]]. A job's parent span is the `perfbench.span`
  * local property of the thread that submitted it; a Catalyst span gets
  * the parent of its execution's jobs at [[end]]. */
final class SparkTrace(spark: SparkSession, tracer: Tracer, slots: Int) {
  @volatile private var active = false
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, Long)]() // submit ms, parent, exec id
  private val jobFirstTask = new ConcurrentHashMap[Int, Long]()
  private val execParent = new ConcurrentHashMap[Long, Long]()
  private val queryExec = new ConcurrentHashMap[Long, Long]() // QueryExecution id -> SQL execution id
  private val phaseSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Span)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val parent = prop(SparkTrace.SpanProperty).map(_.toLong).getOrElse(0L)
      val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStart.put(e.jobId, (e.time, parent, exec))
      if (exec >= 0) execParent.putIfAbsent(exec, parent)
      tracer.count("spark.jobs")
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = if (active) {
      if (stageJob.containsKey(e.stageId))
        jobFirstTask.merge(stageJob.get(e.stageId), e.taskInfo.launchTime, (a, b) => math.min(a, b))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      tracer.count("spark.tasks")
      Option(e.taskMetrics).foreach { m =>
        tracer.addSum("spark.executor_run_ms", m.executorRunTime.toDouble)
        tracer.addSum("spark.executor_cpu_ns", m.executorCpuTime.toDouble)
        tracer.addSum("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        tracer.addSum("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        tracer.addSum("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) tracer.count("spark.stages")
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd if active =>
        org.apache.spark.sql.PerfbenchHooks.ids(end).foreach { case (q, x) => queryExec.put(q, x) }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) {
      Option(jobStart.get(e.jobId)).foreach { case (submitMs, parent, exec) =>
        if (jobFirstTask.containsKey(e.jobId))
          tracer.sample("spark.job_wait_ms", (jobFirstTask.get(e.jobId) - submitMs).toDouble)
        tracer.add(Span(tracer.newId(), parent, s"spark.job", "spark.job",
          submitMs * 1000000L, e.time * 1000000L, attrs = Map("job" -> e.jobId.toString, "exec" -> exec.toString)))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
  }

  private def note(qe: QueryExecution): Unit = if (active) {
    tracer.count("spark.executions")
    qe.tracker.phases.foreach { case (phase, p) =>
      tracer.addSum(s"spark.${phase}_ms", p.durationMs.toDouble)
      phaseSpans.add((qe.id, Span(tracer.newId(), 0L, s"catalyst.$phase", "catalyst",
        p.startTimeMs * 1000000L, p.endTimeMs * 1000000L, attrs = Map("exec" -> qe.id.toString))))
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gc0 = 0L
  private var t0 = 0L
  var windowS = 0.0

  /** Registers the listeners only for a traced run; an untraced run
    * measures the program without them. */
  def install(): SparkTrace = {
    if (tracer.enabled) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    }
    this
  }

  /** Open the measured window; the tracer records from here on. */
  def begin(): Unit = {
    org.apache.spark.sql.PerfbenchHooks.drain(spark.sparkContext)
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs; t0 = System.nanoTime()
    active = tracer.enabled
    tracer.recording = true
  }

  /** Close the window: drain the listener bus, then fold the JVM
    * figures and the Catalyst spans into the tracer and stop recording. */
  def end(): Unit = {
    windowS = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.PerfbenchHooks.drain(spark.sparkContext)
    active = false
    tracer.addSum("jvm.gc_ms", (gcMs - gc0).toDouble)
    tracer.addSum("jvm.heap_peak_bytes", heapPools.map(_.getPeakUsage.getUsed).sum.toDouble)
    phaseSpans.asScala.foreach { case (query, s) =>
      val parent =
        if (queryExec.containsKey(query) && execParent.containsKey(queryExec.get(query)))
          execParent.get(queryExec.get(query))
        else 0L
      tracer.add(s.copy(parent = parent))
    }
    tracer.recording = false
  }

  /** Per-layer metrics of this window, each divided over `ops`. */
  def metrics(ops: Long): Seq[Metric] = {
    val n = math.max(1L, ops).toDouble
    val runS = tracer.sum("spark.executor_run_ms") / 1000.0
    Seq(
      ("spark.analysis_ms", tracer.sum("spark.analysis_ms") / n, "ms"),
      ("spark.optimization_ms", tracer.sum("spark.optimization_ms") / n, "ms"),
      ("spark.planning_ms", tracer.sum("spark.planning_ms") / n, "ms"),
      ("spark.jobs_per_op", tracer.counter("spark.jobs") / n, "count"),
      ("spark.stages_per_op", tracer.counter("spark.stages") / n, "count"),
      ("spark.tasks_per_op", tracer.counter("spark.tasks") / n, "count"),
      ("spark.job_wait_ms", Stats.median(tracer.samplesOf("spark.job_wait_ms")), "ms"),
      ("spark.executor_run_s", runS, "s"),
      ("spark.executor_cpu_s", tracer.sum("spark.executor_cpu_ns") / 1e9, "s"),
      ("spark.slot_busy_frac", runS / (slots * math.max(windowS, 1e-9)), "ratio"),
      ("spark.shuffle_write_bytes", tracer.sum("spark.shuffle_write_bytes"), "bytes"),
      ("spark.shuffle_read_bytes", tracer.sum("spark.shuffle_read_bytes"), "bytes"),
      ("spark.spill_bytes", tracer.sum("spark.spill_bytes"), "bytes"),
      ("jvm.gc_s", tracer.sum("jvm.gc_ms") / 1000.0, "s"),
      ("jvm.heap_peak_mb", tracer.sum("jvm.heap_peak_bytes") / (1024.0 * 1024.0), "MB")).map(Metric.tupled)
  }
}

object SparkTrace {
  /** Thread-local Spark property naming the span a job runs under. */
  val SpanProperty = "perfbench.span"

  def setParent(spark: SparkSession, span: Long): Unit =
    spark.sparkContext.setLocalProperty(SpanProperty, span.toString)
}
