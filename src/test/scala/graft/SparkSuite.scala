package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole forked test JVM — session
  * startup is ~5 s, so per-suite sessions would dominate test time. */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // suites share this one session and run in parallel; FIFO lets a
      // long suite's jobs starve another's small async jobs for minutes
      // (observed: Compactor maintenance flaking only in full-suite runs)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", Scratch.localDir)
      .config("spark.sql.warehouse.dir", Scratch.localDir + "/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  def spark: SparkSession = SparkSuite.spark

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` and counts the Spark jobs it started on this thread.
    * Suites share one SparkContext and run in parallel, so jobs are
    * told apart by a job group; a sentinel job in the same group,
    * started after `body`, marks the end — listener events arrive in
    * order, so once the sentinel is seen every job of `body` is too. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "sentinel") sentinelSeen.countDown()
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      val result = body
      sc.setJobGroup(group, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      (result, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
