package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the harness reads, both package-private to
  * Spark, hence this file's package. */
object PerfbenchHooks {
  /** Wait until the listener bus has delivered every queued event, so a
    * measured window's listener counts are complete when read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (QueryExecution id, SQL execution id) of a finished execution: the
    * ids a `QueryExecutionListener` and a job's properties carry. */
  def ids(e: SparkListenerSQLExecutionEnd): Option[(Long, Long)] =
    Option(e.qe).map(q => (q.id, e.executionId))
}
