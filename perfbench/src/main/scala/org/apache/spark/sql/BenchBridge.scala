package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-private calls the benchmark's tracer needs. */
object BenchBridge {
  /** Block until every queued listener event has been delivered, so
    * counters read at a unit boundary hold exactly the events of the
    * finished unit. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an SQL execution ran, when Spark attached it. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
