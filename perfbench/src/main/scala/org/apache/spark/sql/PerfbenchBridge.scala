package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal hooks the benchmark's tracer needs, both
  * `private[spark]`/`private[sql]`: waiting until the listener bus has
  * delivered every posted event, and the query execution (with its
  * planning-phase tracker) carried by a SQL-execution-end event. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
