package org.apache.spark.sql.ltssbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two engine internals the benchmark's trace reads from outside the
  * program: the finished QueryExecution carried by an execution-end event
  * (planning phases, final adaptive plan), and a drain of the listener
  * bus so totals are read only after every event was delivered. */
object Access {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
