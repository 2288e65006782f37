package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-private things a traced run reads, behind one object. */
object SparkInternals {
  /** Blocks until every posted listener event has been delivered, so a
    * traced run reads complete job and query records. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query an ended SQL execution ran: it links the execution id (and
    * so the action's call site) to the `QueryExecution` a
    * `QueryExecutionListener` sees. */
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
