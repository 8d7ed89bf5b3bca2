package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark handles a traced run needs. */
object SparkInternals {
  /** Wait until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)

  /** The QueryExecution an execution-end event carries (null when Spark
    * did not attach one). Unlike a QueryExecutionListener callback, the
    * event also carries the SQL execution id its jobs are tagged with. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
