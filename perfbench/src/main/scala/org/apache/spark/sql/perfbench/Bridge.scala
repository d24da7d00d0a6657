package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two engine internals the recorder needs and Spark keeps
  * package-private: draining the listener bus before the recorder reads
  * its buffers, and the QueryExecution an execution-end event carries
  * (the object Spark hands to QueryExecutionListeners), which ties the
  * planner phases and the output path to the execution id the jobs
  * carry. */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
