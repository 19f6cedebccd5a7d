package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the package-private fields of the SQL execution end event. Only
  * that event pairs a query execution with the execution id its jobs carry
  * (the query execution's own `id` is another counter).
  */
object ExecutionEnd {

  /** The query execution and its duration in nanoseconds, if it succeeded. */
  def succeeded(e: SparkListenerSQLExecutionEnd): Option[(QueryExecution, Long)] =
    if (e.qe != null && e.executionFailure.isEmpty) Some((e.qe, e.duration)) else None
}
