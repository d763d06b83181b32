package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution Spark attaches to an execution-end event. The field
  * is private to Spark SQL; this accessor lives in its package so the
  * harness can pair a QueryExecutionListener callback (which carries the
  * QueryExecution but not the execution id) with the execution id, and so
  * with the operation that started it. */
object SqlEnd {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
