package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the `QueryExecution` an execution-end event carries, which
  * is package-private to Spark SQL. */
object PerfbenchSqlShims {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
