package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `QueryExecution` an execution-end event carries (sql-private). It
  * is the same object a `QueryExecutionListener` receives for that
  * execution, which is how planning phases are matched to execution ids. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
