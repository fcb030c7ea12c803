package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an execution-end event carries is `private[sql]`;
  * the benchmark's probe pairs it with the QueryExecutionListener callback.
  */
object LcbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
