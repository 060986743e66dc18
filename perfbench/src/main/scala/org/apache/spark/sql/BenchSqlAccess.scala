package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end event carries: the link
  * between an execution id (which Spark jobs carry) and the query a
  * QueryExecutionListener is told about. */
object BenchSqlAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
