package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event carries is package-private;
  * the benchmark needs its id to match a `QueryExecutionListener` callback
  * with the SQL execution (and so the job group) it belongs to. */
object ExecutionEndAccess {
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
