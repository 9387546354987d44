package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event carries — the object a
  * `QueryExecutionListener` is handed — which Spark keeps package-private
  * on the event. The ledger reads executed plans from it, keyed by the
  * SQL execution id its jobs carry.
  */
object GraftBenchSqlBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
