package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `QueryExecution` a SQL execution's end event carries (the one a
  * `QueryExecutionListener` would be handed, but keyed by its execution
  * id). The field is `private[sql]`, hence this file's package.
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
