package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The plan an ended SQL execution ran, which Spark keeps package-private
  * on the event; the benchmark's trace reads its planning phases. */
object PerfbenchSqlBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
