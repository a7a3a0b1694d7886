package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The id of the QueryExecution an SQL execution ran, or -1. It joins the
  * Catalyst phases a QueryExecutionListener reports (keyed by that id) to
  * the execution's job group. The field is package-private to Spark SQL,
  * hence this package. */
object PerfbenchSql {
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.id).getOrElse(-1L)
}
