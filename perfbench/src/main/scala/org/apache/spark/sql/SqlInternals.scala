package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution a SQL execution's end event carries (private to
  * Spark SQL). It is the only place where a query's planning tracker
  * and its execution id, which links it to the job tags of its start
  * event, are found together. */
object SqlInternals {
  def queryExecution(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(end.qe)
}
