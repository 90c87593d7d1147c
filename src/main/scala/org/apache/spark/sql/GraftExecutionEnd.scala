package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The observed metrics a SQL execution's end event carries: the
  * `QueryExecution` that Spark's `QueryExecutionListener.onSuccess` is
  * handed rides the event in `private[sql]` fields, so this one-method
  * shim lives in the `org.apache.spark.sql` package only to reach
  * them. No Spark behavior is altered. */
object GraftExecutionEnd {
  /** The metrics of a successful named execution (an action or a
    * write), as `onSuccess` would see them; empty for any other. */
  def observedMetrics(end: SparkListenerSQLExecutionEnd): Map[String, Row] =
    if (end.qe == null || end.executionName.isEmpty || end.executionFailure.isDefined) Map.empty
    else end.qe.observedMetrics
}
