package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Builds a frame over a graft logical plan node (`graft.Caching.Share`).
  * `classic.Dataset.ofRows` is `private[sql]`; this one-method shim
  * lives in the `org.apache.spark.sql` package only to reach it. */
object GraftPlans {
  def ofRows(like: DataFrame, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(like.sparkSession.asInstanceOf[classic.SparkSession], plan)
}
