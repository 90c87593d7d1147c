package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Reaches two members Spark keeps package-private: `ofRows` builds a
  * frame over a graft logical plan node (`graft.Caching.Share`,
  * `graft.text.SharedGramCount.Count`), and
  * `asNullable` is the nullability the parquet reader gives a file
  * schema (`graft.Tables.remember`). The shim lives in the
  * `org.apache.spark.sql` package only to reach them. */
object GraftPlans {
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  def ofRows(like: DataFrame, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(like.sparkSession.asInstanceOf[classic.SparkSession], plan)
}
