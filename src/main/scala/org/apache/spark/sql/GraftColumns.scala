package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}

/** Column shims over Catalyst expressions the public `functions` API
  * does not expose. The Column/Expression bridge is `private[sql]`, so
  * this object lives in Spark's package purely to reach it; no Spark
  * behavior is altered. */
object GraftColumns {
  /** `c`, declared non-nullable; a null row fails the query. */
  def assertNotNull(c: Column): Column = column(AssertNotNull(expression(c)))
}
