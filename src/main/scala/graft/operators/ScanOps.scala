package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, DateType}

/** Distributed prefix scans.
  *
  * `Window.partitionBy(group)` prefix sums put each group's ENTIRE
  * row set through one task's sort — with a handful of groups (data
  * sources, tenants) that is a single-machine sort of the whole table
  * at 100 TB. [[exclusivePrefixSum]] is the two-level formulation:
  * bucket rows by a deterministic coarsening of the order key, scan
  * each (group, bucket) locally, then add per-(group, bucket) offsets
  * computed from a tiny totals frame. Every stage is bounded by the
  * bucket size, never the group size.
  *
  * The bucket id is a PURE FUNCTION of the row (truncating division
  * of the leading order column), NOT `spark_partition_id` over a
  * range exchange: range-partitioner boundaries come from sampling
  * and are not guaranteed identical across evaluations of the frame,
  * which would silently mis-align the offsets. The price is one
  * 1-row min/max aggregation over the input to size the divisor, run
  * as a scalar subquery inside the action.
  */
object ScanOps {
  private val integralTypes = Seq(ByteType, ShortType, IntegerType, LongType, DateType)

  /** Exclusive prefix sum of `value` over rows ordered by `orderCols`
    * within each `groupCols` group, emitted as `outCol`. The LEADING
    * order column must be integer-like (it is divided into value
    * buckets; a fractional score key must be pre-scaled — a silent
    * cast would collapse it into one bucket and resurrect the
    * single-task sort). NULL leading keys sort first (Spark default)
    * and land in a dedicated bucket before all others. The full
    * `orderCols` list breaks ties inside a bucket. Result values are
    * identical to
    * `sum(value).over(Window.partitionBy(group).orderBy(order)
    * .rowsBetween(unboundedPreceding, -1))` at ANY partitioning
    * (equivalence + property specs). */
  def exclusivePrefixSum(
      df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
      value: Column, outCol: String, buckets: Int = 1024
  ): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val leadType = df.schema(orderCols.head).dataType
    require(integralTypes.contains(leadType),
      s"leading order column ${orderCols.head} must be integer-like, got ${leadType.simpleString}: " +
        "bucketing casts to long, and a fractional key would collapse into one bucket")
    val ord = col(orderCols.head).cast("long")
    // 1-row bounds aggregation (one scan) sizing the bucket divisor, as
    // a scalar subquery: the operator stays one lazy plan, and the
    // subquery runs inside the action that reads it
    val (mn, mx) = (col("__mn"), col("__mx"))
    // decimal span: mx - mn overflows Long when keys straddle the full
    // range; width always fits (span/buckets ≤ 2^64/buckets)
    val width = call_function("div", mx.cast("decimal(38,0)") - mn.cast("decimal(38,0)"),
      lit(buckets)) + lit(1L)
    // div(ord, width) is monotone in ord with ~buckets distinct values
    // over [mn, mx] and needs NO row-side subtraction (ord - mn could
    // overflow under ANSI); NULL keys get the bucket strictly before
    // the smallest real one, matching NULLS FIRST window order
    val sizing = df.agg(coalesce(min(ord), lit(0L)).as("__mn"), coalesce(max(ord), lit(0L)).as("__mx"))
      .select(struct(width.as("w"), (call_function("div", mn, width) - lit(1L)).as("nb")))
      .scalar()
    val withB = df
      .withColumn("__bkt", coalesce(call_function("div", ord, sizing.getField("w")), sizing.getField("nb")))
      .withColumn("__v", value)
      // ONE exchange on (group, bucket) shared by both consumers
      // below: the local window needs exactly this distribution and
      // the totals aggregate is satisfied by it, so neither branch
      // re-executes the upstream map (bounds aside, the input lineage
      // runs once)
      .repartition((groupCols :+ "__bkt").map(col): _*)
    val localW = Window
      .partitionBy((groupCols :+ "__bkt").map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withB.withColumn("__local", coalesce(sum(col("__v")).over(localW), lit(0L)))
    // per-(group, bucket) totals: tiny (≤ groups × buckets rows), so
    // the cross-bucket running offset is a cheap little window and
    // the join back is a broadcast
    val totals = withB.groupBy((groupCols :+ "__bkt").map(col): _*)
      .agg(sum(col("__v")).as("__t"))
    val offW = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__off", coalesce(sum(col("__t")).over(offW), lit(0L)))
      .select(((groupCols :+ "__bkt").map(col) :+ col("__off")): _*)
    local
      .join(broadcast(offsets), groupCols :+ "__bkt")
      .withColumn(outCol, col("__local") + col("__off"))
      // the join fronts its key columns: restore the caller's column
      // order (+ the scan column, replacing any same-named input) so
      // downstream positional operations see a stable schema
      .select((df.columns.filter(_ != outCol).map(col) :+ col(outCol)): _*)
  }
}
