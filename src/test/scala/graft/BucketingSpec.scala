package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Bucketing: pre-shuffling fact tables on their join key at write
  * time so repeated joins/aggregations skip the exchange entirely —
  * the co-location strategy for 100 TB fact⋈fact joins (SURVEY §4).
  * Plain `spark.read.parquet` has no bucket metadata, so this goes
  * through the session catalog (`bucketBy` + `saveAsTable`).
  */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    // external tables via option("path") — warehouse dir is a static
    // conf and can't change at runtime
    val wh = Files.createTempDirectory("graft_buckets").toString
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")

    Tables.lineitem(spark, sf).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o_b").saveAsTable("o_b")

    // force the sort-merge path (at real scale neither side
    // broadcasts; at sf0.001 AQE would happily broadcast orders)
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (joined, plan) =
      try {
        val j = spark.table("li_b")
          .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
        j.collect()
        (j, j.queryExecution.executedPlan.toString)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)

    // co-located buckets: sort-merge join with ZERO exchanges
    assert(plan.contains("SortMergeJoin"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("Exchange"), "bucketed join must not shuffle")

    // and the result matches the shuffled join
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
    assert(joined.count() == plain.count())
  }

  test("spread is gated on scan parallelism: a splittable layout gets no repartition") {
    val dir = Files.createTempDirectory("graft_split").toString
    val target = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Tables.table(spark, sf, "orders").repartition(target)
      .write.mode("overwrite").parquet(s"$dir/orders_multi")
    // string work above the scan: the shape FactSpread spreads when
    // the scan cannot feed the cores by itself
    def heavy(df: org.apache.spark.sql.DataFrame): String = SparkSpec.withTinyInputsSpread(spark) {
      df.select(upper(col("o_orderpriority")).as("c")).queryExecution.executedPlan.toString
    }

    // small split size so the tiny test files aren't packed into one
    // partition (at real scale file sizes make the scan parallel)
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
    try {
      // multi-file input: scan already parallel → the rule is an identity
      val multi = heavy(spark.read.parquet(s"$dir/orders_multi"))
      assert(!multi.contains("Exchange"),
        s"spread must not insert an exchange over an already-parallel scan\n$multi")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)

    // the testdata's single-row-group layout: the same query is spread
    val single = heavy(Tables.orders(spark, sf))
    assert("RoundRobinPartitioning".r.findAllIn(single).length == 1,
      s"spread must repartition an unsplittable single-partition scan\n$single")
  }
}
