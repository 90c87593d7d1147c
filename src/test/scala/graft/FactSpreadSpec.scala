package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Money
import graft.plans.FactSpread

/** The fact-scan spread decision of [[graft.plans.FactSpread]], pinned
  * per plan shape on the single-row-group testdata (one scan partition
  * against 4 shuffle partitions, so the gate is open): each heavy
  * class spreads the scan with exactly one round-robin exchange, and
  * each stop keeps heavy work above it from reaching the scan. */
class FactSpreadSpec extends SparkSpec {
  import spark.implicits._

  private def rr(df: DataFrame): Int =
    "RoundRobinPartitioning".r.findAllIn(df.queryExecution.executedPlan.toString).length

  // the spec-sized tables sit below the rule's input-size floor; lower
  // it so each case takes the decision a full-size table takes
  private val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  override def beforeAll(): Unit = { super.beforeAll(); spark.conf.set(minSize, "1") }
  override def afterAll(): Unit = try spark.conf.unset(minSize) finally super.afterAll()

  private def orders = Tables.orders(spark, sf)
  private def lineitem = Tables.lineitem(spark, sf)
  private def events = Tables.events(spark, sf)
  private val upperPriority = upper(col("o_orderpriority")).as("p")

  private def spreads(name: String)(df: => DataFrame): Unit =
    test(s"spreads: $name") { val d = df; assert(rr(d) == 1, d.queryExecution.executedPlan) }
  private def keeps(name: String)(df: => DataFrame): Unit =
    test(s"no spread: $name") { val d = df; assert(rr(d) == 0, d.queryExecution.executedPlan) }

  // heavy per-row work between the scan and its first exchange
  spreads("tokenize (string functions feeding a Generate)") {
    events.select(explode(split(lower(col("props")), " ")).as("tok")).groupBy("tok").count()
  }
  spreads("Generate over integer math") {
    orders.select(col("o_orderkey"), explode(sequence(lit(0), lit(2))).as("k"))
  }
  spreads("string function in a partial aggregate's keys") {
    events.groupBy(upper(col("event_type"))).count()
  }
  spreads("regex") {
    events.select(regexp_extract(col("props"), "([a-z]+)", 1).as("w"))
  }
  spreads("hashing") {
    orders.groupBy(pmod(xxhash64(col("o_orderkey")), lit(8L))).count()
  }
  spreads("md5") {
    orders.select(md5(col("o_orderpriority").cast("binary")).as("h"))
  }
  spreads("sha2") {
    orders.select(sha2(col("o_orderpriority").cast("binary"), 256).as("h"))
  }
  spreads("decimal arithmetic into a partial aggregate") {
    lineitem.agg(sum(Money.dec(col("l_extendedprice")) * (lit(1) - Money.dec(col("l_discount")))))
  }
  spreads("central-moment aggregate") {
    orders.groupBy("o_orderstatus").agg(stddev(col("o_totalprice")))
  }
  spreads("correlation aggregate") {
    lineitem.agg(corr(col("l_quantity"), col("l_discount")))
  }
  spreads("covariance aggregate") {
    lineitem.agg(covar_pop(col("l_quantity"), col("l_discount")))
  }
  spreads("regression slope aggregate") {
    lineitem.agg(regr_slope(col("l_extendedprice"), col("l_quantity")))
  }
  spreads("regression intercept aggregate") {
    lineitem.agg(regr_intercept(col("l_extendedprice"), col("l_quantity")))
  }
  spreads("UDF") {
    orders.select(udf((k: Long) => k * 31).apply(col("o_orderkey")).as("h"))
  }
  spreads("typed lambda") {
    orders.select(col("o_orderkey")).as[Long].map(_ * 31).toDF()
  }
  spreads("graft native expression") {
    lineitem.select(call_function("cosine_sim",
      array(col("l_quantity").cast("float"), col("l_discount").cast("float")),
      array(lit(1.0f), lit(0.0f))).as("c"))
  }
  spreads("streamed side of a broadcast join, heavy work on its columns above it") {
    orders.join(broadcast(Tables.customer(spark, sf)), col("o_custkey") === col("c_custkey"))
      .select(upper(col("o_orderpriority")).as("p"), col("c_name"))
  }

  // trivial map work, or heavy work that only starts after an exchange
  keeps("reduce-first (date math into a partial aggregate)") {
    orders.groupBy(year(col("o_orderdate"))).agg(sum(col("o_totalprice")), count(lit(1)))
  }
  keeps("decimal scaled by a constant (exact-money sums)") {
    orders.groupBy(to_date(col("o_orderdate"))).agg(Money.scaledSum(col("o_totalprice"), 2))
  }
  keeps("string built from a number (a leading digit)") {
    orders.groupBy(substring(col("o_orderkey").cast("string"), 1, 1)).count()
  }
  keeps("regex predicate inside a conditional aggregate") {
    orders.agg(sum(when(col("o_orderpriority").rlike("^[1-5]-"), 1).otherwise(0)))
  }
  keeps("string work only in a filter (it runs in the scan's task either way)") {
    orders.where(length(upper(col("o_orderpriority"))) > 5).select("o_orderkey")
  }
  keeps("keyed window, string work above it") {
    val w = Window.partitionBy("user_id").orderBy("ts")
    events.withColumn("prev", lag(col("ts"), 1).over(w)).select(upper(col("event_type")), col("prev"))
  }
  keeps("aggregate, string work above it") {
    orders.groupBy("o_orderpriority").count().select(upperPriority, col("count"))
  }
  keeps("streamed side of a broadcast join, heavy work only on build columns above it") {
    orders.join(broadcast(Tables.customer(spark, sf)), col("o_custkey") === col("c_custkey"))
      .select(upper(col("c_name")).as("n"), col("o_orderkey"))
  }
  keeps("heavy aggregate over renamed build-side columns of a broadcast join") {
    orders.join(broadcast(Tables.customer(spark, sf)), col("o_custkey") === col("c_custkey"))
      .select(col("c_acctbal").as("y"), (col("c_acctbal") + 1).as("z"))
      .agg(sum(Money.dec(col("y")) * Money.dec(col("z"))))
  }
  keeps("shuffled join, string work above it") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = orders.join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .select(upper(col("c_name")).as("n"), col("o_orderkey"))
      df.queryExecution.executedPlan
      df
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
  keeps("keyed repartition, string work above it") {
    orders.repartition(col("o_custkey")).select(upperPriority)
  }
  keeps("rebalance hint, string work above it") {
    orders.hint("rebalance", col("o_custkey")).select(upperPriority)
  }
  keeps("global sort, string work above it") {
    orders.orderBy("o_orderkey").select(upperPriority)
  }
  keeps("limit, string work above it") {
    orders.limit(10).select(upperPriority)
  }
  keeps("checkpointed share (not a file scan)") {
    Caching.share(orders.select("o_orderpriority")).select(upperPriority)
  }
  keeps("keyed document spread (the rule is an identity above it)") {
    Tables.documents(spark, sf).select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
  }

  test("no spread: an input below AQE's minimum partition size") {
    spark.conf.unset(minSize)
    try {
      val df = events.select(regexp_extract(col("props"), "([a-z]+)", 1).as("w"))
      assert(rr(df) == 0, df.queryExecution.executedPlan)
    } finally spark.conf.set(minSize, "1")
  }

  test("idempotent: a second pass over the optimized plan changes nothing") {
    val df = lineitem.agg(sum(Money.dec(col("l_extendedprice")) * (lit(1) - Money.dec(col("l_discount")))))
    val optimized = df.queryExecution.optimizedPlan
    assert(FactSpread(spark)(optimized) == optimized)
  }

  test("streaming plans are left alone") {
    val streaming = orders.select(upperPriority).queryExecution.analyzed.transform {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.copy(isStreaming = true)
    }
    assert(streaming.isStreaming)
    assert(FactSpread(spark)(streaming) == streaming)
  }

  test("excludedRules turns the rule off") {
    val df = () => events.select(regexp_extract(col("props"), "([a-z]+)", 1).as("w"))
    assert(SparkSpec.withoutRules(spark, SparkSpec.FactSpreadRule)(rr(df())) == 0)
    assert(rr(df()) == 1)
  }
}
