package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Money
import LayerIO.write

/** The reference's BATCH pipeline DAG, composed over [[JobGraph]] —
  * the data-plane mirror of airflow/dags/sales_pipeline_dag.py
  * (validate → bronze → run_pipeline → quality check → metrics) with
  * `run_pipeline`'s interior (main.py:100-340) opened up into real
  * dependency-ordered jobs instead of one opaque shell step:
  *
  * {{{
  *   validate ─┬─ bronze_ingest ── silver_fact ──┐
  *             └─ scd_dim ───────────────────────┴─ gold_enrich
  *                      gold_enrich ─┬─ customer_metrics ─┐
  *                                   ├─ monthly_mart ─────┼─ pipeline_metrics
  *                                   └─ gold_quality ─────┘
  * }}}
  *
  * Unlike the streaming composition ([[graft.streaming.MedallionStream]],
  * incremental micro-batches), this is the nightly full-refresh shape:
  * every stage WRITES its parquet layer and downstream stages READ the
  * written layer (never the upstream's in-memory frame), so each job is
  * independently restartable and the dependency edges are real I/O
  * barriers — exactly what the Airflow DAG encodes. A stage's metric
  * is the row count [[LayerIO.write]] observes on the writing job (a
  * failed write throws first), not a read-back of the landed layer,
  * and each layer read uses the schema its writer left in
  * [[Tables.read]]'s memo: no stage runs a schema-inference job. The dim branch
  * (SCD2) runs in parallel with the fact branch (bronze → silver);
  * gold waits on both (the dim-before-fact edge).
  *
  * Scale shape: narrow bronze/silver maps, keyed SCD merge on the
  * dimension grain, one fact-fact shuffle (order join) + size-gated
  * broadcast star join in gold, map-side-combined aggregates for the
  * marts; the quality gate and metrics are single-scan conditional
  * aggregations over the written gold.
  */
object SalesPipelineDag {

  /** On-disk layer layout under one root (medallion directory
    * convention of the reference's S3 bucket: bronze/ silver/ gold/). */
  final case class Layout(root: String) {
    val bronzeValid: String = s"$root/bronze/valid"
    val bronzeRejected: String = s"$root/bronze/rejected"
    val silverFact: String = s"$root/silver/fact"
    val scdDim: String = s"$root/silver/scd_customer"
    val goldEnriched: String = s"$root/gold/sales_enriched"
    val customerMetrics: String = s"$root/gold/customer_metrics"
    val monthlyMart: String = s"$root/gold/customer_monthly_mart"
  }

  /** Expected input-table columns, checked metadata-only before any
    * data is read (the DAG's `validate_environment`). */
  private val expectedColumns: Map[String, Set[String]] = Map(
    "lineitem" -> Set("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "orders" -> Set("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "customer" -> Set("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))

  /** Build the job graph. `goldSuite` is the quality gate's
    * expectation set (overridable so operators can tighten it;
    * tests use it to drive the failure path). */
  def build(
      s: SparkSession, sfDir: String, layout: Layout,
      goldSuite: Seq[DataQuality.Expectation] = defaultGoldSuite
  ): JobGraph = {
    val g = new JobGraph()

    g.add("validate_environment") {
      val drift = expectedColumns.flatMap { case (t, cols) =>
        DataQuality.columnsMatchSet(Tables.table(s, sfDir, t), cols)
          .map(v => s"$t:$v")
      }
      if (drift.nonEmpty)
        throw new IllegalStateException(s"input schema drift: ${drift.toSeq.sorted.mkString(", ")}")
      expectedColumns.size.toLong
    }

    g.add("bronze_ingest", deps = Seq("validate_environment"), retries = 1) {
      write(graft.QueriesEtl.bronzeRejected(s, sfDir), layout.bronzeRejected)
      write(graft.QueriesEtl.bronzeValid(s, sfDir), layout.bronzeValid)
    }

    g.add("silver_fact", deps = Seq("bronze_ingest"), retries = 1) {
      // read the WRITTEN bronze layer; clamp ship dates to the order
      // date floor (the reference's product_transform date fix)
      val bronze = Tables.read(s, layout.bronzeValid)
      val o = Tables.orders(s, sfDir).select("o_orderkey", "o_custkey", "o_orderdate")
      val silver = bronze
        .join(o, bronze("l_orderkey") === o("o_orderkey"))
        .withColumn("l_shipdate", Silver.clampDateToFloor(col("l_shipdate"), col("o_orderdate")))
        .drop("o_orderkey")
      write(silver, layout.silverFact)
    }

    g.add("scd_dim", deps = Seq("validate_environment"), retries = 1) {
      write(graft.QueriesEtl.scd2(s, sfDir), layout.scdDim)
    }

    g.add("gold_enrich", deps = Seq("silver_fact", "scd_dim"), retries = 1) {
      val fact = Tables.read(s, layout.silverFact)
      val dim = Scd2.current(Tables.read(s, layout.scdDim))
        .select("c_custkey", "c_name", "c_mktsegment")
      val gold = Gold.starJoin(
        fact,
        Seq(
          (dim, col("o_custkey") === col("c_custkey")),
          (Tables.part(s, sfDir), col("l_partkey") === col("p_partkey")),
          (Tables.supplier(s, sfDir), col("l_suppkey") === col("s_suppkey"))))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("o_orderdate"),
          col("c_custkey").as("custkey"),
          col("c_name").as("customer_name"),
          col("c_mktsegment").as("segment"),
          col("p_name").as("part_name"), col("p_brand").as("brand"),
          col("s_name").as("supplier_name"),
          col("l_quantity").as("quantity"),
          round(Money.dec(col("l_extendedprice")) * (lit(1) - Money.dec(col("l_discount"))), 2)
            .cast("double").as("revenue"))
      write(gold, layout.goldEnriched)
    }

    g.add("customer_metrics", deps = Seq("gold_enrich"), retries = 1) {
      val gold = Tables.read(s, layout.goldEnriched)
      write(
        gold.groupBy("custkey", "customer_name", "segment")
          .agg(
            countDistinct(col("l_orderkey")).as("total_orders"),
            Money.sumExact(col("revenue")).as("total_revenue"),
            max(to_date(col("o_orderdate"))).as("last_purchase_date")),
        layout.customerMetrics)
    }

    g.add("monthly_mart", deps = Seq("gold_enrich"), retries = 1) {
      val gold = Tables.read(s, layout.goldEnriched)
      write(
        gold.groupBy(col("custkey"), date_trunc("month", col("o_orderdate")).as("sales_month"))
          .agg(Money.sumExact(col("revenue")).as("total_sales"),
            countDistinct(col("l_orderkey")).as("n_orders")),
        layout.monthlyMart)
    }

    g.add("gold_quality_check", deps = Seq("gold_enrich")) {
      JobGraph.gate(DataQuality.run(Tables.read(s, layout.goldEnriched), goldSuite))
    }

    g.add("pipeline_metrics",
        deps = Seq("gold_quality_check", "customer_metrics", "monthly_mart")) {
      // the DAG's log_pipeline_metrics: total gold rows, from disk
      Tables.read(s, layout.goldEnriched).count()
    }
    g
  }

  /** The gate the reference runs on gold (sales_pipeline_dag.py:36-57
    * checks presence; here the check is value-level). */
  def defaultGoldSuite: Seq[DataQuality.Expectation] = Seq(
    DataQuality.NotNull("l_orderkey"),
    DataQuality.NotNull("custkey"),
    DataQuality.Between("quantity", 0.0, 1e9),
    DataQuality.Satisfies("revenue_non_negative", col("revenue") >= 0.0))

  /** Build and run sequentially; returns the report table. */
  def run(s: SparkSession, sfDir: String, root: String): Seq[JobGraph.JobReport] =
    build(s, sfDir, Layout(root)).run()
}
