package graft

import org.apache.spark.sql.DataFrame

/** Scale-up rehearsal at sf1 (10× the bench SF, ~6M-row lineitem,
  * generated deterministically by [[graft.tools.MakeSf1]]): converts
  * the BENCH_NOTES "100 TB projection" claims from argued to measured.
  *
  *  - the broadcast→shuffle flip on the gold star join is asserted on
  *    the POST-AQE executed plan at both SFs under one fixed
  *    threshold: the same query, same code, flips because the customer
  *    dimension's SIZE crossed the line — the graceful-degradation
  *    contract of [[graft.operators.Gold.maybeBroadcast]];
  *  - exact scale laws (sums ×10, averages invariant) pin the
  *    generator's replication semantics, so the sf1 numbers mean what
  *    they claim;
  *  - a full-registry plan sweep at sf1 stats confirms no query picks
  *    a cartesian/nested-loop shape when the inputs grow 10×.
  *
  * Wall-clock linearity (no query quadratic at sf1) is measured by the
  * bench, not asserted here — see BENCH_NOTES "Scale-up rehearsal".
  */
class ScaleUpSpec extends SparkSpec {
  private lazy val sf01 = "/root/testdata/sf0.1"
  private lazy val sf1: String = graft.tools.MakeSf1.ensure(spark)

  /** Drive THIS df's QueryExecution to its AQE final plan without
    * collecting rows to the driver. */
  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreachPartition(_ => ())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.linesIterator.next())
    // a materialized AQE plan prints the final AND the initial plan —
    // join-strategy counts must read the final section only
    p.split("== Initial Plan ==")(0)
  }
  private def occurrences(pat: String, plan: String): Int = pat.r.findAllIn(plan).length

  test("gold star join: dims flip broadcast->shuffle when their SIZE outgrows a fixed threshold") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    // 500 KB: above every sf0.1 dim (customer 312K is the largest),
    // below sf1's customer (884K) and part (984K) — same conf, the
    // size crossing does the flipping
    try {
      spark.conf.set(key, "500KB")
      val small = finalPlan(QueriesEtl.goldEnriched(spark, sf01))
      assert(occurrences("BroadcastHashJoin", small) >= 5,
        s"sf0.1 under 500KB: all five dims must broadcast\n$small")
      assert(occurrences("SortMergeJoin", small) <= 1,
        s"sf0.1: only the fact-fact join may shuffle\n$small")

      val big = finalPlan(QueriesEtl.goldEnriched(spark, sf1))
      val (bhj, smj) = (occurrences("BroadcastHashJoin", big), occurrences("SortMergeJoin", big))
      // customer+part outgrew the threshold -> shuffle joins (plus the
      // fact-fact join); nation/region/supplier stay broadcast
      assert(bhj == 3, s"sf1: expected 3 broadcast dims (nation/region/supplier), got $bhj\n$big")
      assert(smj == 3, s"sf1: expected fact-fact + customer + part as shuffle joins, got $smj\n$big")
    } finally spark.conf.set(key, saved)
  }

  test("the flipped plan is result-identical to the broadcast plan") {
    import org.apache.spark.sql.functions._
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    def digest(): Seq[Any] =
      QueriesEtl.goldEnriched(spark, sf1)
        .agg(count_distinct(col("customer_name")), sum(col("revenue")).cast("decimal(30,2)"),
          count(lit(1)))
        .head.toSeq
    val broadcastRun = digest()
    val shuffleRun =
      try { spark.conf.set(key, "500KB"); digest() }
      finally spark.conf.set(key, saved)
    assert(broadcastRun == shuffleRun,
      s"join strategy must not change results: $broadcastRun vs $shuffleRun")
  }

  test("scale laws: sums x10, averages and distinct-dim structure invariant") {
    val small = QueriesAnalytics.kpiSummary(spark, sf01).head
    val big = QueriesAnalytics.kpiSummary(spark, sf1).head
    // columns: total_revenue, total_orders, total_line_items,
    //          distinct_parts, distinct_suppliers, avg_line_price
    assert(big.getLong(1) == 10L * small.getLong(1), "orders x10")
    assert(big.getLong(2) == 10L * small.getLong(2), "line items x10")
    assert(big.getLong(3) == 10L * small.getLong(3), "distinct parts x10 (strided keys)")
    assert(big.getLong(4) == 10L * small.getLong(4), "distinct suppliers x10")
    assert(math.abs(big.getDouble(0) / small.getDouble(0) - 10.0) < 1e-9,
      s"revenue x10: ${big.getDouble(0)} vs ${small.getDouble(0)}")
    assert(big.getDouble(5) == small.getDouble(5),
      "average invariant under replication (exact integer-scaled avg)")
  }

  // queries whose BroadcastNestedLoopJoin is a BOUNDED broadcast by
  // construction: 1-row scalar-aggregate recombination, or the
  // documented brute-force baselines whose broadcast side is a fixed
  // bounded query set (SF-independent — strided re-keying keeps the
  // `vec_id < 10` set at 10 rows at any SF)
  private val boundedBnlj = Set(
    "q_kpi_summary",    // 1-row aggregates crossJoined back together
    "q_boilerplate",    // scalar corpus-total crossJoin
    "q_boiler_coverage", // same shape: 1-row nDocs crossJoin (r16 in-plan fix)
    "q_pmi_bigrams",    // scalar token-total crossJoin
    "q_vocab_coverage", // scalar coverage-total crossJoin
    "q_weekday_seasonality", // scalar revenue-total crossJoin (≤7 cells)
    "q_abc_parts",      // scalar revenue-total crossJoin onto the part grain
    "q_hourly_heatmap", // scalar event-total crossJoin (≤168 cells)
    "q_ann_topk",       // brute-force baseline: bounded query set broadcast
    "q_ann_quantized",  // int8 twin of the same baseline
    "q_token_budget",   // scalar token-budget crossJoin onto the ledger
    "q_quality_sweep",  // 21-row threshold grid theta-joins the ≤101-row score grain
    "q_mix_allocate",   // 1-row budget/level frames broadcast onto the cell grain
    "q_mix_epochs",     // same waterFill machinery on 4x-scaled caps
    "q_mix_materialize", // same waterFill ledger, materialized per doc
    // 1-row recombinations around shared intermediates: a share is a
    // plan node, so the spec sees the operators on both sides of it
    "q_basket_lift",       // scalar basket-total crossJoin onto the pair grain
    "q_category_affinity", // scalar basket-total crossJoin onto the category pairs
    "q_hll_union",         // 1-row exact total x 1-row sketch estimate
    "q_revenue_gini",      // 1-row moments x 1-row top-decile sum
    "q_rfm_segments",      // 1-row breakpoint frame crossJoined onto the customer grain
    "q_ann_ivf")           // the k centroids (with radii) broadcast onto the query set

  test("no query picks a cartesian/unbounded nested-loop plan at sf1 stats") {
    val offenders = Queries.all.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf1).queryExecution.executedPlan.toString
      val cart = if (plan.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
      val bnlj = if (plan.contains("BroadcastNestedLoopJoin") && !boundedBnlj(name))
        Seq(s"$name: BroadcastNestedLoopJoin outside the bounded allowlist") else Nil
      cart ++ bnlj
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
