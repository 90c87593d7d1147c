package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Money

/** Dashboard-analytics + events verified queries (SURVEY §2 #14–#21).
  * Re-expresses the reference dashboard's pandas aggregations
  * (`dashboard.py`) and the streaming twins as Catalyst plans.
  *
  * Top-N queries order by the ROUNDED measure with an id tiebreak so
  * Spark and the DuckDB oracle agree at double-precision boundaries
  * (SURVEY §3).
  */
object QueriesAnalytics {
  import Queries.Q

  /** Exact discounted revenue (order-independent; see [[Money]]). */
  private def revenue =
    sum(Money.dec(col("l_extendedprice")) * (lit(1) - Money.dec(col("l_discount")))).cast("double")

  /** #14 KPI card totals (dashboard.py:128-140).
    *
    * The three distinct counts run as separate single-column
    * distinct pre-aggregates (each scan pruned to its one column,
    * shuffle volume = #distinct keys) rather than one agg with three
    * `countDistinct`s — Spark plans multi-distinct via an Expand that
    * replicates every fact row once per distinct column BEFORE the
    * exchange, which at 100 TB shuffles 4× the fact instead of three
    * key sets. The 1-row results recombine with broadcast joins.
    *
    * Trade-off: this formulation scans lineitem four times (base agg
    * plus one column-pruned scan per distinct), betting that shuffle
    * dominates — true on warm/columnar storage where each extra pass
    * reads ONE dictionary-encoded integer column (~2% of the table
    * bytes). A variant that cached one narrow 3-key projection and ran
    * the distincts over it (two fact scans) lost at sf0.1 and sf1 and
    * read 0.959× in the r18 interleaved A/B — too small a lever for a
    * second path, so it was removed (BENCH_NOTES "KPI
    * cached-projection").
    *
    * Pure-SQL users get the default rewrite automatically: the
    * injected optimizer rule [[graft.plans.ExpandFreeDistinct]]
    * generalizes exactly this shape to any eligible global
    * multi-distinct. */
  def kpiSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val base = li.agg(
        revenue.as("total_revenue"),
        count(lit(1)).as("total_line_items"),
        Money.scaledSum(col("l_extendedprice"), 2).as("__sp"))
    // count(col), not count(1): a NULL key must not count as a
    // distinct value (countDistinct / DuckDB count(DISTINCT) exclude it)
    def nDistinct(c: String, as: String): DataFrame =
      li.select(c).distinct().agg(count(col(c)).as(as))
    base
      .crossJoin(nDistinct("l_orderkey", "total_orders"))
      .crossJoin(nDistinct("l_partkey", "distinct_parts"))
      .crossJoin(nDistinct("l_suppkey", "distinct_suppliers"))
      .withColumn("avg_line_price", Money.avgFromScaled(col("__sp"), col("total_line_items"), 2))
      .select(col("total_revenue"), col("total_orders"), col("total_line_items"),
        col("distinct_parts"), col("distinct_suppliers"), col("avg_line_price"))
  }

  /** #15 top-10 products by revenue (dashboard.py:190-199). */
  def topProducts(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(revenue.as("revenue"), Money.sumExact(col("l_quantity")).as("units"))
    li.join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("revenue"), col("units"))
      .orderBy(col("revenue").desc, col("p_partkey"))
      .limit(10)
  }

  /** #16 revenue by category (dashboard.py:201-210; p_type as category). */
  def revenueByCategory(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type").as("category"))
      .agg(revenue.as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy("category")

  /** #17 revenue by customer region/nation (dashboard.py:266-274).
    * Fact shuffles once (orders join); all dims broadcast. */
  def revenueByRegion(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(revenue.as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy("region", "nation")
  }

  /** #18 monthly revenue trend (dashboard.py's monthly sales trend). */
  def monthlyTrend(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(
        Money.sumExact(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("active_customers")
      )
      .orderBy("month")

  /** #19 top-10 customers by spend (dashboard.py:215-239). */
  def topCustomers(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(Money.sumExact(col("o_totalprice")).as("total_spent"), count(lit(1)).as("total_orders"))
    m.join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("total_spent"), col("total_orders"))
      .orderBy(col("total_spent").desc, col("c_custkey"))
      .limit(10)
  }

  /** #20 tumbling-window event aggregation (batch twin of
    * `graft.streaming.EventStream`). */
  def eventsWindowed(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        date_trunc("hour", col("ts")).as("window_start"),
        col("event_type")
      )
      .agg(
        count(lit(1)).as("n_events"),
        Money.sumExact(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("distinct_users")
      )
      .orderBy("window_start", "event_type")

  /** #21 gap-based sessionization (30-min inactivity), batch twin of
    * the `flatMapGroupsWithState` streaming sessionizer. Two window
    * passes over the same (user_id, ts) ordering — one shuffle, reused
    * partitioning. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(
        col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts_s"), col("value")
      )
      .withColumn("prev_ts", lag(col("ts_s"), 1).over(order))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull || col("ts_s").cast("long") - col("prev_ts").cast("long") > 1800L, 1L)
          .otherwise(0L)
      )
      .withColumn("session_seq", sum(col("new_session")).over(order))
    ev.groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_s")).as("session_start"),
        max(col("ts_s")).as("session_end"),
        Money.sumExact(col("value")).as("total_value")
      )
      .orderBy("user_id", "session_seq")
  }

  /** #35 hierarchical subtotals: year × status ROLLUP (grand total,
    * per-year, per-year-status) in one pass. */
  def salesRollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(year(col("o_orderdate")).cast("long").as("order_year"), col("o_orderstatus"))
      .agg(Money.sumExact(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))

  /** #36 running totals + sequence per customer: one shuffle on the
    * partition key serves both window functions; the running sum is
    * exact decimal, so the cumulative value is reproducible at any
    * partitioning. */
  def runningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      row_number().over(w).as("order_seq"),
      sum(Money.dec(col("o_totalprice")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("running_spent")
    )
  }

  /** #37 pivot: revenue by brand × return flag (fixed pivot values →
    * no extra pass to discover columns). */
  def pivotReturnflag(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(Money.dec(col("l_extendedprice")) * (lit(1) - Money.dec(col("l_discount")))).cast("double"))
      .orderBy("p_brand")

  /** #44 exact lower-median order value per market segment: two-pass
    * rank selection ([[graft.operators.Quantiles]] at p50 — the lower
    * median, rank ceil(n/2)) instead of a whole-segment window sort;
    * no float interpolation — the value is a real data point, so it's
    * engine-portable by construction. */
  def medianOrderValue(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    graft.operators.Quantiles.selectAtRanks(
      o, "c_mktsegment", col("o_totalprice"), col("o_orderkey"),
      floor(col("o_totalprice") / 1000.0).cast("long"), Seq(50L), "median_order_value")
      .drop("pctl")
      .orderBy("c_mktsegment")
  }

  /** #45 revenue histogram: 10k-unit price buckets via exact integer
    * division on cents. */
  def revenueHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(call_function("div",
        (Money.dec(col("l_extendedprice")) * 100).cast("long"), lit(1000000L)).as("bucket_10k"))
      .groupBy("bucket_10k")
      .agg(count(lit(1)).as("n_lines"))
      .orderBy("bucket_10k")

  /** #88 daily revenue trend: day-grain totals with a 7-day TRAILING
    * window and day-over-day delta — the monitoring query behind any
    * ingest-volume or revenue dashboard. RANGE over the day INDEX
    * (not ROWS) so calendar gaps genuinely shrink the window instead
    * of silently pulling in older days; `window_days` exposes how
    * many days actually contributed. All arithmetic is exact integer
    * cents until one final double division per column.
    *
    * Scale shape: the windows run on the AGGREGATED day grain —
    * |calendar days| rows regardless of fact size — so the
    * unpartitioned sort is bounded by years×365, never by the data.
    * The heavy work (fact → day totals) is one map-side-combined
    * aggregation. */
  def dailyTrend(s: SparkSession, dir: String): DataFrame =
    dailyTrendOn(Tables.orders(s, dir))

  private[graft] def dailyTrendOn(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(
        Money.scaledSum(col("o_totalprice"), 2).as("__c"),
        count(lit(1)).as("n_orders"))
      .withColumn("__d", datediff(col("day"), lit("1992-01-01").cast("date")))
    val range7 = Window.orderBy("__d").rangeBetween(-6, 0)
    val byDay = Window.orderBy("__d")
    daily
      .withColumn("__t", sum(col("__c")).over(range7))
      .withColumn("window_days", count(lit(1)).over(range7))
      .withColumn("__prev", lag(col("__c"), 1).over(byDay))
      .select(
        col("day"), col("n_orders"),
        (col("__c").cast("double") / lit(100.0)).as("revenue"),
        (col("__t").cast("double") / lit(100.0)).as("trailing_7d"),
        col("window_days"),
        ((col("__c") - col("__prev")).cast("double") / lit(100.0)).as("dod_delta"))
      .orderBy("day")
  }

  /** #95 inter-event gap profile: the distribution of seconds between
    * a user's consecutive events, bucketed on a fixed ladder with an
    * `in_session` marker at the 30-minute line — the calibration
    * evidence behind #21's sessionization threshold (a sound gap
    * choice sits in a trough of this histogram). Integer seconds on
    * second-truncated timestamps, integer-permille shares.
    *
    * Scale shape: the lag window is user-partitioned (the same keyed
    * shuffle sessionize needs — no global sort), then ≤ 7 bucket
    * cells; the permille window runs on the bucket grain. */
  def eventGaps(s: SparkSession, dir: String): DataFrame =
    eventGapsOn(Tables.events(s, dir))

  private[graft] def eventGapsOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"), date_trunc("second", col("ts")).as("ts_s"))
      .withColumn("__prev", lag(col("ts_s"), 1).over(w))
      .where(col("__prev").isNotNull)
      .select((col("ts_s").cast("long") - col("__prev").cast("long")).as("gap_s"))
    val bucket = when(col("gap_s") === 0, 0L)
      .when(col("gap_s") <= 10, 1L)
      .when(col("gap_s") <= 60, 2L)
      .when(col("gap_s") <= 600, 3L)
      .when(col("gap_s") <= 1800, 4L)
      .when(col("gap_s") <= 3600, 5L)
      .otherwise(6L)
    val label = Seq(0L -> "0s", 1L -> "1-10s", 2L -> "11-60s", 3L -> "1-10min",
      4L -> "10-30min", 5L -> "30-60min", 6L -> ">60min")
      .foldLeft(lit(null).cast("string")) { case (acc, (b, l)) =>
        when(col("bucket") === b, lit(l)).otherwise(acc)
      }
    gaps.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_gaps"))
      .withColumn("share_permille", call_function("div",
        col("n_gaps") * lit(1000L),
        sum(col("n_gaps")).over(org.apache.spark.sql.expressions.Window.partitionBy())))
      .withColumn("gap_bucket", label)
      .withColumn("in_session", col("bucket") <= 4)
      .select("bucket", "gap_bucket", "n_gaps", "share_permille", "in_session")
      .orderBy("bucket")
  }

  /** #96 discount elasticity: OLS slope + Pearson r of quantity on
    * discount per return flag — does discounting move volume? The
    * moment sums run on exact scaled integers (cents: both columns
    * carry 2 decimals), accumulate as decimal(38,0) — associative,
    * overflow-proof, order-independent — and the scale factors cancel
    * in both ratios, so slope and r are exact rationals until the
    * final double expressions (sqrt is IEEE correctly-rounded, hence
    * engine-portable). Zero-variance groups emit NULL, not ±Inf.
    *
    * Scale shape: one pruned fact scan, map-side partial moment sums
    * to ≤ |groups| cells — the textbook one-pass regression at any
    * data size. */
  def discountCorr(s: SparkSession, dir: String): DataFrame =
    discountCorrOn(Tables.lineitem(s, dir))

  private[graft] def discountCorrOn(lineitem: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val x = (Money.dec(col("l_discount")) * lit(100)).cast("long")
    val y = (Money.dec(col("l_quantity")) * lit(100)).cast("long")
    val m = lineitem
      .select(col("l_returnflag"), x.as("__x"), y.as("__y"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__x") * col("__y")).cast(dec)).as("__sxy"),
        sum((col("__x") * col("__x")).cast(dec)).as("__sxx"),
        sum((col("__y") * col("__y")).cast(dec)).as("__syy"))
    val n = col("n_lines").cast(dec)
    val cov = n * col("__sxy") - col("__sx") * col("__sy")
    val vx = n * col("__sxx") - col("__sx") * col("__sx")
    val vy = n * col("__syy") - col("__sy") * col("__sy")
    m.select(
        col("l_returnflag"), col("n_lines"),
        when(vx === 0, lit(null).cast("double"))
          .otherwise(cov.cast("double") / vx.cast("double")).as("slope"),
        when(vx === 0 || vy === 0, lit(null).cast("double"))
          .otherwise(cov.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))).as("pearson_r"))
      .orderBy("l_returnflag")
  }

  /** #100 event transition matrix: first-order Markov counts over
    * each user's event stream — P(next type | type) in integer
    * permille — the behavioral fingerprint behind funnel design and
    * bot detection (a scraper's matrix is near-deterministic; a
    * human's is diffuse). Rides the same user-keyed lag shuffle as
    * #21/#95; the matrix is |types|² cells, the per-row permille
    * window runs on the `prev_type` grain.
    *
    * Scale note: states = event types (enum-small). For
    * high-cardinality states (page URLs) the matrix itself is the
    * scale object — cap to top-K states first (#55's sketch). */
  def eventTransitions(s: SparkSession, dir: String): DataFrame =
    eventTransitionsOn(Tables.events(s, dir))

  private[graft] def eventTransitionsOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts_s"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p_permille", call_function("div",
        col("n") * lit(1000L),
        sum(col("n")).over(Window.partitionBy("prev_type"))))
      .orderBy("prev_type", "event_type")
  }

  /** #101 ship-latency SLA: exact p50/p90/p99 of days from order to
    * line shipment per order priority (histogram rank selection —
    * real data points, no interpolation) plus the exact
    * integer-permille mean — the fulfillment report behind any SLA
    * dashboard.
    *
    * Scale shape: the orderkey join is the one genuine fact×fact
    * shuffle here (both sides pruned to 2-3 columns); it collapses
    * immediately to (priority, day) cells — day cardinality is the
    * calendar, not the data — and quantiles, means and counts all
    * run on that grain. */
  def shipLatency(s: SparkSession, dir: String): DataFrame =
    shipLatencyOn(Tables.lineitem(s, dir), Tables.orders(s, dir))

  private[graft] def shipLatencyOn(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_shipdate"))
    val o = orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    // `days` is INTEGER-valued, so exact quantiles come straight off
    // the (priority, day) histogram: the rank's bucket IS the value —
    // no row-grain second pass, no tie column, no persist. One fact
    // join, one map-side-combined aggregation to calendar-bounded
    // cells, then everything runs on that tiny grain.
    val cells = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days"))
      .groupBy("o_orderpriority", "days").agg(count(lit(1)).as("__c"))
    val totals = cells.groupBy("o_orderpriority").agg(
      sum(col("__c")).as("n_lines"),
      call_function("div",
        sum(col("days") * col("__c")).cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * lit(1000L), sum(col("__c"))).as("mean_days_permille"))
    val cumW = Window.partitionBy("o_orderpriority").orderBy("days")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cells.withColumn("__before", coalesce(sum(col("__c")).over(cumW), lit(0L)))
    def pick(p: Long) = {
      val rank = call_function("div", lit(p) * col("n_lines") + lit(99L), lit(100L))
      max(when(col("__before") < rank && rank <= col("__before") + col("__c"),
        col("days"))).as(s"p${p}_days")
    }
    cum.join(broadcast(totals), "o_orderpriority")
      .groupBy("o_orderpriority", "n_lines", "mean_days_permille")
      .agg(pick(50L), pick(90L), pick(99L))
      .select("o_orderpriority", "n_lines", "p50_days", "p90_days", "p99_days",
        "mean_days_permille")
      .orderBy("o_orderpriority")
  }

  /** #104 pure-SQL multi-distinct profile per order year — the row that
    * drives [[graft.plans.ExpandFreeDistinct]] through the VERIFIED
    * surface. [[kpiSummary]] builds the Expand-free shape by hand; this
    * query hands Spark the plain multi-distinct SQL a dashboard user
    * would actually write (ref: dashboard.py's distinct-count cards)
    * and lets the injected rule rewrite it: three different distinct
    * columns grouped by a plain attribute over a scan/project chain is
    * exactly the rule's auto-fire shape. PlanSpec asserts the executed
    * plan carries no Expand and recombines per-column parts with joins.
    * The aggregate child is date math over a bare scan, so
    * [[graft.plans.FactSpread]] leaves it unspread and the rewrite's
    * cheap-child gate admits it. */
  def yearlyDistincts(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders_yd")
    s.sql(
      """SELECT order_year,
        |       count(DISTINCT o_custkey)       AS n_customers,
        |       count(DISTINCT o_orderpriority) AS n_priorities,
        |       count(DISTINCT o_orderstatus)   AS n_statuses,
        |       count(*)                        AS n_orders
        |FROM (SELECT year(o_orderdate) AS order_year, o_custkey,
        |             o_orderpriority, o_orderstatus
        |      FROM graft_orders_yd)
        |GROUP BY order_year
        |ORDER BY order_year""".stripMargin)
  }

  /** #105 RFM customer segmentation — recency (days since last order
    * at the corpus as-of date) / frequency (order count) / monetary
    * (exact decimal revenue) per customer, quartile scores against
    * EXACT distribution breakpoints, and a rule-based segment label.
    * The customer-value report every sales dashboard grows into
    * (the reference's customer_metrics is its precursor).
    *
    * Scale shape: metrics are one map-side-combined groupBy on
    * custkey, persisted once (three breakpoint passes + the final
    * scoring read it). Breakpoints come from
    * [[graft.operators.Quantiles.selectAtRanks]] — never a global
    * sort of the customer grain — and join back as one broadcast
    * row. Scores are value-based (score = #breakpoints strictly
    * below), so ties get equal scores and the result is independent
    * of partitioning; an ntile formulation would need a global
    * row_number AND make tied customers' scores order-dependent. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    // the corpus as-of date is the global max order date — a pruned
    // 1-column scan (parquet stats short-circuit it), computed once,
    // broadcast once; deriving it from the customer grain would pin
    // the grain behind a second aggregation
    val asof = o.agg(to_date(max(col("o_orderdate"))).as("__asof")) // to_date AFTER max: monotone, lets the agg run on the raw column
    val met = o
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        max(to_date(col("o_orderdate"))).as("__last"),
        count(lit(1)).as("frequency"),
        Money.scaledSum(col("o_totalprice"), 2).as("__cents"))
      .crossJoin(broadcast(asof))
      .select(
        col("custkey"),
        datediff(col("__asof"), col("__last")).cast("long").as("recency_days"),
        col("frequency"),
        col("__cents"))
      .transform(Caching.share)
    // breakpoints: the real data point at rank ceil(p·n/100), per
    // metric — ONE rank-selection pass over the three metrics stacked
    // long-form with the metric name as the segment key (3 separate
    // passes triple the job count for identical values);
    // recency/frequency bucket on the value itself (calendar- /
    // orders-per-customer-bounded), cents on a 1000-unit coarsening
    val longForm = met
      .select(col("custkey"), col("recency_days").as("__v0"), lit("r").as("__m"))
      .unionAll(met.select(col("custkey"), col("frequency").as("__v0"), lit("f").as("__m")))
      .unionAll(met.select(col("custkey"), col("__cents").as("__v0"), lit("m").as("__m")))
    val q = graft.operators.Quantiles.selectAtRanks(
      longForm, "__m", col("__v0"), col("custkey"),
      when(col("__m") === "m", call_function("div", col("__v0"), lit(100000L)))
        .otherwise(col("__v0")),
      Seq(25L, 50L, 75L), "__v")
    val bkCols = for (tag <- Seq("r", "f", "m"); p <- Seq(25L, 50L, 75L))
      yield max(when(col("__m") === tag && col("pctl") === p, col("__v"))).as(s"__$tag$p")
    val bks = q.groupBy().agg(bkCols.head, bkCols.tail: _*)
    def above(v: Column, tag: String) =
      lit(1L) + (v > col(s"__${tag}25")).cast("long") +
        (v > col(s"__${tag}50")).cast("long") + (v > col(s"__${tag}75")).cast("long")
    val scored = met.crossJoin(broadcast(bks))
      .withColumn("r_score", lit(5L) - above(col("recency_days"), "r")) // recent = low days = high score
      .withColumn("f_score", above(col("frequency"), "f"))
      .withColumn("m_score", above(col("__cents"), "m"))
    scored.select(
      col("custkey"),
      col("recency_days"),
      col("frequency"),
      (col("__cents").cast("double") / lit(100.0)).as("monetary"),
      col("r_score"), col("f_score"), col("m_score"),
      when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
        .when(col("r_score") >= 3 && col("f_score") >= 3, "loyal")
        .when(col("r_score") >= 4, "recent")
        .when(col("m_score") >= 4, "big_spender")
        .when(col("r_score") <= 1 && col("f_score") >= 3, "at_risk")
        .when(col("r_score") <= 1, "lost")
        .otherwise("regular").as("segment"))
  }

  /** #111 weekday seasonality: order count, exact revenue, and
    * integer-permille revenue share / seasonal index per ISO weekday
    * (Mon=1..Sun=7). The index is `7000·cents_dow div total_cents` —
    * 1000 means a flat week; the staffing/capacity planning signal
    * behind any ops dashboard. One map-side-combined agg to ≤7 cells;
    * the total recombines as a broadcast 1-row frame (a window over 7
    * rows would also be fine — the broadcast keeps the shape uniform
    * with the other share queries). All ratios are exact integer
    * permille on exact cent sums: no float division to disagree
    * across engines or partitionings. */
  def weekdaySeasonality(s: SparkSession, dir: String): DataFrame =
    weekdaySeasonalityOn(Tables.orders(s, dir))

  private[graft] def weekdaySeasonalityOn(orders: DataFrame): DataFrame = {
    val d = orders
      .groupBy((weekday(col("o_orderdate")) + lit(1)).cast("long").as("dow_iso"))
      .agg(count(lit(1)).as("n_orders"),
        Money.scaledSum(col("o_totalprice"), 2).as("__cents"))
    val total = d.agg(sum(col("__cents")).as("__total"))
    d.crossJoin(broadcast(total))
      .select(
        col("dow_iso"), col("n_orders"),
        (col("__cents").cast("double") / lit(100.0)).as("revenue"),
        // ×1000/×7000 widened to DECIMAL(38,0): cents×7000 would pass
        // Int64 at ~60× the sf1 corpus — far below the 100 TB target.
        // `div` on decimals still returns BIGINT (hash parity kept).
        call_function("div",
          col("__cents").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * lit(1000L),
          col("__total")).as("share_permille"),
        call_function("div",
          col("__cents").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * lit(7000L),
          col("__total")).as("idx_permille"))
      .orderBy("dow_iso")
  }

  /** #112 supplier scorecard: per-supplier fulfillment report — line
    * count, exact discounted revenue, distinct parts carried, return
    * rate, and mean order→ship latency, enriched with the supplier's
    * name and nation. The vendor-performance mart a procurement team
    * builds first (the reference's gold enrichment consumes the same
    * supplier dimension).
    *
    * Scale shape: ONE fact×fact shuffle (lineitem⋈orders on orderkey,
    * both sides pruned to the 2-3 needed columns) collapsing straight
    * into a supplier-keyed map-side-combined agg; distinct parts runs
    * as its own (suppkey, partkey)-distinct pre-aggregate — never a
    * multi-distinct Expand replicating fact rows — and rejoins on the
    * supplier grain. Name/nation dims broadcast. Rates are exact
    * integer permille (`div` on long sums). */
  def supplierScorecard(s: SparkSession, dir: String): DataFrame =
    supplierScorecardOn(Tables.lineitem(s, dir), Tables.orders(s, dir),
      Tables.supplier(s, dir), Tables.nation(s, dir))

  private[graft] def supplierScorecardOn(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, nation: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_suppkey"),
      col("l_extendedprice"), col("l_discount"), col("l_returnflag"), col("l_shipdate"))
    val o = orders.select(col("o_orderkey"), col("o_orderdate"))
    val a = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        revenue.as("revenue"),
        sum(when(col("l_returnflag") === "R", lit(1L)).otherwise(lit(0L))).as("__nret"),
        sum(datediff(col("l_shipdate"), col("o_orderdate")).cast("long")).as("__days"))
    val parts = lineitem
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("distinct_parts"))
    a.join(parts, "l_suppkey")
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(
        col("s_suppkey"), col("s_name"), col("n_name").as("nation"),
        col("n_lines"), col("distinct_parts"), col("revenue"),
        call_function("div", col("__nret") * lit(1000L), col("n_lines"))
          .as("return_permille"),
        call_function("div", col("__days") * lit(1000L), col("n_lines"))
          .as("mean_ship_days_permille"))
      .orderBy("s_suppkey")
  }

  /** #113 inter-purchase cadence: per-customer gaps between
    * consecutive orders — order count, gap count, min/max gap, and
    * the exact integer-permille mean gap. The repurchase-cycle signal
    * feeding churn models and replenishment campaigns (single-order
    * customers have no cadence and are excluded).
    *
    * Scale shape: ONE custkey shuffle total — the lag window and the
    * customer-grain aggregation share the same hash partitioning, so
    * Catalyst plans the groupBy with no second exchange. All stats
    * are integer-exact (day gaps, long sums, `div`). */
  def interpurchase(s: SparkSession, dir: String): DataFrame =
    interpurchaseOn(Tables.orders(s, dir))

  private[graft] def interpurchaseOn(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders.select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("gap",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).cast("long"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"), count(col("gap")).as("n_gaps"),
        min(col("gap")).as("min_gap_days"), max(col("gap")).as("max_gap_days"),
        sum(col("gap")).as("__sum"))
      .where(col("n_gaps") > 0)
      .select(col("custkey"), col("n_orders"), col("n_gaps"),
        col("min_gap_days"), col("max_gap_days"),
        call_function("div", col("__sum") * lit(1000L), col("n_gaps"))
          .as("mean_gap_days_permille"))
    // no orderBy: the output is customer-grain (huge at scale) — a
    // global range sort would add an exchange for presentation only
  }

  /** #114 rolling 7-day active users per day — THE engagement metric
    * (DAU/WAU family), computed EXACTLY: the user-day grain is
    * deduped once, each user-day votes into the 7 calendar days it
    * keeps the user "active" for (map-only `sequence`+`explode` — a
    * fixed 7× expansion of the already-tiny user-day grain, never of
    * raw events), and a second distinct collapses multi-day users
    * inside each window. A windowed `count(DISTINCT)` can't do this
    * (distinct doesn't decompose over sliding frames); the expansion
    * IS the standard scale formulation.
    *
    * Output days are restricted to days that actually have events
    * (calendar-grain semi-join, broadcast — the day dimension is
    * bounded by the calendar, not the data). */
  def rollingUsers(s: SparkSession, dir: String): DataFrame =
    rollingUsersOn(Tables.events(s, dir))

  private[graft] def rollingUsersOn(events: DataFrame): DataFrame = {
    // the user-day grain feeds THREE consumers (day dimension, daily
    // count, 7-day vote expansion) — share it once instead of paying
    // the events scan + distinct exchange per consumer (guide §2.4)
    val ud = Caching.share(events.select(to_date(col("ts")).as("day"), col("user_id")).distinct())
    val days = ud.select(col("day").as("rday")).distinct()
    val daily = ud.groupBy(col("day").as("rday")).agg(count(lit(1)).as("n_users_1d"))
    val rolled = ud
      .select(explode(sequence(lit(0), lit(6))).as("k"), col("day"), col("user_id"))
      .select(date_add(col("day"), col("k")).as("rday"), col("user_id"))
      .join(broadcast(days), "rday")
      .distinct()
      .groupBy("rday").agg(count(lit(1)).as("active_users_7d"))
    rolled.join(daily, "rday")
      .select(col("rday").as("day"), col("n_users_1d"), col("active_users_7d"))
      .orderBy("day")
  }

  /** #115 click→purchase attribution: every purchase event paired
    * with the same user's clicks inside a trailing 1-hour horizon,
    * with the exact click→purchase lag. This is the VERIFIED batch
    * twin of [[graft.streaming.JoinStream.attribution]] — same
    * builder, same columns — so the stream-stream interval join's
    * semantics are oracle-checked, not just spec'd.
    *
    * Scale shape: the user equi-key drives the hash join (the
    * interval bounds are post-join filters — no nested loop); in
    * streaming form the same interval is what bounds the join state. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    graft.streaming.JoinStream.attributionBatch(clicks, purchases, 3600L)
  }

  def all: Map[String, Q] = Map(
    "q_rfm_segments" -> (rfmSegments _),
    "q_interpurchase" -> (interpurchase _),
    "q_rolling_users" -> (rollingUsers _),
    "q_attribution" -> (attribution _),
    "q_weekday_seasonality" -> (weekdaySeasonality _),
    "q_supplier_scorecard" -> (supplierScorecard _),
    "q_yearly_distincts" -> (yearlyDistincts _),
    "q_event_transitions" -> (eventTransitions _),
    "q_ship_latency" -> (shipLatency _),
    "q_discount_corr" -> (discountCorr _),
    "q_event_gaps" -> (eventGaps _),
    "q_daily_trend" -> (dailyTrend _),
    "q_median_order_value" -> (medianOrderValue _),
    "q_revenue_histogram" -> (revenueHistogram _),
    "q_sales_rollup" -> (salesRollup _),
    "q_running_total" -> (runningTotal _),
    "q_pivot_returnflag" -> (pivotReturnflag _),
    "q_kpi_summary" -> (kpiSummary _),
    "q_top_products" -> (topProducts _),
    "q_revenue_by_category" -> (revenueByCategory _),
    "q_revenue_by_region" -> (revenueByRegion _),
    "q_monthly_trend" -> (monthlyTrend _),
    "q_top_customers" -> (topCustomers _),
    "q_events_windowed" -> (eventsWindowed _),
    "q_sessionize" -> (sessionize _)
  )
}
