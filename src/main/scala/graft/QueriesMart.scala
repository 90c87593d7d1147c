package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Money

/** Classic decision-support marts and DQ/ops reports (SURVEY §2
  * #116–#132, minus #122/#128 which live in [[QueriesScale]]): the
  * TPC-H-shaped join/top-k reports every warehouse team ships
  * (shipping priority, regional volume, promo share) plus the
  * Pareto/ABC, week-over-week, and traffic-heatmap reports the
  * reference dashboard's users would ask for next. All money math is
  * exact ([[Money]]); all ratios are integer permille on exact sums,
  * so results are bit-identical at any parallelism.
  */
object QueriesMart {
  import Queries.Q

  /** Exact discounted revenue (order-independent). */
  private def revenue =
    sum(Money.dec(col("l_extendedprice")) * (lit(1) - Money.dec(col("l_discount")))).cast("double")

  /** Discounted revenue as an exact integer scaled by 10^4 (the
    * price×(1−discount) product carries 4 decimals). Fits a long
    * until ~9×10^14 currency units; raise to DECIMAL beyond. */
  private def revCents4 =
    sum(Money.dec(col("l_extendedprice")) * (lit(1) - Money.dec(col("l_discount"))) * lit(10000L))
      .cast("long")

  /** Integer permille with the ×1000 widened to DECIMAL(38,0): on
    * [[revCents4]]-scaled sums a long `num * 1000` would overflow at
    * ~3× the sf1 corpus (measured: sf1 total revenue ×10^4 ×1000 =
    * 3.0e18, Int64 max 9.2e18) — the widen keeps permille valid to
    * the same ~9e14-currency-unit bound as revCents4 itself instead
    * of 1000× below it. `div` on decimal operands still returns
    * BIGINT, so result types (and DuckDB hash parity) are unchanged;
    * the oracles widen identically via HUGEINT. */
  private def permille(num: Column, den: Column): Column =
    call_function("div",
      num.cast(org.apache.spark.sql.types.DecimalType(38, 0)) * lit(1000L), den)

  /** #116 shipping priority (TPC-H Q3 shape): the 10 highest-value
    * orders from one market segment that were placed before the
    * cutoff but still have lines shipping after it — the "what's
    * stuck in the pipe" report.
    *
    * Scale shape: both fact scans carry pushed date predicates
    * (placed-before on orders, ships-after on lineitem) so the join
    * sees only the unshipped tail; the segment filter rides a
    * broadcast customer join (at TB-scale customer the same plan
    * degrades to a shuffle semi-join on custkey — the filter itself
    * never leaves the scan side). The top-10 is a distributed
    * TakeOrderedAndProject (per-partition heads merged on the
    * driver), never a global sort. Revenue ties break on orderkey so
    * the 10-row set is deterministic in any engine. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame =
    shippingPriorityOn(Tables.lineitem(s, dir), Tables.orders(s, dir),
      Tables.customer(s, dir), "BUILDING", "1998-06-01")

  private[graft] def shippingPriorityOn(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, segment: String, cutoff: String): DataFrame = {
    val cut = to_timestamp(lit(cutoff))
    val c = customer.where(col("c_mktsegment") === segment).select(col("c_custkey"))
    // segment-filter orders BEFORE the orderkey shuffle (~1/|segments|
    // of the orders side never leaves the map side)
    val o = orders.where(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
    val l = lineitem.where(col("l_shipdate") > cut)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey").as("orderkey"),
        col("o_orderdate").cast("date").as("orderdate"),
        col("o_orderpriority").as("priority"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("orderkey").asc)
      .limit(10)
  }

  /** #117 promo share (TPC-H Q14 shape): per ship-month, how much of
    * the discounted revenue came from PROMO-type parts — the
    * marketing-effectiveness trend line.
    *
    * Scale shape: part is a broadcast dim carrying only
    * (partkey, is-promo); the fact scan prunes to 4 columns and
    * collapses map-side into ≤ months cells. The share is exact
    * integer permille on 10^4-scaled revenue sums — no float division
    * to disagree across engines. */
  def promoShare(s: SparkSession, dir: String): DataFrame =
    promoShareOn(Tables.lineitem(s, dir), Tables.part(s, dir))

  private[graft] def promoShareOn(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val p = part.select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    lineitem.select(col("l_partkey"), col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).as("ship_year"), month(col("l_shipdate")).as("ship_month"))
      .agg(
        count(lit(1)).as("n_lines"),
        revenue.as("revenue"),
        revCents4.as("__c"),
        sum(when(col("is_promo"),
            Money.dec(col("l_extendedprice")) * (lit(1) - Money.dec(col("l_discount"))) * lit(10000L))
          .otherwise(lit(0L))).cast("long").as("__promo"))
      .select(col("ship_year"), col("ship_month"), col("n_lines"),
        col("revenue"),
        (col("__promo").cast("double") / lit(10000.0)).as("promo_revenue"),
        permille(col("__promo"), col("__c")).as("promo_permille"))
      .orderBy("ship_year", "ship_month")
  }

  /** #118 local supplier volume (TPC-H Q5 shape): revenue per nation
    * in one region and one order year, counting only lines where the
    * supplier sits in the CUSTOMER's nation — the "how much commerce
    * stays domestic" report.
    *
    * Scale shape: one fact×fact shuffle on orderkey; customer and
    * supplier join broadcast at bench scale (at TB-scale customer the
    * custkey join degrades to shuffle — the nation-equality filter is
    * applied post-join either way, it never multiplies rows);
    * nation/region are broadcast and the region filter prunes
    * nations before the fact ever joins. Output is ≤ |nations in
    * region| cells. */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame =
    localSupplierVolumeOn(Tables.lineitem(s, dir), Tables.orders(s, dir),
      Tables.customer(s, dir), Tables.supplier(s, dir),
      Tables.nation(s, dir), Tables.region(s, dir), "ASIA", 1997)

  private[graft] def localSupplierVolumeOn(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame, region: DataFrame,
      regionName: String, yearNo: Int): DataFrame = {
    val nat = nation
      .join(broadcast(region.where(col("r_name") === regionName).select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    // both fact sides are pruned to the region's nations BEFORE the
    // orderkey shuffle: s_nat must equal c_nat and c_nat is in-region,
    // so in-region supplier / customer filters are implied — each side
    // sheds ~(1 − 1/|regions|) of its rows map-side
    val o = orders.where(year(col("o_orderdate")) === yearNo)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
    val l = lineitem.select(col("l_orderkey"), col("l_suppkey"),
      col("l_extendedprice"), col("l_discount"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("__sn"))),
        col("s_nationkey") === col("__sn"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .where(col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_lines"), revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("nation").asc)
  }

  /** #119 ABC / Pareto classification: parts ranked by revenue,
    * cut into A (first 70% of cumulative revenue), B (next 20%),
    * C (tail) — the inventory-policy report (count/stock A tightly,
    * spot-check C).
    *
    * Scale shape: the fact collapses map-side to the part grain
    * FIRST; the cumulative then comes from
    * [[graft.operators.ScanOps.exclusivePrefixSum]] — the two-level
    * bucket scan (same machinery as #94's Gini rank), keyed on
    * negated revenue so buckets order revenue-descending — NOT a
    * single-task `Window.orderBy`, so the sort stays bounded by
    * bucket size at any part count (at 100 TB the part grain is
    * ~20M rows; one task sorting it would be the plan's only
    * straggler). The cumulative and the class cut are exact integer
    * permille, so boundary parts land in the same class in any
    * engine. Output: 3 cells. */
  def abcParts(s: SparkSession, dir: String): DataFrame =
    abcPartsOn(Tables.lineitem(s, dir))

  private[graft] def abcPartsOn(lineitem: DataFrame): DataFrame = {
    // part-grain share (same reasoning as #94's Gini): the
    // prefix-sum's bucket-bounds pass, its main path, and the 1-row
    // total would otherwise EACH re-run the fact aggregation —
    // shared, the fact is scanned once and all three read ~#parts
    // rows.
    val perPart = lineitem
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"), revCents4.as("__c"))
      // negated revenue as the integral bucket key: ascending
      // prefix-sum order over __negc IS revenue-descending order
      .withColumn("__negc", -col("__c"))
      .transform(Caching.share)
    val total = perPart.agg(sum(col("__c")).as("__total"))
    graft.operators.ScanOps
      .exclusivePrefixSum(perPart, Nil, Seq("__negc", "l_partkey"), col("__c"), "__pre")
      .withColumn("__cum", col("__pre") + col("__c"))
      .crossJoin(broadcast(total))
      .withColumn("__cum_permille", permille(col("__cum"), col("__total")))
      .withColumn("abc_class",
        when(col("__cum_permille") <= 700, "A")
          .when(col("__cum_permille") <= 900, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(col("n_lines")).as("n_lines"),
        (sum(col("__c")).cast("double") / lit(10000.0)).as("revenue"),
        permille(sum(col("__c")), first(col("__total"))).as("share_permille"))
      .orderBy("abc_class")
  }

  /** #120 week-over-week growth: ISO-week revenue with each week's
    * level as an exact permille of the previous week — the growth
    * headline. A missing calendar week breaks the chain honestly
    * (the ratio compares adjacent OBSERVED weeks; `prev_week_start`
    * exposes the gap).
    *
    * Scale shape: map-side-combined collapse to the week grain
    * (calendar-bounded: 52 cells/year), then a lag window on that
    * grain — bounded by calendar size, never data size. The ratio is
    * current×1000 div previous on exact cent sums, kept
    * ratio-formed (both sides positive) so integer-division
    * semantics never meet a negative operand. */
  def wowGrowth(s: SparkSession, dir: String): DataFrame =
    wowGrowthOn(Tables.orders(s, dir))

  private[graft] def wowGrowthOn(orders: DataFrame): DataFrame = {
    val byWeek = orders
      .groupBy(date_trunc("week", col("o_orderdate")).cast("date").as("week_start"))
      .agg(count(lit(1)).as("n_orders"), Money.scaledSum(col("o_totalprice"), 2).as("__c"))
    val w = Window.orderBy(col("week_start"))
    byWeek
      .withColumn("__prev", lag(col("__c"), 1).over(w))
      .select(
        col("week_start"),
        lag(col("week_start"), 1).over(w).as("prev_week_start"),
        col("n_orders"),
        (col("__c").cast("double") / lit(100.0)).as("revenue"),
        permille(col("__c"), col("__prev")).as("wow_ratio_permille"))
      .orderBy("week_start")
  }

  /** #121 hourly traffic heatmap: event count, exact value sum, and
    * integer-permille share per (ISO weekday × hour-of-day) cell —
    * the capacity-planning / anomaly-baseline grid behind any ops
    * dashboard (a bot swarm lights up cells the human week never
    * does).
    *
    * Scale shape: map-only projection to two small ints, map-side-
    * combined agg into ≤168 cells, total recombined broadcast. */
  def hourlyHeatmap(s: SparkSession, dir: String): DataFrame =
    hourlyHeatmapOn(Tables.events(s, dir))

  private[graft] def hourlyHeatmapOn(events: DataFrame): DataFrame = {
    val d = events
      .groupBy((weekday(col("ts")) + lit(1)).cast("long").as("dow_iso"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n_events"), Money.sumExact(col("value")).as("total_value"))
    val total = d.agg(sum(col("n_events")).as("__total"))
    d.crossJoin(broadcast(total))
      .select(col("dow_iso"), col("hour"), col("n_events"), col("total_value"),
        permille(col("n_events"), col("__total")).as("share_permille"))
      .orderBy("dow_iso", "hour")
  }

  /** #123 revenue trend slope: per-part OLS slope of monthly revenue
    * on the month index — the "declining products" report (top-20
    * steepest decline). All OLS moments are exact long sums
    * (n·Σty − Σt·Σy over 10^4-scaled cents; month index ≤ ~130 keeps
    * every product far inside Int64); the slope itself is ONE double
    * division of two exact longs — a single correctly-rounded IEEE
    * op, bit-identical in any engine — so ordering and the top-20
    * cut are deterministic (partkey tiebreak). Parts need ≥6 observed
    * months (which also forces den > 0: distinct month indices make
    * n·Σt² − (Σt)² strictly positive by Cauchy-Schwarz). Absent
    * months are absent points, not zeros — the slope is over
    * OBSERVED months; `n_months` exposes sparsity.
    *
    * Scale shape: two keyed exchanges — the fact collapses map-side
    * to the (part × month) grain, then that grain re-keys to the
    * part grain (the month key must leave the hash for the moment
    * sums, so a second small exchange is unavoidable); the head is a
    * distributed TakeOrdered. The (part × month) grain is the
    * standard cost of per-entity time series: bounded by
    * parts × calendar, never by fact rows — at sf1 it approaches one
    * group per input row (6.9 s, the honest price of a full-fact
    * regression report), at 100 TB it is ~parts × months ≪ fact. */
  def trendSlope(s: SparkSession, dir: String): DataFrame =
    trendSlopeOn(Tables.lineitem(s, dir))

  private[graft] def trendSlopeOn(lineitem: DataFrame): DataFrame = {
    val t = ((year(col("l_shipdate")) - lit(1992)) * lit(12) + month(col("l_shipdate")))
      .cast("long")
    val pm = lineitem
      .groupBy(col("l_partkey"), t.as("__t"))
      .agg(revCents4.as("__y"))
    val st = pm.groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("n_months"),
        sum(col("__t")).as("__st"),
        sum(col("__y")).as("__sy"),
        sum(col("__t") * col("__y")).as("__sty"),
        sum(col("__t") * col("__t")).as("__stt"))
      .where(col("n_months") >= 6)
    st.select(
        col("l_partkey").as("partkey"), col("n_months"),
        (col("__sy").cast("double") / lit(10000.0)).as("revenue"),
        ((col("n_months") * col("__sty") - col("__st") * col("__sy")).cast("double")
          / (col("n_months") * col("__stt") - col("__st") * col("__st")).cast("double") / lit(10000.0))
          .as("slope_per_month"))
      .orderBy(col("slope_per_month").asc, col("partkey").asc)
      .limit(20)
  }

  /** #124 anomaly days: days whose revenue deviates more than 3 MAD
    * from their weekday's median — the robust outlier detector
    * (means and stddevs are dragged by the very outliers they're
    * meant to find; median/MAD are not). Flags promo spikes, outage
    * holes, and backfill double-loads that a fixed threshold misses
    * because Sundays and Mondays have different baselines.
    *
    * Exactness: both medians are lower medians at the exact rank
    * `div(50n+99, 100)` over (value, day) order — real data points,
    * deterministic ties; the 3-MAD gate is an integer comparison.
    * Scale shape: ONE fact collapse to the calendar-bounded day
    * grain; the medians are weekday-partitioned windows over that
    * grain (≤ a few thousand rows at ANY fact size — the big-grain
    * rank-selection machinery of #94/#119 would be overkill here,
    * exactly as the calendar-grain windows of #88 argue). The grain
    * is shared by the median pass and the gate. */
  def anomalyDays(s: SparkSession, dir: String): DataFrame =
    anomalyDaysOn(Tables.orders(s, dir))

  private[graft] def anomalyDaysOn(orders: DataFrame): DataFrame = {
    def lowerMedian(df: DataFrame, value: Column, out: String): DataFrame = {
      val w = Window.partitionBy("dow_iso").orderBy(value, col("day"))
      val n = Window.partitionBy("dow_iso")
      df.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(n))
        .where(col("__rn") === call_function("div", lit(50L) * col("__n") + lit(99L), lit(100L)))
        .select(col("dow_iso"), value.as(out))
    }
    val d = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"), Money.scaledSum(col("o_totalprice"), 2).as("__c"))
      .withColumn("dow_iso", (weekday(col("day")) + lit(1)).cast("long"))
      .transform(Caching.share)
    val dev = d.join(broadcast(lowerMedian(d, col("__c"), "__med")), "dow_iso")
      .withColumn("__dev", abs(col("__c") - col("__med")))
    dev.join(broadcast(lowerMedian(dev, col("__dev"), "__mad")), "dow_iso")
      .where(col("__dev") > lit(3L) * col("__mad"))
      .select(
        col("day"), col("dow_iso"), col("n_orders"),
        (col("__c").cast("double") / lit(100.0)).as("revenue"),
        (col("__med").cast("double") / lit(100.0)).as("weekday_median"),
        (col("__dev").cast("double") / lit(100.0)).as("deviation"),
        (col("__mad").cast("double") / lit(100.0)).as("weekday_mad"))
      .orderBy("day")
  }

  /** #125 order-size profile: how many lines an order carries —
    * histogram with integer-permille shares. The basket-shape
    * baseline behind picking/packing capacity and the sanity floor
    * under #66's pair expansion (max basket size bounds the pair
    * blowup). One orderkey collapse, then a ≤max-lines histogram;
    * the share denominator is a window over the histogram grain
    * (bounded by max basket size), not a second scan. */
  def orderLinesProfile(s: SparkSession, dir: String): DataFrame =
    orderLinesProfileOn(Tables.lineitem(s, dir))

  private[graft] def orderLinesProfileOn(lineitem: DataFrame): DataFrame = {
    val sz = lineitem.groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
    val h = sz.groupBy(col("n_lines")).agg(count(lit(1)).as("n_orders"))
    h.withColumn("__total", sum(col("n_orders")).over(Window.partitionBy()))
      .select(col("n_lines"), col("n_orders"),
        permille(col("n_orders"), col("__total")).as("share_permille"))
      .orderBy("n_lines")
  }

  /** #126 customer migration: year-over-year transitions between
    * activity bands (one / few / many orders) including churn to
    * `gone` — the retention matrix behind any subscription-style
    * report: which cohorts deepen, which evaporate. Bands are
    * rule-based on exact counts (partition-independent); the
    * permille is of the source (year, band) cohort.
    *
    * Scale shape: ONE customer×year collapse (persisted — both join
    * sides and the matrix read it), self-joined on
    * (custkey, year+1) — a custkey-keyed hash join, no interval —
    * then a ≤ years×3×4-cell matrix; the cohort denominator and the
    * final-year trim are windows over that bounded grain. */
  def customerMigration(s: SparkSession, dir: String): DataFrame =
    customerMigrationOn(Tables.orders(s, dir))

  private[graft] def customerMigrationOn(orders: DataFrame): DataFrame = {
    val band = (n: Column) =>
      when(n === 1, "one").when(n <= 4, "few").otherwise("many")
    val cy = orders
      .groupBy(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("__n"))
      .select(col("o_custkey"), col("yr"), band(col("__n")).as("band"))
      .transform(Caching.share)
    val nxt = cy.select(col("o_custkey").as("__ck"), (col("yr") - lit(1)).as("__py"),
      col("band").as("band_to"))
    val matrix = cy
      .join(nxt, col("o_custkey") === col("__ck") && col("yr") === col("__py"), "left")
      .groupBy(col("yr").as("year_from"), col("band").as("band_from"),
        coalesce(col("band_to"), lit("gone")).as("band_to"))
      .agg(count(lit(1)).as("n_customers"))
    // both the cohort denominator and the final-year trim (everyone
    // is vacuously `gone` after the last observed year) are windows
    // over the bounded matrix grain — no second scan, no 1-row join
    matrix
      .withColumn("__cohort",
        sum(col("n_customers")).over(Window.partitionBy("year_from", "band_from")))
      .withColumn("__maxy", max(col("year_from")).over(Window.partitionBy()))
      .where(col("year_from") < col("__maxy"))
      .select(col("year_from"), col("band_from"), col("band_to"), col("n_customers"),
        permille(col("n_customers"), col("__cohort")).as("cohort_permille"))
      .orderBy("year_from", "band_from", "band_to")
  }

  /** #127 freshness audit: per fact table — row count, latest
    * business timestamp, and days-behind the freshest table. The
    * staleness check an incremental pipeline reads FIRST (a stuck
    * watermark shows up here before any value is wrong; the
    * reference's watermark manager implies exactly this view).
    * Three map-side-combined 1-row aggregates unioned; the lag is a
    * window over the 3-row frame. */
  def dqFreshness(s: SparkSession, dir: String): DataFrame =
    dqFreshnessOn(Tables.orders(s, dir), Tables.lineitem(s, dir), Tables.events(s, dir))

  private[graft] def dqFreshnessOn(orders: DataFrame, lineitem: DataFrame,
      events: DataFrame): DataFrame = {
    def one(df: DataFrame, name: String, ts: Column) =
      df.agg(count(lit(1)).as("n_rows"), max(ts.cast("date")).as("max_day"))
        .select(lit(name).as("table_name"), col("n_rows"), col("max_day"))
    val u = one(orders, "orders", col("o_orderdate"))
      .unionAll(one(lineitem, "lineitem", col("l_shipdate")))
      .unionAll(one(events, "events", col("ts")))
    u.withColumn("__freshest", max(col("max_day")).over(Window.partitionBy()))
      .select(col("table_name"), col("n_rows"), col("max_day"),
        datediff(col("__freshest"), col("max_day")).cast("long").as("days_behind"))
      .orderBy("table_name")
  }

  /** #129 discount-depth mix: per discrete discount level — lines,
    * gross revenue, realized (discounted) revenue, forgone revenue,
    * and each level's integer-permille share of total leakage. The
    * pricing report answering "how much margin do we give away, and
    * at which depth" (TPC-H Q6 asks one band of this; the mix shows
    * all of them). The level key is the EXACT decimal discount ×100
    * (a double×100 cast would misbin 0.05·100 = 5.000…01). One
    * map-side collapse to ≤|levels| cells; the leakage denominator
    * is a window over that grain. */
  def discountDepth(s: SparkSession, dir: String): DataFrame =
    discountDepthOn(Tables.lineitem(s, dir))

  private[graft] def discountDepthOn(lineitem: DataFrame): DataFrame = {
    val forgone4 =
      sum(Money.dec(col("l_extendedprice")) * Money.dec(col("l_discount")) * lit(10000L))
        .cast("long")
    lineitem
      .groupBy((Money.dec(col("l_discount")) * lit(100)).cast("long").as("discount_pct"))
      .agg(
        count(lit(1)).as("n_lines"),
        Money.sumExact(col("l_extendedprice")).as("gross_revenue"),
        revenue.as("realized_revenue"),
        forgone4.as("__f"))
      .withColumn("__total", sum(col("__f")).over(Window.partitionBy()))
      .select(col("discount_pct"), col("n_lines"), col("gross_revenue"),
        col("realized_revenue"),
        (col("__f").cast("double") / lit(10000.0)).as("forgone_revenue"),
        permille(col("__f"), col("__total")).as("leakage_share_permille"))
      .orderBy("discount_pct")
  }

  /** #130 nation trade balance: per nation, revenue SUPPLIED by its
    * suppliers vs revenue PURCHASED by its customers, and the
    * supplied share as exact integer permille — the import/export
    * view of the star schema (500 = balanced; the procurement-vs-
    * sales asymmetry per geography).
    *
    * Scale shape: the supplied side is map-only (broadcast supplier
    * dim onto the fact, collapse to ≤|nations| cells); the purchased
    * side pays the one fact×fact orderkey shuffle every
    * customer-keyed fact report pays (same shape as #112), then
    * collapses the same way. The two ≤|nations| frames join
    * broadcast with the nation dim. */
  def nationTradeBalance(s: SparkSession, dir: String): DataFrame =
    nationTradeBalanceOn(Tables.lineitem(s, dir), Tables.orders(s, dir),
      Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir))

  private[graft] def nationTradeBalanceOn(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame): DataFrame = {
    val supplied = lineitem
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("__nk"))
      .agg(revCents4.as("__sup"))
    val purchased = lineitem
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("__nk2"))
      .agg(revCents4.as("__pur"))
    supplied
      .join(purchased, col("__nk") === col("__nk2"), "full")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        coalesce(col("__nk"), col("__nk2")) === col("n_nationkey"))
      .select(
        col("n_name").as("nation"),
        (coalesce(col("__sup"), lit(0L)).cast("double") / lit(10000.0)).as("supplied_revenue"),
        (coalesce(col("__pur"), lit(0L)).cast("double") / lit(10000.0)).as("purchased_revenue"),
        permille(coalesce(col("__sup"), lit(0L)),
          coalesce(col("__sup"), lit(0L)) + coalesce(col("__pur"), lit(0L)))
          .as("supplied_share_permille"))
      .orderBy("nation")
  }

  /** #131 dedup inflation: per source, how much exact duplication
    * inflates the corpus — docs vs distinct normalized texts (#22's
    * exact-dedup key) and the inflation as integer permille
    * (1000 = clean). The "which source is pasting the same page"
    * triage that runs BEFORE any expensive near-dup pass, sizing
    * where #23/#24's banding budget should go.
    *
    * Scale shape: one aggregation keyed (source, normalized-text
    * hash) — Spark plans the single distinct as a two-phase
    * partial/final aggregate, no Expand — then a map-side collapse
    * to ≤|sources| cells. The text itself never shuffles: the
    * distinct runs on its 64-bit xxhash (collision odds ~n²/2⁶⁴ —
    * the same contract every hash-keyed dedup in the engine
    * documents). */
  def dedupInflation(s: SparkSession, dir: String): DataFrame =
    dedupInflationOn(Tables.documents(s, dir))

  private[graft] def dedupInflationOn(documents: DataFrame): DataFrame =
    documents
      // NULL text must stay NULL: xxhash64(NULL) returns the seed, so
      // an unguarded hash would count all NULL texts as ONE distinct
      // value while the oracle's count(DISTINCT) skips NULLs —
      // a hash-verification divergence on any corpus with NULL docs
      .select(col("source"),
        when(col("text").isNotNull, xxhash64(lower(trim(col("text"))))).as("__k"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("__k")).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("dup_docs"),
        // an all-NULL-text source has n_distinct = 0 (the guarded hash
        // above keeps NULLs out of countDistinct, matching SQL
        // count(DISTINCT)); ANSI div would throw DIVIDE_BY_ZERO, so
        // NULL the denominator and report NULL inflation instead —
        // the oracle mirrors with nullif()
        permille(col("n_docs"),
          when(col("n_distinct") > 0, col("n_distinct"))).as("inflation_permille"))
      .orderBy("source")

  /** #132 open-order backlog: per day, orders placed, orders FULLY
    * shipped (the max ship date across an order's lines is its
    * completion), and the running open backlog — operational state
    * over time reconstructed from two event streams, the
    * event-sourcing pattern behind any "how deep is the queue"
    * dashboard (a rising backlog flags a fulfillment stall long
    * before latency percentiles move).
    *
    * Scale shape: completion needs ONE orderkey-grain collapse of
    * the fact (max per order — map-side combined); both streams then
    * collapse to the calendar-bounded day grain, full-outer join on
    * day, and the backlog is a cumulative window ABOVE that
    * aggregate — bounded by calendar size, never data size. */
  def openOrders(s: SparkSession, dir: String): DataFrame =
    openOrdersOn(Tables.orders(s, dir), Tables.lineitem(s, dir))

  private[graft] def openOrdersOn(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val placed = orders
      .groupBy(to_date(col("o_orderdate")).as("__pd"))
      .agg(count(lit(1)).as("__np"))
    val shipped = lineitem
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("__done"))
      .groupBy(col("__done").as("__sd"))
      .agg(count(lit(1)).as("__ns"))
    val cal = placed
      .join(shipped, col("__pd") === col("__sd"), "full")
      .select(
        coalesce(col("__pd"), col("__sd")).as("day"),
        coalesce(col("__np"), lit(0L)).as("n_placed"),
        coalesce(col("__ns"), lit(0L)).as("n_shipped_complete"))
    cal
      .withColumn("open_backlog",
        sum(col("n_placed") - col("n_shipped_complete"))
          .over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  /** #133 supplier concentration: per part, the Herfindahl index of
    * its suppliers' revenue shares — the supply-chain risk screen
    * (a part at HHI 900k is one vendor outage from a stockout even
    * if it HAS two suppliers). Shares are truncated integer permille
    * of exact revenue, HHI their sum of squares (≤10^6) — both
    * engines truncate identically, so the top-20 riskiest
    * multi-supplier parts are deterministic (hhi desc, partkey).
    * Single-supplier parts are excluded (vacuous 10^6).
    *
    * Scale shape: one map-side collapse to the (part × supplier)
    * grain, re-keyed to the part grain (the same two bounded
    * exchanges as #123), TakeOrdered head. */
  def supplierConcentration(s: SparkSession, dir: String): DataFrame =
    supplierConcentrationOn(Tables.lineitem(s, dir))

  private[graft] def supplierConcentrationOn(lineitem: DataFrame): DataFrame = {
    // the part-partitioned window rides the exchange the second
    // groupBy needs anyway; shares stay relational (no per-part
    // array, whose size an adversarial vendor graph wouldn't bound)
    val share = call_function("div",
      col("__c").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * lit(1000L),
      col("__total"))
    lineitem
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(revCents4.as("__c"))
      .withColumn("__total", sum(col("__c")).over(Window.partitionBy("l_partkey")))
      .withColumn("__sh", share)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_suppliers"), first(col("__total")).as("__t"),
        sum(col("__sh") * col("__sh")).as("hhi"))
      .where(col("n_suppliers") >= 2)
      .select(col("l_partkey").as("partkey"), col("n_suppliers"),
        (col("__t").cast("double") / lit(10000.0)).as("revenue"), col("hhi"))
      .orderBy(col("hhi").desc, col("partkey").asc)
      .limit(20)
  }

  /** #134 bot regularity screen: users whose event stream is too
    * metronomic to be human — burstiness as the exact integer ratio
    * `1000·(n·Σg² − (Σg)²) / (Σg)²` over inter-event gaps (0 = a
    * perfect metronome; humans are bursty). The corpus-hygiene
    * filter a training pipeline runs over behavioral logs before
    * trusting engagement signals (complements #100's
    * transition-determinism angle). Top-20 most-regular users with
    * ≥50 events, tiebreak user_id; all moments are exact integer
    * sums (gap² widened to DECIMAL(38,0) — second-scale gaps square
    * past Int64 at year-long idle spans).
    *
    * Scale shape: ONE user-keyed shuffle shared by the lag window
    * and the user-grain moment aggregation (same sharing as #113);
    * the head is a distributed TakeOrdered. */
  def botRegularity(s: SparkSession, dir: String): DataFrame =
    botRegularityOn(Tables.events(s, dir))

  private[graft] def botRegularityOn(events: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy("user_id").orderBy(col("ts_s"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), date_trunc("second", col("ts")).as("ts_s"))
      .withColumn("__g",
        (col("ts_s").cast("long") - lag(col("ts_s"), 1).over(w).cast("long")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), count(col("__g")).as("__n"),
        sum(col("__g")).as("__sg"),
        sum(col("__g").cast(dec38) * col("__g")).as("__sgg"))
      .where(col("n_events") >= 50 && col("__sg") > 0)
      .select(col("user_id"), col("n_events"),
        call_function("div", col("__sg") * lit(1000L), col("__n")).as("mean_gap_s_permille"),
        call_function("div",
          (col("__n").cast(dec38) * col("__sgg") - col("__sg").cast(dec38) * col("__sg")) * lit(1000L),
          col("__sg").cast(dec38) * col("__sg")).as("burstiness_permille"))
      .orderBy(col("burstiness_permille").asc, col("user_id").asc)
      .limit(20)
  }

  /** #135 category affinity: the COMPLETE co-purchase lift matrix at
    * the category grain — for every unordered category pair, baskets
    * containing both vs what independence predicts (exact integer
    * permille; 1000 = independent). The assortment-planning
    * complement of #110's part-level rules: parts need support
    * thresholds (the pair space is quadratic in parts), categories
    * are a FIXED tiny dimension, so the whole matrix ships.
    *
    * Scale shape: broadcast part dim onto the fact, collapse to the
    * DISTINCT (order, category) grain — one orderkey-partitioned
    * shuffle — then per-basket category sets (≤|categories| each)
    * expand map-side into ≤C(|categories|,2) cells; supports and the
    * basket total recombine broadcast. Lift arithmetic mirrors #110:
    * `1000·n_both·N div (n_a·n_b)`, widened to decimal so basket
    * counts never meet the Int64 product bound. */
  def categoryAffinity(s: SparkSession, dir: String): DataFrame =
    categoryAffinityOn(Tables.lineitem(s, dir), Tables.part(s, dir))

  private[graft] def categoryAffinityOn(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // NO pre-distinct: collect_set dedups (map-side partials
    // included), so the category-set assembly is the ONE fact-size
    // shuffle — a distinct first would be a second one
    val baskets = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("p_type"))).as("cats"))
      .select("cats")
      .transform(Caching.share)
    val support = baskets.select(explode(col("cats")).as("cat"))
      .groupBy("cat").agg(count(lit(1)).as("n"))
    val pairList = flatten(transform(col("cats"), (x, i) =>
      transform(slice(col("cats"), i + lit(2), size(col("cats"))), y =>
        struct(x.as("c1"), y.as("c2")))))
    val pairs = baskets
      .select(explode(pairList).as("pr"))
      .select(col("pr.c1").as("cat_1"), col("pr.c2").as("cat_2"))
      .groupBy("cat_1", "cat_2").agg(count(lit(1)).as("n_both"))
    val total = baskets.agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(broadcast(support.select(col("cat").as("cat_1"), col("n").as("n1"))), "cat_1")
      .join(broadcast(support.select(col("cat").as("cat_2"), col("n").as("n2"))), "cat_2")
      .crossJoin(broadcast(total))
      .select(col("cat_1"), col("cat_2"), col("n_both"), col("n1"), col("n2"),
        col("n_baskets"),
        call_function("div",
          col("n_both").cast(dec38) * col("n_baskets") * lit(1000L),
          col("n1").cast(dec38) * col("n2")).as("lift_permille"))
      .orderBy("cat_1", "cat_2")
  }

  def all: Map[String, Q] = Map(
    "q_category_affinity" -> (categoryAffinity _),
    "q_supplier_concentration" -> (supplierConcentration _),
    "q_bot_regularity" -> (botRegularity _),
    "q_open_orders" -> (openOrders _),
    "q_nation_trade_balance" -> (nationTradeBalance _),
    "q_dedup_inflation" -> (dedupInflation _),
    "q_discount_depth" -> (discountDepth _),
    "q_trend_slope" -> (trendSlope _),
    "q_anomaly_days" -> (anomalyDays _),
    "q_order_lines_profile" -> (orderLinesProfile _),
    "q_customer_migration" -> (customerMigration _),
    "q_dq_freshness" -> (dqFreshness _),
    "q_shipping_priority" -> (shippingPriority _),
    "q_promo_share" -> (promoShare _),
    "q_local_supplier_volume" -> (localSupplierVolume _),
    "q_abc_parts" -> (abcParts _),
    "q_wow_growth" -> (wowGrowth _),
    "q_hourly_heatmap" -> (hourlyHeatmap _)
  )
}
