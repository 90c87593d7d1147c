package graft

/** DuckDB-equivalent ANSI SQL for each hash-checked query in
  * [[Queries]]. Aliases, rounding, literals, and tiebreaks mirror the
  * Spark plans exactly (SURVEY §3). Queries absent here get the
  * driver's rows-only check (non-SQL-expressible operators).
  *
  * Money math mirrors [[graft.functions.Money]]: DECIMAL(12,2)
  * arithmetic, sums emitted as doubles of the exact value, averages
  * via `(2u+n) // (2n)` integer half-up — so Spark and DuckDB produce
  * bit-identical doubles.
  */
object Oracles {
  /** Exact sum of a 2-decimal money column, as double. */
  private def sumx(c: String) = s"CAST(sum(CAST($c AS DECIMAL(12,2))) AS DOUBLE)"

  /** Exact half-up average with `d` decimals (Money.avgFromScaled). */
  private def avgd(c: String, d: Int, n: String = "count(*)") = {
    val p = math.pow(10, d).toLong
    s"CAST((2*CAST(sum(CAST($c AS DECIMAL(12,2)) * $p) AS BIGINT) + $n) // (2*$n) AS DOUBLE)/$p.0"
  }

  /** Exact discounted revenue sum. */
  private val rev =
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)"

  /** SCD2 build SQL (shared by #8 and the #109 as-of view). */
  private val Scd2Sql: String =
      """WITH existing AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        |), incoming AS (
        |  SELECT c_custkey, c_name,
        |         CASE WHEN c_custkey % 10 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
        |         c_acctbal
        |  FROM customer WHERE c_custkey % 10 <> 5
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name || '_new', c_mktsegment, 0.0
        |  FROM customer WHERE c_custkey % 10 = 3
        |), changed AS (
        |  SELECT i.c_custkey FROM incoming i JOIN existing e USING (c_custkey)
        |  WHERE i.c_name <> e.c_name OR i.c_mktsegment <> e.c_mktsegment
        |)
        |SELECT e.c_custkey, e.c_name, e.c_mktsegment, e.c_acctbal,
        |       DATE '2020-01-01' AS valid_from,
        |       CASE WHEN ch.c_custkey IS NOT NULL THEN DATE '2026-08-01' END AS valid_to,
        |       (ch.c_custkey IS NULL) AS is_current
        |FROM existing e LEFT JOIN changed ch ON e.c_custkey = ch.c_custkey
        |UNION ALL
        |SELECT i.c_custkey, i.c_name, i.c_mktsegment, i.c_acctbal,
        |       DATE '2026-08-01', NULL, TRUE
        |FROM incoming i LEFT JOIN existing e ON i.c_custkey = e.c_custkey
        |WHERE e.c_custkey IS NULL
        |UNION ALL
        |SELECT i.c_custkey, i.c_name, i.c_mktsegment, i.c_acctbal,
        |       DATE '2026-08-01', NULL, TRUE
        |FROM incoming i JOIN changed ch ON i.c_custkey = ch.c_custkey""".stripMargin

  val etl: Map[String, String] = Map(
    "q_fk_orphans" -> {
      def edge(child: String, fk: String, parent: String, pk: String) =
        s"""SELECT '$child.$fk->$parent.$pk' AS edge, count(*) AS n_child,
           |  CAST(sum(CASE WHEN c.$fk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
           |  CAST(sum(CASE WHEN c.$fk IS NOT NULL AND p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
           |FROM $child c LEFT JOIN $parent p ON c.$fk = p.$pk""".stripMargin
      val edges = Seq(
        edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edge("orders", "o_custkey", "customer", "c_custkey"),
        edge("customer", "c_nationkey", "nation", "n_nationkey"),
        edge("supplier", "s_nationkey", "nation", "n_nationkey"),
        edge("nation", "n_regionkey", "region", "r_regionkey"),
        edge("events", "user_id", "customer", "c_custkey"))
      s"""SELECT edge, n_child, n_null_fk, n_orphans,
         |  (n_orphans * 1000) // n_child AS orphan_permille
         |FROM (${edges.mkString("\nUNION ALL\n")})
         |ORDER BY edge""".stripMargin
    },
    "q_snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_custkey AS custkey, count(*) AS old_n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS oc
        |  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01' GROUP BY 1
        |), cur AS (
        |  SELECT o_custkey AS custkey, count(*) AS new_n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS nc
        |  FROM orders GROUP BY 1
        |)
        |SELECT custkey,
        |  CASE WHEN old_n_orders IS NULL THEN 'insert'
        |       WHEN new_n_orders IS NULL THEN 'delete'
        |       WHEN old_n_orders <> new_n_orders OR oc <> nc THEN 'update'
        |       ELSE 'unchanged' END AS change_type,
        |  old_n_orders, new_n_orders,
        |  CAST(oc AS DOUBLE) / 100.0 AS old_total,
        |  CAST(nc AS DOUBLE) / 100.0 AS new_total
        |FROM old FULL JOIN cur USING (custkey)""".stripMargin,
    "q_column_profile" ->
      """WITH s AS (
        |  SELECT 'c_custkey' AS column_name, CAST(c_custkey AS VARCHAR) AS v FROM customer
        |  UNION ALL SELECT 'c_name', c_name FROM customer
        |  UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'c_acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer
        |)
        |SELECT column_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  count(DISTINCT v) AS n_distinct
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_benford" ->
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice > 0
        |), g AS (
        |  SELECT digit, count(*) AS n FROM c GROUP BY 1
        |)
        |SELECT digit, n,
        |  (n * 1000) // CAST(sum(n) OVER () AS BIGINT) AS share_permille,
        |  CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
        |    WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58
        |    WHEN 8 THEN 51 WHEN 9 THEN 46 END AS BIGINT) AS expected_permille,
        |  (n * 1000) // CAST(sum(n) OVER () AS BIGINT) -
        |  CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125
        |    WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58
        |    WHEN 8 THEN 51 WHEN 9 THEN 46 END AS BIGINT) AS dev_permille
        |FROM g ORDER BY digit""".stripMargin,
    "q_asof_join" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |      ORDER BY o_orderkey DESC) AS rn FROM orders) t
        |  WHERE rn = 1
        |), l AS (
        |  SELECT event_id, user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s
        |  FROM events
        |)
        |SELECT l.event_id, l.user_id, l.ts_s,
        |  r.o_orderkey AS last_order_key,
        |  r.o_orderdate AS last_order_date,
        |  r.o_totalprice AS last_order_price
        |FROM l ASOF JOIN r
        |  ON l.user_id = r.o_custkey AND l.ts_s >= r.o_orderdate""".stripMargin,
    "q_pii_protect" ->
      """SELECT c_custkey,
        |  substr(c_name, 1, 1) || repeat('*', greatest(length(c_name) - 1, 0)) AS name_masked,
        |  repeat('*', greatest(length(regexp_replace(c_name, '[^0-9]', '', 'g')) - 3, 0))
        |    || substr(regexp_replace(c_name, '[^0-9]', '', 'g'), -3, 3) AS id_digits_masked,
        |  sha256('graft' || c_name) AS name_token,
        |  TRUE AS roundtrip_ok
        |FROM customer""".stripMargin,
    "q_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  ${sumx("l_quantity")} AS sum_qty,
        |  ${sumx("l_extendedprice")} AS sum_base_price,
        |  $rev AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        |  ${avgd("l_quantity", 4)} AS avg_qty,
        |  ${avgd("l_extendedprice", 4)} AS avg_price,
        |  ${avgd("l_discount", 4)} AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_bronze_valid" ->
      """SELECT *, DATE '2026-08-12' AS ingestion_date FROM lineitem
        |WHERE l_orderkey IS NOT NULL AND l_quantity > 0
        |  AND l_extendedprice > 0
        |  AND l_discount BETWEEN 0.0 AND 0.05
        |  AND l_shipdate IS NOT NULL""".stripMargin,
    "q_bronze_rejected" ->
      """SELECT *,
        |  CASE
        |    WHEN l_orderkey IS NULL THEN 'NULL_ORDER_KEY'
        |    WHEN NOT coalesce(l_quantity > 0, FALSE) THEN 'INVALID_QUANTITY'
        |    WHEN NOT coalesce(l_extendedprice > 0, FALSE) THEN 'INVALID_PRICE'
        |    WHEN NOT coalesce(l_discount BETWEEN 0.0 AND 0.05, FALSE) THEN 'DISCOUNT_OUT_OF_RANGE'
        |    WHEN l_shipdate IS NULL THEN 'NULL_SHIP_DATE'
        |    ELSE 'UNKNOWN_REASON'
        |  END AS rejection_reason,
        |  DATE '2026-08-12' AS ingestion_date
        |FROM lineitem
        |WHERE NOT coalesce(
        |  l_orderkey IS NOT NULL AND l_quantity > 0 AND l_extendedprice > 0
        |  AND l_discount BETWEEN 0.0 AND 0.05 AND l_shipdate IS NOT NULL, FALSE)""".stripMargin,
    "q_silver_standardize" ->
      """SELECT c_custkey, lower(trim(c_name)) AS c_name,
        |  lower(trim(c_mktsegment)) AS c_mktsegment, c_acctbal
        |FROM customer""".stripMargin,
    "q_regex_clean" ->
      """SELECT event_id, props,
        |  CASE WHEN regexp_matches(regexp_replace(props, '[^0-9]', '', 'g'), '^[0-9]{2,}$')
        |       THEN regexp_replace(props, '[^0-9]', '', 'g') END AS code
        |FROM events""".stripMargin,
    "q_date_fix" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate,
        |  CASE WHEN l_shipdate < o_orderdate THEN o_orderdate ELSE l_shipdate END AS fixed_shipdate
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    "q_dedup_latest" ->
      """SELECT user_id, event_id, ts_s, event_type, value FROM (
        |  SELECT user_id, event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s,
        |         event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1""".stripMargin,
    "q_scd2" -> Scd2Sql,
    // #109 point-in-time view: same SCD2 build, filtered to records
    // valid at the as-of date (all pre-merge versions at 2024-01-01)
    "q_scd2_asof" ->
      s"""SELECT * FROM ($Scd2Sql)
         |WHERE valid_from <= DATE '2024-01-01'
         |  AND (valid_to IS NULL OR valid_to > DATE '2024-01-01')""".stripMargin,
    "q_gold_enriched" ->
      """SELECT l_orderkey, l_linenumber, o_orderdate, o_orderpriority,
        |  c_name AS customer_name, n_name AS nation, r_name AS region,
        |  p_name AS part_name, p_brand AS brand, p_type AS category,
        |  s_name AS supplier_name,
        |  l_quantity AS quantity, l_extendedprice AS price, l_discount AS discount,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |JOIN part     ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
    "q_customer_metrics" ->
      s"""SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |  m.total_orders, m.total_spent, m.avg_order_value,
        |  m.first_purchase_date, m.last_purchase_date
        |FROM (SELECT o_custkey, count(*) AS total_orders,
        |        ${sumx("o_totalprice")} AS total_spent,
        |        ${avgd("o_totalprice", 2)} AS avg_order_value,
        |        min(o_orderdate) AS first_purchase_date,
        |        max(o_orderdate) AS last_purchase_date
        |      FROM orders GROUP BY o_custkey) m
        |JOIN customer c ON m.o_custkey = c.c_custkey""".stripMargin,
    "q_customer_monthly_mart" ->
      s"""SELECT c.c_custkey, c.c_name, m.sales_month, m.total_sales, m.n_orders
        |FROM (SELECT o_custkey,
        |        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS sales_month,
        |        ${sumx("o_totalprice")} AS total_sales,
        |        count(*) AS n_orders
        |      FROM orders GROUP BY 1, 2) m
        |JOIN customer c ON m.o_custkey = c.c_custkey""".stripMargin,
    "q_incremental_read" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, value
        |FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'""".stripMargin,
    "q_dq_summary" ->
      """WITH agg AS (
        |  SELECT count(*) AS row_count,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_o_custkey_violations,
        |    count(*) - count(DISTINCT o_orderkey) AS unique_o_orderkey_violations,
        |    CAST(sum(CASE WHEN NOT (o_totalprice BETWEEN 0.0 AND 1000000.0) OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS range_o_totalprice_violations,
        |    CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') OR o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS regex_o_orderpriority_violations
        |  FROM orders)
        |SELECT check_name, check_value FROM (
        |  SELECT 'row_count' AS check_name, row_count AS check_value FROM agg
        |  UNION ALL SELECT 'not_null_o_custkey_violations', not_null_o_custkey_violations FROM agg
        |  UNION ALL SELECT 'unique_o_orderkey_violations', unique_o_orderkey_violations FROM agg
        |  UNION ALL SELECT 'range_o_totalprice_violations', range_o_totalprice_violations FROM agg
        |  UNION ALL SELECT 'regex_o_orderpriority_violations', regex_o_orderpriority_violations FROM agg) t
        |ORDER BY check_name""".stripMargin
  )

  val analytics: Map[String, String] = Map(
    "q_rfm_segments" ->
      """WITH m AS (
        |  SELECT o_custkey AS custkey,
        |    max(CAST(o_orderdate AS DATE)) AS last_d,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT custkey,
        |    CAST(date_diff('day', last_d, (SELECT max(last_d) FROM m)) AS BIGINT) AS recency_days,
        |    frequency, cents
        |  FROM m
        |), rk AS (
        |  SELECT *,
        |    row_number() OVER (ORDER BY recency_days, custkey) AS rr,
        |    row_number() OVER (ORDER BY frequency, custkey) AS rf,
        |    row_number() OVER (ORDER BY cents, custkey) AS rm,
        |    count(*) OVER () AS n
        |  FROM r
        |), bk AS (
        |  SELECT
        |    max(CASE WHEN rr = (25*n+99)//100 THEN recency_days END) AS r25,
        |    max(CASE WHEN rr = (50*n+99)//100 THEN recency_days END) AS r50,
        |    max(CASE WHEN rr = (75*n+99)//100 THEN recency_days END) AS r75,
        |    max(CASE WHEN rf = (25*n+99)//100 THEN frequency END) AS f25,
        |    max(CASE WHEN rf = (50*n+99)//100 THEN frequency END) AS f50,
        |    max(CASE WHEN rf = (75*n+99)//100 THEN frequency END) AS f75,
        |    max(CASE WHEN rm = (25*n+99)//100 THEN cents END) AS m25,
        |    max(CASE WHEN rm = (50*n+99)//100 THEN cents END) AS m50,
        |    max(CASE WHEN rm = (75*n+99)//100 THEN cents END) AS m75
        |  FROM rk
        |), sc AS (
        |  SELECT custkey, recency_days, frequency,
        |    CAST(cents AS DOUBLE) / 100.0 AS monetary,
        |    CAST(5 - (1 + CASE WHEN recency_days > r25 THEN 1 ELSE 0 END
        |                + CASE WHEN recency_days > r50 THEN 1 ELSE 0 END
        |                + CASE WHEN recency_days > r75 THEN 1 ELSE 0 END) AS BIGINT) AS r_score,
        |    CAST(1 + CASE WHEN frequency > f25 THEN 1 ELSE 0 END
        |           + CASE WHEN frequency > f50 THEN 1 ELSE 0 END
        |           + CASE WHEN frequency > f75 THEN 1 ELSE 0 END AS BIGINT) AS f_score,
        |    CAST(1 + CASE WHEN cents > m25 THEN 1 ELSE 0 END
        |           + CASE WHEN cents > m50 THEN 1 ELSE 0 END
        |           + CASE WHEN cents > m75 THEN 1 ELSE 0 END AS BIGINT) AS m_score
        |  FROM r CROSS JOIN bk
        |)
        |SELECT custkey, recency_days, frequency, monetary, r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |       WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
        |       WHEN r_score >= 4 THEN 'recent'
        |       WHEN m_score >= 4 THEN 'big_spender'
        |       WHEN r_score <= 1 AND f_score >= 3 THEN 'at_risk'
        |       WHEN r_score <= 1 THEN 'lost'
        |       ELSE 'regular' END AS segment
        |FROM sc""".stripMargin,
    "q_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s,
        |    event_type
        |  FROM events
        |), l AS (
        |  SELECT event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_type
        |  FROM e
        |), c AS (
        |  SELECT prev_type, event_type, count(*) AS n
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT prev_type, event_type, n,
        |  (n * 1000) // CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_permille
        |FROM c ORDER BY prev_type, event_type""".stripMargin,
    "q_ship_latency" ->
      """WITH j AS (
        |  SELECT o_orderpriority,
        |    CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS days,
        |    l_orderkey * 10 + l_linenumber AS tie
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), n AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    CAST(sum(days) AS BIGINT) AS sd
        |  FROM j GROUP BY 1
        |), r AS (
        |  SELECT j.*, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY days NULLS FIRST, tie) AS rn
        |  FROM j
        |), q AS (
        |  SELECT r.o_orderpriority,
        |    max(CASE WHEN rn = (50 * n.n + 99) // 100 THEN days END) AS p50_days,
        |    max(CASE WHEN rn = (90 * n.n + 99) // 100 THEN days END) AS p90_days,
        |    max(CASE WHEN rn = (99 * n.n + 99) // 100 THEN days END) AS p99_days
        |  FROM r JOIN n USING (o_orderpriority) GROUP BY 1
        |)
        |SELECT o_orderpriority, n.n AS n_lines, p50_days, p90_days, p99_days,
        |  CAST(CAST(n.sd AS HUGEINT) * 1000 // n.n AS BIGINT) AS mean_days_permille
        |FROM q JOIN n USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    "q_discount_corr" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem
        |), m AS (
        |  SELECT l_returnflag, count(*) AS n_lines,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy,
        |    CAST(sum(x * x) AS HUGEINT) AS sxx,
        |    CAST(sum(y * y) AS HUGEINT) AS syy
        |  FROM b GROUP BY 1
        |), t AS (
        |  SELECT l_returnflag, n_lines,
        |    CAST(n_lines AS HUGEINT) * sxy - sx * sy AS cov,
        |    CAST(n_lines AS HUGEINT) * sxx - sx * sx AS vx,
        |    CAST(n_lines AS HUGEINT) * syy - sy * sy AS vy
        |  FROM m)
        |SELECT l_returnflag, n_lines,
        |  CASE WHEN vx = 0 THEN NULL
        |    ELSE CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE) END AS slope,
        |  CASE WHEN vx = 0 OR vy = 0 THEN NULL
        |    ELSE CAST(cov AS DOUBLE) / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))) END AS pearson_r
        |FROM t ORDER BY l_returnflag""".stripMargin,
    "q_event_gaps" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s
        |  FROM events
        |), g AS (
        |  SELECT date_diff('second',
        |    lag(ts_s, 1) OVER (PARTITION BY user_id ORDER BY ts_s, event_id), ts_s) AS gap_s
        |  FROM e
        |), b AS (
        |  SELECT CASE WHEN gap_s = 0 THEN 0 WHEN gap_s <= 10 THEN 1
        |    WHEN gap_s <= 60 THEN 2 WHEN gap_s <= 600 THEN 3
        |    WHEN gap_s <= 1800 THEN 4 WHEN gap_s <= 3600 THEN 5
        |    ELSE 6 END AS bucket
        |  FROM g WHERE gap_s IS NOT NULL
        |), c AS (
        |  SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_gaps FROM b GROUP BY 1
        |)
        |SELECT bucket,
        |  CASE bucket WHEN 0 THEN '0s' WHEN 1 THEN '1-10s' WHEN 2 THEN '11-60s'
        |    WHEN 3 THEN '1-10min' WHEN 4 THEN '10-30min' WHEN 5 THEN '30-60min'
        |    ELSE '>60min' END AS gap_bucket,
        |  n_gaps,
        |  (n_gaps * 1000) // CAST(sum(n_gaps) OVER () AS BIGINT) AS share_permille,
        |  bucket <= 4 AS in_session
        |FROM c ORDER BY bucket""".stripMargin,
    "q_attribution" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.user_id, purchase_id, purchase_ts, click_id, click_ts,
        |  date_diff('second', click_ts, purchase_ts) AS lag_seconds
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND click_ts <= purchase_ts
        |  AND click_ts >= purchase_ts - INTERVAL 1 HOUR""".stripMargin,
    "q_interpurchase" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |    date_diff('day', lag(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey), o_orderdate) AS gap
        |  FROM orders
        |)
        |SELECT o_custkey AS custkey, count(*) AS n_orders, count(gap) AS n_gaps,
        |  CAST(min(gap) AS BIGINT) AS min_gap_days,
        |  CAST(max(gap) AS BIGINT) AS max_gap_days,
        |  CAST(sum(gap) AS BIGINT) * 1000 // count(gap) AS mean_gap_days_permille
        |FROM g GROUP BY 1 HAVING count(gap) > 0 ORDER BY custkey""".stripMargin,
    "q_rolling_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), days AS (
        |  SELECT DISTINCT day FROM ud
        |), daily AS (
        |  SELECT day, count(*) AS n_users_1d FROM ud GROUP BY 1
        |), rolled AS (
        |  SELECT d.day, count(DISTINCT u.user_id) AS active_users_7d
        |  FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1
        |)
        |SELECT day, n_users_1d, active_users_7d
        |FROM daily JOIN rolled USING (day) ORDER BY day""".stripMargin,
    "q_weekday_seasonality" ->
      """WITH d AS (
        |  SELECT isodow(o_orderdate) AS dow_iso, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS c
        |  FROM orders GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS tc FROM d
        |)
        |SELECT dow_iso, n_orders,
        |  CAST(c AS DOUBLE)/100.0 AS revenue,
        |  CAST(1000 * CAST(c AS HUGEINT) // tc AS BIGINT) AS share_permille,
        |  CAST(7000 * CAST(c AS HUGEINT) // tc AS BIGINT) AS idx_permille
        |FROM d CROSS JOIN t ORDER BY dow_iso""".stripMargin,
    "q_supplier_scorecard" ->
      s"""WITH a AS (
        |  SELECT l_suppkey, count(*) AS n_lines,
        |    $rev AS revenue,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS nret,
        |    CAST(sum(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS sumdays
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1
        |), p AS (
        |  SELECT l_suppkey, count(*) AS distinct_parts
        |  FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem) GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, n_name AS nation, n_lines, distinct_parts, revenue,
        |  1000 * nret // n_lines AS return_permille,
        |  1000 * sumdays // n_lines AS mean_ship_days_permille
        |FROM a JOIN p USING (l_suppkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,
    "q_daily_trend" ->
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS c,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1
        |), w AS (
        |  SELECT day, n_orders, c,
        |    sum(c) OVER (ORDER BY date_diff('day', DATE '1992-01-01', day)
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS t,
        |    count(*) OVER (ORDER BY date_diff('day', DATE '1992-01-01', day)
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS window_days,
        |    lag(c, 1) OVER (ORDER BY date_diff('day', DATE '1992-01-01', day)) AS prev
        |  FROM d)
        |SELECT day, n_orders,
        |  CAST(c AS DOUBLE)/100.0 AS revenue,
        |  CAST(t AS DOUBLE)/100.0 AS trailing_7d,
        |  window_days,
        |  CAST(c - prev AS DOUBLE)/100.0 AS dod_delta
        |FROM w ORDER BY day""".stripMargin,
    "q_median_order_value" ->
      """SELECT c_mktsegment, o_totalprice AS median_order_value FROM (
        |  SELECT c_mktsegment, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rn = (n + 1) // 2
        |ORDER BY c_mktsegment""".stripMargin,
    "q_revenue_histogram" ->
      """SELECT CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000000 AS BIGINT) AS bucket_10k,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY 1 ORDER BY bucket_10k""".stripMargin,
    "q_sales_rollup" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderstatus,
        |  ${sumx("o_totalprice")} AS revenue, count(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP(CAST(year(o_orderdate) AS BIGINT), o_orderstatus)""".stripMargin,
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(row_number() OVER w AS INTEGER) AS order_seq,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spent
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q_pivot_returnflag" ->
      """SELECT p_brand,
        |  CAST(sum(CASE WHEN l_returnflag = 'A'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) END) AS DOUBLE) AS "A",
        |  CAST(sum(CASE WHEN l_returnflag = 'N'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) END) AS DOUBLE) AS "N",
        |  CAST(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) END) AS DOUBLE) AS "R"
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // year() is BIGINT in DuckDB but int32 in Spark — cast to INTEGER
    // for the driver's exact dtype/hash compare
    "q_yearly_distincts" ->
      """SELECT order_year,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  count(DISTINCT o_orderpriority) AS n_priorities,
        |  count(DISTINCT o_orderstatus) AS n_statuses,
        |  count(*) AS n_orders
        |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
        |        o_custkey, o_orderpriority, o_orderstatus FROM orders)
        |GROUP BY order_year ORDER BY order_year""".stripMargin,
    "q_kpi_summary" ->
      s"""SELECT $rev AS total_revenue,
        |  count(DISTINCT l_orderkey) AS total_orders,
        |  count(*) AS total_line_items,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  count(DISTINCT l_suppkey) AS distinct_suppliers,
        |  ${avgd("l_extendedprice", 2)} AS avg_line_price
        |FROM lineitem""".stripMargin,
    "q_top_products" ->
      s"""SELECT p_partkey, p_name, p_brand, revenue, units FROM (
        |  SELECT l_partkey,
        |    $rev AS revenue,
        |    ${sumx("l_quantity")} AS units
        |  FROM lineitem GROUP BY l_partkey) t
        |JOIN part ON l_partkey = p_partkey
        |ORDER BY revenue DESC, p_partkey
        |LIMIT 10""".stripMargin,
    "q_revenue_by_category" ->
      s"""SELECT p_type AS category,
        |  $rev AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_type ORDER BY category""".stripMargin,
    "q_revenue_by_region" ->
      s"""SELECT r_name AS region, n_name AS nation,
        |  $rev AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY region, nation""".stripMargin,
    "q_monthly_trend" ->
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |  ${sumx("o_totalprice")} AS revenue,
        |  count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS active_customers
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "q_top_customers" ->
      s"""SELECT c_custkey, c_name, c_mktsegment, total_spent, total_orders FROM (
        |  SELECT o_custkey, ${sumx("o_totalprice")} AS total_spent,
        |         count(*) AS total_orders
        |  FROM orders GROUP BY o_custkey) m
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_spent DESC, c_custkey
        |LIMIT 10""".stripMargin,
    "q_events_windowed" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        |  count(*) AS n_events,
        |  ${sumx("value")} AS total_value,
        |  count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_sessionize" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, value
        |  FROM events
        |), flagged AS (
        |  SELECT *,
        |    CASE WHEN lag(ts_s) OVER w IS NULL
        |           OR epoch(ts_s) - epoch(lag(ts_s) OVER w) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
        |), numbered AS (
        |  SELECT *,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, session_seq,
        |  count(*) AS n_events,
        |  min(ts_s) AS session_start,
        |  max(ts_s) AS session_end,
        |  ${sumx("value")} AS total_value
        |FROM numbered
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin
  )

  /** DuckDB list literal of a stopword list (kept in sync with
    * [[graft.text.TextOps.LangStopwords]] by construction). */
  private def wordList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** hits = multiset count of tokens present in the list. */
  /** Connected-component resolution of the n-gram Jaccard pair graph
    * (df<=100, >=20%) as a recursive CTE — shared by q_dedup_resolve
    * and q_dedup_keeper so both verify against the SAME group
    * derivation. Ends with the `reach` relation (id, r). */
  private val resolveCte: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
      |  FROM toks
      |), kept AS (
      |  SELECT g.doc_id, g.gram FROM grams g
      |  JOIN (SELECT gram, count(*) AS df FROM grams GROUP BY gram) d USING (gram)
      |  WHERE d.df <= 100
      |), counts AS (
      |  SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY doc_id
      |), shared AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS s
      |  FROM kept a JOIN kept b USING (gram)
      |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
      |), pairs AS (
      |  SELECT doc1, doc2 FROM shared
      |  JOIN counts c1 ON doc1 = c1.doc_id
      |  JOIN counts c2 ON doc2 = c2.doc_id
      |  WHERE s*100 >= (c1.n_grams + c2.n_grams - s)*20
      |), edges AS (
      |  SELECT doc1 AS a, doc2 AS b FROM pairs UNION SELECT doc2, doc1 FROM pairs
      |), reach AS (
      |  SELECT a AS id, b AS r FROM edges
      |  UNION
      |  SELECT c.id, e.b FROM reach c JOIN edges e ON c.r = e.a
      |)""".stripMargin

  private def hits(ws: Seq[String]): String =
    s"len(list_filter(string_split_regex(trim(text), '\\s+'), x -> list_contains(${wordList(ws)}, x)))"

  private val langs = graft.text.TextOps.LangStopwords

  /** Gram multiset size and distinct size per doc, as SQL snippets. */
  private val gramsTotal = "greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0)"
  private val gramsDistinct =
    """len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |    for i in range(1, len(w)-1)]))""".stripMargin

  /** Exact 3-gram Jaccard pairs over FULL distinct gram sets (no df
    * cutoff) at >= `minPct`% — the ground truth that the sketch-based
    * dedup queries (MinHash bands, SimHash buckets, each followed by
    * exact verification on candidates) must reproduce exactly: a
    * recall miss in the candidate generator fails the compare. */
  private def exactJaccardPairs(minPct: Int): String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
      |  FROM toks
      |), counts AS (
      |  SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
      |), shared AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS s
      |  FROM grams a JOIN grams b USING (gram)
      |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT doc1, doc2,
      |  (s*200 + (c1.n + c2.n - s)) // ((c1.n + c2.n - s)*2) AS jaccard_pct
      |FROM shared
      |JOIN counts c1 ON doc1 = c1.doc_id
      |JOIN counts c2 ON doc2 = c2.doc_id
      |WHERE s*100 >= (c1.n + c2.n - s)*$minPct""".stripMargin

  val text: Map[String, String] = Map(
    "q_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), counts AS (
        |  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1
        |), owners AS (
        |  SELECT gram, min(doc_id) AS doc_id FROM grams GROUP BY 1
        |), novel AS (
        |  SELECT doc_id, count(*) AS n_novel FROM owners GROUP BY 1
        |)
        |SELECT c.doc_id, c.n_grams, coalesce(n.n_novel, 0) AS n_novel,
        |  1000 * coalesce(n.n_novel, 0) // c.n_grams AS novelty_permille
        |FROM counts c LEFT JOIN novel n USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_lexical_diversity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2
        |), d AS (
        |  SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct,
        |    CAST(sum(c * c) AS BIGINT) AS ssq
        |  FROM c GROUP BY 1
        |)
        |SELECT doc_id, n_tokens, n_distinct,
        |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        |  CASE WHEN n_tokens > 1
        |    THEN CAST(ssq - n_tokens AS DOUBLE) / CAST(n_tokens * (n_tokens - 1) AS DOUBLE)
        |    ELSE CAST(0 AS DOUBLE) END AS simpson,
        |  CAST(n_tokens * n_tokens AS DOUBLE) / CAST(ssq AS DOUBLE) AS eff_vocab
        |FROM d""".stripMargin,
    "q_source_diversity" ->
      """WITH tc AS (
        |  SELECT source, tok, count(*) AS c
        |  FROM (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |)
        |SELECT source,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_terms,
        |  (count(*) * 1000) // CAST(sum(c) AS BIGINT) AS type_token_permille,
        |  (CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000) // count(*) AS hapax_permille,
        |  CASE WHEN CAST(sum(c) AS BIGINT) < 2 THEN NULL
        |    ELSE CAST(sum(c * (c - 1)) AS DOUBLE) /
        |      (CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) * CAST(CAST(sum(c) AS BIGINT) - 1 AS DOUBLE))
        |  END AS simpson
        |FROM tc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_split_drift" ->
      """WITH s AS (
        |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' THEN 'train'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'f' THEN 'val'
        |              ELSE 'test' END AS sp,
        |    n_chars // 100 AS bucket
        |  FROM documents
        |), g AS (
        |  SELECT bucket,
        |    CAST(sum(CASE WHEN sp = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |    CAST(sum(CASE WHEN sp = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
        |    CAST(sum(CASE WHEN sp = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        |  FROM s GROUP BY 1
        |), p AS (
        |  SELECT bucket, n_train, n_val, n_test,
        |    (n_train * 1000) // CAST(sum(n_train) OVER () AS BIGINT) AS train_permille,
        |    (n_val * 1000) // CAST(sum(n_val) OVER () AS BIGINT) AS val_permille,
        |    (n_test * 1000) // CAST(sum(n_test) OVER () AS BIGINT) AS test_permille
        |  FROM g)
        |SELECT bucket, n_train, n_val, n_test,
        |  train_permille, val_permille, test_permille,
        |  greatest(abs(train_permille - val_permille),
        |    abs(train_permille - test_permille),
        |    abs(val_permille - test_permille)) AS drift_permille
        |FROM p ORDER BY bucket""".stripMargin,
    "q_pmi_bigrams" ->
      """WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS w FROM documents
        |), uni AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni
        |), bi AS (
        |  SELECT word1, word2, count(*) AS c_xy FROM (
        |    SELECT unnest(w[1:len(w)-1]) AS word1, unnest(w[2:len(w)]) AS word2
        |    FROM toks WHERE len(w) >= 2) GROUP BY 1, 2
        |)
        |SELECT b.word1, b.word2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
        |  CAST(b.c_xy AS DOUBLE) * t.n_total / u1.c / u2.c AS lift
        |FROM bi b
        |JOIN uni u1 ON b.word1 = u1.tok
        |JOIN uni u2 ON b.word2 = u2.tok
        |CROSS JOIN tot t
        |WHERE b.c_xy >= 5
        |ORDER BY lift DESC, b.word1, b.word2 LIMIT 50""".stripMargin,
    "q_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), g0 AS (
        |  SELECT source, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), grams AS (
        |  SELECT DISTINCT source, gram FROM g0
        |), sz AS (
        |  SELECT source, count(*) AS n FROM grams GROUP BY 1
        |), ix AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_inter
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_inter,
        |  sa.n + sb.n - n_inter AS n_union,
        |  (n_inter * 1000) // (sa.n + sb.n - n_inter) AS jaccard_permille
        |FROM ix
        |JOIN sz sa ON ix.source_a = sa.source
        |JOIN sz sb ON ix.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,
    // Zipf head: exact counts, integer-permille cumulative coverage
    "q_vocab_coverage" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents
        |), c AS (
        |  SELECT word, count(*) AS n_tokens FROM w GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM c
        |), r AS (
        |  SELECT word, n_tokens,
        |    row_number() OVER (ORDER BY n_tokens DESC, word) AS rank,
        |    CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, word
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, word, n_tokens,
        |  (cum*2000 + total) // (total*2) AS cum_permille
        |FROM r, t WHERE rank <= 50 ORDER BY rank""".stripMargin,
    // boilerplate = grams in >= max(5, 1% of docs) documents; per-doc
    // POSITION coverage (multiset), half-up integer permille
    // corpus-level high-df gram coverage — the #154 pre-banding gate;
    // same df rule and tokenization as q_boilerplate, aggregated to
    // one row (floor-div permille like the engine's integer math)
    "q_boiler_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), pos AS (
        |  SELECT doc_id, unnest(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]) AS gram
        |  FROM toks
        |), dfq AS (
        |  SELECT gram, count(DISTINCT doc_id) AS df, count(*) AS positions
        |  FROM pos GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents
        |)
        |SELECT
        |  CAST(coalesce(sum(positions), 0) AS BIGINT) AS n_positions,
        |  CAST(coalesce(sum(positions) FILTER (
        |    WHERE df >= greatest(5, (n_docs + 99) // 100)), 0) AS BIGINT) AS n_boiler,
        |  CAST(CASE WHEN coalesce(sum(positions), 0) = 0 THEN 0
        |       ELSE coalesce(sum(positions) FILTER (
        |         WHERE df >= greatest(5, (n_docs + 99) // 100)), 0) * 1000
        |         // sum(positions)
        |  END AS BIGINT) AS coverage_permille
        |FROM n LEFT JOIN dfq ON TRUE
        |GROUP BY n_docs""".stripMargin,
    "q_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), pos AS (
        |  SELECT doc_id, unnest(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]) AS gram
        |  FROM toks
        |), dfq AS (
        |  SELECT gram, count(DISTINCT doc_id) AS df FROM pos GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), boiler AS (
        |  SELECT gram FROM dfq, n WHERE df >= greatest(5, (n_docs + 99) // 100)
        |), base AS (
        |  SELECT doc_id, CAST(greatest(len(w) - 2, 0) AS BIGINT) AS n_positions FROM toks
        |), bc AS (
        |  SELECT doc_id, count(*) AS n_boiler FROM pos JOIN boiler USING (gram) GROUP BY 1
        |)
        |SELECT b.doc_id, b.n_positions,
        |  coalesce(bc.n_boiler, 0) AS n_boiler,
        |  CASE WHEN b.n_positions = 0 THEN 0
        |       ELSE (coalesce(bc.n_boiler, 0)*2000 + b.n_positions) // (b.n_positions*2)
        |  END AS boiler_permille
        |FROM base b LEFT JOIN bc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // asymmetric containment over the SAME df-capped distinct-gram
    // postings as the resolve CTE; half-up integer percentage
    "q_gram_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), kept AS (
        |  SELECT g.doc_id, g.gram FROM grams g
        |  JOIN (SELECT gram, count(*) AS df FROM grams GROUP BY gram) d USING (gram)
        |  WHERE d.df <= 100
        |), counts AS (
        |  SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
        |), shared AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS s
        |  FROM kept a JOIN kept b USING (gram)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT doc1, doc2, s AS shared_grams, c1.n AS grams1, c2.n AS grams2,
        |  (s*200 + least(c1.n, c2.n)) // (least(c1.n, c2.n)*2) AS containment_pct
        |FROM shared
        |JOIN counts c1 ON doc1 = c1.doc_id
        |JOIN counts c2 ON doc2 = c2.doc_id
        |WHERE s*100 >= least(c1.n, c2.n)*80
        |ORDER BY doc1, doc2""".stripMargin,
    // fixed-N stratified sample: md5-hex order is engine-identical
    // (same lowercase hex of the same decimal string)
    "q_group_sample" ->
      """SELECT lang, sample_rank, doc_id, source FROM (
        |  SELECT lang, doc_id, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 20
        |ORDER BY lang, sample_rank""".stripMargin,
    "q_train_split" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'f' THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rare_tokens" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
        |  FROM documents
        |), head AS (
        |  SELECT word FROM (
        |    SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
        |  WHERE df >= 50
        |), per AS (
        |  SELECT t.doc_id, count(*) AS n_tokens, count(h.word) AS n_common
        |  FROM tok t LEFT JOIN head h USING (word) GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_tokens - n_common AS BIGINT) AS n_rare,
        |  CAST((n_tokens - n_common) * 1000 // n_tokens AS BIGINT) AS rare_permille
        |FROM per""".stripMargin,
    "q_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |), dfx AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), sc AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    CAST(t.tf AS DOUBLE) / d.df AS score,
        |    row_number() OVER (PARTITION BY t.doc_id
        |      ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC, t.term) AS rk
        |  FROM tf t JOIN dfx d USING (term))
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
        |FROM sc WHERE rk = 1""".stripMargin,
    "q_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), ev AS (
        |  SELECT doc_id AS eid, gram FROM grams WHERE doc_id % 97 = 0
        |)
        |SELECT g.doc_id,
        |  count(DISTINCT g.gram) AS n_shared_grams,
        |  count(DISTINCT ev.eid) AS n_eval_docs_hit
        |FROM grams g JOIN ev USING (gram)
        |WHERE g.doc_id % 97 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // bloom_ok is the filter's no-false-negative guarantee — an
    // engine-independent constant TRUE; n_grams/n_shared are exact
    "q_bloom_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), corp AS (
        |  SELECT DISTINCT gram FROM grams WHERE doc_id % 10 <> 7
        |)
        |SELECT g.doc_id, count(*) AS n_grams, count(c.gram) AS n_shared,
        |  TRUE AS bloom_ok
        |FROM grams g LEFT JOIN corp c USING (gram)
        |WHERE g.doc_id % 10 = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // sketch_ok is the GK rank-envelope guarantee (constant TRUE on
    // any conforming sketch); the median itself is the exact element
    "q_approx_quantiles" ->
      """SELECT c_mktsegment, CAST(n AS BIGINT) AS n_orders,
        |  o_totalprice AS median_order_value, TRUE AS sketch_ok FROM (
        |  SELECT c_mktsegment, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rn = (n + 1) // 2
        |ORDER BY c_mktsegment""".stripMargin,
    "q_dedup_minhash" -> exactJaccardPairs(50),
    "q_dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), counts AS (
        |  SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
        |), shared AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS s
        |  FROM grams a JOIN grams b USING (gram)
        |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
        |  GROUP BY 1, 2)
        |SELECT d1 AS new_doc_id, d2 AS known_doc_id,
        |  (s*200 + (c1.n + c2.n - s)) // ((c1.n + c2.n - s)*2) AS jaccard_pct
        |FROM shared
        |JOIN counts c1 ON d1 = c1.doc_id
        |JOIN counts c2 ON d2 = c2.doc_id
        |WHERE s*100 >= (c1.n + c2.n - s)*50
        |ORDER BY new_doc_id, known_doc_id""".stripMargin,
    "q_dedup_simhash" -> exactJaccardPairs(50),
    "q_dedup_resolve" ->
      s"""$resolveCte
        |SELECT id AS doc_id, least(id, min(r)) AS group_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q_novelty_by_source" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), counts AS (
        |  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1
        |), owners AS (
        |  SELECT gram, min(doc_id) AS doc_id FROM grams GROUP BY 1
        |), novel AS (
        |  SELECT doc_id, count(*) AS n_novel FROM owners GROUP BY 1
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(c.n_grams) AS BIGINT) AS n_grams,
        |  CAST(sum(coalesce(n.n_novel, 0)) AS BIGINT) AS n_novel,
        |  1000 * CAST(sum(coalesce(n.n_novel, 0)) AS BIGINT)
        |    // CAST(sum(c.n_grams) AS BIGINT) AS novelty_permille
        |FROM counts c
        |LEFT JOIN novel n USING (doc_id)
        |JOIN documents USING (doc_id)
        |GROUP BY 1 ORDER BY source""".stripMargin,
    "q_cross_source_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), kept AS (
        |  SELECT g.doc_id, g.gram FROM grams g
        |  JOIN (SELECT gram, count(*) AS df FROM grams GROUP BY gram) d USING (gram)
        |  WHERE d.df <= 100
        |), counts AS (
        |  SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY doc_id
        |), shared AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS s
        |  FROM kept a JOIN kept b USING (gram)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |), pairs AS (
        |  SELECT doc1, doc2 FROM shared
        |  JOIN counts c1 ON doc1 = c1.doc_id
        |  JOIN counts c2 ON doc2 = c2.doc_id
        |  WHERE s*100 >= (c1.n_grams + c2.n_grams - s)*50
        |)
        |SELECT least(s1.source, s2.source) AS source_a,
        |  greatest(s1.source, s2.source) AS source_b,
        |  count(*) AS n_dup_pairs
        |FROM pairs
        |JOIN documents s1 ON doc1 = s1.doc_id
        |JOIN documents s2 ON doc2 = s2.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_dup_cluster_sizes" ->
      s"""$resolveCte, groups AS (
        |  SELECT id, least(id, min(r)) AS g FROM reach GROUP BY id
        |), sizes AS (
        |  SELECT g, count(*) AS cluster_size FROM groups GROUP BY 1
        |)
        |SELECT cluster_size, count(*) AS n_clusters
        |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin,
    "q_gram_df_histogram" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), df AS (
        |  SELECT gram, count(*) AS df FROM grams GROUP BY 1
        |)
        |SELECT least(df, 101) AS df_bucket, count(*) AS n_grams,
        |  CAST(sum(df) AS BIGINT) AS n_postings
        |FROM df GROUP BY 1 ORDER BY df_bucket""".stripMargin,
    // keeper selection: the resolve CTE + the #30 quality score + a
    // per-group argmax window — every step integer-exact
    "q_dedup_keeper" ->
      s"""$resolveCte,
        |groups AS (
        |  SELECT id AS doc_id, least(id, min(r)) AS group_id
        |  FROM reach GROUP BY id
        |), qbase AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(string_split_regex(trim(text), '\\s+')) AS n_words,
        |    ${hits(graft.text.TextOps.StopwordsEn)} AS stop_hits,
        |    len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS distinct_words
        |  FROM documents
        |), qual AS (
        |  SELECT doc_id,
        |    least(25, n_chars // 20)
        |    + least(25, n_words // 4)
        |    + least(25, (stop_hits * 100) // greatest(n_words, 1))
        |    + least(25, ((distinct_words * 100) // greatest(n_words, 1)) // 2) AS quality_score
        |  FROM qbase
        |), ranked AS (
        |  SELECT g.group_id, g.doc_id, q.quality_score,
        |    row_number() OVER (PARTITION BY g.group_id
        |      ORDER BY q.quality_score DESC, g.doc_id) AS r
        |  FROM groups g JOIN qual q USING (doc_id)
        |)
        |SELECT group_id,
        |  max(CASE WHEN r = 1 THEN doc_id END) AS keeper_doc_id,
        |  max(CASE WHEN r = 1 THEN quality_score END) AS keeper_quality,
        |  count(*) AS n_docs
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-source duplication profile: the resolve CTE for near-dup
    // membership + corpus-wide text-hash multiplicity for exact dups
    // (zero on this corpus — the zero IS the verified contract) +
    // integer-permille rates. The multiplicity join is LEFT: a NULL
    // text hash never matches USING(h), and an inner join silently
    // drops those docs from n_docs — NULL-hash docs count but are
    // never exact-dup members. (Rationale lives HERE, not as SQL
    // comments: ContractSpec's relation guard reads raw SQL text.)
    "q_dup_profile" ->
      s"""$resolveCte,
        |near AS (
        |  SELECT DISTINCT id FROM reach
        |), cells AS (
        |  SELECT md5(lower(trim(text))) AS h, source, count(*) AS c
        |  FROM documents GROUP BY 1, 2
        |), tot AS (
        |  SELECT h, sum(c) AS t FROM cells GROUP BY h
        |), exact AS (
        |  SELECT source,
        |    CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN h IS NOT NULL AND t > 1 THEN c ELSE 0 END) AS BIGINT) AS n_exact_dup
        |  FROM cells LEFT JOIN tot USING (h) GROUP BY source
        |), nearsrc AS (
        |  SELECT d.source, count(*) AS n_near_dup
        |  FROM documents d JOIN near ON d.doc_id = near.id GROUP BY 1
        |)
        |SELECT e.source, e.n_docs, e.n_exact_dup,
        |  COALESCE(n.n_near_dup, 0) AS n_near_dup,
        |  e.n_exact_dup * 1000 // e.n_docs AS exact_dup_permille,
        |  COALESCE(n.n_near_dup, 0) * 1000 // e.n_docs AS near_dup_permille
        |FROM exact e LEFT JOIN nearsrc n USING (source)
        |ORDER BY e.source""".stripMargin,
    "q_doc_fingerprint" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) - 2 AS n_grams,
        |  TRUE AS bounds_ok, TRUE AS subset_ok, TRUE AS min_ok
        |FROM documents
        |WHERE len(string_split_regex(trim(text), '\s+')) >= 3""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        |FROM events""".stripMargin,
    "q_repetition" ->
      s"""WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\\s+') AS w,
        |    CAST($gramsTotal AS BIGINT) AS grams_total
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    grams_total,
        |    CAST($gramsDistinct AS BIGINT) AS grams_distinct
        |  FROM base
        |), rep AS (
        |  SELECT *,
        |    CASE WHEN grams_total = 0 THEN 0
        |         ELSE ((grams_total - grams_distinct) * 200 + grams_total) // (grams_total * 2)
        |    END AS dup_gram_pct
        |  FROM g
        |), tw AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_word_count FROM (
        |    SELECT doc_id, word, count(*) AS c
        |    FROM (SELECT doc_id, unnest(w) AS word FROM base) u
        |    GROUP BY doc_id, word) t
        |  GROUP BY doc_id
        |)
        |SELECT r.doc_id, r.n_words, r.grams_total, r.grams_distinct, r.dup_gram_pct,
        |  tw.top_word_count,
        |  (tw.top_word_count * 200 + r.n_words) // (r.n_words * 2) AS top_word_pct
        |FROM rep r JOIN tw USING (doc_id)""".stripMargin,
    "q_corpus_filter" ->
      s"""WITH e AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
        |    CAST(${hits(graft.text.TextOps.StopwordsEn)} AS BIGINT) AS stop_hits,
        |    CAST(CASE WHEN $gramsTotal = 0 THEN 0
        |      ELSE (($gramsTotal - $gramsDistinct) * 200 + $gramsTotal) // ($gramsTotal * 2)
        |    END AS BIGINT) AS dup_gram_pct
        |  FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w FROM documents) t
        |)
        |SELECT doc_id, n_chars, n_words, stop_hits, dup_gram_pct,
        |  (n_chars >= 100 AND n_words >= 20 AND stop_hits > 0 AND dup_gram_pct <= 50) AS keep,
        |  CASE
        |    WHEN n_chars >= 100 AND n_words >= 20 AND stop_hits > 0 AND dup_gram_pct <= 50 THEN 'KEEP'
        |    WHEN NOT (n_chars >= 100) THEN 'TOO_SHORT'
        |    WHEN NOT (n_words >= 20) THEN 'TOO_FEW_WORDS'
        |    WHEN NOT (stop_hits > 0) THEN 'NO_STOPWORDS'
        |    WHEN NOT (dup_gram_pct <= 50) THEN 'REPETITIVE'
        |    ELSE 'UNKNOWN_REASON'
        |  END AS reason
        |FROM e""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS text_md5,
        |  min(doc_id) AS keeper_doc_id,
        |  count(*) AS n_copies,
        |  min(length(lower(trim(text)))) AS n_chars
        |FROM documents GROUP BY 1""".stripMargin,
    // paragraph grain = non-overlapping 20-token blocks; list_slice is
    // end-inclusive and truncates past len(w), mirroring Spark's slice
    "q_paragraph_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL
        |), paras AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS para_idx,
        |    md5(array_to_string(list_slice(w, i*20 + 1, i*20 + 20), ' ')) AS h
        |  FROM toks, UNNEST(range(CAST(ceil(len(w)/20.0) AS BIGINT))) AS t(i)
        |), ranked AS (
        |  SELECT doc_id, para_idx,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, para_idx) AS rn
        |  FROM paras
        |)
        |SELECT doc_id, count(*) AS n_paras,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
        |  CAST(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000
        |    // count(*) AS BIGINT) AS dup_permille
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_paragraph_strip" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL
        |), paras AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS para_idx,
        |    array_to_string(list_slice(w, i*20 + 1, i*20 + 20), ' ') AS para
        |  FROM toks, UNNEST(range(CAST(ceil(len(w)/20.0) AS BIGINT))) AS t(i)
        |), firsts AS (
        |  SELECT doc_id, para_idx, para FROM (
        |    SELECT doc_id, para_idx, para,
        |      row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
        |    FROM paras) WHERE rn = 1
        |), kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(para, ' ' ORDER BY para_idx) AS text_clean
        |  FROM firsts GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(ceil(len(t.w)/20.0) AS BIGINT) AS n_paras,
        |  COALESCE(k.n_kept, 0) AS n_kept,
        |  COALESCE(k.text_clean, '') AS text_clean
        |FROM toks t LEFT JOIN kept k USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // the staged funnel: each stage filters the previous stage's
    // SURVIVORS (keepers among quality passes, block firsts among
    // dedup keepers) — the flags CTE mirrors the Spark r0..r3 columns
    "q_corpus_funnel" ->
      s"""WITH e AS (
        |  SELECT doc_id, lang, text, w,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(${hits(langs("en"))} AS BIGINT) AS hits_en,
        |    CAST(${hits(langs("de"))} AS BIGINT) AS hits_de,
        |    CAST(${hits(langs("fr"))} AS BIGINT) AS hits_fr,
        |    CAST(${hits(langs("es"))} AS BIGINT) AS hits_es,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk_chars,
        |    CAST(${hits(graft.text.TextOps.StopwordsEn)} AS BIGINT) AS stop_hits,
        |    CAST(CASE WHEN $gramsTotal = 0 THEN 0
        |      ELSE (($gramsTotal - $gramsDistinct) * 200 + $gramsTotal) // ($gramsTotal * 2)
        |    END AS BIGINT) AS dup_gram_pct
        |  FROM (SELECT doc_id, lang, text, string_split_regex(trim(text), '\\s+') AS w FROM documents) t
        |), f AS (
        |  SELECT *,
        |    (text IS NOT NULL) AS r0,
        |    (text IS NOT NULL AND lang = (
        |       CASE WHEN cjk_chars > 0 THEN 'zh'
        |            WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es AND hits_en > 0 THEN 'en'
        |            WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de > 0 THEN 'de'
        |            WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
        |            WHEN hits_es > 0 THEN 'es'
        |            ELSE 'unknown' END)) AS r1
        |  FROM e
        |), f2 AS (
        |  SELECT *, (r1 AND n_chars >= 100 AND n_words >= 20 AND stop_hits > 0 AND dup_gram_pct <= 50) AS r2
        |  FROM f
        |), keepers AS (
        |  SELECT md5(lower(trim(text))) AS th, min(doc_id) AS kd
        |  FROM f2 WHERE r2 GROUP BY 1
        |), f3 AS (
        |  SELECT f2.*, (r2 AND EXISTS (
        |    SELECT 1 FROM keepers k WHERE k.th = md5(lower(trim(f2.text))) AND k.kd = f2.doc_id)) AS r3
        |  FROM f2
        |), paras AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS para_idx,
        |    md5(array_to_string(list_slice(w, i*20 + 1, i*20 + 20), ' ')) AS h,
        |    CAST(least(20, len(w) - i*20) AS BIGINT) AS ntok
        |  FROM f3, UNNEST(range(CAST(ceil(len(w)/20.0) AS BIGINT))) AS t(i)
        |  WHERE r3
        |), firsts AS (
        |  SELECT doc_id, ntok FROM (
        |    SELECT doc_id, ntok, row_number() OVER (PARTITION BY h ORDER BY doc_id, para_idx) AS rn
        |    FROM paras) WHERE rn = 1
        |), kept AS (
        |  SELECT doc_id, count(*) AS n_kept, CAST(sum(ntok) AS BIGINT) AS kept_tokens
        |  FROM firsts GROUP BY 1
        |), agg AS (
        |  SELECT count(*) AS total,
        |    CAST(sum(CASE WHEN r0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
        |    CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
        |    CAST(sum(CASE WHEN COALESCE(k.n_kept, 0) >= 1 AND r3 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
        |    CAST(sum(CASE WHEN r0 THEN n_words ELSE 0 END) AS BIGINT) AS t0,
        |    CAST(sum(CASE WHEN r1 THEN n_words ELSE 0 END) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN r2 THEN n_words ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(sum(CASE WHEN r3 THEN n_words ELSE 0 END) AS BIGINT) AS t3,
        |    CAST(sum(CASE WHEN r3 THEN COALESCE(k.kept_tokens, 0) ELSE 0 END) AS BIGINT) AS t4
        |  FROM f3 LEFT JOIN kept k USING (doc_id)
        |)
        |SELECT 0 AS stage, 'ingest' AS name, total AS docs_in, d0 AS docs_out, total - d0 AS docs_removed, t0 AS tokens_out FROM agg
        |UNION ALL SELECT 1, 'lang_id', d0, d1, d0 - d1, t1 FROM agg
        |UNION ALL SELECT 2, 'quality', d1, d2, d1 - d2, t2 FROM agg
        |UNION ALL SELECT 3, 'exact_dedup', d2, d3, d2 - d3, t3 FROM agg
        |UNION ALL SELECT 4, 'paragraph_strip', d3, d4, d3 - d4, t4 FROM agg
        |ORDER BY stage""".stripMargin,
    // greedy budget admission: the window formulation IS the spec —
    // the Spark side computes the same exclusive running sum without
    // a global sort (two-level bucket scan); integer math throughout
    "q_token_budget" ->
      s"""WITH b0 AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(string_split_regex(trim(text), '\\s+')) AS n_words,
        |    ${hits(graft.text.TextOps.StopwordsEn)} AS stop_hits,
        |    len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS distinct_words
        |  FROM documents WHERE text IS NOT NULL
        |), scored AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    CAST(least(25, n_chars // 20)
        |      + least(25, n_words // 4)
        |      + least(25, (stop_hits * 100) // greatest(n_words, 1))
        |      + least(25, ((distinct_words * 100) // greatest(n_words, 1)) // 2) AS BIGINT)
        |      AS quality_score
        |  FROM b0
        |), tot AS (
        |  SELECT CAST(sum(n_words) // 2 AS BIGINT) AS budget FROM scored
        |), c AS (
        |  SELECT doc_id, quality_score, n_words,
        |    CAST(COALESCE(sum(n_words) OVER (
        |      ORDER BY quality_score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM scored)
        |SELECT doc_id, quality_score, n_words, cum_before,
        |  cum_before < (SELECT budget FROM tot) AS admitted
        |FROM c ORDER BY doc_id""".stripMargin,
    // threshold survival curve on the collapsed score grain; permille
    // by integer division against the corpus totals
    "q_quality_sweep" ->
      s"""WITH b0 AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(string_split_regex(trim(text), '\\s+')) AS n_words,
        |    ${hits(graft.text.TextOps.StopwordsEn)} AS stop_hits,
        |    len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS distinct_words
        |  FROM documents WHERE text IS NOT NULL
        |), scored AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |    CAST(least(25, n_chars // 20)
        |      + least(25, n_words // 4)
        |      + least(25, (stop_hits * 100) // greatest(n_words, 1))
        |      + least(25, ((distinct_words * 100) // greatest(n_words, 1)) // 2) AS BIGINT)
        |      AS quality_score
        |  FROM b0
        |), tot AS (
        |  SELECT count(*) AS td, CAST(COALESCE(sum(n_words), 0) AS BIGINT) AS tt FROM scored
        |), g AS (
        |  SELECT CAST(r AS BIGINT) AS threshold FROM range(0, 101, 5) t(r)
        |)
        |SELECT g.threshold,
        |  CAST(count(s.doc_id) AS BIGINT) AS docs_kept,
        |  CAST(COALESCE(sum(s.n_words), 0) AS BIGINT) AS tokens_kept,
        |  CAST((count(s.doc_id) * 1000) // greatest((SELECT td FROM tot), 1) AS BIGINT) AS docs_permille,
        |  CAST((COALESCE(sum(s.n_words), 0) * 1000) // greatest((SELECT tt FROM tot), 1) AS BIGINT) AS tokens_permille
        |FROM g LEFT JOIN scored s ON s.quality_score >= g.threshold
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // water-filling level by the sorted-prefix closed form: with caps
    // ascending, used(ci) = pfx + (n-i+1)*ci; the last feasible row
    // anchors L — exact integers, both engines floor on positives
    "q_mix_allocate" ->
      """WITH cells AS (
        |  SELECT lang, source,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS cap_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(sum(cap_tokens) // 2 AS BIGINT) AS b, count(*) AS n FROM cells
        |), s AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY cap_tokens, lang, source) AS BIGINT) AS i,
        |    CAST(COALESCE(sum(cap_tokens) OVER (ORDER BY cap_tokens, lang, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx
        |  FROM cells
        |), feas AS (
        |  SELECT s.i, s.cap_tokens AS c, s.pfx + (t.n - s.i + 1) * s.cap_tokens AS used
        |  FROM s, tot t WHERE s.pfx + (t.n - s.i + 1) * s.cap_tokens <= t.b
        |), lvl AS (
        |  SELECT CAST(CASE
        |    WHEN (SELECT count(*) FROM feas) = 0
        |      THEN (SELECT b FROM tot) // (SELECT n FROM tot)
        |    WHEN (SELECT max(i) FROM feas) = (SELECT n FROM tot)
        |      THEN (SELECT c FROM feas ORDER BY i DESC LIMIT 1)
        |    ELSE (SELECT c FROM feas ORDER BY i DESC LIMIT 1)
        |      + ((SELECT b FROM tot) - (SELECT used FROM feas ORDER BY i DESC LIMIT 1))
        |        // ((SELECT n FROM tot) - (SELECT max(i) FROM feas))
        |  END AS BIGINT) AS level
        |)
        |SELECT c.lang, c.source, c.cap_tokens,
        |  CAST(least(c.cap_tokens, l.level) AS BIGINT) AS allocated_tokens,
        |  CAST((least(c.cap_tokens, l.level) * 1000) // greatest(c.cap_tokens, 1) AS BIGINT) AS fill_permille,
        |  l.level
        |FROM cells c, lvl l ORDER BY 1, 2""".stripMargin,
    // the upsampling regime: #147's closed form on 4x-scaled caps
    // (budget 2*total = (4*total)//2), epochs in integer permille
    "q_mix_epochs" ->
      """WITH cells AS (
        |  SELECT lang, source,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS cap_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
        |), sc AS (
        |  SELECT lang, source, cap_tokens, cap_tokens * 4 AS cap4 FROM cells
        |), tot AS (
        |  SELECT CAST(sum(cap4) // 2 AS BIGINT) AS b, count(*) AS n FROM sc
        |), s AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY cap4, lang, source) AS BIGINT) AS i,
        |    CAST(COALESCE(sum(cap4) OVER (ORDER BY cap4, lang, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx
        |  FROM sc
        |), feas AS (
        |  SELECT s.i, s.cap4 AS c, s.pfx + (t.n - s.i + 1) * s.cap4 AS used
        |  FROM s, tot t WHERE s.pfx + (t.n - s.i + 1) * s.cap4 <= t.b
        |), lvl AS (
        |  SELECT CAST(CASE
        |    WHEN (SELECT count(*) FROM feas) = 0
        |      THEN (SELECT b FROM tot) // (SELECT n FROM tot)
        |    WHEN (SELECT max(i) FROM feas) = (SELECT n FROM tot)
        |      THEN (SELECT c FROM feas ORDER BY i DESC LIMIT 1)
        |    ELSE (SELECT c FROM feas ORDER BY i DESC LIMIT 1)
        |      + ((SELECT b FROM tot) - (SELECT used FROM feas ORDER BY i DESC LIMIT 1))
        |        // ((SELECT n FROM tot) - (SELECT max(i) FROM feas))
        |  END AS BIGINT) AS level
        |)
        |SELECT c.lang, c.source, c.cap_tokens,
        |  CAST(least(c.cap4, l.level) AS BIGINT) AS allocated_tokens,
        |  CAST((least(c.cap4, l.level) * 1000) // greatest(c.cap_tokens, 1) AS BIGINT) AS epochs_permille,
        |  l.level
        |FROM sc c, lvl l ORDER BY 1, 2""".stripMargin,
    // #151: replay the #150 water-fill on 4x caps, then materialize —
    // whole epochs = alloc // cap, fractional remainder filled by the
    // per-cell doc_id-ordered prefix whose exclusive running mass fits
    // ENTIRELY (cum + n <= rem); copies explode via range. All exact
    // integers; the per-cell window here is oracle-scale only (the
    // engine uses the two-level bucket scan).
    "q_mix_materialize" ->
      """WITH cells AS (
        |  SELECT lang, source,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS cap_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
        |), sc AS (
        |  SELECT lang, source, cap_tokens, cap_tokens * 4 AS cap4 FROM cells
        |), tot AS (
        |  SELECT CAST(sum(cap4) // 2 AS BIGINT) AS b, count(*) AS n FROM sc
        |), s AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY cap4, lang, source) AS BIGINT) AS i,
        |    CAST(COALESCE(sum(cap4) OVER (ORDER BY cap4, lang, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx
        |  FROM sc
        |), feas AS (
        |  SELECT s.i, s.cap4 AS c, s.pfx + (t.n - s.i + 1) * s.cap4 AS used
        |  FROM s, tot t WHERE s.pfx + (t.n - s.i + 1) * s.cap4 <= t.b
        |), lvl AS (
        |  SELECT CAST(CASE
        |    WHEN (SELECT count(*) FROM feas) = 0
        |      THEN (SELECT b FROM tot) // (SELECT n FROM tot)
        |    WHEN (SELECT max(i) FROM feas) = (SELECT n FROM tot)
        |      THEN (SELECT c FROM feas ORDER BY i DESC LIMIT 1)
        |    ELSE (SELECT c FROM feas ORDER BY i DESC LIMIT 1)
        |      + ((SELECT b FROM tot) - (SELECT used FROM feas ORDER BY i DESC LIMIT 1))
        |        // ((SELECT n FROM tot) - (SELECT max(i) FROM feas))
        |  END AS BIGINT) AS level
        |), led AS (
        |  SELECT c.lang, c.source,
        |    least(c.cap4, l.level) // c.cap_tokens AS whole,
        |    least(c.cap4, l.level) % c.cap_tokens AS rem
        |  FROM sc c, lvl l
        |), base AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words
        |  FROM documents WHERE text IS NOT NULL
        |), pre AS (
        |  SELECT b.*, CAST(COALESCE(sum(n_words) OVER (PARTITION BY lang, source
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum
        |  FROM base b
        |), cop AS (
        |  SELECT p.doc_id, p.lang, p.source, p.n_words,
        |    CAST(l.whole + CASE WHEN p.cum + p.n_words <= l.rem THEN 1 ELSE 0 END
        |      AS BIGINT) AS n_copies
        |  FROM pre p JOIN led l USING (lang, source)
        |)
        |SELECT doc_id, lang, source, n_words, CAST(ci AS BIGINT) AS copy_id
        |FROM cop, UNNEST(range(1, n_copies + 1)) t(ci)
        |WHERE n_copies > 0
        |ORDER BY doc_id, copy_id""".stripMargin,
    // #152: payload identity = md5 over the UTF-8 bytes (Spark hashes
    // the binary cast, DuckDB the VARCHAR — same bytes); format from
    // the FIRST BYTE's hex low-nibble parity (byte-exact on both
    // engines, unlike first-character codepoint rules)
    "q_binary_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, md5(text) AS h,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nb,
        |    CASE WHEN octet_length(CAST(text AS BLOB)) = 0 THEN 'empty'
        |         WHEN substr(hex(CAST(text AS BLOB)), 2, 1)
        |              IN ('0','2','4','6','8','A','C','E') THEN 'rgb'
        |         ELSE 'rgba' END AS fmt
        |  FROM documents WHERE text IS NOT NULL
        |), cells AS (
        |  SELECT h, count(*) AS c, min(nb) AS nb, min(fmt) AS fmt
        |  FROM base GROUP BY 1
        |)
        |SELECT fmt AS format, CAST(nb // 512 AS BIGINT) AS size_bucket,
        |  CAST(sum(c) AS BIGINT) AS n_payloads,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c) - count(*) AS BIGINT) AS dup_payloads,
        |  CAST(sum(c * nb) AS BIGINT) AS bytes_total,
        |  CAST(sum((c - 1) * nb) AS BIGINT) AS dup_bytes,
        |  CAST(((sum(c) - count(*)) * 1000) // sum(c) AS BIGINT) AS dup_permille,
        |  min(h) AS sample_md5
        |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // floor(log2(c)) = length(bin(c)) - 1: exact integers in both
    // engines, no FP log — the whole score stays order-independent
    "q_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL
        |), bi AS (
        |  SELECT doc_id, w[CAST(i AS BIGINT)] AS w1, w[CAST(i AS BIGINT)+1] AS w2
        |  FROM toks, UNNEST(range(1, len(w))) AS t(i)
        |), cnt AS (
        |  SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2
        |), sc AS (
        |  SELECT b.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(length(bin(c)) - 1) AS BIGINT) AS flog2_sum
        |  FROM bi b JOIN cnt USING (w1, w2) GROUP BY 1
        |)
        |SELECT t.doc_id,
        |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(s.flog2_sum, 0) AS flog2_sum,
        |  CAST(CASE WHEN COALESCE(s.n_bigrams, 0) > 0
        |       THEN (s.flog2_sum * 100) // s.n_bigrams ELSE 0 END AS BIGINT)
        |    AS familiarity_centilog
        |FROM toks t LEFT JOIN sc s USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "q_text_quality" ->
      s"""WITH base AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(string_split_regex(trim(text), '\\s+')) AS n_words,
        |    ${hits(graft.text.TextOps.StopwordsEn)} AS stop_hits,
        |    len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS distinct_words
        |  FROM documents
        |), scored AS (
        |  SELECT *,
        |    least(25, n_chars // 20)
        |    + least(25, n_words // 4)
        |    + least(25, (stop_hits * 100) // greatest(n_words, 1))
        |    + least(25, ((distinct_words * 100) // greatest(n_words, 1)) // 2) AS quality_score
        |  FROM base)
        |SELECT doc_id, n_chars, n_words, stop_hits, distinct_words, quality_score,
        |  CASE WHEN quality_score >= 60 THEN 'high'
        |       WHEN quality_score >= 40 THEN 'medium'
        |       ELSE 'low' END AS quality_bucket
        |FROM scored""".stripMargin,
    "q_lang_id" ->
      s"""WITH h AS (
        |  SELECT doc_id, lang,
        |    ${hits(langs("en"))} AS hits_en,
        |    ${hits(langs("de"))} AS hits_de,
        |    ${hits(langs("fr"))} AS hits_fr,
        |    ${hits(langs("es"))} AS hits_es,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk_chars
        |  FROM documents
        |), p AS (
        |  SELECT *,
        |    CASE WHEN cjk_chars > 0 THEN 'zh'
        |         WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es AND hits_en > 0 THEN 'en'
        |         WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de > 0 THEN 'de'
        |         WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
        |         WHEN hits_es > 0 THEN 'es'
        |         ELSE 'unknown' END AS predicted
        |  FROM h)
        |SELECT doc_id, lang, hits_en, hits_de, hits_fr, hits_es, cjk_chars,
        |  predicted, (predicted = lang) AS is_match
        |FROM p""".stripMargin,
    "q_source_quality" ->
      s"""WITH scored AS (
        |  SELECT source,
        |    CASE WHEN text IS NULL THEN NULL ELSE
        |    least(25, length(text) // 20)
        |    + least(25, len(string_split_regex(trim(text), '\\s+')) // 4)
        |    + least(25, (${hits(graft.text.TextOps.StopwordsEn)} * 100)
        |        // greatest(len(string_split_regex(trim(text), '\\s+')), 1))
        |    + least(25, ((len(list_distinct(string_split_regex(trim(text), '\\s+'))) * 100)
        |        // greatest(len(string_split_regex(trim(text), '\\s+')), 1)) // 2)
        |    END AS q
        |  FROM documents
        |)
        |SELECT source, count(*) AS n_docs,
        |  (CAST(sum(q) AS BIGINT) * 1000) // count(*) AS mean_quality_permille,
        |  CAST(sum(CASE WHEN q >= 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN q >= 40 AND q < 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
        |  CAST(sum(CASE WHEN q < 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  (CAST(sum(CASE WHEN q >= 60 THEN 1 ELSE 0 END) AS BIGINT) * 1000) // count(*) AS high_permille
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_lang_confusion" ->
      s"""WITH h AS (
        |  SELECT doc_id, lang,
        |    ${hits(langs("en"))} AS hits_en,
        |    ${hits(langs("de"))} AS hits_de,
        |    ${hits(langs("fr"))} AS hits_fr,
        |    ${hits(langs("es"))} AS hits_es,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk_chars
        |  FROM documents
        |), p AS (
        |  SELECT lang,
        |    CASE WHEN cjk_chars > 0 THEN 'zh'
        |         WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es AND hits_en > 0 THEN 'en'
        |         WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de > 0 THEN 'de'
        |         WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
        |         WHEN hits_es > 0 THEN 'es'
        |         ELSE 'unknown' END AS predicted
        |  FROM h
        |), c AS (
        |  SELECT lang, predicted, count(*) AS n FROM p GROUP BY 1, 2
        |)
        |SELECT lang, predicted, n,
        |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
        |  (n * 1000) // CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_permille,
        |  lang = predicted AS is_correct
        |FROM c ORDER BY lang, predicted""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])) AS gram
        |  FROM toks
        |), kept AS (
        |  SELECT g.doc_id, g.gram FROM grams g
        |  JOIN (SELECT gram, count(*) AS df FROM grams GROUP BY gram) d USING (gram)
        |  WHERE d.df <= 100
        |), counts AS (
        |  SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY doc_id
        |), shared AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS shared_grams
        |  FROM kept a JOIN kept b USING (gram)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc1, doc2, shared_grams, c1.n_grams AS grams1, c2.n_grams AS grams2,
        |  (shared_grams*200 + (c1.n_grams + c2.n_grams - shared_grams))
        |    // ((c1.n_grams + c2.n_grams - shared_grams)*2) AS jaccard_pct
        |FROM shared
        |JOIN counts c1 ON doc1 = c1.doc_id
        |JOIN counts c2 ON doc2 = c2.doc_id
        |WHERE shared_grams*100 >= (c1.n_grams + c2.n_grams - shared_grams)*1""".stripMargin,
    "q_multimodal_frames" ->
      """WITH d AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, hx, greatest(nb // 4, 1) AS flen FROM d
        |), x AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |    substr(hx, i*flen*2 + 1, flen*2) AS fh
        |  FROM f CROSS JOIN (VALUES (0), (1), (2), (3)) r(i)
        |)
        |SELECT doc_id, frame_idx,
        |  CAST(length(fh) // 2 AS BIGINT) AS frame_len,
        |  substr(fh, 1, 16) AS frame_head_hex
        |FROM x WHERE length(fh) > 0""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  hex(substr(text, 1, 8)) AS header_hex,
        |  CAST(64 + (octet_length(CAST(text AS BLOB)) * 7) % 960 AS INTEGER) AS width,
        |  CAST(64 + (octet_length(CAST(text AS BLOB)) * 13) % 960 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS channels,
        |  CASE WHEN octet_length(CAST(text AS BLOB)) = 0 THEN 'empty'
        |       WHEN ascii(substr(text, 1, 1)) % 2 = 0 THEN 'rgb'
        |       ELSE 'rgba' END AS format
        |FROM documents""".stripMargin
  )

  private val cosExpr =
    "list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"

  /** Exact brute-force top-5 for the vec_id<10 query set — the shared
    * ground truth for q_ann_topk AND q_ann_ivf (whose adaptive probe
    * is exact by construction; see Ivf.probeExact). */
  private val bruteTop5 =
    s"""SELECT query_id, rank, neighbor_id, cosine FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    round($cosExpr, 4) AS cosine,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY $cosExpr DESC, b.vec_id) AS rank
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 10) t
      |WHERE rank <= 5""".stripMargin

  /** The random-hyperplane LSH buckets are DETERMINISTIC arithmetic
    * (sign of dot(vec, plane) over splitmix64-generated plane
    * literals), so the oracle replicates them: the same 8 plane
    * vectors are embedded as list literals and the bucket id is
    * recomputed in SQL. Sign margins are wide (min |dot| = 2.8e-5 on
    * the sf0.1 corpus vs ~1e-13 summation error), so accumulation
    * order cannot flip a bucket bit. */
  private def lshBucketSql(table: String): String = {
    val ps = graft.vector.VectorOps.planes(8, 64)
    val dots = ps.zipWithIndex.map { case (p, i) =>
      val lits = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(e, $lits) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""SELECT vec_id, e, $dots AS bucket FROM (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM $table) v""".stripMargin
  }

  val vector: Map[String, String] = Map(
    // connected components over the #26 pair graph (same rounded
    // threshold), majority-label vote and min-id keeper — all integer
    "q_semantic_resolve" ->
      s"""WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS p, b.vec_id AS q
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE round($cosExpr, 4) >= 0.40
        |), edges AS (
        |  SELECT p AS a, q AS b FROM pairs UNION SELECT q, p FROM pairs
        |), reach AS (
        |  SELECT a AS id, b AS r FROM edges
        |  UNION
        |  SELECT c.id, e.b FROM reach c JOIN edges e ON c.r = e.a
        |), groups AS (
        |  SELECT id AS vec_id, least(id, min(r)) AS group_id FROM reach GROUP BY id
        |), labeled AS (
        |  SELECT g.group_id, g.vec_id, e.label
        |  FROM groups g JOIN embeddings e USING (vec_id)
        |), votes AS (
        |  SELECT group_id, label, count(*) AS c FROM labeled GROUP BY 1, 2
        |), maj AS (
        |  SELECT group_id, label AS majority_label, c AS n_majority FROM (
        |    SELECT group_id, label, c, row_number() OVER (PARTITION BY group_id
        |      ORDER BY c DESC, label) AS r FROM votes) v
        |  WHERE r = 1
        |), sizes AS (
        |  SELECT group_id, count(*) AS n_vecs FROM labeled GROUP BY 1
        |), keep AS (
        |  SELECT l.group_id, min(l.vec_id) AS keeper_vec_id
        |  FROM labeled l JOIN maj m
        |    ON l.group_id = m.group_id AND l.label = m.majority_label
        |  GROUP BY 1
        |)
        |SELECT s.group_id, s.n_vecs, m.majority_label, m.n_majority, k.keeper_vec_id
        |FROM sizes s JOIN maj m USING (group_id) JOIN keep k USING (group_id)
        |ORDER BY group_id""".stripMargin,
    // embedding QA gate: anomaly counters + norm distribution. The
    // norm replays Spark's sequential element-order double loop with
    // list_reduce (seeded by list_prepend(0.0) so empty lists are
    // total), then the shared round(·,4); the sum is exact DECIMAL
    // quantize-then-integer-sum: per-(label,dim) sums of round(x*1e6)
    // are order-independent exact integers; the 1/n centroid scaling
    // cancels in the cosine, leaving one deterministic IEEE tail
    "q_label_centroids" ->
      """WITH q AS (
        |  SELECT label, CAST(i AS INTEGER) AS dim,
        |    CAST(round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE) * 1e6) AS BIGINT) AS qx
        |  FROM embeddings, range(64) t(i)
        |  WHERE embedding IS NOT NULL
        |), sums AS (
        |  SELECT label, dim, CAST(sum(qx) AS BIGINT) AS s FROM q GROUP BY 1, 2
        |), counts AS (
        |  SELECT label, count(*) AS n FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1
        |), dots AS (
        |  SELECT a.label AS la, b.label AS lb,
        |    CAST(sum(CAST(a.s AS HUGEINT) * b.s) AS DECIMAL(38,0)) AS dot
        |  FROM sums a JOIN sums b USING (dim) WHERE a.label <= b.label GROUP BY 1, 2
        |)
        |SELECT d.la AS label_a, d.lb AS label_b, ca.n AS n_a, cb.n AS n_b,
        |  CAST(d.dot AS DOUBLE)
        |    / (sqrt(CAST(da.dot AS DOUBLE)) * sqrt(CAST(db.dot AS DOUBLE))) AS cos_centroid
        |FROM dots d
        |JOIN dots da ON da.la = d.la AND da.lb = d.la
        |JOIN dots db ON db.la = d.lb AND db.lb = d.lb
        |JOIN counts ca ON ca.label = d.la
        |JOIN counts cb ON cb.label = d.lb
        |WHERE d.la < d.lb
        |ORDER BY 1, 2""".stripMargin,
    // leave-one-out centroid cosine per vector: pure integer algebra
    // on quantized sums (dot(q,S-q) = dot(q,S) - |q|^2, |S-q|^2 =
    // |S|^2 - 2 dot + |q|^2), stats on round(cos*1e6) integers
    "q_embedding_outliers" ->
      """WITH q AS (
        |  SELECT vec_id, label, CAST(i AS INTEGER) AS dim,
        |    CAST(round(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE) * 1e6) AS BIGINT) AS qx
        |  FROM embeddings, range(64) t(i)
        |  WHERE embedding IS NOT NULL
        |), sums AS (
        |  SELECT label, dim, CAST(sum(qx) AS BIGINT) AS s FROM q GROUP BY 1, 2
        |), ln2 AS (
        |  SELECT label, sum(CAST(s AS HUGEINT) * s) AS ns2 FROM sums GROUP BY 1
        |), pv AS (
        |  SELECT q.vec_id, q.label,
        |    sum(CAST(q.qx AS HUGEINT) * m.s) AS dvs,
        |    sum(CAST(q.qx AS HUGEINT) * q.qx) AS nv2
        |  FROM q JOIN sums m USING (label, dim) GROUP BY 1, 2
        |), sc AS (
        |  SELECT pv.label,
        |    CASE WHEN pv.nv2 > 0 AND (l.ns2 - 2 * pv.dvs + pv.nv2) > 0 THEN
        |      CAST(round(CAST(pv.dvs - pv.nv2 AS DOUBLE)
        |        / (sqrt(CAST(pv.nv2 AS DOUBLE))
        |           * sqrt(CAST(l.ns2 - 2 * pv.dvs + pv.nv2 AS DOUBLE)))
        |        * 1e6) AS BIGINT) END AS cos_e6
        |  FROM pv JOIN ln2 l USING (label)
        |)
        |SELECT label,
        |  count(*) AS n_vecs,
        |  CAST(count(cos_e6) AS BIGINT) AS n_scored,
        |  CAST(sum(CASE WHEN cos_e6 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  CAST(min(cos_e6) AS BIGINT) AS cos_min_e6,
        |  CAST(max(cos_e6) AS BIGINT) AS cos_max_e6,
        |  CAST(sum(cos_e6) AS BIGINT) AS sum_cos_e6
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_embedding_qa" ->
      """WITH base AS (
        |  SELECT label,
        |    embedding IS NULL AS nv,
        |    CASE WHEN embedding IS NULL THEN FALSE ELSE len(embedding) <> 64 END AS bd,
        |    CASE WHEN embedding IS NULL THEN FALSE
        |         ELSE len(list_filter(embedding, x -> x IS NULL)) > 0 END AS ne,
        |    CASE WHEN embedding IS NULL THEN FALSE
        |         ELSE len(list_filter(embedding, x ->
        |           isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) > 0 END AS nf,
        |    embedding
        |  FROM embeddings
        |), rawn AS (
        |  SELECT label, nv, bd, ne, nf,
        |    CASE WHEN nv OR bd OR ne OR nf THEN NULL
        |         ELSE sqrt(list_reduce(
        |           list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |           (a, b) -> a + b)) END AS nraw
        |  FROM base
        |), normed AS (
        |  SELECT label, nv, bd, ne, nf,
        |    nraw >= 1e12 AS huge,
        |    CASE WHEN nraw < 1e12 THEN round(nraw, 4) END AS norm
        |  FROM rawn
        |)
        |SELECT label,
        |  count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN nv THEN 1 ELSE 0 END) AS BIGINT) AS n_null_vec,
        |  CAST(sum(CASE WHEN bd THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
        |  CAST(sum(CASE WHEN ne THEN 1 ELSE 0 END) AS BIGINT) AS n_null_elem,
        |  CAST(sum(CASE WHEN nf THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        |  CAST(sum(CASE WHEN huge THEN 1 ELSE 0 END) AS BIGINT) AS n_huge_norm,
        |  CAST(sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |  min(norm) AS min_norm,
        |  max(norm) AS max_norm,
        |  CAST(sum(CAST(norm AS DECIMAL(28,4))) AS DOUBLE) AS sum_norm
        |FROM normed GROUP BY label ORDER BY label""".stripMargin,
    "q_dedup_embedding" ->
      s"""SELECT id1, id2, cosine FROM (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2, round($cosExpr, 4) AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
        |WHERE cosine >= 0.30""".stripMargin,
    "q_ann_topk" -> bruteTop5,
    "q_ann_ivf" -> bruteTop5,
    // kNN probe accuracy: brute-force top-5, majority vote with
    // smallest-label tiebreak, all-integer accuracy — every step is
    // engine-exact, so the per-label rows hash-match
    "q_knn_classify" ->
      s"""WITH knn AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY $cosExpr DESC, b.vec_id) AS rank
        |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id) t
        |  WHERE rank <= 5
        |), votes AS (
        |  SELECT k.query_id, e.label AS nl, count(*) AS c
        |  FROM knn k JOIN embeddings e ON k.neighbor_id = e.vec_id
        |  GROUP BY 1, 2
        |), pred AS (
        |  SELECT query_id, nl AS pred_label FROM (
        |    SELECT query_id, nl, row_number() OVER (PARTITION BY query_id
        |      ORDER BY c DESC, nl) AS r FROM votes) v
        |  WHERE r = 1
        |)
        |SELECT e.label AS label,
        |  count(*) AS n_vectors,
        |  CAST(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END) AS BIGINT) * 1000 // count(*) AS accuracy_permille
        |FROM embeddings e JOIN pred p ON e.vec_id = p.query_id
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // exact kNN SELF-join: brute force over every query vector — the
    // Spark side's tiled two-level selection is lossless, so the
    // outputs agree row-for-row
    "q_knn_join" ->
      s"""SELECT query_id, rank, neighbor_id, cosine FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    round($cosExpr, 4) AS cosine,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY $cosExpr DESC, b.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id) t
        |WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH b AS (
        |${lshBucketSql("embeddings")}
        |)
        |SELECT query_id, rank, neighbor_id, cosine FROM (
        |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(a.e, c.e), 4) AS cosine,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.e, c.e) DESC, c.vec_id) AS rank
        |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
        |  WHERE a.vec_id < 10) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_ann_quantized" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT)) END AS qv
        |  FROM m
        |), s AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_dot_product(a.qv, b.qv) AS dot,
        |    list_dot_product(a.qv, a.qv) AS na,
        |    list_dot_product(b.qv, b.qv) AS nb
        |  FROM q a JOIN q b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 10
        |), c AS (
        |  SELECT query_id, neighbor_id,
        |    CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |    END AS qc
        |  FROM s
        |)
        |SELECT query_id, rank, neighbor_id, qcosine FROM (
        |  SELECT query_id, neighbor_id, round(qc, 4) AS qcosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY qc DESC, neighbor_id) AS rank
        |  FROM c) t
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin
  )

  /** Round-2 scale operators (SURVEY §2 #46–#55). The sketch queries
    * emit exact-recomputable columns plus contract booleans (error
    * envelope / Space-Saving bracket), so they hash-verify too. */
  val scale: Map[String, String] = Map(
    "q_key_skew" ->
      """WITH c AS (
        |  SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1
        |), g AS (
        |  SELECT CAST(len(CAST(c AS VARCHAR)) AS BIGINT) AS magnitude,
        |    count(*) AS n_keys,
        |    CAST(sum(c) AS BIGINT) AS n_rows,
        |    max(c) AS max_rows_per_key
        |  FROM c GROUP BY 1
        |)
        |SELECT magnitude, n_keys, n_rows, max_rows_per_key,
        |  (n_rows * 1000) // CAST(sum(n_rows) OVER () AS BIGINT) AS rows_permille
        |FROM g ORDER BY magnitude""".stripMargin,
    "q_length_outliers" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars FROM documents
        |), n AS (
        |  SELECT source, count(*) AS n FROM d GROUP BY 1
        |), r AS (
        |  SELECT d.*, row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars NULLS FIRST, doc_id) AS rn
        |  FROM d
        |), q AS (
        |  SELECT r.source,
        |    max(CASE WHEN rn = (25 * n.n + 99) // 100 THEN n_chars END) AS q1,
        |    max(CASE WHEN rn = (50 * n.n + 99) // 100 THEN n_chars END) AS median,
        |    max(CASE WHEN rn = (75 * n.n + 99) // 100 THEN n_chars END) AS q3
        |  FROM r JOIN n ON r.source = n.source GROUP BY 1
        |)
        |SELECT q.source, q.q1, q.median, q.q3, q.q3 - q.q1 AS iqr,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN 2 * d.n_chars < 2 * q.q1 - 3 * (q.q3 - q.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
        |  CAST(sum(CASE WHEN 2 * d.n_chars > 2 * q.q3 + 3 * (q.q3 - q.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
        |FROM d JOIN q ON d.source = q.source
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1""".stripMargin,
    "q_revenue_gini" ->
      """WITH x AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT o_custkey, cents,
        |    row_number() OVER (ORDER BY cents, o_custkey) AS i,
        |    count(*) OVER () AS n,
        |    CAST(sum(cents) OVER () AS BIGINT) AS s0
        |  FROM x
        |), t AS (
        |  SELECT max(n) AS n, max(s0) AS s0,
        |    CAST(sum(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS s1,
        |    CAST(sum(CASE WHEN i > n - n // 10 THEN cents ELSE 0 END) AS BIGINT) AS top
        |  FROM r
        |)
        |SELECT n AS n_customers,
        |  CAST(s0 AS DOUBLE) / 100.0 AS total_revenue,
        |  CAST(2 * s1 - (CAST(n AS HUGEINT) + 1) * s0 AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * s0 AS DOUBLE) AS gini,
        |  CAST(CAST(top AS HUGEINT) * 1000 // s0 AS BIGINT) AS top_decile_permille
        |FROM t""".stripMargin,
    "q_hll_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events, TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // sketch_ok (the ±5% HLL envelope, including the MERGED sketch)
    // is computed Spark-side; the oracle recomputes the exact counts
    // and pins the contract boolean
    "q_hll_union" ->
      """SELECT event_type AS scope, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS sketch_ok
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT 'ALL', count(DISTINCT user_id), TRUE FROM events
        |ORDER BY scope""".stripMargin,
    "q_topk_words" ->
      """WITH w AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS word
        |  FROM documents
        |), c AS (
        |  SELECT lang, word, count(*) AS n FROM w GROUP BY 1, 2
        |), r AS (
        |  SELECT lang, word, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rk
        |  FROM c)
        |SELECT lang, CAST(rk AS BIGINT) AS rank, word, n AS n_occurrences,
        |  TRUE AS bracket_ok
        |FROM r WHERE rk <= 5 ORDER BY lang, rank""".stripMargin,
    "q_event_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s
        |  FROM events
        |), v AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts_s END) AS first_view
        |  FROM ev GROUP BY user_id
        |), c AS (
        |  SELECT v.user_id, min(v.first_view) AS first_view,
        |    min(e.ts_s) AS first_click_after_view
        |  FROM v LEFT JOIN ev e
        |    ON e.user_id = v.user_id AND e.event_type = 'click'
        |   AND e.ts_s >= v.first_view
        |  GROUP BY v.user_id
        |), p AS (
        |  SELECT c.user_id, min(c.first_view) AS first_view,
        |    min(c.first_click_after_view) AS first_click_after_view,
        |    min(e.ts_s) AS first_purchase_after_click
        |  FROM c LEFT JOIN ev e
        |    ON e.user_id = c.user_id AND e.event_type = 'purchase'
        |   AND e.ts_s >= c.first_click_after_view
        |  GROUP BY c.user_id
        |)
        |SELECT user_id, first_view, first_click_after_view,
        |  first_purchase_after_click,
        |  CAST(CASE WHEN first_purchase_after_click IS NOT NULL THEN 3
        |            WHEN first_click_after_view IS NOT NULL THEN 2
        |            WHEN first_view IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS conversion_step
        |FROM p""".stripMargin,
    "q_retention_cohort" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m
        |  FROM orders
        |), coh AS (
        |  SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY o_custkey
        |)
        |SELECT cohort_month,
        |  CAST(datediff('month', cohort_month, m) AS BIGINT) AS months_since,
        |  count(DISTINCT o_custkey) AS active_customers
        |FROM o JOIN coh USING (o_custkey)
        |GROUP BY 1, 2
        |ORDER BY cohort_month, months_since""".stripMargin,
    "q_doc_chunk" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |)
        |SELECT doc_id,
        |  CAST(c.i AS BIGINT) AS chunk_id,
        |  CAST(c.nt AS BIGINT) AS chunk_tokens,
        |  c.h AS chunk_md5
        |FROM (
        |  SELECT doc_id, unnest([{
        |      'i': i,
        |      'nt': least(256, len(w) - i*192),
        |      'h': md5(array_to_string(w[i*192+1 : i*192+256], ' '))
        |    } for i in range(0, (len(w)-1)//192 + 1)]) AS c
        |  FROM toks) t""".stripMargin,
    "q_text_redact" ->
      """WITH stamped AS (
        |  SELECT doc_id,
        |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com'
        |         || ' ssn 123-45-6789 call 555 0123 '
        |         || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ids,
        |  md5(regexp_replace(
        |        regexp_replace(
        |          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |          '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<ID>', 'g'),
        |        '[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
        |FROM stamped""".stripMargin,
    "q_asof_forward" ->
      """WITH r AS (
        |  SELECT user_id, ts_s, event_id, event_type FROM (
        |    SELECT user_id, event_id, event_type,
        |      CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s,
        |      row_number() OVER (PARTITION BY user_id, CAST(date_trunc('second', ts) AS TIMESTAMP)
        |        ORDER BY event_id DESC) AS rn FROM events) t
        |  WHERE rn = 1
        |)
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
        |  r.event_id AS next_event_id,
        |  r.ts_s AS next_event_ts,
        |  r.event_type AS next_event_type
        |FROM orders o ASOF JOIN r
        |  ON o.o_custkey = r.user_id AND o.o_orderdate <= r.ts_s""".stripMargin,
    "q_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        |), upd AS (
        |  SELECT c_custkey, c_name, 'UPSERTED' AS c_mktsegment,
        |         c_acctbal + 10.0 AS c_acctbal, 'U' AS op
        |  FROM base WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name || '_ins', c_mktsegment, 0.0, 'U'
        |  FROM base WHERE c_custkey % 11 = 3
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal, 'D'
        |  FROM base WHERE c_custkey % 13 = 6 AND c_custkey % 7 <> 0
        |)
        |SELECT b.c_custkey, b.c_name, b.c_mktsegment, b.c_acctbal
        |FROM base b LEFT JOIN (SELECT DISTINCT c_custkey FROM upd) u
        |  ON b.c_custkey = u.c_custkey
        |WHERE u.c_custkey IS NULL
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM upd WHERE op = 'U'""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_range_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s
        |  FROM events
        |), flagged AS (
        |  SELECT *,
        |    CASE WHEN lag(ts_s) OVER w IS NULL
        |           OR epoch(ts_s) - epoch(lag(ts_s) OVER w) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
        |), numbered AS (
        |  SELECT *,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged
        |), sessions AS (
        |  SELECT user_id, session_seq,
        |    min(ts_s) AS session_start, max(ts_s) AS session_end
        |  FROM numbered GROUP BY user_id, session_seq
        |)
        |SELECT e.event_id, e.user_id, e.ts_s,
        |  s.session_seq, s.session_start, s.session_end
        |FROM ev e JOIN sessions s ON e.user_id = s.user_id
        |  AND e.ts_s BETWEEN s.session_start AND s.session_end""".stripMargin,
    "q_skew_salted" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderdate, o_orderstatus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    "q_grouping_sets" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderstatus,
        |  ${sumx("o_totalprice")} AS revenue, count(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((CAST(year(o_orderdate) AS BIGINT)), (o_orderstatus))""".stripMargin,
    "q_sales_cube" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderstatus,
        |  ${sumx("o_totalprice")} AS revenue, count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE(CAST(year(o_orderdate) AS BIGINT), o_orderstatus)""".stripMargin,
    "q_window_suite" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  lag(o_totalprice) OVER wd AS prev_price,
        |  lead(o_totalprice) OVER wd AS next_price,
        |  CAST(rank() OVER wp AS BIGINT) AS price_rank,
        |  CAST(ntile(4) OVER wp AS BIGINT) AS price_quartile,
        |  percent_rank() OVER wp AS price_pct_rank
        |FROM orders
        |WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "q_quartiles" ->
      """SELECT c_mktsegment, CAST(pctl AS BIGINT) AS pctl, o_totalprice AS value FROM (
        |  SELECT c_mktsegment, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |CROSS JOIN (VALUES (25), (50), (75), (90)) p(pctl)
        |WHERE rn = (pctl * n + 99) // 100
        |ORDER BY c_mktsegment, pctl""".stripMargin,
    "q_seq_pack" ->
      """SELECT doc_id, source, n_tokens,
        |  CAST(tok_before // 2048 AS BIGINT) AS pack_id,
        |  CAST(tok_before % 2048 AS BIGINT) AS pack_offset
        |FROM (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM (SELECT doc_id, source,
        |          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |        FROM documents) d) t""".stripMargin,
    "q_pack_payload" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS t,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
        |), pre AS MATERIALIZED (
        |  SELECT doc_id, source, t, n_words,
        |    CAST(coalesce(sum(n_words) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM toks
        |), spanned AS MATERIALIZED (
        |  SELECT source, tok_before, n_words, t,
        |    unnest(range(tok_before // 2048, (tok_before + n_words - 1) // 2048 + 1)) AS pack_id
        |  FROM pre
        |), sl AS MATERIALIZED (
        |  SELECT source, CAST(pack_id AS BIGINT) AS pack_id, tok_before,
        |    greatest(0, pack_id * 2048 - tok_before) AS s,
        |    least(n_words, (pack_id + 1) * 2048 - tok_before) AS e,
        |    t
        |  FROM spanned
        |)
        |SELECT source, pack_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(e - s) AS BIGINT) AS n_tokens,
        |  md5(string_agg(array_to_string(list_slice(t, CAST(s + 1 AS BIGINT), CAST(e AS BIGINT)), ' '),
        |    ' ' ORDER BY tok_before)) AS payload_md5
        |FROM sl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_mix_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source, lang,
        |    CAST(CASE ascii(substr(source, 4, 2)) % 3
        |      WHEN 0 THEN 100 WHEN 1 THEN 50 ELSE 20 END AS BIGINT) AS keep_rate_pct
        |  FROM documents)
        |SELECT *, (doc_id % 100) < keep_rate_pct AS sampled FROM r""".stripMargin,
    "q_temporal_join" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        |), incoming AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 10 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
        |    c_acctbal
        |  FROM base
        |), changed AS (
        |  SELECT i.c_custkey FROM incoming i JOIN base e USING (c_custkey)
        |  WHERE i.c_mktsegment <> e.c_mktsegment
        |), scd AS (
        |  SELECT e.c_custkey, e.c_mktsegment, DATE '1990-01-01' AS valid_from,
        |    CASE WHEN ch.c_custkey IS NOT NULL THEN DATE '1995-06-01' END AS valid_to
        |  FROM base e LEFT JOIN changed ch ON e.c_custkey = ch.c_custkey
        |  UNION ALL
        |  SELECT i.c_custkey, i.c_mktsegment, DATE '1995-06-01', NULL
        |  FROM incoming i JOIN changed ch ON i.c_custkey = ch.c_custkey
        |)
        |SELECT o_orderkey, o_orderdate, s.c_custkey, s.c_mktsegment, s.valid_from
        |FROM orders o JOIN scd s ON o.o_custkey = s.c_custkey
        |  AND o.o_orderdate >= s.valid_from
        |  AND (s.valid_to IS NULL OR o.o_orderdate < s.valid_to)""".stripMargin,
    "q_revenue_stats" ->
      """WITH m AS (
        |  SELECT n_name AS nation,
        |    date_trunc('month', o_orderdate) AS mon,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS rev_c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2
        |), a AS (
        |  SELECT nation, count(*) AS n_months,
        |    CAST(sum(rev_c) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(rev_c AS HUGEINT) * CAST(rev_c AS HUGEINT)) AS DOUBLE) AS sxx
        |  FROM m GROUP BY 1
        |)
        |SELECT nation, n_months,
        |  sx / n_months / 100.0 AS mean_revenue,
        |  (n_months * sxx - sx * sx) / (n_months * (n_months - 1)) / 10000.0 AS var_revenue
        |FROM a WHERE n_months > 1
        |ORDER BY nation""".stripMargin,
    "q_basket_lift" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), cnt AS (
        |  SELECT l_partkey, count(*) AS n FROM li GROUP BY 1
        |), tot AS (
        |  SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem
        |), pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |)
        |SELECT p1, p2, n_orders, c1.n AS n1, c2.n AS n2, n_baskets,
        |  1000 * n_orders // c1.n AS conf_p1_permille,
        |  1000 * n_orders // c2.n AS conf_p2_permille,
        |  1000 * n_orders * n_baskets // (c1.n * c2.n) AS lift_permille
        |FROM pairs
        |JOIN cnt c1 ON p1 = c1.l_partkey
        |JOIN cnt c2 ON p2 = c2.l_partkey
        |CROSS JOIN tot
        |WHERE n_orders >= 3""".stripMargin,
    "q_copurchase" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), cnt AS (
        |  SELECT l_partkey, count(*) AS n FROM li GROUP BY 1
        |), pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |)
        |SELECT p1, p2, n_orders, c1.n AS n1, c2.n AS n2
        |FROM pairs
        |JOIN cnt c1 ON p1 = c1.l_partkey
        |JOIN cnt c2 ON p2 = c2.l_partkey
        |WHERE n_orders >= 3""".stripMargin,
    "q_mix_upsample" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(CASE ascii(substr(source, 4, 2)) % 3
        |      WHEN 0 THEN 100 WHEN 1 THEN 250 ELSE 50 END AS BIGINT) AS weight_pct
        |  FROM documents
        |), c AS (
        |  SELECT *,
        |    weight_pct // 100 +
        |      CASE WHEN doc_id % 100 < weight_pct % 100 THEN 1 ELSE 0 END AS n_copies
        |  FROM r
        |)
        |SELECT doc_id, source, weight_pct, CAST(i AS BIGINT) AS copy_id
        |FROM c CROSS JOIN LATERAL (SELECT unnest(range(1, CAST(n_copies AS INT) + 1)) AS i) u
        |WHERE n_copies > 0""".stripMargin,
    "q_unicode_norm" ->
      """SELECT doc_id,
        |  md5(nfc_normalize(text)) AS nfc_md5,
        |  md5(strip_accents(text)) AS ascii_md5,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS nfc_len
        |FROM documents""".stripMargin
  )

  /** Classic decision-support marts and DQ/corpus reports of the
    * round-9 continuation (#116–#132: [[QueriesMart]] plus the
    * co-purchase PageRank #122 and Zipf check #128 in
    * [[QueriesScale]]). */
  private def mart: Map[String, String] = Map(
    "q_category_affinity" ->
      """WITH oc AS (
        |  SELECT DISTINCT l_orderkey, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |), s AS (
        |  SELECT p_type, count(*) AS n FROM oc GROUP BY 1
        |), t AS (
        |  SELECT count(DISTINCT l_orderkey) AS n_baskets FROM oc
        |), pairs AS (
        |  SELECT a.p_type AS cat_1, b.p_type AS cat_2, count(*) AS n_both
        |  FROM oc a JOIN oc b
        |    ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
        |  GROUP BY 1, 2
        |)
        |SELECT cat_1, cat_2, n_both, s1.n AS n1, s2.n AS n2, n_baskets,
        |  CAST(CAST(n_both AS HUGEINT) * n_baskets * 1000
        |    // (CAST(s1.n AS HUGEINT) * s2.n) AS BIGINT) AS lift_permille
        |FROM pairs
        |JOIN s s1 ON cat_1 = s1.p_type
        |JOIN s s2 ON cat_2 = s2.p_type
        |CROSS JOIN t
        |ORDER BY cat_1, cat_2""".stripMargin,
    "q_supplier_concentration" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), t AS (
        |  SELECT *, CAST(sum(c) OVER (PARTITION BY l_partkey) AS BIGINT) AS total
        |  FROM ps
        |), s AS (
        |  SELECT l_partkey, total,
        |    CAST(1000 * CAST(c AS HUGEINT) // total AS BIGINT) AS sh
        |  FROM t
        |)
        |SELECT l_partkey AS partkey, count(*) AS n_suppliers,
        |  CAST(CAST(min(total) AS BIGINT) AS DOUBLE)/10000.0 AS revenue,
        |  CAST(sum(sh * sh) AS BIGINT) AS hhi
        |FROM s GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY hhi DESC, partkey LIMIT 20""".stripMargin,
    "q_bot_regularity" ->
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts_s FROM events
        |), g AS (
        |  SELECT user_id,
        |    date_diff('second', lag(ts_s) OVER (PARTITION BY user_id
        |      ORDER BY ts_s, event_id), ts_s) AS gap
        |  FROM e
        |), m AS (
        |  SELECT user_id, count(*) AS n_events, count(gap) AS n,
        |    CAST(sum(gap) AS BIGINT) AS sg,
        |    sum(CAST(gap AS HUGEINT) * gap) AS sgg
        |  FROM g GROUP BY 1
        |  HAVING count(*) >= 50 AND CAST(sum(gap) AS BIGINT) > 0
        |)
        |SELECT user_id, n_events,
        |  CAST(sg * 1000 // n AS BIGINT) AS mean_gap_s_permille,
        |  CAST((CAST(n AS HUGEINT) * sgg - CAST(sg AS HUGEINT) * sg) * 1000
        |    // (CAST(sg AS HUGEINT) * sg) AS BIGINT) AS burstiness_permille
        |FROM m ORDER BY burstiness_permille, user_id LIMIT 20""".stripMargin,
    "q_open_orders" ->
      """WITH placed AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_placed
        |  FROM orders GROUP BY 1
        |), done AS (
        |  SELECT l_orderkey, CAST(max(l_shipdate) AS DATE) AS day
        |  FROM lineitem GROUP BY 1
        |), shipped AS (
        |  SELECT day, count(*) AS n_shipped FROM done GROUP BY 1
        |), cal AS (
        |  SELECT coalesce(p.day, s.day) AS day,
        |    coalesce(n_placed, 0) AS n_placed,
        |    coalesce(n_shipped, 0) AS n_shipped_complete
        |  FROM placed p FULL JOIN shipped s ON p.day = s.day
        |)
        |SELECT day, n_placed, n_shipped_complete,
        |  CAST(sum(n_placed - n_shipped_complete) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_backlog
        |FROM cal ORDER BY day""".stripMargin,
    "q_nation_trade_balance" ->
      s"""WITH s AS (
        |  SELECT s_nationkey AS nk,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000) AS BIGINT) AS sup
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1
        |), p AS (
        |  SELECT c_nationkey AS nk,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000) AS BIGINT) AS pur
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1
        |)
        |SELECT n_name AS nation,
        |  CAST(coalesce(sup, 0) AS DOUBLE)/10000.0 AS supplied_revenue,
        |  CAST(coalesce(pur, 0) AS DOUBLE)/10000.0 AS purchased_revenue,
        |  CAST(1000 * CAST(coalesce(sup, 0) AS HUGEINT)
        |    // (CAST(coalesce(sup, 0) AS HUGEINT) + coalesce(pur, 0)) AS BIGINT)
        |    AS supplied_share_permille
        |FROM s FULL JOIN p USING (nk)
        |JOIN nation ON nk = n_nationkey
        |ORDER BY nation""".stripMargin,
    "q_dedup_inflation" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT lower(trim(text))) AS n_distinct,
        |  count(*) - count(DISTINCT lower(trim(text))) AS dup_docs,
        |  1000 * count(*) // nullif(count(DISTINCT lower(trim(text))), 0) AS inflation_permille
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "q_zipf_check" ->
      """WITH w AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS word
        |  FROM documents
        |), c AS (
        |  SELECT lang, word, count(*) AS n FROM w GROUP BY 1, 2
        |), r AS (
        |  SELECT lang, word, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rk
        |  FROM c
        |), h AS (
        |  SELECT * FROM r WHERE rk <= 10
        |), t AS (
        |  SELECT lang, word AS top_word, n AS n_top FROM h WHERE rk = 1
        |)
        |SELECT h.lang, top_word, n_top,
        |  CAST(sum(abs(h.n * h.rk * 1000 // n_top - 1000)) AS BIGINT)
        |    // count(*) AS zipf_dev_permille
        |FROM h JOIN t ON h.lang = t.lang
        |WHERE h.rk >= 2
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q_discount_depth" ->
      s"""WITH d AS (
        |  SELECT CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS discount_pct,
        |    count(*) AS n_lines,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS gross_revenue,
        |    $rev AS realized_revenue,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * CAST(l_discount AS DECIMAL(12,2)) * 10000) AS BIGINT) AS f
        |  FROM lineitem GROUP BY 1
        |), t AS (
        |  SELECT *, CAST(sum(f) OVER () AS BIGINT) AS total FROM d
        |)
        |SELECT discount_pct, n_lines, gross_revenue, realized_revenue,
        |  CAST(f AS DOUBLE)/10000.0 AS forgone_revenue,
        |  CAST(1000 * CAST(f AS HUGEINT) // total AS BIGINT) AS leakage_share_permille
        |FROM t ORDER BY discount_pct""".stripMargin,
    "q_order_lines_profile" ->
      """WITH sz AS (
        |  SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1
        |), h AS (
        |  SELECT n_lines, count(*) AS n_orders FROM sz GROUP BY 1
        |), t AS (
        |  SELECT *, CAST(sum(n_orders) OVER () AS BIGINT) AS total FROM h
        |)
        |SELECT n_lines, n_orders, 1000 * n_orders // total AS share_permille
        |FROM t ORDER BY n_lines""".stripMargin,
    "q_customer_migration" ->
      """WITH cy AS (
        |  SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CASE WHEN count(*) = 1 THEN 'one'
        |         WHEN count(*) <= 4 THEN 'few'
        |         ELSE 'many' END AS band
        |  FROM orders GROUP BY 1, 2
        |), m AS (
        |  SELECT a.yr AS year_from, a.band AS band_from,
        |    coalesce(b.band, 'gone') AS band_to, count(*) AS n_customers
        |  FROM cy a LEFT JOIN cy b
        |    ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
        |  GROUP BY 1, 2, 3
        |), w AS (
        |  SELECT *,
        |    CAST(sum(n_customers) OVER (PARTITION BY year_from, band_from) AS BIGINT) AS cohort,
        |    max(year_from) OVER () AS maxy
        |  FROM m
        |)
        |SELECT year_from, band_from, band_to, n_customers,
        |  1000 * n_customers // cohort AS cohort_permille
        |FROM w WHERE year_from < maxy
        |ORDER BY year_from, band_from, band_to""".stripMargin,
    "q_dq_freshness" ->
      """WITH u AS (
        |  SELECT 'orders' AS table_name, count(*) AS n_rows,
        |    CAST(max(o_orderdate) AS DATE) AS max_day FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', count(*), CAST(max(l_shipdate) AS DATE) FROM lineitem
        |  UNION ALL
        |  SELECT 'events', count(*), CAST(max(ts) AS DATE) FROM events
        |)
        |SELECT table_name, n_rows, max_day,
        |  CAST(date_diff('day', max_day, max(max_day) OVER ()) AS BIGINT) AS days_behind
        |FROM u ORDER BY table_name""".stripMargin,
    "q_trend_slope" ->
      """WITH pm AS (
        |  SELECT l_partkey,
        |    CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate) AS BIGINT) AS t,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000) AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2
        |), st AS (
        |  SELECT l_partkey, count(*) AS n_months,
        |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(t * y) AS BIGINT) AS sty, CAST(sum(t * t) AS BIGINT) AS stt
        |  FROM pm GROUP BY 1 HAVING count(*) >= 6
        |)
        |SELECT l_partkey AS partkey, n_months,
        |  CAST(sy AS DOUBLE)/10000.0 AS revenue,
        |  CAST(n_months * sty - st * sy AS DOUBLE)
        |    / CAST(n_months * stt - st * st AS DOUBLE) / 10000.0 AS slope_per_month
        |FROM st ORDER BY slope_per_month, partkey LIMIT 20""".stripMargin,
    "q_anomaly_days" ->
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS c
        |  FROM orders GROUP BY 1
        |), dd AS (
        |  SELECT *, CAST(isodow(day) AS BIGINT) AS dow_iso FROM d
        |), m AS (
        |  SELECT dow_iso, c AS med FROM (
        |    SELECT dow_iso, c,
        |      row_number() OVER (PARTITION BY dow_iso ORDER BY c, day) AS rn,
        |      count(*) OVER (PARTITION BY dow_iso) AS n
        |    FROM dd) WHERE rn = (50 * n + 99) // 100
        |), dev AS (
        |  SELECT dd.*, med, abs(c - med) AS dv FROM dd JOIN m USING (dow_iso)
        |), md AS (
        |  SELECT dow_iso, dv AS mad FROM (
        |    SELECT dow_iso, dv,
        |      row_number() OVER (PARTITION BY dow_iso ORDER BY dv, day) AS rn,
        |      count(*) OVER (PARTITION BY dow_iso) AS n
        |    FROM dev) WHERE rn = (50 * n + 99) // 100
        |)
        |SELECT day, dow_iso, n_orders,
        |  CAST(c AS DOUBLE)/100.0 AS revenue,
        |  CAST(med AS DOUBLE)/100.0 AS weekday_median,
        |  CAST(dv AS DOUBLE)/100.0 AS deviation,
        |  CAST(mad AS DOUBLE)/100.0 AS weekday_mad
        |FROM dev JOIN md USING (dow_iso)
        |WHERE dv > 3 * mad ORDER BY day""".stripMargin,
    // AS MATERIALIZED throughout: without it DuckDB INLINES the CTE
    // chain into each of r1/r2/r3 and the re-planned joins spill
    // >70 GB of temp at sf3 (measured) even though the logical
    // intermediates are tiny (36M pre-HAVING pairs -> 120 edges);
    // materialized, the same query runs in ~12 s at sf3
    "q_part_rank" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pairs AS MATERIALIZED (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), edges AS MATERIALIZED (
        |  SELECT p1 AS src, p2 AS dst FROM pairs
        |  UNION ALL
        |  SELECT p2 AS src, p1 AS dst FROM pairs
        |), deg AS MATERIALIZED (
        |  SELECT src, count(*) AS deg FROM edges GROUP BY 1
        |), r0 AS MATERIALIZED (
        |  SELECT src AS pk, CAST(1000000 AS BIGINT) AS r FROM deg
        |), r1 AS MATERIALIZED (
        |  SELECT e.dst AS pk,
        |    150000 + CAST(sum(850 * r.r // (1000 * d.deg)) AS BIGINT) AS r
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON r.pk = e.src
        |  GROUP BY 1
        |), r2 AS MATERIALIZED (
        |  SELECT e.dst AS pk,
        |    150000 + CAST(sum(850 * r.r // (1000 * d.deg)) AS BIGINT) AS r
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN r1 r ON r.pk = e.src
        |  GROUP BY 1
        |), r3 AS MATERIALIZED (
        |  SELECT e.dst AS pk,
        |    150000 + CAST(sum(850 * r.r // (1000 * d.deg)) AS BIGINT) AS r
        |  FROM edges e JOIN deg d ON e.src = d.src JOIN r2 r ON r.pk = e.src
        |  GROUP BY 1
        |)
        |SELECT r.pk AS partkey, d.deg AS degree, r.r AS rank_ppm
        |FROM r3 r JOIN deg d ON r.pk = d.src
        |ORDER BY rank_ppm DESC, partkey LIMIT 20""".stripMargin,
    "q_shipping_priority" ->
      s"""SELECT l_orderkey AS orderkey, CAST(o_orderdate AS DATE) AS orderdate,
        |  o_orderpriority AS priority, $rev AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, orderkey LIMIT 10""".stripMargin,
    "q_promo_share" ->
      s"""WITH a AS (
        |  SELECT year(l_shipdate) AS ship_year, month(l_shipdate) AS ship_month,
        |    count(*) AS n_lines, $rev AS revenue,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
        |        * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000
        |      ELSE 0 END) AS BIGINT) AS promo
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |)
        |SELECT ship_year, ship_month, n_lines, revenue,
        |  CAST(promo AS DOUBLE)/10000.0 AS promo_revenue,
        |  CAST(1000 * CAST(promo AS HUGEINT) // c AS BIGINT) AS promo_permille
        |FROM a ORDER BY ship_year, ship_month""".stripMargin,
    "q_local_supplier_volume" ->
      s"""SELECT n_name AS nation, count(*) AS n_lines, $rev AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey
        |  AND r_name = 'ASIA'
        |  AND year(o_orderdate) = 1997
        |GROUP BY 1 ORDER BY revenue DESC, nation""".stripMargin,
    "q_abc_parts" ->
      """WITH p AS (
        |  SELECT l_partkey, count(*) AS n_lines,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1
        |), w AS (
        |  SELECT *,
        |    CAST(sum(c) OVER (ORDER BY c DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER () AS BIGINT) AS total
        |  FROM p
        |), k AS (
        |  SELECT *,
        |    CASE WHEN 1000 * CAST(cum AS HUGEINT) // total <= 700 THEN 'A'
        |         WHEN 1000 * CAST(cum AS HUGEINT) // total <= 900 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM w
        |)
        |SELECT abc_class, count(*) AS n_parts,
        |  CAST(sum(n_lines) AS BIGINT) AS n_lines,
        |  CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)/10000.0 AS revenue,
        |  CAST(1000 * sum(CAST(c AS HUGEINT)) // CAST(min(total) AS HUGEINT) AS BIGINT) AS share_permille
        |FROM k GROUP BY 1 ORDER BY abc_class""".stripMargin,
    "q_wow_growth" ->
      """WITH d AS (
        |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
        |    count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS c
        |  FROM orders GROUP BY 1
        |)
        |SELECT week_start,
        |  lag(week_start) OVER (ORDER BY week_start) AS prev_week_start,
        |  n_orders,
        |  CAST(c AS DOUBLE)/100.0 AS revenue,
        |  CAST(1000 * CAST(c AS HUGEINT) // lag(c) OVER (ORDER BY week_start) AS BIGINT)
        |    AS wow_ratio_permille
        |FROM d ORDER BY week_start""".stripMargin,
    "q_hourly_heatmap" ->
      """WITH d AS (
        |  SELECT isodow(ts) AS dow_iso, CAST(hour(ts) AS BIGINT) AS hour,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY 1, 2
        |), t AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM d)
        |SELECT dow_iso, hour, n_events, total_value,
        |  1000 * n_events // total AS share_permille
        |FROM d CROSS JOIN t ORDER BY dow_iso, hour""".stripMargin
  )

  def all: Map[String, String] =
    etl ++ analytics ++ text ++ vector ++ scale ++ mart
}
