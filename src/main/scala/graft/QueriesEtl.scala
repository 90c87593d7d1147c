package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Bronze, Silver, Scd2, Gold, Protect, DataQuality}
import graft.functions.Money

/** Medallion-ETL verified queries (SURVEY §2 #1–#13).
  *
  * Determinism contract (SURVEY §3): fixed literal dates, doubles
  * rounded and aliased identically to [[Oracles]], event timestamps
  * emitted at second granularity.
  */
object QueriesEtl {
  import Queries.Q

  /** Bronze gate rules for lineitem (reference main.py:104-137
    * re-keyed to the testdata fact). Order matters: first failing rule
    * names the rejection. */
  private def lineitemRules = Seq(
    Bronze.Rule("NULL_ORDER_KEY", col("l_orderkey").isNotNull),
    Bronze.Rule("INVALID_QUANTITY", col("l_quantity") > 0),
    Bronze.Rule("INVALID_PRICE", col("l_extendedprice") > 0),
    Bronze.Rule("DISCOUNT_OUT_OF_RANGE", col("l_discount").between(0.0, 0.05)),
    Bronze.Rule("NULL_SHIP_DATE", col("l_shipdate").isNotNull)
  )

  /** #1 flagship: grouped pricing summary over the fact (TPC-H Q1
    * shape; the reference's gold-metrics aggregation pattern). One
    * scan, partial-agg shuffle on two low-cardinality keys. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    import Money.{dec, sumExact, scaledSum, avgFromScaled}
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumExact(col("l_quantity")).as("sum_qty"),
        sumExact(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))) * (lit(1) + dec(col("l_tax")))).cast("double").as("sum_charge"),
        scaledSum(col("l_quantity"), 4).as("__sq"),
        scaledSum(col("l_extendedprice"), 4).as("__sp"),
        scaledSum(col("l_discount"), 4).as("__sd"),
        count(lit(1)).as("count_order")
      )
      .withColumn("avg_qty", avgFromScaled(col("__sq"), col("count_order"), 4))
      .withColumn("avg_price", avgFromScaled(col("__sp"), col("count_order"), 4))
      .withColumn("avg_disc", avgFromScaled(col("__sd"), col("count_order"), 4))
      .drop("__sq", "__sp", "__sd")
      .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "avg_disc", "count_order")
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** #2 bronze valid split. */
  def bronzeValid(s: SparkSession, dir: String): DataFrame =
    Bronze.stampIngestion(
      Bronze.valid(Tables.lineitem(s, dir), lineitemRules),
      lit("2026-08-12").cast("date")
    )

  /** #3 bronze rejected split + first-match-wins reason. */
  def bronzeRejected(s: SparkSession, dir: String): DataFrame =
    Bronze.stampIngestion(
      Bronze.rejected(Tables.lineitem(s, dir), lineitemRules),
      lit("2026-08-12").cast("date")
    )

  /** #4 silver standardization (lower/trim). */
  def silverStandardize(s: SparkSession, dir: String): DataFrame =
    Silver.standardize(Tables.customer(s, dir), Seq("c_name", "c_mktsegment"))
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")

  /** #5 regex cleanup + minimum-length gate (phone-number pattern). */
  def regexClean(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      col("props"),
      Silver.digitsOnly(col("props"), 2).as("code")
    )

  /** #6 conditional date correction: ship date clamped to order date. */
  def dateFix(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_shipdate")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_shipdate"),
        col("o_orderdate"),
        Silver.clampDateToFloor(col("l_shipdate"), col("o_orderdate")).as("fixed_shipdate")
      )
  }

  /** #7 latest-record-wins dedup per user (map-side max_by). */
  def dedupLatest(s: SparkSession, dir: String): DataFrame = {
    // unspread: the max_by collapse to the user grain happens map-side
    // before the only exchange (guide §2.4; A/B 0.40x — see
    // OPTIMIZATION_r18.md §2)
    val ev = Tables.eventsUnspread(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        date_trunc("second", col("ts")).as("ts_s"),
        col("event_type"),
        col("value")
      )
    Silver.dedupLatest(ev, Seq("user_id"), Seq(col("ts_s"), col("event_id")))
      .select("user_id", "event_id", "ts_s", "event_type", "value")
  }

  /** #8 SCD Type 2 merge on the customer dimension. The incoming
    * snapshot is derived deterministically from the table itself:
    * keys ≡0 (mod 10) change segment to MOVED, ≡5 are deleted,
    * ≡3 spawn a new key (+1,000,000). */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    val existing = Scd2.initialize(c, lit("2020-01-01").cast("date"))
    val changedOrSame = c
      .where(pmod(col("c_custkey"), lit(10)) =!= 5)
      .withColumn(
        "c_mktsegment",
        when(pmod(col("c_custkey"), lit(10)) === 0, lit("MOVED")).otherwise(col("c_mktsegment"))
      )
    val fresh = c
      .where(pmod(col("c_custkey"), lit(10)) === 3)
      .select(
        (col("c_custkey") + 1000000L).as("c_custkey"),
        concat(col("c_name"), lit("_new")).as("c_name"),
        col("c_mktsegment"),
        lit(0.0).as("c_acctbal")
      )
    val incoming = changedOrSame.unionByName(fresh)
    Scd2.merge(existing, incoming,
      key = Seq("c_custkey"),
      tracked = Seq("c_name", "c_mktsegment"),
      asOf = lit("2026-08-01").cast("date"))
  }

  /** #9 gold denormalized star join (broadcast dims). */
  def goldEnriched(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    val p = Tables.part(s, dir)
    val su = Tables.supplier(s, dir)
    val fact = li.join(o, li("l_orderkey") === o("o_orderkey")) // fact-fact: keyed shuffle
    Gold.starJoin(fact, Seq(
      (c, col("o_custkey") === col("c_custkey")),
      (n, col("c_nationkey") === col("n_nationkey")),
      (r, col("n_regionkey") === col("r_regionkey")),
      (p, col("l_partkey") === col("p_partkey")),
      (su, col("l_suppkey") === col("s_suppkey"))
    )).select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("o_orderdate"),
      col("o_orderpriority"),
      col("c_name").as("customer_name"),
      col("n_name").as("nation"),
      col("r_name").as("region"),
      col("p_name").as("part_name"),
      col("p_brand").as("brand"),
      col("p_type").as("category"),
      col("s_name").as("supplier_name"),
      col("l_quantity").as("quantity"),
      col("l_extendedprice").as("price"),
      col("l_discount").as("discount"),
      round(Money.dec(col("l_extendedprice")) * (lit(1) - Money.dec(col("l_discount"))), 2)
        .cast("double").as("revenue")
    )
  }

  /** #10 per-customer behavioral metrics. */
  def customerMetrics(s: SparkSession, dir: String): DataFrame = {
    // unspread: reduce-first to the customer grain (A/B 0.55x)
    val m = Gold.entityMetrics(Tables.ordersUnspread(s, dir), "o_custkey", col("o_totalprice"), col("o_orderdate"))
    m.join(broadcast(Tables.customer(s, dir)), m("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("total_orders"), col("total_spent"), col("avg_order_value"),
        col("first_purchase_date"), col("last_purchase_date")
      )
  }

  /** #11 customer × month revenue mart. */
  def customerMonthlyMart(s: SparkSession, dir: String): DataFrame = {
    // unspread: reduce-first to the customer x month grain (A/B 0.69x)
    val m = Gold.monthlyMart(Tables.ordersUnspread(s, dir), "o_custkey", col("o_orderdate"), col("o_totalprice"))
    m.join(broadcast(Tables.customer(s, dir)), m("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("sales_month"), col("total_sales"), col("n_orders"))
  }

  /** #12 watermark-filtered incremental read. The watermark compares
    * against the RAW stored column (epoch-nanos long or
    * TIMESTAMP_NTZ, per testdata generation — [[Tables.eventsAfter]]
    * picks the matching literal domain) so the predicate reaches the
    * parquet scan (`PushedFilters: GreaterThan(ts, …)`) — an
    * incremental read that scans everything defeats itself at 100 TB. */
  def incrementalRead(s: SparkSession, dir: String): DataFrame =
    Tables.eventsAfter(s, dir, "2024-01-15 00:00:00")
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("ts_s"), col("value")
      )

  /** #13 declarative data-quality suite as one conditional-agg pass
    * (the reference runs four Great Expectations suites; here each
    * expectation folds into a single scan via [[DataQuality]]). */
  def dqSummary(s: SparkSession, dir: String): DataFrame = {
    import DataQuality._
    // unspread: one conditional-agg pass collapsing to a single row
    // (A/B 0.47x)
    run(Tables.ordersUnspread(s, dir), Seq(
      NotNull("o_custkey"),
      Unique("o_orderkey"),
      Between("o_totalprice", 0.0, 1000000.0),
      MatchesRegex("o_orderpriority", "^[1-5]-")
    ))
  }

  /** #34 PII protection: masking, salted tokenization, and an AES
    * encrypt/decrypt round-trip through Spark's native aes functions
    * (reference utility/encrypt_decrypt.py). The ciphertext itself is
    * not emitted (no oracle-side AES); the round-trip proves it. */
  def piiProtect(s: SparkSession, dir: String): DataFrame = {
    val key = "0123456789abcdef" // 16-byte demo key; inject via config in production
    val iv = "000102030405060708090a0b0c0d0e0f"
    val digits = regexp_replace(col("c_name"), "[^0-9]", "")
    Tables.customer(s, dir).select(
      col("c_custkey"),
      Protect.mask(col("c_name")).as("name_masked"),
      Protect.maskTail(digits, 3).as("id_digits_masked"),
      Protect.tokenize(col("c_name"), "graft").as("name_token"),
      (Protect.decrypt(Protect.encrypt(col("c_name"), key, "CBC", Some(iv)), key, "CBC")
        === col("c_name")).as("roundtrip_ok")
    )
  }

  /** #43 as-of join: each event picks up the customer's most recent
    * order at-or-before the event time. Right side is deduped to one
    * row per (key, time) first — as-of semantics are only
    * deterministic with unique right timestamps per key. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    // unspread both sides: the carry window's key exchange re-partitions
    // every row anyway, so the loader spreads are pure extra exchanges
    // (A/B 0.53x with the fused dedup below)
    val left = Tables.eventsUnspread(s, dir)
      .select(col("event_id"), col("user_id"), date_trunc("second", col("ts")).as("ts_s"))
    // latest-order-per-(custkey, date) dedup is FUSED into the carry
    // window's tie-break (max o_orderkey wins, exactly what the old
    // dedupLatest pre-pass kept) — one less exchange+aggregate over
    // the orders side (guide §2.4; AsOfJoinSpec pins the equivalence)
    val right = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"),
        AsOfJoin.notNull(col("o_orderkey")).as("o_orderkey"), col("o_totalprice"))
    AsOfJoin(left, right,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ts_s", rightTime = "o_orderdate",
      rightCols = Seq("o_orderkey", "o_orderdate", "o_totalprice"),
      rightTieBreak = Seq("o_orderkey"))
      .select(
        col("event_id"), col("user_id"), col("ts_s"),
        col("o_orderkey").as("last_order_key"),
        col("o_orderdate").as("last_order_date"),
        col("o_totalprice").as("last_order_price")
      )
  }

  /** #89 Benford first-digit DQ profile: distribution of the first
    * significant digit of order totals vs Benford's law — the classic
    * fabricated-/truncated-data smell test for a monetary fact
    * (complements the rule-based gates of #13: Benford catches
    * distributional anomalies no row-level rule can). The digit is
    * read from exact integer cents (never from a double's string
    * form), shares are integer permille, and the Benford expectation
    * is a fixed permille literal per digit — fully engine-portable.
    *
    * Scale shape: one fact scan pruned to one column, partial
    * aggregation to ≤9 digit cells; the total re-derives from those
    * cells with a 9-row window, so no second scan. */
  def benford(s: SparkSession, dir: String): DataFrame =
    benfordOn(Tables.ordersUnspread(s, dir)) // reduce-first to <=9 cells (A/B 0.69x)

  private[graft] def benfordOn(orders: DataFrame): DataFrame = {
    // round(log10(1 + 1/d) * 1000) for d = 1..9
    val expected = Seq(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L,
      5 -> 79L, 6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)
    val expCol = expected.foldLeft(lit(null).cast("long")) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    val cents = (Money.dec(col("o_totalprice")) * lit(100)).cast("long")
    orders
      .filter(col("o_totalprice") > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("share_permille", call_function("div",
        col("n") * lit(1000L),
        sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy())))
      .withColumn("expected_permille", expCol)
      .withColumn("dev_permille", col("share_permille") - col("expected_permille"))
      .orderBy("digit")
  }

  /** #97 column profile: per-column null and distinct counts over the
    * customer dimension in ONE pass — the schema-profiling report
    * (pandas-profiling / GE `table.columns` style) a pipeline runs on
    * every new feed. `stack` unpivots M columns to (name, value)
    * rows, so one scan profiles every column however many there are;
    * values are string-cast ONLY as a common carrier type — both
    * engines' double→string casts are injective (round-trip reprs),
    * so distinct counts are exact even though the strings differ.
    *
    * Scale shape: the unpivot multiplies rows ×M before the shuffle —
    * the price of single-pass profiling; per-column partial
    * aggregation collapses each task's slice to ≤ M cells before the
    * exchange... except the distinct, which shuffles (column, value)
    * pairs — bounded by Σ per-column cardinalities, the profile's
    * inherent cost. */
  def columnProfile(s: SparkSession, dir: String): DataFrame =
    columnProfileOn(Tables.customer(s, dir),
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))

  private[graft] def columnProfileOn(df: DataFrame, cols: Seq[String]): DataFrame = {
    // backtick-quote identifiers (escaping embedded backticks) and
    // single-quote-escape the label literal: the generic signature
    // invites names this module never uses (spaces, hyphens, quotes)
    val pairs = cols.map { c =>
      val label = c.replace("'", "\\'")
      val ident = c.replace("`", "``")
      s"'$label', cast(`$ident` as string)"
    }.mkString(", ")
    df.select(expr(s"stack(${cols.size}, $pairs) as (column_name, __v)"))
      .groupBy("column_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col("__v")).as("n_distinct"))
      .orderBy("column_name")
  }

  /** #106 CDC snapshot diff: the per-customer gold state as of a
    * cutoff vs the current state, full-outer joined into a change
    * feed (`insert` / `delete` / `update` / `unchanged` + old/new
    * values) — the diff a warehouse emits when re-publishing a
    * derived table (the reference republishes gold wholesale;
    * downstream consumers want exactly this delta).
    *
    * Scale shape: both snapshots are map-side-combined aggregations
    * to the customer grain; the full-outer join shuffles that grain
    * on its key, never fact rows. In production the "old" side is
    * READ from the previously published table (no recompute) — here
    * both derive from one source so the diff is verifiable.
    * `delete` can't occur with an append-only fact (the branch is
    * exercised structurally by the full-outer shape). */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    // unspread: both snapshots collapse to the customer grain map-side
    // (A/B 0.59x)
    val o = Tables.ordersUnspread(s, dir)
    snapshotDiffOn(
      o.where(to_date(col("o_orderdate")) < lit("1997-01-01").cast("date")), o)
  }

  private[graft] def snapshotDiffOn(ordersOld: DataFrame, ordersCur: DataFrame): DataFrame = {
    def snap(df: DataFrame, n: String, t: String, c: String) =
      df.groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as(n), Money.scaledSum(col("o_totalprice"), 2).as(c))
        .withColumn(t, (col(c).cast("double") / lit(100.0)))
    val old = snap(ordersOld, "old_n_orders", "old_total", "__oc")
    val cur = snap(ordersCur, "new_n_orders", "new_total", "__nc")
    old.join(cur, Seq("custkey"), "full_outer")
      .select(
        col("custkey"),
        when(col("old_n_orders").isNull, "insert")
          .when(col("new_n_orders").isNull, "delete")
          .when(col("old_n_orders") =!= col("new_n_orders") ||
            col("__oc") =!= col("__nc"), "update")
          .otherwise("unchanged").as("change_type"),
        col("old_n_orders"), col("new_n_orders"),
        col("old_total"), col("new_total"))
  }

  /** #109 SCD2 point-in-time view: the same #8 merge, read back as of
    * a date BEFORE the merge boundary — time travel over validity
    * intervals ([[Scd2.asOfView]]: `valid_from <= at < valid_to`),
    * the "what did this dimension say when the report ran" read every
    * SCD consumer eventually needs. Pure filter over the SCD table —
    * at 100 TB it rides partition/row-group pruning on `valid_from`
    * when the table is written `clusterBy(valid_from)`. */
  def scd2AsOf(s: SparkSession, dir: String): DataFrame =
    Scd2.asOfView(scd2(s, dir), lit("2024-01-01").cast("date"))

  /** #108 referential-integrity audit: every FK edge of the star
    * schema (plus the events→customer behavioral edge) scored in one
    * report — child rows, NULL FKs, orphans (non-NULL FK with no
    * parent), integer-permille orphan share. The cross-TABLE DQ check
    * the row-level suite (#13) can't express; all-zero orphans is the
    * healthy reading on consistent testdata (the planted-orphan spec
    * proves the detector).
    *
    * Scale shape: one left join + conditional aggregation per edge —
    * dims broadcast under the session threshold, the fact edges
    * shuffle on their key; each edge's output is a single row, so the
    * union is 8 rows however big the tables. */
  def fkOrphans(s: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Tables.table(s, dir, n)
    // the three lineitem edges share ONE fact pass: chained left
    // joins against the three (unique-keyed) parents, then one
    // conditional aggregation fans out into the three edge rows —
    // one lineitem scan + one orders shuffle instead of three fact
    // scans each paying its own join (guide §2.4; the part/supplier
    // probes ride the same pass as broadcasts). Identical counts to
    // the per-edge audit as long as parent keys are unique (they are
    // PKs; a dup-keyed parent inflates child counts in EITHER form).
    // unspread facts: every edge is a broadcast-probe straight into a
    // one-row conditional aggregate (A/B 0.66x)
    val liEdges = multiEdgeAudit(
      Tables.lineitemUnspread(s, dir), "lineitem",
      Seq(("l_orderkey", Tables.ordersUnspread(s, dir), "o_orderkey", "orders"),
        ("l_partkey", t("part"), "p_partkey", "part"),
        ("l_suppkey", t("supplier"), "s_suppkey", "supplier")))
    val edges = Seq(
      (Tables.ordersUnspread(s, dir), "o_custkey", t("customer"), "c_custkey", "orders.o_custkey->customer.c_custkey"),
      (t("customer"), "c_nationkey", t("nation"), "n_nationkey", "customer.c_nationkey->nation.n_nationkey"),
      (t("supplier"), "s_nationkey", t("nation"), "n_nationkey", "supplier.s_nationkey->nation.n_nationkey"),
      (t("nation"), "n_regionkey", t("region"), "r_regionkey", "nation.n_regionkey->region.r_regionkey"),
      (Tables.eventsUnspread(s, dir), "user_id", t("customer"), "c_custkey", "events.user_id->customer.c_custkey"))
    (liEdges +: edges.map { case (c, fk, p, pk, label) => edgeAudit(c, fk, p, pk, label) })
      .reduce(_.unionAll(_))
      .orderBy("edge")
  }

  /** All FK edges of ONE child table audited in a single pass:
    * chained left joins (each parent projected to its unique key),
    * one aggregation carrying per-edge null/orphan counters, and a
    * per-edge explode back into [[edgeAudit]]'s exact row shape. */
  private[graft] def multiEdgeAudit(
      child: DataFrame, childName: String,
      edges: Seq[(String, DataFrame, String, String)]): DataFrame = {
    val probed = edges.zipWithIndex.foldLeft(
      child.select(edges.map { case (fk, _, _, _) => col(fk) }: _*)) {
      case (acc, ((fk, parent, pk, _), i)) =>
        // distinct parent keys: the chained-join form would otherwise
        // let ONE duplicate-keyed parent inflate __n and every later
        // edge's counters (the per-edge form confined that to the
        // offending edge). Keys are PKs so distinct is a no-op on
        // healthy data, but a referential-integrity audit must stay
        // exact on exactly the dirty inputs it exists to catch; the
        // per-parent key agg is combinable and cheap next to the join.
        acc.join(parent.select(col(pk).as(s"__pk$i")).distinct(),
          col(fk) === col(s"__pk$i"), "left")
    }
    val aggs = count(lit(1)).as("__n") +: edges.zipWithIndex.flatMap {
      case ((fk, _, _, _), i) => Seq(
        sum(when(col(fk).isNull, 1L).otherwise(0L)).as(s"__null$i"),
        sum(when(col(fk).isNotNull && col(s"__pk$i").isNull, 1L).otherwise(0L)).as(s"__orph$i"))
    }
    val one = probed.agg(aggs.head, aggs.tail: _*)
    val edgeStructs = edges.zipWithIndex.map { case ((fk, _, pk, parentName), i) =>
      struct(lit(s"$childName.$fk->$parentName.$pk").as("edge"),
        col(s"__null$i").as("n_null_fk"), col(s"__orph$i").as("n_orphans"))
    }
    one.select(col("__n"), explode(array(edgeStructs: _*)).as("__e"))
      .select(
        col("__e.edge").as("edge"), col("__n").as("n_child"),
        col("__e.n_null_fk").as("n_null_fk"), col("__e.n_orphans").as("n_orphans"),
        call_function("div", col("__e.n_orphans") * lit(1000L), col("__n")).as("orphan_permille"))
  }

  private[graft] def edgeAudit(
      child: DataFrame, fk: String, parent: DataFrame, pk: String, label: String): DataFrame =
    child.select(col(fk).as("__fk"))
      .join(parent.select(col(pk).as("__pk")), col("__fk") === col("__pk"), "left")
      .agg(
        count(lit(1)).as("n_child"),
        sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
        sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(
        lit(label).as("edge"), col("n_child"), col("n_null_fk"), col("n_orphans"),
        call_function("div", col("n_orphans") * lit(1000L), col("n_child")).as("orphan_permille"))

  def all: Map[String, Q] = Map(
    "q_scd2_asof" -> (scd2AsOf _),
    "q_fk_orphans" -> (fkOrphans _),
    "q_snapshot_diff" -> (snapshotDiff _),
    "q_column_profile" -> (columnProfile _),
    "q_benford" -> (benford _),
    "q_asof_join" -> (asofJoin _),
    "q_pii_protect" -> (piiProtect _),
    "q_pricing_summary" -> (pricingSummary _),
    "q_bronze_valid" -> (bronzeValid _),
    "q_bronze_rejected" -> (bronzeRejected _),
    "q_silver_standardize" -> (silverStandardize _),
    "q_regex_clean" -> (regexClean _),
    "q_date_fix" -> (dateFix _),
    "q_dedup_latest" -> (dedupLatest _),
    "q_scd2" -> (scd2 _),
    "q_gold_enriched" -> (goldEnriched _),
    "q_customer_metrics" -> (customerMetrics _),
    "q_customer_monthly_mart" -> (customerMonthlyMart _),
    "q_incremental_read" -> (incrementalRead _),
    "q_dq_summary" -> (dqSummary _)
  )
}
