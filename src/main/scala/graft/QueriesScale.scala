package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Money
import graft.operators.{RangeJoin, Skew}
import graft.text.TextOps

/** Round-2 scale operators (SURVEY §2 #46–#55): range join, salted
  * join, CUBE, window-function suite, exact quantiles, deterministic
  * sequence packing + source-weighted sampling, Unicode
  * normalization, and the sketch family (HLL distinct, Space-Saving
  * top-k).
  */
object QueriesScale {
  import Queries.Q

  /** #46 bucketed range join: assign every event to its 30-min-gap
    * session by point-in-interval join (user key + 1-hour buckets) —
    * no broadcast-nested-loop, no cartesian (spec-asserted). The
    * sessions side is derived from the same events (one window pass),
    * making this a self-contained two-big-sides range join. */
  def rangeJoinSessions(s: SparkSession, dir: String): DataFrame = {
    val sessions = QueriesAnalytics.sessionize(s, dir)
      .select(
        col("user_id").as("s_user"), col("session_seq"),
        col("session_start"), col("session_end"),
        col("session_start").cast("long").as("__s"),
        col("session_end").cast("long").as("__e"))
    val points = Tables.events(s, dir)
      .select(
        col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts_s"))
      .withColumn("__p", col("ts_s").cast("long"))
    RangeJoin.pointInInterval(
      points, sessions, "__p", "__s", "__e",
      keys = Seq(("user_id", "s_user")), bucketWidth = 3600L)
      .select(
        col("event_id"), col("user_id"), col("ts_s"),
        col("session_seq"), col("session_start"), col("session_end"))
  }

  /** #47 salted skew join: the Skew operator in the verified surface —
    * result must equal the plain equi-join (the oracle IS the plain
    * join), while the physical plan spreads each hot l_orderkey over
    * 8 salted sub-keys. */
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_quantity")
    val small = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"), col("o_orderstatus"))
    Skew.saltedJoin(big, small, "l_orderkey", factor = 8,
      bigEntropy = Seq(col("l_linenumber"), col("l_quantity")))
  }

  /** #69 explicit GROUPING SETS (Spark 4 `Dataset.groupingSets` API):
    * per-year totals and per-status totals in ONE pass — the
    * arbitrary-sets member of the family (#35 ROLLUP, #48 CUBE),
    * without computing the cross combinations CUBE would. */
  def salesGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      // the set expressions must be the SAME column refs as the
      // grouping columns — stage the derived year first
      .withColumn("order_year", year(col("o_orderdate")).cast("long"))
      .groupingSets(Seq(Seq(col("order_year")), Seq(col("o_orderstatus"))),
        col("order_year"), col("o_orderstatus"))
      .agg(Money.sumExact(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))

  /** #48 CUBE: all 2^2 grouping combinations of (year, status) in one
    * pass — the grouping-sets twin of #35's ROLLUP. */
  def salesCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(year(col("o_orderdate")).cast("long").as("order_year"), col("o_orderstatus"))
      .agg(Money.sumExact(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))

  /** #49 window-function suite: lag/lead/rank/ntile/percent_rank per
    * customer in ONE shuffle — both windows share the partition key,
    * so Catalyst plans a single exchange + two sorts. */
  def windowSuite(s: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val byPrice = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      lag(col("o_totalprice"), 1).over(byDate).as("prev_price"),
      lead(col("o_totalprice"), 1).over(byDate).as("next_price"),
      rank().over(byPrice).cast("long").as("price_rank"),
      ntile(4).over(byPrice).cast("long").as("price_quartile"),
      percent_rank().over(byPrice).as("price_pct_rank"))
  }

  /** #50 exact discrete quantiles (p25/50/75/90) per market segment
    * via two-pass rank selection ([[graft.operators.Quantiles]]): a
    * bucketed histogram locates each rank, then only the targeted
    * buckets are sorted — never a whole-segment sort (5 segments would
    * mean 5 tasks each sorting the entire fact at 100 TB). The emitted
    * value is a real data point (rank ceil(p·n/100) under
    * (price, orderkey) order), identical to the window formulation. */
  def quartiles(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    graft.operators.Quantiles.selectAtRanks(
      o, "c_mktsegment", col("o_totalprice"), col("o_orderkey"),
      floor(col("o_totalprice") / 1000.0).cast("long"),
      Seq(25L, 50L, 75L, 90L), "value")
      .orderBy("c_mktsegment", "pctl")
  }

  /** #51 deterministic sequence packing: per source, docs in doc_id
    * order fill 2048-token packs by exclusive-prefix-sum division —
    * the streaming-fill packing a training-data pipeline runs before
    * writing example shards. The prefix sum is the two-level
    * [[graft.operators.ScanOps.exclusivePrefixSum]] (value-range
    * buckets → local scan → broadcast offsets), NOT
    * `Window.partitionBy(source)`:
    * with a handful of sources the per-source window sorts each
    * source's whole corpus in ONE task — a single-machine sort at
    * 100 TB. Values are identical (equivalence spec in ScaleSpec). */
  def seqPack(s: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextOps.wordCount(col("text")).cast("long").as("n_tokens"))
    graft.operators.ScanOps
      .exclusivePrefixSum(toks, Seq("source"), Seq("doc_id"), col("n_tokens"), "tok_before")
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        call_function("div", col("tok_before"), lit(budget)).as("pack_id"),
        pmod(col("tok_before"), lit(budget)).as("pack_offset"))
  }

  /** #153 sequence-pack PAYLOAD emission — the "last mile" #51 only
    * points at: every 2048-token pack's ACTUAL concatenated token
    * payload, with documents that straddle a pack boundary SPLIT
    * across the packs they overlap (true sequence packing, not
    * start-offset bookkeeping). Per-source packs over the train split
    * (#72's md5 rule), same exclusive-prefix ledger as #51 so offsets
    * reconcile exactly: Σ n_tokens over packs == Σ n_words over the
    * packed docs (spec + DAG-report asserted).
    *
    * Scale shape: the prefix scan runs on the NARROW (keys, n_words)
    * ledger (two-level bucket scan, no corpus-wide window); text joins
    * back ONCE by key; the pack-boundary explode adds one row per
    * extra pack a doc spans (≤ n_words/2048); and the per-pack
    * assembly is a groupBy whose state is bounded by the 2048-token
    * budget — a pack can never be viral. Ordering inside a pack is
    * total (tok_before is unique per source), so the payload is
    * deterministic at any parallelism on any engine. */
  def packPayload(s: SparkSession, dir: String): DataFrame = {
    val train = Tables.documents(s, dir)
      .where(QueriesText.mdSplit(col("doc_id")) === "train")
      .select(col("doc_id"), lit(1L).as("copy_id"), col("source"), col("text"))
    packPayloadsOn(train)
      .select(col("source"), col("pack_id"), col("n_docs"), col("n_tokens"),
        md5(col("payload")).as("payload_md5"))
      .orderBy("source", "pack_id")
  }

  /** Core payload packer over a (doc_id, copy_id, source, text)
    * ledger — shared by #153 and the corpus DAGs' `pack_payloads`
    * stage (one derivation, bit-identical shards). Emits
    * (source, pack_id, n_docs, n_tokens, payload).
    *
    * `tokBase` ((source, tok_base), broadcast) shifts each source's
    * token axis — the incremental delta path packs ONE batch's
    * additions starting at the standing high-water pack boundary
    * (tok_base = next free pack id × budget), so delta shards never
    * collide with standing pack ids. Boundaries align because
    * tok_base is a multiple of the budget: shifted packing ==
    * unshifted packing of the same rows with pack_id += base. */
  private[graft] def packPayloadsOn(ledger: DataFrame, budget: Long = 2048L,
      tokBase: Option[DataFrame] = None): DataFrame = {
    val toks = ledger.select(col("doc_id"), col("copy_id"), col("source"),
      TextOps.wordCount(col("text")).cast("long").as("n_words"))
    val pre0 = graft.operators.ScanOps.exclusivePrefixSum(
      toks, Seq("source"), Seq("doc_id", "copy_id"), col("n_words"), "tok_before")
    val pre = tokBase match {
      case None => pre0
      case Some(b) => pre0.join(broadcast(b), Seq("source"), "left")
        .withColumn("tok_before", col("tok_before") + coalesce(col("tok_base"), lit(0L)))
        .drop("tok_base")
    }
    val spanned = pre
      .join(ledger.select("doc_id", "copy_id", "source", "text"),
        Seq("doc_id", "copy_id", "source"))
      // one row per (doc copy, pack it overlaps); slice bounds are the
      // intersection of the doc's token range with the pack's range
      .withColumn("pack_id", explode(sequence(
        call_function("div", col("tok_before"), lit(budget)),
        call_function("div", col("tok_before") + col("n_words") - 1, lit(budget)))))
      .withColumn("__s", greatest(lit(0L), col("pack_id") * budget - col("tok_before")))
      .withColumn("__e", least(col("n_words"), (col("pack_id") + 1) * budget - col("tok_before")))
      .select(col("source"), col("pack_id"), col("tok_before"),
        col("doc_id"), col("copy_id"),
        slice(TextOps.tokens(col("text")),
          (col("__s") + 1).cast("int"), (col("__e") - col("__s")).cast("int")).as("__slice"),
        (col("__e") - col("__s")).as("__n"))
    spanned.groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_tokens"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("tok_before").as("o"),
            col("doc_id").as("d"), col("copy_id").as("c"), col("__slice").as("s")))),
          x => x.getField("s"))), " ").as("payload"))
  }

  /** #52 deterministic source-weighted sampling: the data-mixing gate
    * of a training pipeline. Keep-rate per source tier comes from a
    * pure function of the stable key (id mod 100), so the sample is
    * reproducible at any parallelism, any engine — never rand(). */
  def mixSample(s: SparkSession, dir: String): DataFrame = {
    val tier = pmod(ascii(substring(col("source"), 4, 2)), lit(3L))
    val rate = when(tier === 0, lit(100L)).when(tier === 1, lit(50L)).otherwise(lit(20L))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"))
      .withColumn("keep_rate_pct", rate)
      .withColumn("sampled", pmod(col("doc_id"), lit(100L)) < col("keep_rate_pct"))
  }

  /** #66 market-basket co-occurrence: part pairs bought in the same
    * order, with per-part support counts. ONE corpus shuffle total:
    * `groupBy(order).collect_set(part)` assembles each basket (with
    * map-side partial sets, so the exchange carries ~distinct
    * (order, part) elements once), then the i<j pair expansion is a
    * MAP-ONLY array transform over the sorted basket — no distinct
    * pre-pass and no self-join re-shuffling the lines a second and
    * third time. Work stays bounded by Σ lines-per-order²; the pair
    * and support aggregates see only basket-derived rows. */
  def copurchase(s: SparkSession, dir: String): DataFrame =
    copurchaseOf(basketsOf(s, dir).transform(Caching.share))

  /** [[copurchase]] over a basket frame ([[basketsOf]]) — shared by
    * the caller: the pair expansion and the support counts read it. */
  private def copurchaseOf(baskets: DataFrame): DataFrame = {
    val pairs = basketPairs(baskets)
    val support = baskets.select(explode(col("parts")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
    // per-part support is bounded by the part dimension (tiny next to
    // the pair matrix): broadcast both enrichment joins
    pairs
      .join(broadcast(support.select(col("l_partkey").as("p1"), col("n").as("n1"))), "p1")
      .join(broadcast(support.select(col("l_partkey").as("p2"), col("n").as("n2"))), "p2")
      .select("p1", "p2", "n_orders", "n1", "n2")
  }

  /** One sorted part basket per order. */
  private def basketsOf(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select("parts")

  /** The thresholded qualifying-pair matrix WITHOUT support
    * enrichment — #122 consumes this bare form: the optimizer cannot
    * prune the support joins out of [[copurchase]]'s output (inner
    * joins filter semantically), so a PageRank built on it would pay
    * the support aggregation and two broadcast joins just to drop
    * n1/n2. */
  private def basketPairs(baskets: DataFrame): DataFrame = {
    // sorted basket → ordered (parts[i], parts[j>i]) pairs, all map-side
    val pairList = flatten(transform(col("parts"), (x, i) =>
      transform(slice(col("parts"), i + lit(2), size(col("parts"))), y =>
        struct(x.as("p1"), y.as("p2")))))
    baskets
      .select(explode(pairList).as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_orders"))
      .where(col("n_orders") >= 3)
  }

  /** #110 association rules over the co-purchase matrix: confidence
    * and lift per qualifying part pair, from the SAME single-shuffle
    * basket pipeline as #66 (the basket share is read by both — the pair
    * expansion stays a map-only array transform over each sorted
    * basket). Confidence p(p2|p1) and lift n·N/(n1·n2) are emitted as
    * exact integer permille (`div` on long counts — no float ratio to
    * disagree across engines); the basket total N is a 1-row agg over
    * the persisted baskets, recombined by broadcast.
    *
    * Scale note: long arithmetic bounds — `1000·n_orders·N` stays
    * inside Int64 while n_orders·N < 9.2e15, i.e. far past any
    * realistic order count; past that, lift the products to
    * DECIMAL(38,0) before the divide. */
  def basketLift(s: SparkSession, dir: String): DataFrame = {
    val baskets = basketsOf(s, dir).transform(Caching.share)
    val total = baskets.agg(count(lit(1)).as("n_baskets"))
    copurchaseOf(baskets)
      .crossJoin(broadcast(total))
      .select(
        col("p1"), col("p2"), col("n_orders"), col("n1"), col("n2"), col("n_baskets"),
        call_function("div", col("n_orders") * lit(1000L), col("n1"))
          .as("conf_p1_permille"),
        call_function("div", col("n_orders") * lit(1000L), col("n2"))
          .as("conf_p2_permille"),
        call_function("div", col("n_orders") * col("n_baskets") * lit(1000L),
          col("n1") * col("n2")).as("lift_permille"))
  }

  /** #122 co-purchase PageRank: power-iteration centrality over the
    * symmetric part co-purchase graph (#66's qualifying pairs as
    * edges) — the "which products anchor the catalog" signal that
    * degree alone misses (a part bridging two dense clusters
    * outranks a part with the same degree inside one). Three fixed
    * damped iterations (d = 0.85) in exact parts-per-million integer
    * arithmetic: every contribution is `div(850·r, 1000·deg)` — the
    * per-edge floor mirrors in any engine, and integer sums are
    * order-independent, so ranks are bit-identical at any
    * parallelism. Top-20 by rank, partkey tiebreak.
    *
    * Scale shape: join-based iteration, the GraphX/Pregel pattern in
    * plain DataFrame algebra — each round is one src-keyed hash join
    * (ranks onto edges) plus one dst-keyed aggregation, i.e. 2
    * bounded shuffles per iteration over the THRESHOLDED pair graph
    * (≥3 shared baskets — support pruning bounds the edge set the
    * same way it bounds #66), never the fact. The persisted pair
    * matrix feeds all three rounds; fixed iteration count keeps the
    * lineage shallow. The head is a distributed TakeOrdered. */
  def partRank(s: SparkSession, dir: String): DataFrame =
    // the thresholded pair matrix is read by the degree pass plus
    // every iteration — share it; its baskets have one reader here
    partRankFromPairs(basketPairs(basketsOf(s, dir)).select("p1", "p2").transform(Caching.share))

  /** Rank iteration algebra over a (p1, p2) qualifying-pair frame —
    * split out so the spec can drive a hand-computable graph. */
  private[graft] def partRankFromPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("p1").as("src"), col("p2").as("dst"))
      .union(pairs.select(col("p2").as("src"), col("p1").as("dst")))
    // deg feeds the initial ranks, every iteration (via ed) and the
    // final enrichment; ed feeds all three iterations — sharing
    // both means the degree shuffle runs ONCE, not once per round
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).transform(Caching.share)
    val ed = edges.join(deg, "src").transform(Caching.share)
    // symmetric graph: every node has in- and out-edges, so each
    // round's dst aggregation re-covers exactly deg's node set —
    // no dangling-mass correction needed
    var ranks = deg.select(col("src").as("pk"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      ranks = ed.join(ranks, col("src") === col("pk"))
        .select(col("dst"),
          call_function("div", lit(850L) * col("r"), lit(1000L) * col("deg"))
            .as("__contrib"))
        .groupBy(col("dst"))
        .agg((lit(150000L) + sum(col("__contrib"))).as("r"))
        .select(col("dst").as("pk"), col("r"))
    }
    ranks.join(deg, col("pk") === col("src"))
      .select(col("pk").as("partkey"), col("deg").as("degree"), col("r").as("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("partkey").asc)
      .limit(20)
  }

  /** #68 temporal (point-in-time) dimension join: every order joins
    * the SCD2 customer VERSION valid at its order date —
    * `valid_from <= d < valid_to` with NULL-open current rows. The
    * equi-key (custkey) drives a hash join; the validity range is a
    * post-join filter, so no nested-loop appears. This is the
    * consumption side of #8's SCD2 history. */
  def temporalJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scd2
    val base = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    val existing = Scd2.initialize(base, lit("1990-01-01").cast("date"))
    val incoming = base.withColumn("c_mktsegment",
      when(pmod(col("c_custkey"), lit(10)) === 0, lit("MOVED")).otherwise(col("c_mktsegment")))
    val scd = Scd2.merge(existing, incoming, Seq("c_custkey"),
      Seq("c_name", "c_mktsegment", "c_acctbal"), lit("1995-06-01").cast("date"))
    Tables.orders(s, dir).select("o_orderkey", "o_orderdate", "o_custkey")
      .join(scd,
        col("o_custkey") === col("c_custkey") &&
          col("o_orderdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
      .select(col("o_orderkey"), col("o_orderdate"), col("c_custkey"),
        col("c_mktsegment"), col("valid_from"))
  }

  /** #67 variance/stddev with exact-decimal foundations: per-nation
    * monthly-revenue statistics from exact DECIMAL Σx and Σx² — the
    * only floating-point steps are the FINAL divisions on
    * exactly-agreed inputs, so results are bit-identical at any
    * parallelism and across engines (builtin stddev/variance
    * aggregates stream doubles and are order-dependent — unusable
    * under the determinism contract). */
  def revenueStats(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), date_trunc("month", col("o_orderdate")).as("mon"))
      // integer CENTS per month: Σ and Σ² stay in exact integer /
      // wide-decimal arithmetic on both engines (squaring a (14,2)
      // decimal overflows DuckDB's int64 decimal storage)
      .agg(Money.scaledSum(col("o_totalprice"), 2).as("rev_c"))
    val c = col("rev_c").cast("decimal(20,0)")
    monthly.groupBy("nation")
      .agg(
        count(lit(1)).as("n_months"),
        sum(col("rev_c")).cast("double").as("sx"),
        sum(c * c).cast("double").as("sxx"))
      .where(col("n_months") > 1)
      .select(
        col("nation"), col("n_months"),
        (col("sx") / col("n_months") / 100.0).as("mean_revenue"),
        ((col("n_months") * col("sxx") - col("sx") * col("sx")) /
          (col("n_months") * (col("n_months") - 1)) / 10000.0).as("var_revenue"))
      .orderBy("nation")
  }

  /** #65 deterministic epoch mixing: per-source sampling weights >100%
    * UPSAMPLE (whole copies + a key-mod fraction for the remainder)
    * and <100% subsample — one rule covers both, reproducible at any
    * parallelism. This is the dataset-mixture materialization step of
    * a training pipeline (e.g. 2.5 epochs of wiki, 0.5 of crawl). */
  def mixUpsample(s: SparkSession, dir: String): DataFrame = {
    val tier = pmod(ascii(substring(col("source"), 4, 2)), lit(3L))
    val rate = when(tier === 0, lit(100L)).when(tier === 1, lit(250L)).otherwise(lit(50L))
    val copies = call_function("div", rate, lit(100L)) +
      when(pmod(col("doc_id"), lit(100L)) < pmod(rate, lit(100L)), 1L).otherwise(0L)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), rate.as("weight_pct"), copies.as("n_copies"))
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("weight_pct"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_id"))
  }

  /** #53 Unicode normalization (native codegen expressions #NfcNormalize
    * / #StripAccents): canonical NFC fold + accent strip + dedup keys
    * over the canonical form. */
  def unicodeNorm(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).select(
      col("doc_id"),
      md5(call_function("nfc_norm", col("text"))).as("nfc_md5"),
      md5(call_function("strip_accents", col("text"))).as("ascii_md5"),
      length(call_function("nfc_norm", col("text"))).cast("long").as("nfc_len"))
  }

  /** #54 HLL approximate distinct per event_type, verified by error
    * envelope: the HLL estimate itself is engine-specific, so the
    * emitted columns are the exact count (DuckDB-recomputable) and a
    * boolean asserting |approx − exact| <= 5% · exact — the sketch's
    * accuracy CONTRACT, checked Spark-side against the exact twin. At
    * 100 TB the exact countDistinct is the expensive path (full
    * shuffle of distinct values) and exists here only as the
    * verification reference; approx_count_distinct ships one HLL
    * sketch per partition and is the production column. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("__approx"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .select(
        col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("__approx") - col("exact_users")) * 100 <= col("exact_users") * 5)
          .as("approx_ok"))
      .orderBy("event_type")

  /** #81 mergeable-sketch rollup: per-event-type Datasketches HLL
    * sketches computed in ONE events pass, with the global distinct
    * estimate derived by MERGING the per-type sketches
    * (`hll_union_agg` over 5 sketch rows) — never a second corpus
    * scan. Mergeability is the property that makes sketches the scale
    * path: partial sketches roll up across aggregation levels, days,
    * or clusters for free. The exact counts ride along as the
    * verification twin (at 100 TB the exact path is the full shuffle
    * the sketch exists to avoid — gate it in production); `sketch_ok`
    * asserts the ±5% envelope per scope, including the merged one. */
  def hllUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"))
    val perType = ev.groupBy("event_type")
      .agg(
        hll_sketch_agg(col("user_id")).as("__sk"),
        countDistinct(col("user_id")).as("exact_users"))
      .transform(Caching.share)
    def ok(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
      abs(est - exact) * 100 <= exact * 5
    val typeRows = perType.select(
      col("event_type").as("scope"), col("exact_users"),
      ok(hll_sketch_estimate(col("__sk")), col("exact_users")).as("sketch_ok"))
    val allEst = perType.agg(
      hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
    // count(col), not count(1): NULL user_id must not count as distinct
    val allExact = ev.select("user_id").distinct().agg(count(col("user_id")).as("exact_users"))
    val allRow = allExact.crossJoin(allEst).select(
      lit("ALL").as("scope"), col("exact_users"),
      ok(col("__est"), col("exact_users")).as("sketch_ok"))
    typeRows.unionByName(allRow).orderBy("scope")
  }

  /** #55 Space-Saving top-k frequent words per language, verified
    * end to end: the sketch (native TypedImperativeAggregate, bounded
    * memory per group at any vocabulary size) nominates 128 candidates
    * from a 1024-slot sketch per language (26× the emitted 5); their
    * EXACT counts are then recomputed over only
    * the candidate words (broadcast semi-join — the recount is
    * proportional to candidates, not vocabulary) and the final top-5
    * is ranked by exact count. The emitted rows are therefore defined
    * by the data alone (DuckDB recomputes them), while `bracket_ok`
    * checks the Space-Saving guarantee est >= exact >= est − err
    * Spark-side. A sketch that loses a heavy hitter or breaks its
    * error bound fails CORRECTNESS.
    *
    * Nomination depth is a RECALL dial against tie structure: the sf1
    * rehearsal's renamed vocabulary makes every word a ~10-way exact
    * count tie, so the true top-5 hides among ~50 same-count tokens —
    * the previous 32-of-256 nomination missed one (caught by the sf1
    * DuckDB sweep, BENCH_NOTES round 9). 128-of-1024 restores the
    * superset margin at 10× scale while keeping the recount
    * candidate-bounded; on a real Zipf corpus margins are wide and
    * the depth is pure safety. */
  def topkWords(s: SparkSession, dir: String): DataFrame =
    rankedWordCounts(s, dir)
      .where(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("word"), col("n_occurrences"),
        (col("__est") >= col("n_occurrences") &&
          col("__est") - col("__err") <= col("n_occurrences")).as("bracket_ok"))
      .orderBy("lang", "rank")

  /** Shared nominate→exact-recount→rank pipeline behind #55 and
    * #128: per-language word ranks by EXACT count (sketch estimates
    * ride along as `__est`/`__err` for the bracket check). Ranks are
    * trustworthy only as deep as the nomination margin — callers
    * consume the shallow head (≤10), nominated 128-of-1024. */
  private def rankedWordCounts(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
    val nominated = words.groupBy("lang")
      .agg(call_function("topk_sketch", col("word"), lit(1024)).as("top"))
      .select(col("lang"), explode(slice(col("top"), 1, 128)).as("c"))
      .select(col("lang"), col("c.item").as("word"),
        col("c.count").as("__est"), col("c.err").as("__err"))
    val exact = words.join(broadcast(nominated.select("lang", "word")), Seq("lang", "word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("n_occurrences"))
    val w = Window.partitionBy("lang").orderBy(col("n_occurrences").desc, col("word"))
    nominated.join(exact, Seq("lang", "word"))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** #128 Zipf naturalness check: per language, how far the top-10
    * word frequencies sit from the ideal Zipf line — mean
    * |f·r/f₁ − 1| over ranks 2–10 as exact integer permille. Natural
    * language hugs f ∝ 1/r; templated or machine-generated corpora
    * deviate hard, so this is the one-row-per-language "does this
    * source read like language at all" gate of a corpus intake
    * report (complements #82's coverage and #90's PMI).
    *
    * Scale shape: rides the SAME nominate→recount pipeline as #55
    * (sketch bounds memory at any vocabulary, recount is
    * candidate-bounded); everything after the head is ≤10 rows per
    * language. All arithmetic is exact integer `div` — the deviation
    * is defined by the data alone and DuckDB recomputes it from full
    * vocabulary ranks. */
  def zipfCheck(s: SparkSession, dir: String): DataFrame =
    zipfCheckOn(rankedWordCounts(s, dir))

  /** Deviation algebra over a ranked (lang, rank, word,
    * n_occurrences) frame — split out so the spec can drive a
    * handcrafted perfect-Zipf corpus. */
  private[graft] def zipfCheckOn(ranked: DataFrame): DataFrame = {
    // the ≤10-rows-per-language head feeds BOTH the top-word side and
    // the rank≥2 side — without the persist each side re-runs the
    // whole corpus nominate→recount pipeline (~4 tokenization passes
    // for a 5-row result)
    val head = ranked.where(col("rank") <= 10)
      .select(col("lang"), col("rank"), col("word"), col("n_occurrences"))
      .transform(Caching.share)
    val top = head.where(col("rank") === 1)
      .select(col("lang"), col("word").as("top_word"), col("n_occurrences").as("n_top"))
    head.where(col("rank") >= 2)
      .join(broadcast(top), "lang")
      .groupBy(col("lang"), col("top_word"), col("n_top"))
      .agg(
        count(lit(1)).as("__nr"),
        sum(abs(call_function("div",
          // widen the n·rank·1000 product to DECIMAL(38,0) for policy
          // consistency with the money-scaled permille sites (Int64
          // would hold to ~10^14 occurrences of one word — theoretical,
          // but one overflow rule beats two); div still returns BIGINT,
          // and the DuckDB BIGINT // BIGINT oracle shares the bound
          col("n_occurrences").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("rank") * lit(1000L), col("n_top")) - lit(1000L)))
          .as("__dev"))
      .select(col("lang"), col("top_word"), col("n_top"),
        call_function("div", col("__dev"), col("__nr")).as("zipf_dev_permille"))
      .orderBy("lang")
  }

  /** #56 forward as-of join: for every order, the same customer's
    * FIRST event at-or-after the order date (same union+window carry
    * as #43, scanned in reverse time order). Events sharing a
    * (customer, second) resolve to the greatest `event_id` — the
    * carry's fused tie-break, which the oracle mirrors with a
    * latest-per-(user, second) dedup before DuckDB's native forward
    * ASOF (`<=`). */
  def asofForward(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    val left = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val right = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("second", col("ts")).as("ts_s"),
        AsOfJoin.notNull(col("event_id")).as("event_id"), col("event_type"))
    AsOfJoin(left, right,
      leftKey = "o_custkey", rightKey = "user_id",
      leftTime = "o_orderdate", rightTime = "ts_s",
      rightCols = Seq("event_id", "ts_s", "event_type"),
      joinType = "inner", direction = "forward",
      rightTieBreak = Seq("event_id"))
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("event_id").as("next_event_id"),
        col("ts_s").as("next_event_ts"),
        col("event_type").as("next_event_type"))
  }

  /** #57 MERGE upsert/delete (`operators.Upsert`): apply a
    * deterministic change batch (updates, inserts, deletes derived
    * from the key) to the customer snapshot — two keyed joins, no
    * driver loop. */
  def upsert(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Upsert
    val base = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    val updates = base.where(pmod(col("c_custkey"), lit(7)) === 0)
      .withColumn("c_mktsegment", lit("UPSERTED"))
      .withColumn("c_acctbal", col("c_acctbal") + 10.0)
      .withColumn("__op", lit("U"))
    val inserts = base.where(pmod(col("c_custkey"), lit(11)) === 3)
      .select(
        (col("c_custkey") + 2000000L).as("c_custkey"),
        concat(col("c_name"), lit("_ins")).as("c_name"),
        col("c_mktsegment"), lit(0.0).as("c_acctbal"), lit("U").as("__op"))
    val deletes = base
      .where(pmod(col("c_custkey"), lit(13)) === 6 && pmod(col("c_custkey"), lit(7)) =!= 0)
      .withColumn("__op", lit("D"))
    Upsert(base, updates.unionByName(inserts).unionByName(deletes), Seq("c_custkey"), "__op")
  }

  /** #58 anti-join: customers that never ordered — the left-anti
    * physical join (one shuffle, no row expansion), the standard
    * orphan/retention scan. */
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_mktsegment")
      .join(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")

  /** #59 document chunking: split each doc into 256-token windows
    * with stride 192 (64-token overlap) — context-window prep for
    * training shards. Pure per-doc array math (slice over the staged
    * token array), no shuffle; emits chunk token counts and content
    * hashes. */
  def docChunk(s: SparkSession, dir: String): DataFrame = {
    val size = 256
    val stride = 192
    val toks = col("__toks")
    val nChunks = call_function("div", org.apache.spark.sql.functions.size(toks) - 1, lit(stride)) + 1
    Tables.documents(s, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1), i => struct(
          least(lit(size.toLong), org.apache.spark.sql.functions.size(toks).cast("long") - i.cast("long") * stride).as("nt"),
          md5(concat_ws(" ", slice(toks, i * stride + 1, lit(size)))).as("h")))))
      .select(
        col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col.nt").as("chunk_tokens"), col("col.h").as("chunk_md5"))
  }

  /** #60 PII text redaction: scrub emails, SSN-shaped ids, then
    * phone-shaped digit runs from text (order matters: the id pattern
    * is a subset of the phone pattern). The corpus is synthetically
    * PII-stamped from the key so the operator provably fires; all
    * patterns are RE2-compatible (oracle parity). */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val idRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    val phoneRe = "[0-9][0-9()\\- ]{7,}[0-9]"
    val stamped = Tables.documents(s, dir).select(
      col("doc_id"),
      concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@ex.com"),
        lit(" ssn 123-45-6789 call 555 0123 "),
        lpad(col("doc_id").cast("string"), 4, "0")).as("t"))
    val noEmail = regexp_replace(col("t"), emailRe, "<EMAIL>")
    val noId = regexp_replace(noEmail, idRe, "<ID>")
    val clean = regexp_replace(noId, phoneRe, "<PHONE>")
    stamped.select(
      col("doc_id"),
      regexp_count(col("t"), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(col("t"), lit(idRe)).cast("long").as("n_ids"),
      md5(clean).as("redacted_md5"))
  }

  /** #62 funnel analysis: per user, the first view→click→purchase
    * progression (each step at-or-after the previous one). The
    * sequential pattern is three ordered min-aggregations over one
    * shuffle — no self-joins, no row explosion; `conversion_step`
    * counts how deep the user got. */
  def eventFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), date_trunc("second", col("ts")).as("ts_s"))
    // step 1: first view per user
    val v = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts_s"))).as("first_view"))
    // step 2: first click at-or-after it — the time gate lives in the
    // LEFT-join condition so users whose clicks all precede the view
    // keep their row (with a NULL step time), never vanish
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts_s").as("t_c"))
    val c = v.join(clicks, v("user_id") === clicks("cu") && clicks("t_c") >= v("first_view"), "left")
      .groupBy("user_id")
      .agg(min(col("first_view")).as("first_view"),
        min(col("t_c")).as("first_click_after_view"))
    // step 3: first purchase at-or-after the click
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts_s").as("t_p"))
    val p = c.join(purchases,
        c("user_id") === purchases("pu") && purchases("t_p") >= c("first_click_after_view"), "left")
      .groupBy("user_id")
      .agg(min(col("first_view")).as("first_view"),
        min(col("first_click_after_view")).as("first_click_after_view"),
        min(col("t_p")).as("first_purchase_after_click"))
    p.select(
      col("user_id"), col("first_view"), col("first_click_after_view"),
      col("first_purchase_after_click"),
      (when(col("first_purchase_after_click").isNotNull, 3L)
        .when(col("first_click_after_view").isNotNull, 2L)
        .when(col("first_view").isNotNull, 1L)
        .otherwise(0L)).as("conversion_step"))
  }

  /** #63 retention cohorts: users grouped by first-order month, counted
    * by months-since-cohort in which they ordered again — the classic
    * retention triangle, two aggregations sharing the custkey shuffle. */
  def retentionCohort(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("m"))
    val cohort = o.groupBy("o_custkey").agg(min(col("m")).as("cohort_month"))
    o.join(cohort, "o_custkey")
      .select(col("o_custkey"), col("cohort_month"),
        (months_between(col("m"), col("cohort_month"))).cast("long").as("months_since"))
      .distinct()
      // rows are unique per (cohort_month, months_since, o_custkey)
      // after the distinct, so a plain count equals the distinct
      // count without planning a second distinct aggregate
      .groupBy("cohort_month", "months_since")
      .agg(count(lit(1)).as("active_customers"))
      .orderBy("cohort_month", "months_since")
  }

  /** #76 sketch quantiles with a rank-error contract: the
    * `percentile_approx` (GK) sketch — bounded memory, one pass,
    * mergeable; the quantile path at 100 TB where even the two-pass
    * exact selection is a luxury — answers the per-segment median,
    * and `sketch_ok` checks the sketch's defining guarantee (the
    * returned element's rank lies within n/accuracy of the target)
    * against EXACT ranks. The exact lower median rides along as the
    * verification twin; the approx value itself is NOT emitted — no
    * other engine reproduces the sketch's internals bit-for-bit, but
    * every engine can check the rank envelope. Same contract shape
    * as q_hll_distinct. Completes the sketch family: HLL = distinct,
    * Space-Saving = top-k, Bloom = membership, GK = quantiles. */
  def approxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val acc = 1000 // GK bound: rank error <= n/acc
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"), col("o_orderkey"))
      // fact-scale persist: at 100 TB this spills the 3-column joined
      // fact to executor disk. Deliberate — THREE consumers (sketch,
      // envelope stats, exact twin) each need the broadcast-joined
      // projection, and recomputing means three fact scans + three
      // broadcast joins vs one scan + two spill-reads of a narrow
      // projection. If the verification twin is dropped in production
      // (sketch-only path), drop the persist with it — a 2-consumer
      // narrow pipeline can prefer recompute when executor disk is
      // scarce.
      .transform(Caching.share)
    val ap = o.groupBy("c_mktsegment")
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(acc)).as("__ap"))
    val stats = o.join(broadcast(ap), "c_mktsegment")
      .groupBy("c_mktsegment")
      .agg(
        sum(when(col("o_totalprice") < col("__ap"), 1L).otherwise(0L)).as("__lt"),
        sum(when(col("o_totalprice") <= col("__ap"), 1L).otherwise(0L)).as("__le"),
        count(lit(1)).as("n_orders"))
    val exact = graft.operators.Quantiles.selectAtRanks(
      o, "c_mktsegment", col("o_totalprice"), col("o_orderkey"),
      floor(col("o_totalprice") / 1000.0).cast("long"), Seq(50L), "median_order_value")
      .drop("pctl")
    // the sketch's element sits at SOME rank in [count(<ap)+1,
    // count(<=ap)] (ties widen it); ok iff that interval intersects
    // [target - n/acc, target + n/acc]. +1 absorbs discreteness.
    val target = col("n_orders").cast("double") * 0.5
    val env = col("n_orders").cast("double") / acc + 1.0
    stats.join(exact, "c_mktsegment")
      .select(col("c_mktsegment"), col("n_orders"), col("median_order_value"),
        (col("__lt").cast("double") <= target + env &&
          col("__le").cast("double") >= target - env).as("sketch_ok"))
      .orderBy("c_mktsegment")
  }

  /** #94 revenue concentration: the Gini coefficient and top-decile
    * share of per-customer revenue — the inequality profile that
    * answers "how much of the business is ten percent of customers"
    * (and, run over per-source token counts, "is the corpus a
    * monoculture"). Everything is exact integer/decimal math until
    * ONE double division: gini = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over
    * cents xᵢ sorted ascending (tie order provably cancels in Σi·xᵢ).
    *
    * Scale shape: the global rank comes from
    * [[graft.operators.ScanOps.exclusivePrefixSum]] — the two-level
    * bucket scan — NOT a single-task `Window.orderBy`, so the sort
    * stays bounded by bucket size at any customer count. The
    * customer-grain frame is shared by its two consumers (moments +
    * decile gate); the fact is scanned once. */
  def revenueGini(s: SparkSession, dir: String): DataFrame =
    revenueGiniOn(Tables.orders(s, dir))

  private[graft] def revenueGiniOn(orders: DataFrame): DataFrame = {
    // customer-grain share: the prefix-sum's bucket-bounds pass and
    // its main path would otherwise each re-run the fact aggregation —
    // cached, the fact is scanned once and both read ~#customers rows
    val x = orders.groupBy("o_custkey")
      .agg(Money.scaledSum(col("o_totalprice"), 2).as("cents"))
      .transform(Caching.share)
    val ranked = graft.operators.ScanOps
      .exclusivePrefixSum(x, Seq.empty, Seq("cents", "o_custkey"), lit(1L), "n_before")
      .withColumn("__i", col("n_before") + lit(1L))
      .transform(Caching.share)
    val moments = ranked.agg(
      count(lit(1)).as("n_customers"),
      sum(col("cents")).as("__s0"),
      sum((col("__i").cast("decimal(38,0)") * col("cents"))).as("__s1"))
    val dec38 = "decimal(38,0)"
    val top = ranked
      .crossJoin(broadcast(moments.select(col("n_customers").as("__n"))))
      .agg(sum(when(col("__i") > col("__n") - call_function("div", col("__n"), lit(10L)),
        col("cents")).otherwise(0L)).as("__top"))
    moments.crossJoin(broadcast(top))
      .select(
        col("n_customers"),
        (col("__s0").cast("double") / lit(100.0)).as("total_revenue"),
        ((lit(2).cast(dec38) * col("__s1") -
            (col("n_customers") + lit(1L)).cast(dec38) * col("__s0").cast(dec38)).cast("double") /
          (col("n_customers").cast(dec38) * col("__s0").cast(dec38)).cast("double")).as("gini"),
        // widened: top-decile cents ×1000 passes Int64 at ~300× sf1
        call_function("div", col("__top").cast(dec38) * lit(1000L), col("__s0"))
          .as("top_decile_permille"))
  }

  /** #98 join-key skew report: rows-per-key distribution of the fact's
    * part key, bucketed by decimal magnitude (digit count of the
    * per-key row count — an engine-exact log ladder, no float log) —
    * the diagnosis a pipeline runs BEFORE choosing #47's salting
    * factor or trusting AQE's skew split. A healthy key shows one
    * dominant magnitude; a power-law key spreads across many with the
    * top magnitudes holding most rows.
    *
    * Scale shape: one keyed count with map-side combine (the shuffle
    * carries ≤ #keys cells), then a ≤ 20-row magnitude histogram; the
    * permille window runs on that grain. */
  def keySkew(s: SparkSession, dir: String): DataFrame =
    keySkewOn(Tables.lineitem(s, dir), "l_partkey")

  private[graft] def keySkewOn(df: DataFrame, key: String): DataFrame = {
    val perKey = df.groupBy(key).agg(count(lit(1)).as("__c"))
    perKey
      .select(length(col("__c").cast("string")).cast("long").as("magnitude"), col("__c"))
      .groupBy("magnitude")
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("__c")).as("n_rows"),
        max(col("__c")).as("max_rows_per_key"))
      .withColumn("rows_permille", call_function("div",
        col("n_rows") * lit(1000L),
        sum(col("n_rows")).over(Window.partitionBy())))
      .orderBy("magnitude")
  }

  /** #99 length-outlier gate: per-source exact quartiles of `n_chars`
    * (two-pass rank selection, [[graft.operators.Quantiles]]) and the
    * Tukey 1.5×IQR outlier counts — the truncation/concatenation
    * detector of a corpus intake report (a scrape that clips docs
    * shows a low-outlier spike; concatenated shards spike high). The
    * fence comparison is doubled integer math (2·x vs 2·q ± 3·IQR) so
    * no fraction ever appears.
    *
    * Scale shape: quartiles bound every sort to one (segment, bucket)
    * slice; the outlier pass joins the ≤ #sources quartile frame
    * broadcast and re-aggregates per source. */
  def lengthOutliers(s: SparkSession, dir: String): DataFrame =
    lengthOutliersOn(Tables.documents(s, dir))

  private[graft] def lengthOutliersOn(docs: DataFrame): DataFrame = {
    val q = graft.operators.Quantiles.selectAtRanks(
      docs, "source", col("n_chars"), col("doc_id"),
      call_function("div", col("n_chars"), lit(100L)), Seq(25L, 50L, 75L), "v")
    val wide = q.groupBy("source").agg(
        max(when(col("pctl") === 25, col("v"))).as("q1"),
        max(when(col("pctl") === 50, col("v"))).as("median"),
        max(when(col("pctl") === 75, col("v"))).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
    docs.join(broadcast(wide), "source")
      .groupBy("source", "q1", "median", "q3", "iqr")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") * 2 < col("q1") * 2 - col("iqr") * 3, 1L)
          .otherwise(0L)).as("n_low_outliers"),
        sum(when(col("n_chars") * 2 > col("q3") * 2 + col("iqr") * 3, 1L)
          .otherwise(0L)).as("n_high_outliers"))
      .select("source", "q1", "median", "q3", "iqr", "n_docs",
        "n_low_outliers", "n_high_outliers")
      .orderBy("source")
  }

  def all: Map[String, Q] = Map(
    "q_key_skew" -> (keySkew _),
    "q_length_outliers" -> (lengthOutliers _),
    "q_revenue_gini" -> (revenueGini _),
    "q_approx_quantiles" -> (approxQuantiles _),
    "q_event_funnel" -> (eventFunnel _),
    "q_retention_cohort" -> (retentionCohort _),
    "q_doc_chunk" -> (docChunk _),
    "q_text_redact" -> (textRedact _),
    "q_asof_forward" -> (asofForward _),
    "q_upsert" -> (upsert _),
    "q_anti_join" -> (antiJoin _),
    "q_range_join" -> (rangeJoinSessions _),
    "q_skew_salted" -> (skewSaltedJoin _),
    "q_sales_cube" -> (salesCube _),
    "q_grouping_sets" -> (salesGroupingSets _),
    "q_window_suite" -> (windowSuite _),
    "q_quartiles" -> (quartiles _),
    "q_seq_pack" -> (seqPack _),
    "q_pack_payload" -> (packPayload _),
    "q_mix_sample" -> (mixSample _),
    "q_mix_upsample" -> (mixUpsample _),
    "q_copurchase" -> (copurchase _),
    "q_basket_lift" -> (basketLift _),
    "q_part_rank" -> (partRank _),
    "q_revenue_stats" -> (revenueStats _),
    "q_temporal_join" -> (temporalJoin _),
    "q_unicode_norm" -> (unicodeNorm _),
    "q_hll_distinct" -> (hllDistinct _),
    "q_hll_union" -> (hllUnion _),
    "q_topk_words" -> (topkWords _),
    "q_zipf_check" -> (zipfCheck _)
  )
}
