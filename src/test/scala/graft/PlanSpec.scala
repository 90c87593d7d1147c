package graft

/** Plan-quality invariants: these are the properties that decide
  * whether a query survives a 100× scale-up, asserted against the
  * executed plan so a refactor can't silently regress them. */
class PlanSpec extends SparkSpec {
  private def plan(q: String): String =
    Queries.all(q)(spark, sf).queryExecution.executedPlan.toString

  /** The physical plan of a built (not yet run) frame, below AQE's
    * wrapper: shares are nodes of it. */
  private def physical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** The distinct shares of a frame's plan (a share read by several
    * branches appears once per branch). */
  private def shares(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] =
    physical(df).collect { case s: Caching.ShareExec => s }
      .groupBy(_.canonicalized).values.map(_.head).toSeq

  private def scanLine(q: String): String =
    Queries.all(q)(spark, sf).queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Scan parquet")).mkString("\n")

  test("pricing summary: filter pushed to parquet, columns pruned") {
    val s = scanLine("q_pricing_summary")
    assert(s.contains("LessThanOrEqual(l_shipdate"), s)
    assert(!s.contains("l_orderkey"), "projection must prune unused columns")
  }

  test("incremental read: watermark predicate reaches the scan") {
    // literal rendering depends on the stored ts type (epoch-nanos
    // long on old testdata generations, TIMESTAMP_NTZ on current) —
    // what matters is that a GreaterThan on ts reached the scan at all
    val s = scanLine("q_incremental_read")
    assert(s.contains("GreaterThan(ts,"), s)
  }

  test("gold star join broadcasts every dimension") {
    val p = plan("q_gold_enriched")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 5, s"expected >=5 broadcast joins, got $broadcasts")
  }

  test("gold star join: AQE final plan keeps all five dims broadcast") {
    // the static assertion above can pass while AQE re-plans a dim to
    // SortMergeJoin at runtime (stat drift, broadcast-threshold flip);
    // assert the executed adaptive plan so that can never land silently.
    // NB: the action must run THIS df's QueryExecution — a writer
    // (noop sink) wraps the logical plan in a NEW QueryExecution and
    // leaves df's own plan un-finalized (isFinalPlan=false)
    val df = Queries.all("q_gold_enriched")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.linesIterator.next())
    val broadcasts = "BroadcastHashJoin".r.findAllIn(finalPlan).length
    assert(broadcasts >= 5, s"expected >=5 broadcast joins post-AQE, got $broadcasts\n$finalPlan")
    // the only sort-merge the plan may contain is the fact-fact join
    val smj = "SortMergeJoin".r.findAllIn(finalPlan).length
    assert(smj <= 1, s"a dimension fell out of broadcast: $smj SortMergeJoins\n$finalPlan")
  }

  test("top products: dimension joined broadcast after fact pre-aggregation") {
    val p = plan("q_top_products")
    assert(p.contains("BroadcastHashJoin"))
    // partial agg on l_partkey must happen below the join
    assert(p.contains("partial_sum") || p.contains("HashAggregate"))
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // AQE only collapses codegen stages at materialization: execute,
    // then read the final adaptive plan
    val df = Queries.all("q_pricing_summary")(spark, sf)
    df.collect() // count() would execute a different (wrapped) plan
    val finalPlan = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Operator" in the final AQE plan
    assert(finalPlan.contains("*(1)") && finalPlan.contains("*(2)"), finalPlan)
  }

  test("events scan never reads the text/props columns it doesn't need") {
    val s = scanLine("q_dedup_latest")
    assert(!s.contains("props"), "dedup_latest must not read props")
  }

  test("window suite: both frames share ONE hash exchange on the partition key") {
    val p = plan("q_window_suite")
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges\n$p")
  }

  test("simhash/minhash signature stages are map-only (zero exchanges)") {
    // the pairs queries checkpoint their result (cache scoping), so
    // assert the property on the signature frames themselves: one
    // narrow projection from the scan, not the aggregate formulation.
    // Planned without FactSpread, which would spread the single-row-
    // group scan under this heavy map: the builders themselves add none
    import org.apache.spark.sql.functions.col
    val docs = Tables.table(spark, sf, "documents")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      SparkSpec.withoutRules(spark, SparkSpec.FactSpreadRule)(df.queryExecution.executedPlan.toString)
    val sh = planOf(graft.text.DedupOps.simhash(docs, "doc_id", col("text")))
    assert(!sh.contains("Exchange") && sh.contains("simhash64"), sh)
    val mh = planOf(graft.text.DedupOps.minhashSignaturesNative(docs, "doc_id", col("text"), 3, 32))
    assert(!mh.contains("Exchange") && mh.contains("minhash_sig"), mh)
  }

  test("kpi summary: distinct counts avoid the multi-distinct Expand") {
    // one agg with N countDistincts plans an Expand that replicates
    // every fact row N+1 times before the exchange — at 100 TB that
    // shuffles (N+1)× the fact instead of N small key sets
    val p = plan("q_kpi_summary")
    assert(!p.contains("Expand"), p)
  }

  test("yearly distincts: the injected rule rewrites the SQL multi-distinct") {
    // q_kpi_summary builds the Expand-free shape BY HAND; this row is
    // plain SQL, so an Expand-free plan here proves the injected
    // ExpandFreeDistinct rule fired on the verified surface (three
    // distinct columns → three pruned pre-aggregates joined back on
    // the year key instead of a 4× Expand shuffle of the fact)
    val p = plan("q_yearly_distincts")
    assert(!p.contains("Expand"), p)
    // the rewritten shape recombines per-column parts with joins —
    // at least 2 joins for 3 distinct columns + the base part
    val joins = p.linesIterator.count(l => l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin"))
    assert(joins >= 2, s"expected the part-join shape, got $joins joins:\n$p")
  }

  test("copurchase: basket assembly only — no fact self-join") {
    // pair expansion is a map-side array transform over collected
    // baskets; a join in the basket share would mean the lineitem
    // self-join (3 fact shuffles) crept back in. The baskets are a
    // share node of the query's plan, carrying the assembly; the
    // plan's only joins are the two support broadcasts.
    val out = QueriesScale.copurchase(spark, sf)
    val p = physical(out).toString
    val basketShares = shares(out)
    assert(basketShares.size == 1, basketShares.mkString("\n---\n"))
    val basketPlan = basketShares.head.toString
    assert(basketPlan.contains("collect_set") && basketPlan.contains("Scan parquet"), basketPlan)
    assert(!basketPlan.contains("Join"), basketPlan)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
  }

  test("gram postings: the gram chain runs once, never as a pushed filter") {
    // regression for the InferFiltersFromGenerate trap: explode over
    // an ALIASED gram array lets Catalyst infer `size(alias) > 0`,
    // and pushdown then inlines the whole tokenize+hash chain into a
    // pre-exchange scan filter (measured 10× at sf0.1). Healthy plan:
    // exactly one occurrence of the gram expression, in the Generate.
    val p = graft.text.DedupOps
      .wordGramHashes(Tables.documents(spark, sf), "doc_id",
        org.apache.spark.sql.functions.col("text"), 3)
      .queryExecution.executedPlan.toString
    assert("array_distinct".r.findAllIn(p).length == 1, p)
  }

  test("group sample: rank filter plans a map-side WindowGroupLimit") {
    // row_number <= N must push a partial group-limit below the
    // exchange (top-N per group per map partition) — without it each
    // lang's whole corpus slice sorts on one task
    val p = plan("q_group_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
  }

  test("embedding near-dup pairs: tiled join, no cartesian / nested-loop") {
    val p = plan("q_dedup_embedding")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p)
  }

  test("temporal join plans as an equi-join on the key, range as post-filter") {
    val p = plan("q_temporal_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("fact spread keeps pruning: round-robin repartition adds no ReadSchema columns") {
    // decimal-heavy partial aggregate: FactSpread spreads the scan
    val p = SparkSpec.withTinyInputsSpread(spark)(plan("q_pricing_summary"))
    assert("RoundRobinPartitioning".r.findAllIn(p).length == 1, p)
    val s = p.linesIterator.filter(_.contains("Scan parquet")).mkString("\n")
    assert(!s.contains("l_orderkey"), "spread must not widen the scan")
    assert(s.contains("LessThanOrEqual(l_shipdate"), "filters still push below the spread")
  }

  test("vocab coverage: head selection is a distributed TakeOrdered, not a global sort") {
    // the top-50 must plan as per-partition top-k + merge; a plain
    // Sort+Limit would sort the whole vocabulary on one task chain
    val p = plan("q_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("boilerplate: the boiler gram set broadcasts to the position stream") {
    // the high-df survivor set is small by construction; if it ever
    // plans as a shuffle join the corpus-sized position explode gets
    // shuffled on the gram key — the exact cost the broadcast avoids
    val p = plan("q_boilerplate")
    assert(p.contains("BroadcastHashJoin"), p)
    // (the plan legitimately contains ONE BroadcastNestedLoopJoin: the
    // 1-row doc-count scalar attaching via crossJoin(broadcast(...)))
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
  }

  test("dup profile: the aggregation shuffles hash cells, text is never a key") {
    // the corpus text must be reduced to (md5, source, count) cells by
    // a PARTIAL aggregate before the aggregation exchange — at scale
    // only ~40-byte cells cross the wire. What this pins: text as a
    // shuffle KEY (the realistic regression: groupBy(text) or a
    // window over the raw text) would appear in an Exchange line's
    // hashpartitioning(...), and the cells aggregate must stay
    // partial (map-side combine). NOT claimed: that no exchange
    // carries text at THIS scale — Tables.documents applies the
    // testdata-only fact-spread repartition (which ships whole rows,
    // and disappears once scanPartitions >= shuffle.partitions, see
    // Tables.spreadKeyed).
    val p = plan("q_dup_profile")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty, "profile must aggregate across partitions")
    exchangeLines.foreach { l =>
      assert(!l.contains("text#"), s"text used as a shuffle key:\n$l")
    }
    // the cells aggregate shuffles on the hash, with map-side combine
    assert(exchangeLines.exists(_.contains("__h#")), exchangeLines.mkString("\n"))
    assert(p.contains("partial_count"), p)
  }

  test("benford: one pruned fact scan, the total never rescans") {
    val p = plan("q_benford")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "digit counts and their total must share one scan")
    val s = scanLine("q_benford")
    assert(s.contains("o_totalprice") && !s.contains("o_orderkey"),
      s"scan must read only the price column:\n$s")
  }

  test("daily trend: windows run on the day grain, above the aggregate") {
    val p = plan("q_daily_trend")
    assert("Scan parquet".r.findAllIn(p).length == 1, "one fact scan")
    // the aggregation must sit BELOW the window operators: a window
    // over raw fact rows would single-task-sort the fact
    val lines = p.linesIterator.toSeq
    val firstWindow = lines.indexWhere(_.contains("Window"))
    val partialAgg = lines.indexWhere(_.contains("partial_sum"))
    assert(firstWindow >= 0 && partialAgg > firstWindow,
      s"day-grain aggregate must feed the window (window@$firstWindow, partial agg@$partialAgg)")
  }

  test("split drift reads ids and lengths, never the text") {
    val s = scanLine("q_split_drift")
    assert(s.contains("doc_id") && s.contains("n_chars") && !s.contains("text"),
      s"scan must prune to (doc_id, n_chars):\n$s")
  }

  test("event gaps scan prunes to the lag-window columns") {
    val s = scanLine("q_event_gaps")
    assert(!s.contains("props") && !s.contains("value"),
      s"gap profile must not read payload columns:\n$s")
  }

  test("source overlap: set sizes broadcast, no nested-loop anywhere") {
    val p = plan("q_source_overlap")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "both size joins must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pmi bigrams: TakeOrdered head; only the 1-row total nested-loops") {
    val p = plan("q_pmi_bigrams")
    assert(p.contains("TakeOrderedAndProject"), "top-50 must not plan a global sort")
    assert(!p.contains("CartesianProduct"), p)
    // the crossJoin(broadcast(tot)) is a 1-row broadcast — the only
    // nested-loop the plan may contain
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
  }

  test("revenue gini: prefix-sum rank, never a sort-merge or global-sort rank") {
    // the rank is a share of the query's plan carrying the prefix
    // sum, whose offsets join must broadcast (totals are bucket-grain)
    val out = QueriesScale.revenueGiniOn(Tables.orders(spark, sf))
    val p = physical(out).toString
    val both = shares(out)
    assert(both.size == 2, both.mkString("\n---\n"))
    val rankPlan = both.map(_.toString).find(_.contains("Window")).getOrElse(fail(p))
    assert(rankPlan.contains("BroadcastHashJoin"), rankPlan)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    // a global-sort (orderBy) rank would plan a range exchange
    assert(!p.contains("rangepartitioning"), p)
  }

  test("lexical diversity is map-only: zero exchanges, text-pruned scan") {
    val p = plan("q_lexical_diversity")
    // the only exchange allowed is the testdata loader's deliberate
    // single-file spread (Tables.spreadKeyed, a fixed-count
    // REPARTITION_BY_NUM) — the query itself (fold, projections) must
    // add none: no ENSURE_REQUIREMENTS hash partitioning above the scan
    val queryExchanges = "Exchange".r.findAllIn(p).length -
      "REPARTITION_BY_NUM".r.findAllIn(p).length
    assert(queryExchanges == 0,
      s"the per-doc fold must never shuffle the token stream\n$p")
    val s = scanLine("q_lexical_diversity")
    assert(s.contains("doc_id") && !s.contains("source"),
      s"scan must prune to doc_id+text: $s")
  }

  test("snapshot diff: one keyed grain join, no nested loops") {
    val p = plan("q_snapshot_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // both snapshots pre-aggregate BELOW the full-outer join (the join
    // runs on the customer grain, never fact rows)
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected a keyed full-outer join\n$p")
    assert("HashAggregate".r.findAllIn(p.substring(joinIdx)).length >= 4,
      "the aggregations must sit under the join, not above it")
  }

  test("fk audit: every edge is a keyed join, no cartesian anywhere") {
    val p = plan("q_fk_orphans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // small dims broadcast at this SF; fact-fact edges may shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p)
  }

  test("basket lift: no cartesian pair expansion; supports and total join broadcast") {
    val p = plan("q_basket_lift")
    assert(!p.contains("CartesianProduct"), p)
    // the per-part support joins stay broadcast (part-dim-bounded);
    // the only nested-loop allowed is the 1-row basket-total recombine
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
  }

  test("weekday seasonality: one map-side agg, no join but the 1-row total") {
    val p = plan("q_weekday_seasonality")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    val s = scanLine("q_weekday_seasonality")
    assert(s.contains("o_orderdate") && !s.contains("o_custkey"),
      s"scan must prune to date+price: $s")
  }

  test("supplier scorecard: no multi-distinct Expand, no cartesian") {
    val p = plan("q_supplier_scorecard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // distinct parts must run as its own pre-aggregate, never an
    // Expand replicating the joined fact per distinct column
    assert(!p.contains("Expand"), s"multi-distinct Expand leaked into the plan\n$p")
  }

  test("interpurchase: lag window and grain agg share ONE custkey exchange") {
    val p = plan("q_interpurchase")
    // allowed exchanges: the loader's deliberate small-SF spread
    // (round-robin) + exactly one hash partitioning on custkey that
    // both the window and the aggregation ride
    val hashEx = "hashpartitioning\\(o_custkey".r.findAllIn(p).length
    assert(hashEx == 1, s"expected one custkey exchange, got $hashEx\n$p")
    assert(!p.contains("rangepartitioning"),
      s"customer-grain output must not be globally sorted\n$p")
  }

  test("rolling users: expansion runs on the user-day grain, day semi-join broadcasts") {
    // the user-day grain is a share; the plan shows the explode and
    // the grain's distinct aggregate below it, through the share
    val p = physical(QueriesAnalytics.rollingUsersOn(Tables.events(spark, sf))).toString
    assert(!p.contains("CartesianProduct"), p)
    // the 7x explode must sit ABOVE the user-day distinct aggregate
    // (expanding raw events would multiply the fact, not the grain)
    val genIdx = p.indexOf("Generate explode")
    assert(genIdx >= 0, s"expected an explode\n$p")
    assert(p.substring(genIdx).contains("HashAggregate"),
      s"explode must consume the deduped user-day grain, not raw events\n$p")
    assert(p.contains("BroadcastHashJoin"), s"day semi-join must broadcast\n$p")
  }

  test("attribution: interval join rides the user equi-key, no nested loop") {
    val p = plan("q_attribution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval bounds must be post-filters on the user hash join\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("rfm: no cartesian, no global sort of the customer grain") {
    val p = plan("q_rfm_segments")
    assert(!p.contains("CartesianProduct"), p)
    // value-based scoring joins the 1-row breakpoint frame broadcast;
    // no ntile/global row_number over the raw customer grain (the only
    // windows are selectAtRanks' bucket-local and histogram-grain ones)
    assert(!p.toLowerCase.contains("ntile"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"breakpoints must join broadcast\n$p")
  }

  test("exact gram pairs: the counting node reads the pair join directly, no pair aggregate") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // every node of the final plan, through AQE's query stages
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p.children.flatMap(nodes)
    })
    // the nodes from the counter's input down to the first node that is
    // not a projection or a codegen boundary
    def path(p: SparkPlan): List[SparkPlan] = p match {
      case _: WholeStageCodegenExec | _: InputAdapter | _: ProjectExec => p :: path(p.children.head)
      case _ => p :: Nil
    }
    for (q <- Seq("q_ngram_jaccard", "q_gram_containment")) {
      val df = Queries.all(q)(spark, sf)
      df.collect()
      val all = nodes(df.queryExecution.executedPlan)
      val counters = all.collect { case c: text.SharedGramCount.CountExec => c }
      assert(counters.nonEmpty, s"$q: no shared-gram counting node\n${df.queryExecution.executedPlan}")
      for (c <- counters) {
        val below = path(c.child)
        assert(below.last.isInstanceOf[BroadcastHashJoinExec],
          s"$q: the counter must read the pair broadcast join, with no sort or exchange " +
            s"between them; found ${below.map(_.nodeName).mkString(" <- ")}\n$c")
      }
      val pairAggs = all.collect {
        case h: HashAggregateExec if Set("doc1", "doc2").subsetOf(h.groupingExpressions.map(_.name).toSet) => h
      }
      assert(pairAggs.isEmpty, s"$q: a pair hash aggregate is left\n${pairAggs.mkString("\n")}")
    }
  }
}
