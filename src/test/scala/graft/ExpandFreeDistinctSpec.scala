package graft

import graft.plans.ExpandFreeDistinct

/** The injected optimizer rule, exercised through the SHARED session's
  * real injection path (GraftSession builds every session
  * `withExtensions`): toggling the conf compares Spark's own Expand
  * plan against the rewritten shape on identical queries. Guard tests
  * apply the rule directly to analyzed plans (no execution needed). */
class ExpandFreeDistinctSpec extends SparkSpec {
  import spark.implicits._

  private lazy val view: Unit = {
    Seq(
      (1L, 10L, "a", 5.0), (1L, 11L, "b", 6.0), (2L, 10L, "a", 7.0),
      (3L, 12L, "c", 8.0), (3L, 12L, "a", 9.0))
      .toDF("k1", "k2", "tag", "v")
      .createOrReplaceTempView("efd_t")
  }

  /** Run `sql` with the rule disabled (Spark's own planning) and
    * enabled, returning (baselinePlan, activePlan, baselineRows,
    * activeRows). */
  private def compare(sql: String) = {
    val (bPlan, bRows) = SparkSpec.withoutRules(spark, SparkSpec.ExpandFreeDistinctRule) {
      val df = spark.sql(sql)
      (df.queryExecution.executedPlan.toString, df.collect().map(_.toSeq).toSet)
    }
    val df = spark.sql(sql)
    (bPlan, df.queryExecution.executedPlan.toString, bRows, df.collect().map(_.toSeq).toSet)
  }

  test("multi-distinct rewrites Expand-free with identical results") {
    view
    val (base, active, bRows, aRows) = compare(
      """SELECT count(DISTINCT k1) AS d1, count(DISTINCT k2) AS d2,
        |       count(DISTINCT tag) AS d3, sum(v) AS s, count(1) AS n
        |FROM efd_t""".stripMargin)
    assert(base.contains("Expand"), "baseline must exercise the Expand path")
    assert(!active.contains("Expand"), active)
    assert(aRows == bRows)
  }

  test("null keys: count(DISTINCT) excludes NULL in both shapes") {
    Seq((Some(1L), "x"), (None, "y"), (Some(2L), "x"), (None, "z"))
      .toDF("k", "tag").createOrReplaceTempView("efd_nulls")
    val (_, active, bRows, aRows) = compare(
      "SELECT count(DISTINCT k) AS dk, count(DISTINCT tag) AS dt FROM efd_nulls")
    assert(!active.contains("Expand"), active)
    assert(aRows == bRows && aRows.head == Seq(2L, 3L))
  }

  test("empty input still yields the single global-aggregate row") {
    spark.range(0).selectExpr("id AS a", "id AS b").createOrReplaceTempView("efd_empty")
    val (_, active, bRows, aRows) = compare(
      "SELECT count(DISTINCT a) AS da, count(DISTINCT b) AS db, sum(a) AS s FROM efd_empty")
    assert(!active.contains("Expand"), active)
    assert(aRows == bRows && aRows.size == 1) // one row: (0, 0, null)
  }

  test("grouped multi-distinct rewrites with NULL groups intact") {
    Seq(
      (Some("a"), Some(1L), 10L), (Some("a"), Some(2L), 10L), (Some("a"), None, 11L),
      (None, Some(1L), 10L), (None, Some(1L), 12L), (Some("b"), Some(3L), 13L))
      .toDF("g", "x", "y").createOrReplaceTempView("efd_grp")
    val (base, active, bRows, aRows) = compare(
      """SELECT g, count(DISTINCT x) AS dx, count(DISTINCT y) AS dy, count(1) AS n
        |FROM efd_grp GROUP BY g""".stripMargin)
    assert(base.contains("Expand"))
    assert(!active.contains("Expand"), active)
    assert(aRows == bRows)
    // the NULL group row must survive the null-safe join: (null,1,2,2)
    assert(aRows.exists(r => r.head == null && r(1) == 1L && r(2) == 2L && r(3) == 2L), aRows)
  }

  test("grouped: keys absent from the projection still join correctly") {
    view
    val (_, active, bRows, aRows) = compare(
      "SELECT count(DISTINCT k1) AS d1, count(DISTINCT k2) AS d2 FROM efd_t GROUP BY tag")
    assert(!active.contains("Expand"), active)
    assert(aRows == bRows)
  }

  test("mixed distinct functions (sum/avg/min) rewrite with identical results") {
    view
    val (_, active, bRows, aRows) = compare(
      """SELECT tag, sum(DISTINCT k1) AS sd, avg(DISTINCT k2) AS ad,
        |       min(DISTINCT v) AS md, count(1) AS n
        |FROM efd_t GROUP BY tag""".stripMargin)
    assert(!active.contains("Expand"), active)
    assert(aRows == bRows)
  }

  test("eligibility guards: single-distinct / filtered / nondeterministic / distinct-on-key / same-column stay untouched") {
    view
    val untouched = Seq(
      // single distinct: Spark already plans it without Expand
      "SELECT count(DISTINCT k1) AS d1, sum(v) AS s FROM efd_t",
      // FILTER clause: excluded from the narrow match
      "SELECT count(DISTINCT k1) FILTER (WHERE v > 6) AS d1, count(DISTINCT k2) AS d2 FROM efd_t",
      // nondeterministic child: duplicating it would diverge
      "SELECT count(DISTINCT k1) AS d1, count(DISTINCT k2) AS d2 FROM (SELECT *, rand() r FROM efd_t)",
      // distinct over a grouping key: degenerate, left to Spark
      "SELECT count(DISTINCT tag) AS dt, count(DISTINCT k1) AS d1 FROM efd_t GROUP BY tag",
      // several distincts over ONE column: Spark shares the distinct
      // group without Expand — rewriting would add scans for nothing
      "SELECT count(DISTINCT k1) AS c1, sum(DISTINCT k1) AS s1 FROM efd_t",
      // nondeterministic ROW SET: each duplicated child could see a
      // different subset — LIMIT and TABLESAMPLE must block the rewrite
      "SELECT count(DISTINCT k1) AS d1, count(DISTINCT k2) AS d2 FROM (SELECT * FROM efd_t LIMIT 3)",
      "SELECT count(DISTINCT k1) AS d1, count(DISTINCT k2) AS d2 FROM efd_t TABLESAMPLE (50 PERCENT)")
    untouched.foreach { q =>
      val analyzed = spark.sql(q).queryExecution.analyzed
      assert(ExpandFreeDistinct(analyzed) == analyzed, s"must not rewrite: $q")
    }
  }

  test("several functions over one column share a single inner dedup part") {
    view
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val analyzed = spark.sql(
      """SELECT count(DISTINCT k1) AS c1, sum(DISTINCT k1) AS s1,
        |       count(DISTINCT k2) AS c2 FROM efd_t""".stripMargin)
      .queryExecution.analyzed
    val rewritten = ExpandFreeDistinct(analyzed)
    assert(rewritten != analyzed)
    // 2 distinct COLUMNS → 2 parts → 1 join (no base: no plain aggs);
    // a per-AGGREGATE split would build 3 parts → 2 joins
    val joins = rewritten.collect { case j: Join => j }
    assert(joins.size == 1, s"expected 1 join for 2 column parts, got ${joins.size}\n$rewritten")
    // results still correct through the real session path
    val (_, active, bRows, aRows) = compare(
      """SELECT count(DISTINCT k1) AS c1, sum(DISTINCT k1) AS s1,
        |       count(DISTINCT k2) AS c2 FROM efd_t""".stripMargin)
    assert(!active.contains("Expand") && aRows == bRows)
  }

  test("cost gate: expensive children stay on Spark's Expand") {
    view
    // a join child would be re-executed once per distinct column — the
    // gate must keep Spark's single-execution Expand plan by default
    val joinQ =
      """SELECT count(DISTINCT a.k1) AS d1, count(DISTINCT b.k2) AS d2
        |FROM efd_t a JOIN efd_t b ON a.k1 = b.k1""".stripMargin
    val analyzed = spark.sql(joinQ).queryExecution.analyzed
    assert(ExpandFreeDistinct(analyzed) == analyzed, "join child must not auto-rewrite")
    // UDF-heavy projection: re-running the UDF per part repeats the
    // expensive work, so the gate blocks it too
    val udf = org.apache.spark.sql.functions.udf((x: Long) => x * 2)
    spark.udf.register("efd_udf", udf)
    val udfQ =
      """SELECT count(DISTINCT ku) AS d1, count(DISTINCT k2) AS d2
        |FROM (SELECT efd_udf(k1) AS ku, k2 FROM efd_t)""".stripMargin
    val udfAnalyzed = spark.sql(udfQ).queryExecution.analyzed
    assert(ExpandFreeDistinct(udfAnalyzed) == udfAnalyzed, "UDF child must not auto-rewrite")
  }

  test("conf gate disables the rule") {
    view
    def plan() = spark.sql(
      "SELECT count(DISTINCT k1) AS d1, count(DISTINCT k2) AS d2 FROM efd_t")
      .queryExecution.executedPlan.toString
    val off = SparkSpec.withoutRules(spark, SparkSpec.ExpandFreeDistinctRule)(plan())
    assert(off.contains("Expand"), s"excluding the rule must restore Spark's Expand\n$off")
    val on = plan()
    assert(!on.contains("Expand"), s"re-enabled rule must fire again\n$on")
  }
}
