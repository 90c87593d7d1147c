package graft.tools

/** End-to-end validation of the PRODUCTION extension path: build a
  * session with `withExtensions(new GraftExtensions)` (a fresh JVM —
  * run via `sbt "runMain graft.tools.ExtensionsProbe"`), then prove
  * (a) the injected functions resolve from SQL and (b) the
  * ExpandFreeDistinct optimizer rule fires through the injected
  * batch — i.e. it genuinely runs BEFORE RewriteDistinctAggregates,
  * which the in-suite specs can only assert by direct application. */
object ExtensionsProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(4).appName("graft-extensions-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // (a) injected function resolves with no install() call
    val cos = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS c")
      .head().getDouble(0)
    assert(cos == 1.0, s"cosine_sim via extension returned $cos")

    Seq((1L, 10L, "a", 2.0), (1L, 11L, "b", 3.0), (2L, 10L, "a", 4.0))
      .toDF("k1", "k2", "tag", "v").createOrReplaceTempView("probe_t")

    // (b) multi-distinct through the injected rule: Expand-free plan,
    // correct values
    val df = spark.sql(
      """SELECT count(DISTINCT k1) AS d1, count(DISTINCT k2) AS d2,
        |       count(DISTINCT tag) AS d3, sum(v) AS s
        |FROM probe_t""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"rule did not fire through injection:\n$plan")
    val row = df.head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3)) ==
      ((2L, 2L, 2L, 9.0)), row.toString)

    // grouped variant through the same path
    val g = spark.sql(
      """SELECT tag, count(DISTINCT k1) AS d1, count(DISTINCT k2) AS d2
        |FROM probe_t GROUP BY tag""".stripMargin)
    assert(!g.queryExecution.executedPlan.toString.contains("Expand"))
    val got = g.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 2L, 1L), ("b", 1L, 1L)), got.toString)

    // the conf gate restores Spark's own planning
    spark.conf.set(graft.plans.ExpandFreeDistinct.ConfKey, "false")
    assert(df.queryExecution.executedPlan.toString.contains("Expand") ||
      spark.sql("SELECT count(DISTINCT k1) AS d1, count(DISTINCT k2) AS d2 FROM probe_t")
        .queryExecution.executedPlan.toString.contains("Expand"),
      "disabling the conf must restore the Expand path")

    println("[extensions-probe] OK: functions + optimizer rule active via withExtensions")
    spark.stop()
  }
}
