package graft

/** The extension-installed SQL surface: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` can use every graft
  * function from pure SQL — no Scala-side register calls. The shared
  * session is built `withExtensions(new GraftExtensions)`
  * (GraftSession.local), the only route the functions have. */
class ExtensionsSpec extends SparkSpec {

  test("the extension wraps the full function table") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; table is shared
    assert(GraftFunctions.all.map(_._1).toSet == Set(
      "cosine_sim", "cosine_sim_i8", "simhash64", "minhash_sig", "winnow_fps",
      "nfc_norm", "strip_accents", "vec_sum", "vec_min", "vec_sum_d", "topk_sketch"))
  }

  test("SQL-only session resolves every injected function") {
    val row = spark.sql(
      """SELECT
        |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
        |  simhash64(array('a', 'b', 'a')) AS sh,
        |  minhash_sig(array('a', 'b', 'c', 'd'), 3, 4) AS mh,
        |  nfc_norm('é') AS nfc,
        |  strip_accents('café') AS flat
        |""".stripMargin).collect().head
    assert(row.getDouble(0) == 1.0)
    assert(row.getAs[collection.Seq[Long]]("mh").length == 4)
    assert(row.getString(3) == "é")
    assert(row.getString(4) == "cafe")
  }

  test("injected aggregates work from SQL") {
    val out = spark.sql(
      """SELECT vec_sum(v) AS s, vec_min(v) AS m,
        |       topk_sketch(w, 8) AS top
        |FROM VALUES (array(1L, 10L), 'x'), (array(2L, 20L), 'x'), (array(3L, 30L), 'y') t(v, w)
        |""".stripMargin).collect().head
    assert(out.getAs[collection.Seq[Long]]("s") == collection.Seq(6L, 60L))
    assert(out.getAs[collection.Seq[Long]]("m") == collection.Seq(1L, 10L))
    val top = out.getSeq[org.apache.spark.sql.Row](2)
    assert(top.head.getString(0) == "x" && top.head.getLong(1) == 2L)
  }

  test("pure SQL over a single-row-group fact gets its DataFrame twin's spread decision") {
    import org.apache.spark.sql.functions._
    def rr(df: org.apache.spark.sql.DataFrame): Int = SparkSpec.withTinyInputsSpread(spark) {
      "RoundRobinPartitioning".r.findAllIn(df.queryExecution.executedPlan.toString).length
    }
    val li = s"parquet.`$sf/lineitem.parquet`"
    // decimal-heavy partial aggregate: one spread
    val heavySql = spark.sql("SELECT sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      s"(1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev FROM $li")
    val heavyDf = Tables.lineitem(spark, sf)
      .agg(sum(graft.functions.Money.dec(col("l_extendedprice")) *
        (lit(1) - graft.functions.Money.dec(col("l_discount")))).as("rev"))
    assert(rr(heavySql) == 1 && rr(heavyDf) == 1, heavySql.queryExecution.executedPlan)
    // reduce-first over date math: none
    val lightSql = spark.sql(s"SELECT year(l_shipdate) AS y, count(*) AS n FROM $li GROUP BY 1")
    val lightDf = Tables.lineitem(spark, sf).groupBy(year(col("l_shipdate")).as("y")).agg(count(lit(1)).as("n"))
    assert(rr(lightSql) == 0 && rr(lightDf) == 0, lightSql.queryExecution.executedPlan)
  }
}
