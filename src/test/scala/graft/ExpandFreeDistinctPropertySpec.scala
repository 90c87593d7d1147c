package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test: on arbitrary small datasets (with NULLs in both
  * group keys and distinct columns) and arbitrary eligible aggregate
  * shapes, the Expand-free rewrite fires (through the session's real
  * injection) and returns exactly the rows Spark's own Expand path
  * (rule conf'd off) returns. */
class ExpandFreeDistinctPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed0: Long): Seq[A] = {
    var seed = Seed(seed0)
    (1 to n).flatMap { _ =>
      val r = g.apply(Gen.Parameters.default, seed)
      seed = seed.next
      r
    }
  }

  private val rowGen: Gen[(Option[String], Option[Long], Option[Long], Double)] = for {
    g <- Gen.option(Gen.oneOf("x", "y", "z"))
    a <- Gen.option(Gen.chooseNum(0L, 4L))
    b <- Gen.option(Gen.chooseNum(0L, 2L))
    v <- Gen.chooseNum(-5, 5).map(_.toDouble)
  } yield (g, a, b, v)

  private val caseGen: Gen[(List[(Option[String], Option[Long], Option[Long], Double)], Boolean, List[String], List[String])] =
    for {
      n <- Gen.chooseNum(0, 40)
      rows <- Gen.listOfN(n, rowGen)
      grouped <- Gen.oneOf(true, false)
      distincts <- Gen.someOf(
        "count(DISTINCT a) AS da", "sum(DISTINCT a) AS sa",
        "count(DISTINCT b) AS db", "avg(DISTINCT b) AS ab",
        "max(DISTINCT v) AS mv").map(_.toList)
      others <- Gen.someOf("sum(v) AS sv", "count(1) AS n", "min(v) AS minv").map(_.toList)
    } yield (rows, grouped, distincts, others)

  test("rewritten plans return exactly what Spark's Expand path returns") {
    var fired = 0
    for (((rows, grouped, distincts, others), i) <- samples(caseGen, 25, 0xEFD7).zipWithIndex) {
      // eligibility needs >= 2 DIFFERENT distinct columns
      val cols = distincts.map(_.split('(')(1).takeWhile(_ != ')').stripPrefix("DISTINCT ")).distinct
      if (cols.size >= 2) {
        rows.toDF("g", "a", "b", "v").createOrReplaceTempView(s"efdp_$i")
        val sel = (if (grouped) Seq("g") else Nil) ++ distincts ++ others
        val sql = s"SELECT ${sel.mkString(", ")} FROM efdp_$i" +
          (if (grouped) " GROUP BY g" else "")
        // baseline: Spark's own planning (rule disabled)
        val expect = SparkSpec.withoutRules(spark, SparkSpec.ExpandFreeDistinctRule) {
          spark.sql(sql).collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")).toList
        }
        // active: through the session's injected rule
        val out = spark.sql(sql)
        assert(!out.queryExecution.executedPlan.toString.contains("Expand"),
          s"case $i must rewrite: $sql")
        fired += 1
        val got = out.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")).toList
        assert(got == expect, s"case $i: $sql\n got    $got\n expect $expect")
      }
    }
    assert(fired >= 10, s"generator must produce enough eligible cases, got $fired")
  }
}
