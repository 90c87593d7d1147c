package graft

import graft.operators.AsOfJoin

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private val right = Seq(
    (1L, 100L, "r100"), (1L, 200L, "r200"), (1L, 300L, "r300"),
    (2L, 150L, "x150")
  ).toDF("rk", "rt", "rv")

  private val left = Seq(
    (1L, 50L, "before-any"),   // no right row <= 50
    (1L, 100L, "tie"),         // equal timestamps match
    (1L, 250L, "between"),     // picks r200, not r300
    (1L, 999L, "after-all"),   // picks r300
    (3L, 500L, "no-key")       // key absent from right
  ).toDF("lk", "lt", "tag")

  test("as-of join picks the most recent right row at-or-before each left time") {
    val out = AsOfJoin(left, right, "lk", "rk", "lt", "rt", Seq("rv"), "inner")
      .select("tag", "rv").as[(String, String)].collect().toMap
    assert(out == Map("tie" -> "r100", "between" -> "r200", "after-all" -> "r300"))
  }

  test("left as-of join keeps unmatched rows with nulls") {
    val out = AsOfJoin(left, right, "lk", "rk", "lt", "rt", Seq("rv"), "left")
      .select("tag", "rv").as[(String, Option[String])].collect().toMap
    assert(out("before-any").isEmpty && out("no-key").isEmpty)
    assert(out("between").contains("r200"))
    assert(out.size == 5)
  }

  test("a NULL in a carried right column is not backfilled from an older right row") {
    // right row at t=200 has c1 = NULL; the joined output must carry
    // that NULL, not splice in c1 from the t=100 row (chimera bug).
    val r = Seq(
      (1L, 100L, Option("a"), Option("x")),
      (1L, 200L, Option.empty[String], Option("y"))
    ).toDF("rk", "rt", "c1", "c2")
    val l = Seq((1L, 250L)).toDF("lk", "lt")
    val out = AsOfJoin(l, r, "lk", "rk", "lt", "rt", Seq("c1", "c2"))
      .select("c1", "c2").as[(Option[String], Option[String])].collect().head
    assert(out == (None, Some("y")))
  }

  test("forward as-of picks the earliest right row at-or-after each left time") {
    val out = AsOfJoin(left, right, "lk", "rk", "lt", "rt", Seq("rv"),
      joinType = "left", direction = "forward")
      .select("tag", "rv").as[(String, Option[String])].collect().toMap
    assert(out("before-any").contains("r100")) // next row after t=50
    assert(out("tie").contains("r100"))        // equal timestamps match forward too
    assert(out("between").contains("r300"))    // next after 250
    assert(out("after-all").isEmpty)           // nothing after t=999
    assert(out("no-key").isEmpty)
  }

  test("rightTieBreak equals dedupLatest-then-join on duplicate right (key, time) rows") {
    // two right rows share (rk=1, rt=200); dedupLatest keeps the max
    // tie-break (id=7). The fused tie-break must carry exactly that
    // row — including its OTHER payload columns — in both directions.
    val dup = Seq(
      (1L, 100L, 1L, "a100"),
      (1L, 200L, 7L, "keep200"), (1L, 200L, 3L, "drop200"),
      (1L, 300L, 5L, "a300"), (1L, 300L, 9L, "keep300")
    ).toDF("rk", "rt", "rid", "rv")
    val probes = Seq((1L, 150L, "p150"), (1L, 200L, "p200"),
      (1L, 250L, "p250"), (1L, 350L, "p350")).toDF("lk", "lt", "tag")
    for (dirn <- Seq("backward", "forward")) {
      val deduped = graft.operators.Silver.dedupLatest(dup, Seq("rk", "rt"), Seq($"rid"))
      val expect = AsOfJoin(probes, deduped, "lk", "rk", "lt", "rt",
        Seq("rid", "rv"), "left", dirn)
        .select("tag", "rid", "rv").collect().map(_.toSeq).toSet
      val fused = AsOfJoin(probes, dup, "lk", "rk", "lt", "rt",
        Seq("rid", "rv"), "left", dirn, rightTieBreak = Seq("rid"))
        .select("tag", "rid", "rv").collect().map(_.toSeq).toSet
      assert(fused == expect, s"direction=$dirn: fused tie-break diverged from dedupLatest")
    }
  }

  test("left key/time re-projection preserves names, types and values") {
    val out = AsOfJoin(left, right, "lk", "rk", "lt", "rt", Seq("rv"), "inner")
    assert(out.columns.toSeq == Seq("lk", "lt", "tag", "rv"))
    val back = out.select("lk", "lt", "tag").as[(Long, Long, String)].collect().toSet
    assert(back == Set((1L, 100L, "tie"), (1L, 250L, "between"), (1L, 999L, "after-all")))
  }

  test("a nullable rightTieBreak column is rejected; notNull admits it and fails on a null row") {
    val nullable = Seq((1L, 200L, Option(7L)), (1L, 200L, Option.empty[Long])).toDF("rk", "rt", "rid")
    val probes = Seq((1L, 250L, "p250")).toDF("lk", "lt", "tag")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin(probes, nullable, "lk", "rk", "lt", "rt", Seq("rid"), rightTieBreak = Seq("rid"))
    }
    assert(e.getMessage.contains("rid"))
    val guarded = nullable.withColumn("rid", AsOfJoin.notNull($"rid"))
    assert(!guarded.schema("rid").nullable)
    val run = intercept[Exception] {
      AsOfJoin(probes, guarded, "lk", "rk", "lt", "rt", Seq("rid"), rightTieBreak = Seq("rid"))
        .collect()
    }
    assert(Iterator.iterate[Throwable](run)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("NOT_NULL_ASSERT_VIOLATION")), run.toString)
    val clean = Seq((1L, 200L, 7L)).toDF("rk", "rt", "rid").withColumn("rid", AsOfJoin.notNull($"rid"))
    assert(AsOfJoin(probes, clean, "lk", "rk", "lt", "rt", Seq("rid"), rightTieBreak = Seq("rid"))
      .select("rid").as[Long].collect().toSeq == Seq(7L))
  }

  test("left key/time keep the left types when the right side's are wider") {
    // int key and int time on the left, bigint on the right: the union
    // widens __k/__t to bigint, the output must not
    val l = Seq((1, 150, "p150"), (1, 250, "p250")).toDF("lk", "lt", "tag")
    val r = Seq((1L, 100L, "r100"), (1L, 200L, "r200")).toDF("rk", "rt", "rv")
    val out = AsOfJoin(l, r, "lk", "rk", "lt", "rt", Seq("rv"))
    assert(out.schema("lk").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.schema("lt").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.select("lk", "lt", "rv").as[(Int, Int, String)].collect().toSet ==
      Set((1, 150, "r100"), (1, 250, "r200")))
  }

  test("plan shuffles once on the key (window, no join node)") {
    val plan = AsOfJoin(left, right, "lk", "rk", "lt", "rt", Seq("rv"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"))
  }
}
