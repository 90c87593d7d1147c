package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, RangeJoin, Upsert}

/** Degenerate-input behavior: empty sides, single rows, all-null
  * payloads — the shapes that appear at 100 TB as empty partitions,
  * cold-start snapshots, and late-bootstrapping streams. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val emptyKV = Seq.empty[(Long, Long, String)].toDF("rk", "rt", "rv")

  test("as-of left join with an empty right keeps all left rows unmatched") {
    val left = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("lk", "lt", "tag")
    val out = AsOfJoin(left, emptyKV, "lk", "rk", "lt", "rt", Seq("rv"), "left")
    assert(out.count() == 2)
    assert(out.where(col("rv").isNotNull).count() == 0)
    // inner join on empty right: nothing
    assert(AsOfJoin(left, emptyKV, "lk", "rk", "lt", "rt", Seq("rv"), "inner").count() == 0)
  }

  test("upsert with an empty change batch is the identity") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val none = Seq.empty[(Long, String, String)].toDF("k", "v", "__op")
    val out = Upsert(base, none, Seq("k"), "__op")
    assert(out.exceptAll(base).isEmpty && base.exceptAll(out).isEmpty)
  }

  test("upsert into an empty base is just the upsert rows") {
    val base = Seq.empty[(Long, String)].toDF("k", "v")
    val changes = Seq((1L, "a", "U"), (2L, null: String, "D")).toDF("k", "v", "__op")
    val out = Upsert(base, changes, Seq("k"), "__op").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a")))
  }

  test("range join with empty intervals emits nothing; inverted intervals are dropped") {
    val points = Seq((1L, 50L)).toDF("pk", "p")
    val none = Seq.empty[(Long, Long, Long)].toDF("ik", "s", "e")
    assert(RangeJoin.pointInInterval(points, none, "p", "s", "e", Seq(("pk", "ik")), 10L).count() == 0)
    val inverted = Seq((1L, 100L, 10L)).toDF("ik", "s", "e") // end < start
    assert(RangeJoin.pointInInterval(points, inverted, "p", "s", "e", Seq(("pk", "ik")), 10L).count() == 0)
  }

  test("negative range axis buckets correctly (div floors toward zero — spans still cover)") {
    // points/intervals on a negative axis (e.g. pre-epoch timestamps)
    val points = Seq((1L, -95L), (1L, -5L), (1L, 5L)).toDF("pk", "p")
    val intervals = Seq((1L, -100L, 10L, "span")).toDF("ik", "s", "e", "tag")
    val out = RangeJoin.pointInInterval(points, intervals, "p", "s", "e",
      Seq(("pk", "ik")), 30L)
    assert(out.count() == 3)
  }

  test("simhash64/minhash_sig on empty and single-token docs") {
    val df = Seq((1L, ""), (2L, "one"), (3L, "a b c d e")).toDF("doc_id", "text")
    val sh = graft.text.DedupOps.simhash(df, "doc_id", col("text"))
    assert(sh.count() == 3) // total function: every doc gets a hash
    val mh = graft.text.DedupOps.minhashSignaturesNative(df, "doc_id", col("text"), n = 3, k = 4)
    // docs 1 and 2 have < 3 tokens -> no signature row
    assert(mh.select("doc_id").as[Long].collect().toSeq == Seq(3L))
  }

  test("knnJoinExact on degenerate corpora: single vector, k > corpus") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    def emb(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // one vector: no self-match, empty result
    val one = emb((1L, Seq(1f, 0f)))
    assert(graft.vector.VectorOps.knnJoinExact(one, "vec_id", "embedding", k = 3).count() == 0)
    // k exceeds corpus-1: every other vector returned, ranks contiguous
    val three = emb((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
    val out = graft.vector.VectorOps.knnJoinExact(three, "vec_id", "embedding", k = 10)
      .select("query_id", "rank").as[(Long, Int)].collect()
    assert(out.length == 6) // 3 queries × 2 neighbors
    assert(out.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2)))
  }

  test("round-8 corpus profiles survive dirty corpora (null text/source/n_chars)") {
    val dirty = Seq(
      (1L, "a", "alpha beta gamma delta epsilon zeta", 35L),
      (2L, "a", null, 0L),                       // null text: no tokens, no grams
      (3L, null, "alpha beta gamma delta epsilon zeta", 35L), // null source
      (4L, "b", "alpha beta gamma delta epsilon eta", 34L)
    ).toDF("doc_id", "source", "text", "n_chars")

    // diversity: null-text doc contributes no token rows; the null
    // source keeps its own row (GROUP BY groups nulls in both engines)
    val div = QueriesText.sourceDiversityOn(dirty)
      .select($"source", $"n_tokens").as[(Option[String], Long)].collect().toMap
    assert(div == Map(Some("a") -> 6L, Some("b") -> 6L, None -> 6L), div)

    // overlap: the null source can never satisfy source_a < source_b —
    // only the (a, b) pair appears, with 5 of 2+2 distinct grams...
    val ov = QueriesText.sourceOverlapOn(dirty)
      .select($"source_a", $"source_b", $"n_inter").as[(String, String, Long)].collect().toList
    assert(ov.map(p => (p._1, p._2)) == List(("a", "b")), ov)

    // pmi: no crash, support filter holds on a tiny corpus
    assert(QueriesText.pmiBigramsOn(dirty).count() == 0)

    // drift: every doc lands in a bucket row (doc 2's 0 chars ->
    // bucket 0), and the EMPTY test split (ids 1-4 hash to c,c,e,a)
    // yields NULL permille — the ANSI divide-by-zero path must be
    // exercised, so collect the full share/drift columns
    val drift = QueriesText.splitDriftOn(dirty)
      .select($"bucket", $"n_train" + $"n_val" + $"n_test",
        $"train_permille", $"test_permille", $"drift_permille")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long])].collect()
    assert(drift.map(_._2).sum == 4L, drift.toSeq)
    assert(drift.forall(_._4.isEmpty), s"empty split must give NULL permille: ${drift.toSeq}")
    // drift still computes from the two populated splits
    assert(drift.forall(_._5.isDefined), drift.toSeq)
  }

  test("empty corpora: round-8 profiles return zero rows, never throw") {
    val empty = Seq.empty[(Long, String, String, Long)].toDF("doc_id", "source", "text", "n_chars")
    assert(QueriesText.sourceDiversityOn(empty).count() == 0)
    assert(QueriesText.sourceOverlapOn(empty).count() == 0)
    assert(QueriesText.pmiBigramsOn(empty).count() == 0)
    assert(QueriesText.splitDriftOn(empty).count() == 0)
    val noOrders = Seq.empty[(Long, Long, java.sql.Timestamp, Double)]
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    assert(QueriesEtl.benfordOn(noOrders).count() == 0)
    assert(QueriesAnalytics.dailyTrendOn(noOrders).count() == 0)
    assert(QueriesScale.revenueGiniOn(noOrders).count() == 1) // 1-row summary: n=0
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(QueriesAnalytics.eventGapsOn(noEvents).count() == 0)
  }

  test("lang confusion survives null text and a single-label corpus") {
    // null text tokenizes to null hits -> every when() branch skips ->
    // predicted "unknown"; a single-label corpus puts the whole window
    // total on one label and the shares must still sum to ~1000
    val dirty = Seq(
      (1L, "en", "the cat is on the mat and it is flat"),
      (2L, "en", null: String),
      (3L, "en", "der hund ist nicht mit der katze und das ist gut")
    ).toDF("doc_id", "lang", "text")
    val m = QueriesText.langConfusionOn(dirty)
      .select($"lang", $"predicted", $"n", $"lang_total", $"share_permille")
      .as[(String, String, Long, Long, Long)].collect().toList
    assert(m.map(r => (r._2, r._3)).toMap ==
      Map("en" -> 1L, "unknown" -> 1L, "de" -> 1L), m)
    assert(m.forall(_._4 == 3L), s"single-label total must span the corpus: $m")
    // integer-permille shares: 333 each, floor division
    assert(m.map(_._5).sum == 999L, m)
  }

  test("source quality survives null text and an all-null single source") {
    // null text is unscoreable by contract: counted in n_docs, in no
    // bucket; a source whose EVERY doc is null-text must report a NULL
    // mean (sum over no rows), never crash or claim a score
    val dirty = Seq(
      ("a", "the cat is on the mat and it is flat so the rat sat"),
      ("a", null: String),
      ("b", null: String)
    ).toDF("source", "text")
    val q = QueriesText.sourceQualityOn(dirty)
      .select($"source", $"n_docs", $"mean_quality_permille",
        $"n_high" + $"n_medium" + $"n_low")
      .as[(String, Long, Option[Long], Long)].collect().toList
    val bySource = q.map(r => r._1 -> r).toMap
    assert(bySource("a")._2 == 2L && bySource("a")._4 == 1L,
      s"null-text doc counts in n_docs but lands in no bucket: $q")
    assert(bySource("b")._2 == 1L && bySource("b")._4 == 0L, q.toString)
    assert(bySource("b")._3.isEmpty, s"all-null source must have NULL mean: $q")
    assert(bySource("a")._3.isDefined, q.toString)
  }

  test("yearly distincts: NULL years and empty tables, with the rewrite on and off") {
    // a tiny orders table with a NULL o_orderdate (-> NULL year group)
    // and a year (1997) carried by a single row
    val dir = java.nio.file.Files.createTempDirectory("graft_yd").toString
    Seq(
      (1L, java.sql.Date.valueOf("1995-01-03"), "1-URGENT", "O"),
      (2L, java.sql.Date.valueOf("1995-06-09"), "2-HIGH", "F"),
      (2L, null.asInstanceOf[java.sql.Date], "2-HIGH", "O"),
      (3L, null.asInstanceOf[java.sql.Date], "3-MEDIUM", "O"),
      (4L, java.sql.Date.valueOf("1997-12-31"), "1-URGENT", "P")
    ).toDF("o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    def run(): Seq[(Option[Int], Long, Long, Long, Long)] =
      QueriesAnalytics.yearlyDistincts(spark, dir)
        .as[(Option[Int], Long, Long, Long, Long)].collect().toSeq

    def ruleOff[A](f: => A): A = SparkSpec.withoutRules(spark, SparkSpec.ExpandFreeDistinctRule)(f)
    val withRule = run()
    val withoutRule = ruleOff(run())

    assert(withRule == withoutRule,
      s"rewrite must be result-identical:\n on=$withRule\n off=$withoutRule")
    // NULL year is a real group: custkeys {2,3}, priorities
    // {2-HIGH,3-MEDIUM}, statuses {O}, 2 orders
    val byYear = withRule.map(r => r._1 -> r).toMap
    assert(byYear.contains(None), s"NULL-year group must survive the rewrite: $withRule")
    assert(byYear(None) == ((None, 2L, 2L, 1L, 2L)), byYear(None).toString)
    // a single-row year counts its one-of-each distincts
    assert(byYear(Some(1997)) == ((Some(1997), 1L, 1L, 1L, 1L)), byYear.toString)
    // NULLS: count(DISTINCT) never counts the null year as a value col
    assert(byYear(Some(1995)) == ((Some(1995), 2L, 2L, 2L, 2L)), byYear.toString)

    // empty table: zero groups, no throw, both paths
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_yd_empty").toString
    Seq.empty[(Long, java.sql.Date, String, String)]
      .toDF("o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$emptyDir/orders.parquet")
    assert(QueriesAnalytics.yearlyDistincts(spark, emptyDir).count() == 0)
    assert(ruleOff(QueriesAnalytics.yearlyDistincts(spark, emptyDir).count()) == 0)
  }

  test("streaming dedup gate skips docs too short to sign") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[graft.streaming.DedupStream.Doc]
    val q = graft.streaming.DedupStream.candidates(in.toDF())
      .writeStream.format("memory").queryName("gate_short").outputMode("append").start()
    try {
      in.addData(
        graft.streaming.DedupStream.Doc(1, "", java.sql.Timestamp.valueOf("2026-01-01 10:00:00")),
        graft.streaming.DedupStream.Doc(2, "one two", java.sql.Timestamp.valueOf("2026-01-01 10:00:00")))
      q.processAllAvailable()
      // sub-n-token docs produce no signature -> no state, no crash
      assert(spark.table("gate_short").count() == 0)
    } finally q.stop()
  }
}
