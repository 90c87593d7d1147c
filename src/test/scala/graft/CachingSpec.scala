package graft

import org.apache.spark.GraftBlocks
import org.apache.spark.sql.functions._

/** The one materialization primitive, [[Caching.share]]: a plan node
  * that builds nothing, materializes once per action, and leaves the
  * block manager as it found it — success or failure, serial or
  * concurrent. */
class CachingSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  // Set-based leak checks, not counts: earlier suites leave
  // checkpoints behind that the ContextCleaner may reclaim MID-TEST,
  // which would make a count comparison flaky. Only RDDs and blocks
  // registered DURING the test may not survive it.
  private def persistentRddIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Run `action` under a [[Profile]] window: it may leave no persisted
    * RDD, and, after a bounded moment for the asynchronous block
    * removal, no RDD block the window did not start with. */
  private def assertRestored(clue: String)(action: => Unit): Unit = {
    val blocks = GraftBlocks.rddBlocks(sc)
    val (_, profile) = Profile.window(spark)(_ => action)
    assert(profile.leaked.isEmpty, s"$clue: leaked persistent RDDs ${profile.leaked}")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var left = GraftBlocks.rddBlocks(sc) -- blocks
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50); left = GraftBlocks.rddBlocks(sc) -- blocks
    }
    assert(left.isEmpty, s"$clue: leaked RDD blocks $left")
  }

  /** A deterministic source that counts how often its rows are
    * computed: each evaluation of the UDF is one row computed. */
  private def counted(n: Int) = {
    val evals = sc.longAccumulator
    val tick = udf((x: Long) => { evals.add(1); x })
    (spark.range(0, n, 1, 4).select(tick($"id").as("x")), evals)
  }

  test("a share is a plan node: building its frame starts no SQL execution") {
    val (out, profile) = Profile.window(spark) { p =>
      p.build {
        val shared = Caching.share(Seq(1, 2, 3).toDF("x").withColumn("y", $"x" * 2))
        shared.join(shared.groupBy().sum("y"))
      }
    }
    assert(profile.build.executions.isEmpty, s"building a shared frame must not run it: ${profile.build.executions}")
    val shares = out.queryExecution.optimizedPlan.collect { case s: Caching.Share => s }
    assert(shares.size == 2, out.queryExecution.optimizedPlan)
    assert(out.queryExecution.executedPlan.toString.contains("Share"), out.queryExecution.executedPlan)
    assert(out.collect().map(_.getLong(2)).toSet == Set(12L))
  }

  test("one action computes a share once, however many branches read it") {
    val (base, evals) = counted(100)
    val branches = (df: org.apache.spark.sql.DataFrame) =>
      df.where($"x" % 2 === 0).union(df.where($"x" % 2 === 1))
    assert(branches(base).count() == 100)
    assert(evals.value == 200, "control: two unshared branches compute the source twice")
    evals.reset()
    assertRestored("after the action") {
      assert(branches(Caching.share(base)).collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
    }
    assert(evals.value == 100, "the shared source must be computed once")
  }

  test("a failed action frees its shares too") {
    val boom = udf((x: Long) => { if (x == 57) throw new IllegalStateException("boom"); x })
    assertRestored("after the failed action") {
      val shared = Caching.share(spark.range(0, 100, 1, 4).toDF("x"))
      val failing = shared.select(boom($"x").as("y")).union(shared.select($"x".as("y")))
      intercept[org.apache.spark.SparkException](failing.collect())
    }
  }

  test("a lost share block is recomputed from the child, never read as missing rows") {
    val (base, evals) = counted(40)
    val df = Caching.share(base).select(($"x" * 10).as("y"))
    val qe = df.queryExecution
    // two jobs inside ONE execution: the first materializes the share,
    // its blocks are dropped as an executor loss would drop them, and
    // the second must read the same rows again
    val (first, second, recomputed) =
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe) {
        val before = persistentRddIds
        val rdd = qe.toRdd
        val a = rdd.map(_.getLong(0)).collect().sorted.toSeq
        val shareRdds = sc.getPersistentRDDs.filter { case (id, r) =>
          !before(id) && String.valueOf(r.name).startsWith("share of execution") }
        assert(shareRdds.size == 1, s"expected one materialized share: $shareRdds")
        shareRdds.keys.foreach(GraftBlocks.dropBlocks(sc, _))
        val evalsBefore = evals.value
        val b = rdd.map(_.getLong(0)).collect().sorted.toSeq
        (a, b, evals.value - evalsBefore)
      }
    assert(first == (0L until 40L).map(_ * 10), first)
    assert(second == first, "a consumer read after the blocks were lost")
    assert(recomputed == 40, "the lost blocks must be recomputed from the child")
  }

  test("two concurrent actions over one frame never share or free each other's blocks") {
    val (base, _) = counted(200)
    val shared = Caching.share(base)
    val out = shared.groupBy(($"x" % 7).as("k")).agg(sum("x").as("s"))
      .join(shared.groupBy(($"x" % 7).as("k")).agg(count(lit(1)).as("n")), "k")
    val expect = out.collect().map(_.toSeq).toSet
    assert(expect.size == 7)
    val g = new graft.operators.JobGraph
    (1 to 2).foreach { i =>
      g.add(s"reader$i") {
        (1 to 3).foreach { _ =>
          val got = out.collect().map(_.toSeq).toSet
          require(got == expect, s"reader$i read $got")
        }
        1L
      }
    }
    assertRestored("after the concurrent actions") {
      val reports = g.runConcurrent(2)
      assert(reports.forall(_.status.ok), reports)
    }
  }

  test("edge: empty inputs through the new operators") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // prefix sum over nothing
    val scan = graft.operators.ScanOps.exclusivePrefixSum(
      emptyDocs.withColumn("n", lit(1L)), Seq("text"), Seq("doc_id"), $"n", "before")
    assert(scan.count() == 0)
    // quantiles over nothing
    val q = graft.operators.Quantiles.selectAtRanks(
      emptyDocs, "text", $"doc_id", $"doc_id", $"doc_id", Seq(50L), "v")
    assert(q.count() == 0)
    // exact verify with no candidates
    val noCands = Seq.empty[(Long, Long)].toDF("doc1", "doc2")
    val v = graft.text.DedupOps.verifyPairsExact(
      noCands, emptyDocs, "doc_id", $"text", 3, 50)
    assert(v.count() == 0)
    // resolveGroups over an empty pair set converges immediately
    val r = graft.text.DedupOps.resolveGroups(noCands)
    assert(r.count() == 0)
  }
}
