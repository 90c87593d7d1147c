package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The cache-scoping utility must actually free storage — a pattern
  * match that silently misses the checkpoint's plan node would turn
  * reap/release into no-ops and resurrect the round-2 leak. */
class CachingSpec extends SparkSpec {
  import spark.implicits._

  // Set-based leak check, not a count: earlier suites legitimately
  // leave reap-result checkpoints behind (freed by the ContextCleaner
  // at some future GC), and one being reclaimed MID-TEST would make a
  // count comparison flaky. Only RDDs registered DURING the test may
  // not survive it.
  private def persistentRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def assertNoNewPersistentRdds(before: Set[Int], clue: String): Unit = {
    val leaked = persistentRddIds -- before
    assert(leaked.isEmpty, s"$clue: leaked persistent RDDs $leaked")
  }

  test("release drops a localCheckpoint's blocks from the block manager") {
    val before = persistentRddIds
    val df = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    assert((persistentRddIds -- before).size == 1, "checkpoint must register an RDD")
    Caching.release(df)
    assertNoNewPersistentRdds(before, "release must unpersist the checkpoint RDD")
  }

  test("reap materializes the result and unpersists the temps") {
    val temp = Seq(1, 2, 3, 4).toDF("x").persist()
    temp.count()
    assert(temp.storageLevel.useMemory, "temp should be persisted")
    val out = Caching.reap(temp.groupBy(($"x" % 2).as("k")).count())(temp)
    assert(!temp.storageLevel.useMemory, "reap must unpersist the temp")
    assert(out.count() == 2) // and the result is still correct
    Caching.release(out)
  }

  test("share: a checkpoint handle with the input's rows, and reap frees it") {
    val base = Seq(1, 2, 3, 4, 5).toDF("x").withColumn("y", $"x" * 2)
    val expect = base.collect().map(_.toSeq).toSet
    val before = persistentRddIds
    val shared = Caching.share(base)
    assert(shared.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "a share is its checkpoint's LogicalRDD, built eagerly")
    assert((persistentRddIds -- before).size == 1, "the share must hold its blocks")
    assert(shared.collect().map(_.toSeq).toSet == expect)
    val out = Caching.reap(shared.groupBy().sum("y"))(shared)
    assert(out.collect().head.getLong(0) == 30L)
    Caching.release(out)
    assertNoNewPersistentRdds(before, "reap+release must leave no new persistent RDDs")
  }

  test("unshare frees a share; release on a DERIVED frame is a no-op") {
    val before = persistentRddIds
    val shared = Caching.share(Seq(1, 2, 3, 4).toDF("x"))
    // a frame DERIVED from the share must not be able to drop the
    // share's blocks (localCheckpoint cannot recompute them — the old
    // plan-wide release was a "checkpoint block not found" trap)
    val derived = shared.where($"x" > 1)
    Caching.release(derived)
    assert(derived.count() == 3, "derived read after release(derived)")
    assert(shared.collect().length == 4, "share must survive release of a derived frame")
    // the owning handle releases it in one move
    Caching.unshare(shared)
    assertNoNewPersistentRdds(before, "unshare must free the share")
  }

  test("share safety: a consumer of a dropped share throws, never returns rows") {
    val shared = Caching.share(Seq(1, 2, 3).toDF("x"))
    val consumer = shared.where($"x" > 1).select(($"x" * 10).as("y"))
    // the blocks vanish before the consumer runs (an executor loss, or
    // an early release): a checkpoint has no lineage to recompute
    // them from, so the only correct outcome is a failed job. Blocking
    // drop, so the consumer cannot race the removal and still read them.
    shared.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
      case other => fail(s"share is not a checkpoint handle: $other")
    }
    val err = intercept[org.apache.spark.SparkException](consumer.collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), err)
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
