package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Cache scoping for multi-consumer operator pipelines.
  *
  * Operators that persist an intermediate consumed by several plan
  * branches (postings, signatures, inverted lists) must not leak that
  * storage past their own lifetime: in a long-lived session running
  * many queries, leaked blocks accumulate in the block manager and
  * the resulting GC pressure taxes every *later* query (the round-2
  * bench regression cluster was exactly this).
  *
  * [[reap]] is the owning-handle pattern in one move: eagerly
  * materialize the operator's (small) result via an executor-local
  * checkpoint — cutting its lineage over the temps — then release the
  * temps' storage. The caller receives a frame whose storage is the
  * result rows only.
  */
object Caching {
  /** Share a multi-consumer intermediate: materialize it ONCE, as an
    * eager `localCheckpoint`, so the consumers never re-execute the
    * subtree. Rows land in the block manager as plain serialized row
    * blocks (MEMORY_AND_DISK): one serialization pass to build, and
    * consumers deserialize rows directly. Against the columnar cache
    * it measured 10–25% faster end to end on every postings/grain
    * query at sf0.1, same rows (OPTIMIZATION_r17.md §2).
    *
    * The checkpoint truncates lineage: blocks lost before a consumer
    * runs fail that consumer ("checkpoint block not found") instead
    * of recomputing — fine while the share is not the job's sole
    * fault-tolerance point, the same trade [[reap]] makes for
    * results. A share's own executed plan is visible to a
    * `QueryExecutionListener` as the `localCheckpoint` action. */
  def share(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Materialize `result` eagerly and release every `temps` frame's
    * block-manager storage. The returned frame scans the checkpointed
    * rows; the temps' lineage is no longer referenced.
    *
    * Use when the result is much smaller than the temps (candidate
    * pairs vs postings) — the checkpoint itself occupies storage until
    * the frame is garbage-collected or [[release]]d. */
  def reap(result: DataFrame)(temps: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(eager = true)
    temps.foreach(unshare)
    out
  }

  /** Release a [[share]]d frame's storage: [[release]] drops the
    * checkpoint's LogicalRDD blocks, for which `Dataset.unpersist` is
    * a no-op (localCheckpoint RDDs never enter the cacheManager);
    * `unpersist` covers frames `.persist`ed directly (the DedupOps
    * postings shares). Callers that hold a share past a [[reap]] — or
    * never reap at all — must route their cleanup here, not through a
    * bare `.unpersist`. */
  def unshare(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    release(df)
  }

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * frame (the ContextCleaner would only reclaim it at some future
    * GC; iterative loops need each round freed deterministically).
    *
    * Only fires when the frame's plan ROOT is itself the checkpoint's
    * LogicalRDD — i.e. the frame IS the checkpoint handle. Releasing
    * every LogicalRDD found anywhere in a plan would let a frame
    * merely DERIVED from a still-live checkpointed share drop that
    * share's blocks, which a localCheckpoint cannot recompute
    * ("checkpoint block not found" on the next consumer). A derived
    * frame is a no-op here; its underlying share is released by
    * whoever owns the share handle. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
