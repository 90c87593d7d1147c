package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, GraftPlans}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.storage.StorageLevel

/** The one materialization primitive for multi-consumer intermediates.
  *
  * [[share]] wraps a frame's plan in a [[Share]] node; building the
  * frame runs nothing. When an action runs a plan that reads the share
  * (once or from several branches), the first branch to execute it
  * materializes the child as row blocks — copied rows persisted at
  * `StorageLevel.MEMORY_AND_DISK`, which keeps them in memory as
  * deserialized objects and serializes only the blocks that spill to
  * disk — and every other branch of the same action reads those
  * blocks. Row blocks, not the columnar cache: no column encoding to
  * build, and consumers read the rows as they are — 0.36–0.84× the
  * columnar cache's time on the grain queries at sf0.1
  * (OPTIMIZATION_r17.md §2).
  *
  * Lifetime: per action. The blocks are keyed by the action's SQL
  * execution id and freed when that execution ends, whether it
  * succeeded or failed (the end event rides the listener bus, so the
  * free lands just after the action returns). Nothing outlives the
  * action, so a caller has nothing to release.
  *
  * Concurrency: two actions over one frame — concurrent or not — run
  * under different execution ids and never read or free each other's
  * blocks. Within one action, branches share only when their physical
  * children are identical (canonical plan equality), so a branch
  * re-planned differently by AQE reads its own materialization, never
  * rows partitioned for another.
  *
  * Safety: the blocks are a persisted RDD with its lineage intact, not
  * a checkpoint — a lost block is recomputed from the child, never
  * read as missing rows. A plan run outside any SQL execution (a bare
  * `queryExecution.toRdd`) reads its child directly, unshared.
  *
  * Placement: the share reports its child's partitioning and ordering,
  * so a consumer keyed like the child plans no exchange over it. An
  * `observe` counter belongs ABOVE a share or behind an exchange, never
  * inside one: a branch that reads another branch's blocks never runs
  * its own copy of the counter. */
object Caching {
  /** A frame whose plan materializes `df` once per action that reads
    * it. Lazy: building it starts no job. */
  def share(df: DataFrame): DataFrame = GraftPlans.ofRows(df, Share(df.queryExecution.analyzed))

  /** Logical share node: output, statistics and column set are the
    * child's. Its references are the child's whole output, so column
    * pruning never rewrites the child per consumer (which would give
    * every consumer a different, unshared child). */
  case class Share(child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override def references: AttributeSet = child.outputSet
    override protected def withNewChildInternal(c: LogicalPlan): Share = copy(child = c)
  }

  /** Physical share: see [[Caching]] for the lifetime and keying. */
  case class ShareExec(child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = child.outputOrdering
    override protected def doExecute(): RDD[InternalRow] =
      Option(sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)) match {
        case Some(id) => materialize(sparkContext, id.toLong, child)
        case None => child.execute()
      }
    override protected def withNewChildInternal(c: SparkPlan): ShareExec = copy(child = c)
  }

  /** Plans [[Share]] as [[ShareExec]]; injected by [[GraftExtensions]]. */
  object ShareStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Share(child) => ShareExec(planLater(child)) :: Nil
      case _ => Nil
    }
  }

  // (execution id, canonical child) -> the materialized rows
  private val live = new ConcurrentHashMap[(Long, SparkPlan), RDD[InternalRow]]()
  @volatile private var watched: SparkContext = _

  private def materialize(sc: SparkContext, executionId: Long, child: SparkPlan): RDD[InternalRow] = {
    watch(sc)
    val key = (executionId, child.canonicalized)
    Option(live.get(key)).getOrElse {
      // execute outside any lock: a child may block on a broadcast
      // whose own plan reads another share
      val rows = child.execute().map(_.copy())
        .setName(s"share of execution $executionId")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val won = live.putIfAbsent(key, rows)
      if (won == null) rows else { rows.unpersist(blocking = false); won }
    }
  }

  /** Free an execution's shares when it ends. One listener per context. */
  private def watch(sc: SparkContext): Unit = if (watched ne sc) synchronized {
    if (watched ne sc) {
      sc.addSparkListener(new SparkListener {
        override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
          case end: SparkListenerSQLExecutionEnd => free(end.executionId)
          case _ => ()
        }
      })
      watched = sc
    }
  }

  private def free(executionId: Long): Unit =
    live.entrySet.removeIf { e =>
      e.getKey._1 == executionId && { e.getValue.unpersist(blocking = false); true }
    }
}
