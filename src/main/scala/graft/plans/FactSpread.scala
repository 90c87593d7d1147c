package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DecimalType, StringType}

/** Optimizer rule: round-robin-spread a file scan that cannot feed
  * the cores by itself, when the rows it yields carry heavy per-row
  * work before their first exchange.
  *
  * An unsplittable input (one parquet row group, one gzip file) scans
  * in one task however many cores exist, and so does every narrow
  * operator above it up to the first exchange. A round-robin
  * repartition right above the scan fans that map work out — at the
  * price of one extra full-row exchange. Measured per query on
  * single-row-group testdata (OPTIMIZATION_r18.md §2.1) the trade is
  * bimodal, and the plan shape alone tells the two modes apart:
  *
  *  - spread when the map-side work between the scan and its first
  *    exchange or broadcast build is HEAVY per row: a Generate, string
  *    functions or regex extraction over a string column, hashing,
  *    decimal arithmetic between two columns, central-moment or
  *    regression aggregates, a UDF or typed lambda, or a graft native
  *    expression (1.2–2.2× slower without);
  *  - do not spread when that work is column picks, filters (they run
  *    in the scan's task either way), predicates, and date or integer
  *    math ending in a partial aggregate, a keyed exchange (shuffled
  *    join, window, repartition, global sort) or a broadcast build:
  *    the map side already collapses or re-keys every row, so the
  *    spread is a second full-row exchange (0.30–0.83×). Nor under a
  *    limit: unspread, the scan reads only the rows it keeps.
  *
  * The streamed side of a broadcast hash join is narrow, so the walk
  * continues through it to the operator above, counting only work that
  * reads the streamed side's columns; build sides follow Spark's own
  * choice (hints, then `autoBroadcastJoinThreshold`). The per-class
  * calibration and its A/Bs are in plans/r19/README.md.
  *
  * Gate: only a non-streaming file scan that yields fewer partitions
  * than `spark.sql.shuffle.partitions` is considered, counted the way
  * the file scan splits it. A splittable layout — many files or row
  * groups, any real cluster table — is never spread, so on such data
  * the rule is an identity. Nor is an input smaller than AQE's minimum
  * shuffle partition
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`): every
  * spread partition of it would be a task AQE deems too small to run
  * alone, and dimension-sized scans measured 1.3–2.6× slower spread.
  *
  * An existing exchange above the scan (the keyed doc-id spread of
  * `Tables.documents`, or this rule's own repartition on a later pass)
  * is a stop, which keeps the rule idempotent under the fixed-point
  * batch. The repartition goes directly above the relation; column
  * pruning and predicate pushdown then move the pruned projection and
  * the filters below it, so the scan's ReadSchema and PushedFilters
  * stay those of the bare scan. Spark's
  * `spark.sql.optimizer.excludedRules=graft.plans.FactSpread` turns
  * the rule off.
  */
final case class FactSpread(session: SparkSession) extends Rule[LogicalPlan]
    with JoinSelectionHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan else visit(plan, AttributeSet.empty)

  /** `work`: the columns that heavy per-row work between `p`'s output
    * and the first exchange above it reads (empty: no heavy work).
    * `limited`: a limit sits in that run, so the scan only reads the
    * rows the limit keeps and a spread would make it read and ship
    * every row instead. */
  private def visit(p: LogicalPlan, work: AttributeSet, limited: Boolean = false): LogicalPlan =
    p match {
      case r: LogicalRelation =>
        r.relation match {
          case fs: HadoopFsRelation if work.nonEmpty && !limited &&
              fs.location.sizeInBytes >= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) &&
              FactSpread.scanPartitions(session, fs) < conf.numShufflePartitions =>
            Repartition(conf.numShufflePartitions, shuffle = true, r)
          case _ => r
        }
      // partial aggregation runs map-side: its keys and the inputs of
      // its aggregate functions count, its result expressions do not
      case a: Aggregate =>
        val mapSide = a.groupingExpressions ++
          a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
        a.mapChildren(visit(_, heavyRefs(mapSide)))
      // the streamed side of a broadcast join carries the run on; work
      // that reads only build-side columns runs once per match, which
      // the (small) build side bounds, so it does not make the streamed
      // scan heavy (measured: q_shipping_priority 1.23× spread). Columns
      // from neither side were defined above by an operator this walk
      // does not trace back, and count for the streamed side.
      case j: Join =>
        val build = getBroadcastBuildSide(j, hintOnly = true, conf)
          .orElse(getBroadcastBuildSide(j, hintOnly = false, conf))
        val all = work ++ heavyRefs(j.condition.toSeq)
        def side(child: LogicalPlan, other: LogicalPlan, streamed: Boolean) =
          if (streamed && all.exists(c => !other.outputSet.contains(c))) visit(child, all, limited)
          else visit(child, AttributeSet.empty)
        j.withNewChildren(Seq(
          side(j.left, j.right, build.contains(BuildRight)),
          side(j.right, j.left, build.contains(BuildLeft))))
      case _: RepartitionOperation | _: RebalancePartitions | _: Window =>
        p.mapChildren(visit(_, AttributeSet.empty))
      // a share's child is decided by its own work alone: every branch
      // that reads the share must plan the same child, or each branch
      // would materialize its own copy
      case s: graft.Caching.Share => s.mapChildren(visit(_, AttributeSet.empty))
      case s: Sort if s.global => s.mapChildren(visit(_, AttributeSet.empty))
      case l: LocalLimit => l.mapChildren(visit(_, work, limited = true))
      // a deterministic filter pushes below the spread into the scan's
      // task, so its cost is not one the spread parallelizes
      case f: Filter => f.mapChildren(visit(_, work, limited))
      // trace computed columns back to the columns they read
      case pr: Project =>
        val defs = AttributeMap(pr.projectList.collect { case a: Alias => a.toAttribute -> a.child.references })
        val traced = AttributeSet(work.toSeq.flatMap(c => defs.getOrElse(c, AttributeSet(c)).toSeq))
        pr.mapChildren(visit(_, traced ++ heavyRefs(pr.projectList), limited))
      // row-multiplying and typed-lambda operators work on every row
      case _: Generate | _: ObjectConsumer | _: ObjectProducer =>
        p.mapChildren(c => visit(c, work ++ c.outputSet, limited))
      case _ => p.mapChildren(visit(_, work ++ heavyRefs(p.expressions), limited))
    }

  private def heavyRefs(es: Seq[Expression]): AttributeSet =
    AttributeSet(es.filter(heavy).flatMap(_.references.toSeq))

  private def heavy(e: Expression): Boolean = e.exists {
    case _: UserDefinedExpression | _: HashExpression[_] | _: Md5 | _: Sha2 | _: CentralMomentAgg |
         _: PearsonCorrelation | _: Covariance | _: RegrSlope | _: RegrIntercept => true
    // decimal math between two columns; scaling one by a constant (the
    // exact-money sums) measured cheap enough to stay unspread
    case b: BinaryArithmetic =>
      b.dataType.isInstanceOf[DecimalType] && !b.left.foldable && !b.right.foldable
    case x if x.getClass.getName.startsWith("graft.") => true
    // string functions: anything that works on the contents of a
    // string column. Strings built from numbers or dates (a digit
    // picked from a printed amount, a formatted date) measured cheap
    // enough to stay unspread, as did predicates — comparisons and
    // pattern tests. Branches, casts, field access, sort keys and
    // aggregates only move or keep whole values.
    case _: LeafExpression | _: Alias | _: Cast | _: Predicate | _: ConditionalExpression |
         _: Coalesce | _: ExtractValue | _: CreateNamedStruct | _: CreateArray | _: SortOrder |
         _: AggregateExpression | _: AggregateFunction => false
    case x => x.children.exists(c =>
      c.dataType.isInstanceOf[StringType] && c.references.exists(_.dataType.isInstanceOf[StringType]))
  }
}

object FactSpread {
  /** Partitions the file scan will yield, split as `FileSourceScanExec`
    * splits it (bucketed reads yield one per bucket). */
  def scanPartitions(session: SparkSession, fs: HadoopFsRelation): Int = {
    val conf = session.sessionState.conf
    fs.bucketSpec.filter(_ => conf.bucketingEnabled).map(_.numBuckets).getOrElse {
      val dirs = fs.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(session, dirs)
      val files = dirs.flatMap(d => d.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          fs.fileFormat.isSplitable(session, fs.options, f.getPath), maxSplit, d.values)
      }).sortBy(_.length)(Ordering[Long].reverse)
      FilePartition.getFilePartitions(session, files, maxSplit).size
    }
  }

  /** [[scanPartitions]] of the one file scan under a bare-scan frame. */
  def scanPartitions(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => scanPartitions(df.sparkSession, fs)
    }.get
}
