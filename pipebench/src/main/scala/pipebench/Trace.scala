package pipebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark stage attempt as the traced run saw it. */
final class StageRec(val stageId: Int, val attempt: Int) {
  var name = ""
  var details = ""
  var submitMs = 0L
  var completeMs = 0L
  var numTasks = 0
  var failed = false
  var executionId = -1L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var tasksFailed = 0
}

/** Counters of one traced window (an iteration), summed over every
  * stage and SQL execution that ended inside it. */
final case class WindowStats(
    jobs: Int, stages: Seq[StageRec], planningMs: Long,
    exchanges: Int, rrExchanges: Int, broadcasts: Int,
    candidates: Long, verifiedPairs: Long,
    execDetails: Map[Long, String]) {
  def ++(o: WindowStats): WindowStats = WindowStats(
    jobs + o.jobs, stages ++ o.stages, planningMs + o.planningMs,
    exchanges + o.exchanges, rrExchanges + o.rrExchanges, broadcasts + o.broadcasts,
    candidates + o.candidates, verifiedPairs + o.verifiedPairs, execDetails ++ o.execDetails)
  private def sumL(f: StageRec => Long): Long = stages.map(f).sum
  def tasks: Int = stages.map(_.numTasks).sum
  def taskRunS: Double = sumL(_.runMs) / 1e3
  def taskCpuS: Double = sumL(_.cpuNs) / 1e9
  def gcS: Double = sumL(_.gcMs) / 1e3
  def taskWaitS: Double = sumL(_.waitMs) / 1e3
  def shuffleWriteMb: Double = sumL(_.shuffleWrite) / 1e6
  def shuffleReadMb: Double = sumL(_.shuffleRead) / 1e6
  def spillMb: Double = sumL(_.spill) / 1e6
  def inputMb: Double = sumL(_.input) / 1e6
  def tasksFailed: Int = stages.map(_.tasksFailed).sum
  /** Worst straggler: over stages with at least `minTasks` tasks, the
    * largest ratio of the slowest task to the median task. */
  def taskMaxOverP50(minTasks: Int): Double = {
    val ratios = stages.filter(_.taskMs.size >= minTasks).map { s =>
      val d = s.taskMs.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** The benchmark's own listener pair, attached through the public
  * Spark API (`SparkContext.addSparkListener`, `listenerManager`).
  * Events arrive on listener-bus threads; every access is guarded by
  * the collector's lock. `drain()` hands back what arrived since the
  * previous drain, so the harness reads one window per iteration
  * after flushing the bus. */
final class Collector extends SparkListener with QueryExecutionListener {
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val execDetails = mutable.Map.empty[Long, String]
  private var jobs = 0
  private var planningMs = 0L
  private var exchanges = 0
  private var rrExchanges = 0
  private var broadcasts = 0
  private var candidates = 0L
  private var verified = 0L

  private def rec(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageExec(s) = exec)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val r = rec(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    r.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = rec(i.stageId, i.attemptNumber())
    r.name = i.name
    r.details = i.details
    r.numTasks = i.numTasks
    r.failed = i.failureReason.isDefined
    r.submitMs = i.submissionTime.getOrElse(r.submitMs)
    r.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
    r.executionId = stageExec.getOrElse(i.stageId, -1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = rec(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    if (!info.successful) r.tasksFailed += 1
    r.taskMs += info.duration
    if (r.submitMs > 0) r.waitMs += math.max(0L, info.launchTime - r.submitMs)
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.input += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execDetails(s.executionId) = s.details }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    var ex, rr, bc = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec =>
        case s: ShuffleExchangeLike =>
          ex += 1
          if (s.outputPartitioning.isInstanceOf[RoundRobinPartitioning]) rr += 1
          s.children.foreach(walk)
        case b: BroadcastExchangeLike =>
          bc += 1
          b.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    var cand, ver = 0L
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("cand_") && row.size > 0) cand += row.getLong(0)
      if (name == "verified_pairs" && row.size > 0) ver += row.getLong(0)
    }
    synchronized {
      planningMs += planMs
      exchanges += ex
      rrExchanges += rr
      broadcasts += bc
      candidates += cand
      verified += ver
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(): WindowStats = synchronized {
    val w = WindowStats(jobs, stages.values.toVector, planningMs, exchanges, rrExchanges,
      broadcasts, candidates, verified, execDetails.toMap)
    stages.clear(); stageExec.clear(); execDetails.clear()
    jobs = 0; planningMs = 0L; exchanges = 0; rrExchanges = 0; broadcasts = 0
    candidates = 0L; verified = 0L
    w
  }
}

/** Attributes a SQL execution to the DAG job whose body issued it, by
  * the first `$anonfun$build` frame of the execution's call site and
  * the `g.add("<job>"` declarations of the DAG's source file: a body
  * owns every line from its own `g.add` up to the next one. */
final class JobAttribution(sourceFile: java.io.File) {
  private val fileName = sourceFile.getName
  private val starts: Vector[(Int, String)] =
    if (!sourceFile.isFile) Vector.empty
    else {
      val add = """g\.add\("([^"]+)"""".r
      val src = scala.io.Source.fromFile(sourceFile, "UTF-8")
      try src.getLines().zipWithIndex.flatMap { case (l, i) =>
        add.findFirstMatchIn(l).map(m => (i + 1, m.group(1)))
      }.toVector
      finally src.close()
    }
  private val frame = ("""\$anonfun\$build\$[^(]*\(""" + java.util.regex.Pattern.quote(fileName) +
    """:(\d+)\)""").r

  def jobOf(details: String): Option[String] =
    frame.findFirstMatchIn(details).flatMap { m =>
      val line = m.group(1).toInt
      starts.takeWhile(_._1 <= line).lastOption.map(_._2)
    }
}
