package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The one profiler: what the code inside a window asked Spark to do,
  * split into the time spent building frames and the time their
  * actions ran.
  *
  * {{{
  *   val (n, report) = Profile.window(spark) { p =>
  *     val df = p.build(SparkEntry.queries(q)(spark, dir))
  *     df.count()
  *   }
  * }}}
  *
  * Attribution is by job tag, not by arrival time. The window tags its
  * thread with a tag of its own (`SparkContext.addJobTag`, a
  * thread-local property Spark copies into every job and SQL execution
  * the thread starts, and into the threads Spark itself spawns for
  * them); `build` adds a second tag for its block. So an event belongs
  * to the window and phase that started its work, however late the
  * async listener bus delivers it, and windows on other threads never
  * mix. Work started by a thread the caller made itself before the
  * window opened carries no tag and is not counted.
  *
  * Observed metrics are read from each tagged execution's end event:
  * the `QueryExecution` that a `QueryExecutionListener.onSuccess`
  * receives, for successful named executions (actions and writes)
  * only ([[org.apache.spark.sql.GraftExecutionEnd]]). A `Long`-valued
  * first field is kept, the last value per name winning. Unlike a
  * `QueryExecutionListener` callback, the end event carries the
  * execution id the window's tags are matched by, and it reaches one
  * listener for every session of the context.
  *
  * At its end the window drains the bus ([[org.apache.spark.GraftBusFlush]])
  * and lists the RDDs persisted during it that are still persisted. */
object Profile {

  /** One phase of a window: its wall time on the calling thread, the
    * descriptions (call sites) of the SQL executions it started, and
    * the jobs, completed stages and tasks they ran. Task figures are
    * summed executor run time, the slowest and the median task
    * duration, and summed GC time; bytes are shuffle read and shuffle
    * write. */
  final case class Phase(ms: Double, executions: Seq[String], jobs: Int, stages: Int, tasks: Int,
      taskMs: Long, maxTaskMs: Long, p50TaskMs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long) {
    def json: String =
      s"""{"ms":${Profile.fmt(ms)},"executions":${executions.map(Profile.quote).mkString("[", ",", "]")},""" +
        s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,"max_task_ms":$maxTaskMs,""" +
        s""""p50_task_ms":$p50TaskMs,"gc_ms":$gcMs,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes}"""
  }

  /** A persisted RDD the window created and left persisted: the RDD's
    * own description (name, class, id and creation call site) and its
    * storage level. */
  final case class Leak(id: Int, rdd: String, storage: String)

  final case class Report(build: Phase, action: Phase, observed: Map[String, Long], leaked: Seq[Leak]) {
    def json: String = {
      val obs = observed.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
      val leaks = leaked.map(l => s"""{"id":${l.id},"rdd":${quote(l.rdd)},"storage":${quote(l.storage)}}""")
        .mkString("[", ",", "]")
      s"""{"build":${build.json},"action":${action.json},"observed":$obs,"leaked":$leaks}"""
    }
  }

  /** The handle a window's body gets: [[build]] marks frame building. */
  final class Window private[Profile] (sc: SparkContext, tag: String) {
    private[Profile] val buildTag = s"$tag-build"
    private[Profile] var buildNs = 0L

    /** Run `f` as frame building: its jobs and executions count as
      * the build phase, its wall time as build time. */
    def build[A](f: => A): A = {
      sc.addJobTag(buildTag)
      val t0 = System.nanoTime()
      try f
      finally {
        buildNs += System.nanoTime() - t0
        sc.removeJobTag(buildTag)
      }
    }
  }

  private val windows = new java.util.concurrent.atomic.AtomicLong()

  /** Run `body` under a fresh window and report what it did. Work
    * outside `build` counts as the action phase. */
  def window[A](spark: SparkSession)(body: Window => A): (A, Report) = {
    val sc = spark.sparkContext
    val tag = s"graft-profile-${windows.incrementAndGet()}"
    val w = new Window(sc, tag)
    val collector = new Collector(tag, w.buildTag)
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(collector)
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    var ns = 0L
    val out =
      try body(w)
      finally {
        ns = System.nanoTime() - t0
        sc.removeJobTag(tag)
        // a failed drain leaves late events out of this report; they
        // cannot land in another window's
        try org.apache.spark.GraftBusFlush.flush(sc)
        catch { case NonFatal(e) => System.err.println(s"[profile] bus flush failed: ${e.getMessage}") }
        sc.removeSparkListener(collector)
      }
    val leaked = (sc.getPersistentRDDs -- before).toSeq.sortBy(_._1)
      .map { case (id, rdd) => Leak(id, rdd.toString, rdd.getStorageLevel.description) }
    (out, collector.report(w.buildNs, ns - w.buildNs, leaked))
  }

  private def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v: java.lang.Double)

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private final class Acc {
    val executions = mutable.ArrayBuffer.empty[String]
    var jobs, stages = 0
    var taskMs, gcMs, shuffleRead, shuffleWrite = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    def phase(ns: Long): Phase = {
      val d = durations.sorted
      Phase(ns / 1e6, executions.toSeq, jobs, stages, d.size, taskMs,
        d.lastOption.getOrElse(0L), if (d.isEmpty) 0L else d(d.size / 2), gcMs,
        shuffleRead, shuffleWrite)
    }
  }

  /** Events of one window, by phase (0 build, 1 action). Called on the
    * listener bus thread; read after the window's drain. */
  private final class Collector(tag: String, buildTag: String) extends SparkListener {
    private val acc = Array(new Acc, new Acc)
    private val stagePhase = mutable.Map.empty[Int, Int]
    private val execs = mutable.Set.empty[Long]
    private val observed = mutable.Map.empty[String, Long]

    private def phaseOf(tags: Set[String]): Option[Int] =
      if (!tags(tag)) None else Some(if (tags(buildTag)) 0 else 1)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // a job's tags ride its properties as one comma-joined string
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .fold(Set.empty[String])(_.split(",").toSet)
      phaseOf(tags).foreach { p =>
        acc(p).jobs += 1
        e.stageIds.foreach(stagePhase(_) = p)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stagePhase.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stagePhase.get(e.stageId).foreach { p =>
        val a = acc(p)
        a.durations += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        phaseOf(s.jobTags).foreach { p =>
          execs += s.executionId
          acc(p).executions += s.description
        }
      }
      case end: SparkListenerSQLExecutionEnd =>
        if (synchronized(execs(end.executionId))) {
          val longs = org.apache.spark.sql.GraftExecutionEnd.observedMetrics(end).collect {
            case (name, row) if row.schema.nonEmpty && row.get(0).isInstanceOf[Long] => name -> row.getLong(0)
          }
          synchronized(observed ++= longs)
        }
      case _ =>
    }

    def report(buildNs: Long, actionNs: Long, leaked: Seq[Leak]): Report = synchronized {
      Report(acc(0).phase(buildNs), acc(1).phase(actionNs), observed.toMap, leaked)
    }
  }
}
