package pipebench

import java.nio.file.{Files, Paths}

import pipebench.Harness.{Dag, Iter, QueryLoop, Workload}

object Metrics {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) return Double.NaN
    val src = scala.io.Source.fromFile(f.toFile)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Warm iterations the end-to-end figures read: every iteration after
    * the cold one that ran without the benchmark's listeners. */
  private def untracedWarm(iters: Seq[Iter]): Seq[Iter] = iters.drop(1).filterNot(_.traced)

  /** Every timing counts only the share of its window in which this VM
    * ran: the measured time × [[Box.Cpu.ranShare]], so the time the
    * hypervisor held the VM's runnable CPUs for other guests is left
    * out (on a box without other guests the two are equal). The
    * latency percentiles are taken over the operations of the warm
    * iterations: distinct queries, or on a DAG workload its jobs. */
  def endToEnd(setupS: Double, setupCpu: Box.Cpu, iters: Seq[Iter]): Map[String, Double] = {
    val warm = untracedWarm(iters)
    val lat = warm.flatMap(_.ops.filter(_.ok).map(o => o.ms * o.cpu.ranShare))
    Map(
      "setup_s" -> setupS * setupCpu.ranShare,
      "wall_s" -> median(warm.map(it => it.wallS * it.cpu.ranShare)),
      "cold_wall_s" -> iters.head.wallS * iters.head.cpu.ranShare,
      "query_p50_ms" -> percentile(lat, 0.5),
      "query_p90_ms" -> percentile(lat, 0.9),
      "peak_rss_mb" -> peakRssMb())
  }

  /** Layer metrics of a traced run. Times are medians over the traced
    * warm iterations; exact counts come from the first traced warm
    * iteration, so two runs of one seed can be compared for equality. */
  def perLayer(wl: Workload, iters: Seq[Iter], cores: Int, inputBytes: Long,
      attempted: Int, failed: Int): Map[String, Double] = {
    val tw = iters.drop(1).filter(_.traced)
    val first = tw.head
    val st = first.stats.get
    def med(f: Iter => Double): Double = median(tw.map(f))
    def medS(f: WindowStats => Double): Double = median(tw.map(it => f(it.stats.get)))
    val m = Map.newBuilder[String, Double]
    wl match {
      case _: Dag =>
        first.ops.map(_.name).foreach { job =>
          m += s"dag.job.${job}_s" -> med(_.ops.find(_.name == job).map(_.ms / 1e3).getOrElse(0.0))
        }
        m += "dag.job_sum_s" -> med(_.ops.map(_.ms).sum / 1e3)
        m += "dag.overlap" -> med(it => it.ops.map(_.ms).sum / 1e3 / it.wallS)
      case q: QueryLoop =>
        q.queries.foreach { name =>
          m += s"query.${name}_ms" -> med(_.ops.find(_.name == name).map(_.ms).getOrElse(0.0))
        }
    }
    m += "dag.retries" -> iters.map(_.retries).sum.toDouble
    m += "spark.jobs" -> st.jobs.toDouble
    m += "spark.stages" -> st.stages.size.toDouble
    m += "spark.tasks" -> st.tasks.toDouble
    m += "spark.tasks_failed" -> st.tasksFailed.toDouble
    m += "spark.task_run_s" -> medS(_.taskRunS)
    m += "spark.task_cpu_s" -> medS(_.taskCpuS)
    m += "spark.gc_s" -> medS(_.gcS)
    m += "spark.busy_frac" -> med(it => it.stats.get.taskRunS / (it.wallS * cores))
    m += "spark.task_wait_s" -> medS(_.taskWaitS)
    m += "spark.task_max_over_p50" -> medS(_.taskMaxOverP50(cores))
    m += "spark.shuffle_write_mb" -> st.shuffleWriteMb
    m += "spark.shuffle_read_mb" -> st.shuffleReadMb
    m += "spark.spill_mb" -> st.spillMb
    m += "spark.input_mb" -> st.inputMb
    m += "plan.planning_ms" -> medS(_.planningMs.toDouble)
    m += "plan.exchanges" -> st.exchanges.toDouble
    m += "plan.rr_exchanges" -> st.rrExchanges.toDouble
    m += "plan.broadcasts" -> st.broadcasts.toDouble
    m += "text.candidates" -> st.candidates.toDouble
    m += "text.verified_pairs" -> st.verifiedPairs.toDouble
    m += "text.useful_ratio" ->
      (if (st.candidates == 0) 0.0 else st.verifiedPairs.toDouble / st.candidates)
    m += "write.mb" -> first.writeBytes / 1e6
    m += "write.files" -> first.writeFiles.toDouble
    m += "write.amplification" -> first.writeBytes.toDouble / math.max(1L, inputBytes)
    m += "cache.leaked_rdds" -> iters.map(_.leaked).max.toDouble
    val untraced = untracedWarm(iters)
    m += "trace.overhead_frac" -> (med(_.wallS) / median(untraced.map(_.wallS)) - 1.0)
    m += "failed_frac" -> failed.toDouble / math.max(1, attempted)
    m.result()
  }
}

/** Span tree of a traced run: iteration → DAG job or query → Spark
  * stage. Stages of a DAG iteration are attributed to jobs by call
  * site ([[JobAttribution]]); those no body owns stay unattributed. */
object Spans {
  private def stage(s: StageRec): Map[String, Any] = Map(
    "stage_id" -> s.stageId, "attempt" -> s.attempt, "name" -> s.name,
    "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs, "tasks" -> s.numTasks,
    "task_run_s" -> s.runMs / 1e3, "gc_s" -> s.gcMs / 1e3,
    "shuffle_write_mb" -> s.shuffleWrite / 1e6, "shuffle_read_mb" -> s.shuffleRead / 1e6,
    "spill_mb" -> s.spill / 1e6, "input_mb" -> s.input / 1e6, "failed" -> s.failed)

  /** Every span has a name and a start and end in epoch ms; its parent
    * is the span it is nested in, and the iteration index is the trace
    * id its children share. A DAG job's start and end are those of the
    * stages attributed to it (JobGraph reports only its duration). */
  def of(workload: String, seed: Long, iters: Seq[Iter]): Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed,
    "iterations" -> iters.map { it =>
      val stagesOf = it.opStages.toMap
      Map(
        "index" -> it.index, "traced" -> it.traced, "wall_s" -> it.wallS,
        "start_ms" -> it.startMs, "end_ms" -> (it.startMs + (it.wallS * 1e3).toLong),
        "children" -> (it.ops.map { op =>
          val ss = stagesOf.getOrElse(op.name, Nil).sortBy(_.submitMs)
          val start = op.startMs.orElse(ss.headOption.map(_.submitMs))
          val end = op.startMs.map(_ + op.ms.toLong)
            .orElse(ss.map(_.completeMs).maxOption)
          Map("name" -> op.name, "start_ms" -> start, "end_ms" -> end, "ms" -> op.ms,
            "ok" -> op.ok, "attempts" -> op.attempts, "stages" -> ss.map(stage))
        } ++ stagesOf.get("(unattributed)").map { ss =>
          Map("name" -> "(unattributed)", "stages" -> ss.sortBy(_.submitMs).map(stage))
        }))
    })
}

/** The result and span files, written with Spark's own Jackson. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def writeFile(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
