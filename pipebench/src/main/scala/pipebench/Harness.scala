package pipebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{JobGraph, SalesPipelineDag}

/** Benchmark harness JVM: one workload, one seed, one process.
  *
  * Phases, in order: set-up (timed from JVM start), a cold iteration,
  * as many warm iterations as fill `--seconds` at the workload's
  * nominal pace, and the load sentinel in a fresh session once the
  * workload's is stopped. Every iteration's outputs are digested
  * outside its timer and compared with the recorded digests. With `--trace 1` the benchmark's own listeners are
  * attached on the cold iteration and on alternate warm iterations, so
  * the run also reports the tracing overhead.
  *
  * The result (metrics, measured times, sentinel, failures) is one
  * JSON object written to `--result`; run.py prints the contract line
  * from it. */
object Harness {

  /** `coldS` / `warmS`: nominal cold and warm iteration seconds on a
    * 4-core box. They turn `--seconds` into a fixed iteration count, so
    * every run of a workload measures the same work (and the same
    * JIT-warming sequence) whatever the box's momentary speed. */
  sealed trait Workload { def name: String; def coldS: Double; def warmS: Double }
  final case class Dag(name: String, source: String, coldS: Double, warmS: Double,
      build: (SparkSession, String, String) => JobGraph) extends Workload
  /** Every pass runs the queries in list order. */
  final case class QueryLoop(name: String, queries: Seq[String],
      coldS: Double, warmS: Double) extends Workload

  val workloads: Seq[Workload] = Seq(
    Dag("sales_nightly", "graft/operators/SalesPipelineDag.scala", 13, 8.5,
      (s, in, root) => SalesPipelineDag.build(s, in, SalesPipelineDag.Layout(root))),
    QueryLoop("neardup_queries", Seq("q_dedup_keeper", "q_cross_source_dup", "q_dup_profile",
      "q_dup_cluster_sizes", "q_ngram_jaccard", "q_dedup_resolve"), 20, 10.5))

  /** `JobGraph.runConcurrent` width, as `tools.RunPipeline` ships it. */
  val DagParallel = 2

  /** One DAG job or query. `startMs`: epoch start where the harness
    * sees it (queries); DAG jobs run inside JobGraph, which reports
    * only their duration. `cpu`: the VM's CPU time over the operation
    * (a DAG job: over its iteration). */
  final case class Op(name: String, ms: Double, ok: Boolean, attempts: Int, cpu: Box.Cpu,
      startMs: Option[Long] = None)
  final case class Iter(index: Int, startMs: Long, traced: Boolean, wallS: Double, cpu: Box.Cpu,
      ops: Seq[Op], stats: Option[WindowStats], opStages: Seq[(String, Seq[StageRec])],
      leaked: Int, writeBytes: Long, writeFiles: Int, retries: Int)

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val wl = workloads.find(_.name == a("workload"))
      .getOrElse(sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val input = a("input")
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val expected = Digests.load(a("expected")).getOrElse(wl.name, Map.empty)
    val recording = a.get("record")

    // ---- set-up, from JVM start: the session ready and every staged
    // input listed with its footer schema read, as any query's first
    // read does
    val spark = GraftSession.local(cores)
    new File(input).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).sorted
      .foreach(t => Tables.table(spark, input, t).schema)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // the VM's CPU time since run.py launched this JVM
    val Array(busy0, steal0) = a("cpu0").split(",").map(_.toDouble)
    val setupCpu = Box.cpu() - Box.Cpu(busy0, steal0)
    spark.sparkContext.setLogLevel("ERROR")

    val collector = new Collector
    val attribution = wl match {
      case d: Dag => Some(new JobAttribution(new File(a("src"), d.source)))
      case _ => None
    }
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val observed = mutable.LinkedHashMap.empty[String, String]
    def check(iter: Int, key: String, digest: String): Unit = {
      observed.getOrElseUpdate(key, digest)
      if (recording.isEmpty && !expected.get(key).contains(digest))
        failures += s"iteration $iter: $key digest $digest, expected ${expected.getOrElse(key, "none")}"
    }

    val queryFns = SparkEntry.queries
    val iters = mutable.ArrayBuffer.empty[Iter]
    // at least two, so `wall_s` is never one sample (and a traced run
    // has a warm iteration of each kind for the overhead figure)
    val warmIters = math.max(2, math.ceil((seconds - wl.coldS) / wl.warmS).toInt)
    var i = 0
    while (i <= warmIters) {
      val tracedIter = traced && (i == 0 || i % 2 == 1)
      if (tracedIter) {
        spark.sparkContext.addSparkListener(collector)
        spark.listenerManager.register(collector)
      }
      // the iteration's own events only: the output check after a DAG
      // runs untraced
      def detach(): Unit = if (tracedIter) {
        spark.sparkContext.removeSparkListener(collector)
        spark.listenerManager.unregister(collector)
      }
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val iterStartMs = System.currentTimeMillis()
      val it = wl match {
        case d: Dag =>
          val root = s"$work/layout_$i"
          val cpu0 = Box.cpu()
          val s0 = System.nanoTime()
          val reports =
            try d.build(spark, input, root).runConcurrent(DagParallel)
            catch { case e: Exception =>
              failures += s"iteration $i: DAG threw ${e.getMessage}"; Nil }
          val wall = (System.nanoTime() - s0) / 1e9
          val cpu = Box.cpu() - cpu0
          val stats = if (tracedIter) Some(flushAndDrain(spark, collector)) else None
          detach()
          // operations: every job (its status and row metric) and every
          // written layer (its digest); each fails at most once
          // (a recorded job or layer that is missing fails too)
          val layers = Dirs.layers(root)
          val expectedLayers = expected.keySet.filter(_.startsWith("layer:"))
          val seenLayers = layers.map { case (rel, _) => s"layer:$rel" }.toSet
          val expectedJobs = expected.keySet.filter(_.startsWith("job:"))
          val seenJobs = reports.map(r => s"job:${r.id}").toSet
          attempted += math.max(1, (seenJobs ++ expectedJobs).size) +
            (seenLayers ++ expectedLayers).size
          reports.filterNot(_.status.ok).foreach(r => failures += s"iteration $i: job ${r.id} ${r.status}")
          reports.filter(_.status.ok).foreach(r => check(i, s"job:${r.id}", r.metric.toString))
          val (bytes, files) = Dirs.dataFiles(root)
          // the layers are read back concurrently, to keep the check short
          layers.map { case (rel, path) => Future(rel -> Digests.of(spark.read.parquet(path))) }
            .map(Await.result(_, Duration.Inf))
            .foreach { case (rel, d) => check(i, s"layer:$rel", d) }
          if (recording.isEmpty) {
            (expectedJobs -- seenJobs).foreach(k => failures += s"iteration $i: $k not reported")
            (expectedLayers -- seenLayers).foreach(k => failures += s"iteration $i: $k not written")
          }
          // a stage's owner: the call site of its SQL execution, else
          // its own (schema inference and other non-SQL jobs)
          val byJob = stats.toSeq.flatMap(_.stages).groupBy { st =>
            attribution.flatMap(_.jobOf(stats.get.execDetails.getOrElse(st.executionId, st.details)))
              .getOrElse("(unattributed)")
          }.toSeq.sortBy(_._1)
          Dirs.delete(root)
          Iter(i, iterStartMs, tracedIter, wall, cpu,
            reports.map(r => Op(r.id, r.millis.toDouble, r.status.ok, r.attempts, cpu)),
            stats, byJob, 0, bytes, files,
            reports.filter(_.status.ok).map(_.attempts - 1).sum)
        case q: QueryLoop =>
          val ops = mutable.ArrayBuffer.empty[Op]
          val perOp = mutable.ArrayBuffer.empty[(String, Seq[StageRec])]
          var merged: Option[WindowStats] = None
          for (name <- q.queries) {
            attempted += 1
            val obs = Observation("pipebench_digest")
            val startMs = System.currentTimeMillis()
            val cpu0 = Box.cpu()
            val s0 = System.nanoTime()
            val ok =
              try {
                val df = queryFns(name)(spark, input)
                df.observe(obs, count(lit(1)).as("rows"), sum(Digests.rowHash(df)).as("h"))
                  .write.format("noop").mode("overwrite").save()
                true
              } catch { case e: Exception =>
                failures += s"iteration $i: $name threw ${e.getMessage}"; false }
            val ms = (System.nanoTime() - s0) / 1e6
            val cpu = Box.cpu() - cpu0
            if (ok) check(i, s"query:$name", Digests.fromObservation(obs.get))
            // outputs for the DuckDB oracle cross-check (oracle_check.py)
            for (dir <- a.get("dump") if ok && i == 0)
              queryFns(name)(spark, input).write.mode("overwrite").parquet(s"$dir/$name")
            ops += Op(name, ms, ok, 1, cpu, Some(startMs))
            if (tracedIter) {
              val w = flushAndDrain(spark, collector)
              perOp += name -> w.stages
              merged = Some(merged.fold(w)(_ ++ w))
            }
          }
          detach()
          Iter(i, iterStartMs, tracedIter, ops.map(_.ms).sum / 1e3, ops.map(_.cpu).reduce(_ + _),
            ops.toSeq, merged, perOp.toSeq, 0, 0L, 0, 0)
      }
      // persisted RDDs the iteration left behind and still references:
      // a GC first lets the ContextCleaner drop checkpoints whose frames
      // are gone (Caching.reap's results are freed that way by design)
      val leaked = if (!tracedIter) 0 else {
        System.gc()
        Thread.sleep(500)
        (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      }
      iters += it.copy(leaked = leaked)
      i += 1
    }
    val failed = failures.size
    val inputBytes = Dirs.dataFiles(input)._1

    recording.foreach(path => Digests.write(path, wl.name, observed))
    for (dir <- a.get("dump"); q <- Some(wl).collect { case q: QueryLoop => q })
      Json.writeFile(s"$dir/oracle_sql.json",
        SparkEntry.oracleSql.filter { case (k, _) => q.queries.contains(k) })
    a.get("spans").filter(_ => traced).foreach { path =>
      Json.writeFile(path, Spans.of(wl.name, seed, iters.toSeq))
    }
    val metrics = Metrics.endToEnd(setupS, setupCpu, iters.toSeq) ++
      (if (traced) Metrics.perLayer(wl, iters.toSeq, cores, inputBytes, attempted, failed)
       else Map.empty[String, Double])
    Json.writeFile(a("result"), Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> traced,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq.take(50),
      "iterations" -> iters.map(it => Map("index" -> it.index, "traced" -> it.traced,
        "wall_s" -> it.wallS, "busy_s" -> it.cpu.busyS, "steal_s" -> it.cpu.stealS,
        "ops" -> it.ops.map(o => Map("name" -> o.name, "ms" -> o.ms,
          "busy_s" -> o.cpu.busyS, "steal_s" -> o.cpu.stealS)))),
      "setup_s" -> setupS, "setup_busy_s" -> setupCpu.busyS, "setup_steal_s" -> setupCpu.stealS,
      "sentinel" -> sentinelAfter(spark, cores),
      "metrics" -> metrics))
  }

  /** The load sentinel after the run, in a plain session built once the
    * workload's is stopped and its heap collected: no cached block,
    * busy thread or retained heap the workload left behind can slow
    * it, and no graft setting applies to it. */
  private def sentinelAfter(workload: SparkSession, cores: Int): Map[String, Double] = {
    workload.stop()
    System.gc()
    val spark = SparkSession.builder().master(s"local[$cores]").appName("sentinel")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try Sentinel.pair(spark) finally spark.stop()
  }

  private def flushAndDrain(spark: SparkSession, c: Collector): WindowStats = {
    org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
    c.drain()
  }
}

/** Order-independent output digests: row count plus the exact sum of
  * a 64-bit hash of every row, so any permutation of the same rows
  * gives the same digest and any changed value changes it. */
object Digests {
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        // map entry order is not part of a map's value
        case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
        case _ => col(s"`${f.name}`")
      }
    }
    xxhash64(cols: _*).cast("decimal(38,0)")
  }

  def of(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(rowHash(df))).head()
    s"${r.getLong(0)}/${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def fromObservation(m: Map[String, Any]): String = {
    val h = Option(m("h")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0")
    s"${m("rows")}/$h"
  }

  /** Recorded digests: `workload<TAB>key<TAB>digest` per line. */
  def load(path: String): Map[String, Map[String, String]] = {
    val f = new File(path)
    if (!f.isFile) return Map.empty
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      .collect { case Array(w, k, d) => (w, k, d) }.toSeq
      .groupBy(_._1).map { case (w, rows) => w -> rows.map(r => r._2 -> r._3).toMap }
    finally src.close()
  }

  def write(path: String, workload: String, digests: collection.Map[String, String]): Unit =
    Files.write(Paths.get(path),
      digests.toSeq.sortBy(_._1).map { case (k, d) => s"$workload\t$k\t$d" }.asJava)
}

/** The load sentinel pair of `graft.Bench`: a fixed CPU-bound parallel
  * job (32 partitions) and its 1-partition serial companion, each the
  * min of two shots as Bench takes them, after a small warm-up shot.
  * It touches no graft code or data. A diagnostic: a loaded box shows
  * in it; no metric is derived from it. */
object Sentinel {
  def pair(spark: SparkSession): Map[String, Double] = {
    def time(rows: Long, parts: Int): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, rows, 1L, parts).selectExpr("sum(hash(id, id + 1))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    time(4000000L, 32)
    Map("parallel_s" -> math.min(time(400000000L, 32), time(400000000L, 32)),
      "serial_s" -> math.min(time(12500000L, 1), time(12500000L, 1)))
  }
}

object Box {
  /** CPU seconds of this VM, summed over its CPUs (Linux `/proc/stat`,
    * 100 ticks a second): `busyS` running (user, nice, system, irq,
    * softirq), `stealS` runnable but kept off the host's CPUs by the
    * hypervisor. */
  final case class Cpu(busyS: Double, stealS: Double) {
    def -(o: Cpu): Cpu = Cpu(busyS - o.busyS, stealS - o.stealS)
    def +(o: Cpu): Cpu = Cpu(busyS + o.busyS, stealS + o.stealS)
    /** The share of its runnable CPU time the VM got to run. */
    def ranShare: Double = if (busyS + stealS <= 0) 1.0 else busyS / (busyS + stealS)
  }

  def cpu(): Cpu = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toDouble / 100.0)
    finally src.close()
    Cpu(f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }
}

object Dirs {
  private def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector finally s.close()
    }
  }

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Total bytes and count of data files (no markers, no checksums). */
  def dataFiles(root: String): (Long, Int) = {
    val fs = walk(root).filter(isData)
    (fs.map(Files.size).sum, fs.size)
  }

  /** Every written layer (a directory holding a `_SUCCESS` marker),
    * as (path relative to root, absolute path). */
  def layers(root: String): Seq[(String, String)] = {
    val base = Paths.get(root)
    walk(root).filter(p => p.getFileName.toString == "_SUCCESS").map(_.getParent)
      .map(d => base.relativize(d).toString -> d.toString).sortBy(_._1)
  }

  def delete(root: String): Unit =
    walk(root).reverse.foreach(p => Files.deleteIfExists(p))
}
