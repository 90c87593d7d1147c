package graft

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{CorpusPipelineDag, SalesPipelineDag}

/** The action-level counterpart of `graft.tools.PlanDump`, which
  * prints each registry query's returned frame only. Writes the
  * formatted executed plan of every Spark action that
  *
  *  - `dags`: the medallion (`SalesPipelineDag`) and corpus release
  *    (`CorpusPipelineDag`) DAGs run, once each, sequentially, to
  *    `<outDir>/<dag>_<nn>_<action>.txt` in execution order;
  *  - `shares`: each registry query runs while its frame is built —
  *    the driver-side actions that must see rows before the plan
  *    exists (`plans/r20/` lists them) — to
  *    `<outDir>/<query>__<nn>_<action>.txt`.
  *
  * Usage:
  *   sbt "Test/runMain graft.ActionPlanDump <outDir> <sfDir> <dags|shares>"
  * Cores from `SPARK_GRAFT_CPUS` (default 32, as PlanDump).
  */
object ActionPlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, dir, mode) = args.take(3)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cores).appName("graft-action-plans").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    var prefix = ""
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val name = f"${prefix}_${n.incrementAndGet()}%03d_$funcName.txt"
        java.nio.file.Files.writeString(out.resolve(name), qe.explainString(FormattedMode))
      }
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def capture(name: String)(f: => Unit): Unit = {
      prefix = name
      n.set(0)
      f
      org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
      println(s"[actionplans] $name: ${n.get} actions")
    }
    def runDag(name: String)(f: String => Seq[graft.operators.JobGraph.JobReport]): Unit =
      capture(name) {
        val root = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
        f(root).foreach(r => require(r.status.ok, s"$name ${r.id}: ${r.status}"))
      }
    mode match {
      case "dags" =>
        runDag("sales")(root => SalesPipelineDag.build(spark, dir, SalesPipelineDag.Layout(root)).run())
        runDag("corpus")(root => CorpusPipelineDag.run(spark, dir, root))
      case "shares" =>
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (q, fn) =>
          capture(s"${q}_") {
            fn(spark, dir)
            GraftSession.clearCache(spark)
          }
        }
    }
    spark.stop()
  }
}
