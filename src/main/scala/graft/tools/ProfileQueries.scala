package graft.tools

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query execution profile over the whole registry (guide §1):
  * for each query, a warm-up run then a measured run, with a listener
  * accumulating job/stage/task counts, shuffle read/write bytes,
  * input bytes and summed executor task time for the measured window.
  *
  * Output: one TSV line per query to stdout (and
  * /tmp/graft_profile.tsv), so the expensive queries can be ranked by
  * what they actually spend (shuffle volume, task count, stage count)
  * instead of wall seconds alone — wall time on a shared box is
  * noisy, stage/shuffle structure is not.
  *
  * Usage: runMain graft.tools.ProfileQueries [sfDir] [only=q1,q2]
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.filterNot(_.startsWith("only="))
      .getOrElse("/root/testdata/sf0.1")
    val only = args.find(_.startsWith("only=")).map(_.stripPrefix("only=").split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val input = new AtomicLong(0L)
    val taskTime = new AtomicLong(0L)
    val gcTime = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          input.addAndGet(m.inputMetrics.bytesRead)
          taskTime.addAndGet(m.executorRunTime)
          gcTime.addAndGet(m.jvmGCTime)
        }
      }
    })
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0)
      shufRead.set(0); shufWrite.set(0); input.set(0); taskTime.set(0); gcTime.set(0) }

    spark.range(1000).selectExpr("sum(id)").collect()
    val named = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val sb = new StringBuilder
    sb.append("query\twall_s\tjobs\tstages\ttasks\tshuf_read_mb\tshuf_write_mb\tinput_mb\ttask_time_s\tgc_s\n")
    named.foreach { case (name, fn) =>
      try {
        // warm-up run = bench run 1; measured run = bench run 2 (the min)
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        graft.GraftSession.clearCache(spark)
        org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
        reset()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.GraftSession.clearCache(spark)
        org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
        val line = f"$name\t$dt%.3f\t${jobs.get}\t${stages.get}\t${tasks.get}\t${shufRead.get / 1e6}%.2f\t${shufWrite.get / 1e6}%.2f\t${input.get / 1e6}%.2f\t${taskTime.get / 1e3}%.2f\t${gcTime.get / 1e3}%.2f"
        println(line); sb.append(line).append("\n")
      } catch { case e: Throwable =>
        val line = s"$name\tFAILED\t${e.getMessage}"
        println(line); sb.append(line).append("\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/graft_profile.tsv"), sb.toString)
    spark.stop()
  }
}
