package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import graft.operators.SalesPipelineDag

/** Kernel working-set probe: how many distinct generated classes a
  * workload compiles, and what each costs while it stays cached.
  *
  * Runs `passes` passes of one workload in one session and prints, per
  * pass, the kernels compiled (Spark's codegen compile counter) and
  * the wall time. Pass 1 of a fresh JVM compiles every kernel the
  * workload needs, so its count is the working set; a later pass that
  * compiles anything means the kernel cache evicted part of it. After
  * the last pass it empties the cache and prints what that freed —
  * heap plus metaspace after a full GC — per cached kernel.
  *
  * Usage:
  *   sbt "Test/runMain graft.KernelProbe <sfDir> <dag|neardup|registry> [passes] [maxEntries]"
  * `maxEntries` overrides [[GraftSession.CodegenCacheEntries]].
  */
object KernelProbe {
  val NearDup: Seq[String] = Seq("q_dedup_keeper", "q_cross_source_dup", "q_dup_profile",
    "q_dup_cluster_sizes", "q_ngram_jaccard", "q_dedup_resolve")

  /** One pass of a benchmark workload on `dir`. */
  def pass(spark: org.apache.spark.sql.SparkSession, dir: String, workload: String): Unit =
    workload match {
      case "dag" =>
        val root = java.nio.file.Files.createTempDirectory("graft_kernels").toString
        try SalesPipelineDag.build(spark, dir, SalesPipelineDag.Layout(root))
          .runConcurrent(2).foreach(r => require(r.status.ok, s"${r.id}: ${r.status}"))
        finally deleteTree(new java.io.File(root))
      case _ =>
        val names = if (workload == "neardup") NearDup else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { q =>
          SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        }
    }

  /** Call `method` on Spark's JVM-wide kernel cache (private to Spark;
    * reached by reflection). */
  private def onKernelCache(method: String): AnyRef = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(gen)
    cache.getClass.getMethod(method).invoke(cache)
  }

  /** Kernels compiled in this JVM so far. */
  def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, workload) = args.take(2)
    val passes = args.lift(2).fold(3)(_.toInt)
    val entries = args.lift(3).fold(GraftSession.CodegenCacheEntries)(_.toInt)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cores).appName("graft-kernels")
      .config("spark.sql.codegen.cache.maxEntries", entries.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (p <- 1 to passes) {
      val n0 = compiled()
      val t0 = System.nanoTime()
      pass(spark, dir, workload)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"KERNELS $workload%-8s entries=$entries%5d pass=$p compiled=${compiled() - n0}%5d wall_s=$s%.2f")
    }
    // resident cost: heap + metaspace after a full GC with the cache
    // as the passes left it, then again after emptying it
    def resident(): (Double, Double) = {
      System.gc(); System.gc()
      (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6,
        ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum / 1e6)
    }
    val cached = onKernelCache("size").asInstanceOf[Long]
    val (heap1, meta1) = resident()
    onKernelCache("invalidateAll")
    val (heap0, meta0) = resident()
    val perKb = (heap1 - heap0 + meta1 - meta0) * 1e3 / math.max(1L, cached)
    println(f"RESIDENT $workload%-8s entries=$entries%5d cached=$cached%5d heap_mb=${heap1 - heap0}%.1f " +
      f"metaspace_mb=${meta1 - meta0}%.1f per_kernel_kb=$perKb%.0f")
    spark.stop()
  }
}
