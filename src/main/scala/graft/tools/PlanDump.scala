package graft.tools

/** Dump `.explain("formatted")` for every registered query (or an
  * `only=` subset) to one file per query under an output directory —
  * the plan evidence for the optimization rounds (guide §1.1/§7.2).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [sfDir] [only=q1,q2] [suffix]
  * Writes <outDir>/<query>_<suffix>.txt (suffix defaults to "plan").
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [sfDir] [only=...] [suffix]")
    val outDir = java.nio.file.Paths.get(args(0))
    val rest = args.drop(1)
    val dir = rest.find(a => !a.startsWith("only=") && !a.startsWith("suffix="))
      .getOrElse("/root/testdata/sf0.1")
    val only = rest.find(_.startsWith("only=")).map(_.stripPrefix("only=").split(",").toSet)
    val suffix = rest.find(_.startsWith("suffix=")).map(_.stripPrefix("suffix=")).getOrElse("plan")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    val named = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    named.foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        // queryExecution.explainString gives the same text explain()
        // prints, capturable without console redirection
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
        println(s"[plandump] $name ok (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
    }
    spark.stop()
  }
}
