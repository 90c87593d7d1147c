import org.apache.spark.sql.functions._
graft.GraftSession.tune(spark)
spark.sparkContext.setLogLevel("ERROR")
val dir = sys.env.getOrElse("AB_DIR", "/root/testdata/sf0.1")
val confKey = sys.env("AB_CONF")
val aVal = sys.env("AB_A"); val bVal = sys.env("AB_B")
val qs = sys.env("AB_QUERIES").split(",")
val reps = sys.env.getOrElse("AB_REPS", "3").toInt
def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
spark.range(1000).selectExpr("sum(id)").collect()
var totA = 0.0; var totB = 0.0
qs.foreach { q =>
  val fn = graft.Queries.all(q)
  // warm both variants once
  Seq(aVal, bVal).foreach { v => spark.conf.set(confKey, v); noop(fn(spark, dir)); graft.GraftSession.clearCache(spark) }
  val times = scala.collection.mutable.Map("A" -> List.empty[Double], "B" -> List.empty[Double])
  (1 to reps).foreach { _ =>
    Seq(("A", aVal), ("B", bVal)).foreach { case (tag, v) =>
      spark.conf.set(confKey, v)
      val t0 = System.nanoTime(); noop(fn(spark, dir)); val dt = (System.nanoTime()-t0)/1e9
      graft.GraftSession.clearCache(spark)
      times(tag) = dt :: times(tag)
    }
  }
  val a = times("A").min; val b = times("B").min
  totA += a; totB += b
  println(f"[ab $q] A=$a%.3f B=$b%.3f  B/A=${b/a}%.3f")
}
println(f"[ab TOTAL] A=$totA%.3f B=$totB%.3f  B/A=${totB/totA}%.3f")
sys.exit(0)
// Usage (in-session interleaved per-query A/B of any runtime conf):
//   AB_CONF=<conf key> AB_A=<value A> AB_B=<value B> AB_QUERIES=q_x,q_y [AB_REPS=3] \
//   /opt/spark/bin/spark-shell --master local[32] --driver-memory 24g \
//     --conf spark.sql.shuffle.partitions=32 --conf spark.ui.enabled=false \
//     --conf spark.sql.extensions=graft.GraftExtensions \
//     --driver-class-path target/scala-2.13/classes -I tools/ab_conf_probe.scala
// Alternates A,B per rep inside one JVM (min per side) so ambient drift
// hits both variants; the decision instrument behind OPTIMIZATION_r17.md §2.
