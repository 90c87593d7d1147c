package graft.tools

import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.vector.Ivf

/** Diagnostic main: pruning power of the cluster-block bound behind
  * [[Ivf.cosinePairsExact]] on real testdata — list radii, admitted
  * block fraction, and scored-pair volume vs the n²/2 brute total. */
object BlockProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val minCos = args.lift(1).map(_.toDouble).getOrElse(0.40)
    val spark = GraftSession.local(16)
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val k = math.min(512L, math.max(16L, math.round(math.sqrt(n.toDouble)))).toInt
    val idx = Ivf.build(emb, "vec_id", "embedding", k, 2)
    val clamp = (c: org.apache.spark.sql.Column) => greatest(lit(-1.0), least(lit(1.0), c))
    val radii = idx.lists.groupBy("cid")
      .agg(max(acos(clamp(col("__c")))).as("__r"), count(lit(1)).as("__n"))
    println("radius deg (min/avg/max): " +
      radii.agg(min(degrees(col("__r"))), avg(degrees(col("__r"))), max(degrees(col("__r")))).head)
    val cents = idx.centroids.join(radii, "cid")
    val ci = cents.select(col("cid").as("__ci"), col("centroid").as("__cvi"),
      col("__r").as("__ri"), col("__n").as("__ni"))
    val cj = cents.select(col("cid").as("__cj"), col("centroid").as("__cvj"),
      col("__r").as("__rj"), col("__n").as("__nj"))
    val eps = 1e-9 + 0.5e-4
    val blocks = ci.crossJoin(cj).where(col("__ci") <= col("__cj"))
      .withColumn("__ang", acos(clamp(call_function("cosine_sim", col("__cvi"), col("__cvj")))))
      .withColumn("__best", cos(greatest(col("__ang") - col("__ri") - col("__rj"), lit(0.0))))
    val admitted = blocks.where(col("__best") >= lit(minCos) - eps)
    val total = blocks.count()
    val adm = admitted.count()
    val scored = admitted.agg(sum(col("__ni") * col("__nj"))).head.getLong(0)
    println(s"n=$n k=$k blocks: $adm / $total admitted (${100.0 * adm / total}%)")
    println(s"scored pairs ≈ $scored vs brute ${n * n / 2} (${100.0 * scored / (n * n / 2.0)}%)")
    spark.stop()
  }
}
