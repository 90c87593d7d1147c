package graft

import org.apache.spark.sql.functions._
import graft.text.DedupOps

object JaccardProbe {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"STAGE $name%-16s ${(System.nanoTime() - t0) / 1e9}%6.2fs"); r
  }
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val spark = GraftSession.local(8)
    val docs = Tables.documents(spark, dir)
    val grams = DedupOps.wordGramHashes(docs, "doc_id", col("text"), 3)
    t("grams")(grams.count())
    val df = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
    t("df")(df.count())
    val kept = grams.join(broadcast(df.where(col("__df") <= 100)), "gram")
    t("kept")(kept.count())
    val a = kept.select(col("doc_id").as("doc1"), col("gram"))
    val b = kept.select(col("doc_id").as("doc2"), col("gram"))
    val shared = a.join(b, "gram").where(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("shared_grams"))
    t("shared")(shared.count())
    t("full")(QueriesText.ngramJaccard(spark, dir).count())
    t("full2")(QueriesText.ngramJaccard(spark, dir).count())
    spark.stop()
  }
}
