package graft

import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

/** Bigram LM familiarity score (#143) on hand-built corpora: the
  * floor(log2(count)) = length(bin(c))−1 contract, both score tails
  * (templated high, all-novel zero), degenerate docs, and the plan
  * contracts (no Window; doc-grain collapse is an aggregate). */
class BigramLmSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[(Long, String)]) =
    QueriesText.bigramLmOn(rows.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("per-occurrence floor(log2(corpus count)) sums, hand-checked") {
    // bigram counts: (a,b)=3 across docs 1+2, (b,a)=1, (b,c)=1
    val out = run(Seq((1L, "a b a b"), (2L, "a b c")))
    assert(out(1L) == ((3L, 2L, 66L)), "doc1: [ab ba ab] -> 1+0+1, 200//3")
    assert(out(2L) == ((2L, 1L, 50L)), "doc2: [ab bc] -> 1+0, 100//2")
  }

  test("degenerate docs stay present with zero scores") {
    val out = run(Seq((1L, "x"), (2L, ""), (3L, "   "), (4L, "a b")))
    assert(out(1L) == ((0L, 0L, 0L)), "single token: no bigrams")
    assert(out(2L) == ((0L, 0L, 0L)), "empty text")
    assert(out(3L) == ((0L, 0L, 0L)), "whitespace-only text")
    assert(out(4L) == ((1L, 0L, 0L)), "lone df=1 bigram: floor(log2 1) = 0")
  }

  test("templated docs score high, all-novel docs score zero") {
    val template = (1L to 8L).map(i => i -> "the quick brown fox")
    val novel = Seq(100L -> "zq wv xk yj")
    val out = run(template ++ novel)
    // every template bigram occurs 8 times: floor(log2 8) = 3 -> 300 centilog
    template.foreach { case (d, _) => assert(out(d) == ((3L, 9L, 300L))) }
    assert(out(100L) == ((3L, 0L, 0L)), "df=1 everywhere -> zero familiarity")
  }

  test("within-doc repetition is corpus count too (self-familiarity)") {
    // (a,a) occurs 3 times inside one doc: each occurrence scores
    // floor(log2 3) = 1 — repetition inflates its own familiarity,
    // which is exactly why the HIGH tail is also a filter target
    val out = run(Seq((1L, "a a a a")))
    assert(out(1L) == ((3L, 3L, 100L)))
  }

  test("plan: no Window node; doc collapse is an aggregate") {
    val df = QueriesText.bigramLmOn(Seq((1L, "a b")).toDF("doc_id", "text"))
    val windows = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(windows.isEmpty)
  }
}
