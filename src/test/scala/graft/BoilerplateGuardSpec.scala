package graft

import org.apache.spark.sql.functions._
import graft.text.DedupOps

/** Boilerplate-before-banding guard (VERDICT r14 item 7): a universal
  * banner block (on 100% of docs, unlike the 1%-df template farms the
  * banding already tolerates) pushes every pairwise est-sim toward the
  * banding threshold, so band-collision volume stops being true-pair
  * driven — the one input shape that breaks the banding contract's
  * cost bound SILENTLY. The guard (a) measures high-df gram coverage
  * cheaply, (b) warns at the bound, (c) optionally strips UNIVERSAL
  * blocks from the sketch input only, restoring content-driven
  * candidate volume while verification stays exact on original text.
  */
class BoilerplateGuardSpec extends SparkSpec {
  import spark.implicits._

  /** 20-token banner every doc shares. */
  private val banner = (1 to 20).map(i => s"banner$i").mkString(" ")

  /** nBase docs of unique 60-token content behind the banner, plus
    * `dupPairs` doc pairs with IDENTICAL content (true content dups:
    * raw-text Jaccard = 100%). */
  private def bannerCorpus(nBase: Int, dupPairs: Int) = {
    val rnd = new scala.util.Random(41)
    val base = (0 until nBase).map { i =>
      (i.toLong, banner + " " + (1 to 60).map(_ => s"w${i}_${rnd.nextInt(100000)}").mkString(" "))
    }
    val dups = (0 until dupPairs).flatMap { p =>
      val content = (1 to 60).map(_ => s"d${p}_${rnd.nextInt(100000)}").mkString(" ")
      Seq((1000L + p * 2, banner + " " + content), (1001L + p * 2, banner + " " + content))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("coverage detector fires on a universal banner, stays quiet without one") {
    val docs = bannerCorpus(60, 3).persist()
    val n = docs.count()
    val cov = DedupOps.boilerplateCoveragePermille(docs, "doc_id", $"text", 3, n)
    // ~18 of ~78 gram positions per doc sit fully inside the banner
    assert(cov >= 150, s"banner corpus coverage $cov must cross the 150 permille bound")

    val noBanner = docs.select($"doc_id",
      expr("array_join(slice(split(text, ' '), 21, 100000), ' ')").as("text"))
    val cov2 = DedupOps.boilerplateCoveragePermille(noBanner, "doc_id", $"text", 3, n)
    assert(cov2 < 150, s"banner-free corpus coverage $cov2 must stay under the bound")
    docs.unpersist()
  }

  test("universal-block strip collapses band-collision volume to content-driven") {
    val docs = bannerCorpus(60, 3).persist()
    val n = docs.count()
    val stripped = DedupOps.stripUniversalBlocksForSketch(docs, "doc_id", $"text", n)
    // the banner block (df = 100%) is gone; unique content survives
    val survivors = stripped.count()
    assert(survivors == n, "every doc keeps its content blocks")
    assert(stripped.where(col("__stext").contains("banner1")).count() == 0L,
      "no banner token survives the strip")

    // band collisions with the est gate OFF (minEst=0) expose the raw
    // candidate volume the executor actually materializes
    def collisions(d: org.apache.spark.sql.DataFrame, text: String): Long = {
      val sigs = DedupOps.minhashSignaturesNative(d, "doc_id", col(text), 3, 48)
      DedupOps.minhashLshPairs(sigs, "doc_id", 48, 24, minEst = 0.0).count()
    }
    val raw = collisions(docs, "text")
    val content = collisions(stripped, "__stext")
    // content-driven: exactly the 3 identical-content pairs collide
    assert(content == 3L, s"stripped-sketch collisions must be the 3 content-dup pairs, got $content")
    assert(raw >= 10L * content,
      s"banner corpus must show the blow-up the guard exists for (raw=$raw, content=$content)")
    docs.unpersist()
  }

  test("guarded router: exact decisions unchanged for content dups; banner-only similarity excluded by contract") {
    val docs = bannerCorpus(40, 2).persist()
    val truth = Set((1000L, 1001L), (1002L, 1003L))
    val got = DedupOps.nearDupPairs(
      docs, "doc_id", $"text", 3, 50,
      boilerGuardPermille = 150, boilerStripForSketch = true)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(got == truth, s"guarded run must find exactly the content dups, got $got")

    // the documented contract change: docs similar ONLY through the
    // banner (banner + 5 unique tokens each -> raw-text Jaccard ~64%)
    // are candidates without the guard, and intentionally NOT with it
    val tiny = Seq(
      (1L, banner + " alpha beta gamma delta eps"),
      (2L, banner + " zeta eta theta iota kappa")).toDF("doc_id", "text")
    val withBoth = docs.union(tiny)
    val unguarded = DedupOps.nearDupPairs(withBoth, "doc_id", $"text", 3, 50)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(unguarded.contains((1L, 2L)),
      "without the guard the banner-dominated pair passes the raw-text threshold")
    val guarded = DedupOps.nearDupPairs(
      withBoth, "doc_id", $"text", 3, 50,
      boilerGuardPermille = 150, boilerStripForSketch = true)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(!guarded.contains((1L, 2L)),
      "with the strip, banner-only similarity is not a candidate (stated contract)")
    assert(guarded.intersect(truth) == truth, "content dups still found")
    docs.unpersist()
  }

  test("warn-only guard leaves the pair set untouched; quiet corpus skips the strip") {
    val docs = bannerCorpus(40, 2)
    val plain = DedupOps.nearDupPairs(docs, "doc_id", $"text", 3, 50)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    val warned = DedupOps.nearDupPairs(docs, "doc_id", $"text", 3, 50,
      boilerGuardPermille = 150)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(warned == plain, "warn-only mode must not change decisions")

    // a quiet corpus (no universal banner): the armed strip never
    // engages, so the pair set equals the unguarded run's
    val quiet = Tables.documents(spark, sf).limit(150).select($"doc_id", $"text")
    val a = DedupOps.nearDupPairs(quiet, "doc_id", $"text", 3, 50)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    val b = DedupOps.nearDupPairs(quiet, "doc_id", $"text", 3, 50,
      boilerGuardPermille = 150, boilerStripForSketch = true)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(a == b, "below-bound corpus: armed guard is a no-op on decisions")
  }

  test("#154 is ONE plan: frame construction runs no driver pre-pass job; in-plan nDocs equals the literal overload") {
    val docs = bannerCorpus(30, 2).persist()
    docs.count() // materialize OUTSIDE the profiled window
    try {
      val (frame, profile) = Profile.window(spark)(p => p.build(QueriesText.boilerCoverageOn(docs)))
      assert(profile.build.jobs == 0,
        s"building #154's frame must be lazy — ${profile.build.jobs} job(s) ran")
      val got = frame.head()
      val want = DedupOps.boilerplateCoverageFrame(
        docs, "doc_id", $"text", 3, docs.count()).head()
      assert(got == want, s"in-plan nDocs variant: $got != literal-threshold $want")
      assert(got.getAs[Long]("coverage_permille") >= 150,
        "banner corpus still reads as boilerplate-covered")
    } finally {
      docs.unpersist()
      ()
    }
  }
}
