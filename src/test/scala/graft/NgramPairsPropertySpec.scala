package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.text.DedupOps

/** Property test: the exact pair generators
  * ([[DedupOps.ngramJaccardPairs]], [[DedupOps.ngramContainmentPairs]])
  * equal a plain-Scala reference computed on the collected texts — no
  * lost pair, no extra pair, and identical gram counts and
  * percentages — across corpora of varied doc lengths, with the df
  * gate on and off, at Jaccard 1/20/50/80 and containment 80. Near
  * copies and embedded spans put pairs on both sides of every
  * threshold, so an over-tight length bound or a miscounted gated gram
  * set would surface here. */
class NgramPairsPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed0: Long): Seq[A] = {
    var seed = Seed(seed0)
    (1 to n).flatMap { _ =>
      val r = g.apply(Gen.Parameters.default, seed)
      seed = seed.next
      r
    }
  }

  private val word = Gen.chooseNum(0, 11).map(i => s"w$i")
  private val text = Gen.chooseNum(0, 40).flatMap(len => Gen.listOfN(len, word))
  // a doc: fresh text, a near copy of an earlier doc (a few words
  // replaced), or an earlier doc embedded in fresh text
  private def next(prev: Vector[List[String]]): Gen[List[String]] =
    if (prev.isEmpty) text
    else Gen.frequency(
      2 -> text,
      2 -> (for {
        src <- Gen.oneOf(prev)
        edits <- Gen.listOfN(3, Gen.zip(Gen.chooseNum(0, math.max(0, src.size - 1)), word))
      } yield edits.foldLeft(src) { case (t, (i, w)) => if (t.isEmpty) t else t.updated(i, w) }),
      1 -> (for {
        src <- Gen.oneOf(prev); pre <- text; post <- text
      } yield pre.take(10) ++ src ++ post.take(10)))

  private val corpusGen: Gen[Seq[(Long, String)]] = Gen.chooseNum(5, 14).flatMap { nDocs =>
    (0 until nDocs).foldLeft(Gen.const(Vector.empty[List[String]])) { (acc, _) =>
      acc.flatMap(prev => next(prev).map(prev :+ _))
    }.map(_.zipWithIndex.map { case (t, i) => (i.toLong * 7 + 3, t.mkString(" ")) })
  }

  /** (doc1, doc2, shared, grams1, grams2) for every pair sharing a
    * df-gated 3-gram, computed on the collected texts. */
  private def refShared(corpus: Seq[(Long, String)], maxDf: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val n = 3
    val sets = corpus.map { case (id, t) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
      id -> (if (toks.size < n) Set.empty[Seq[String]] else toks.sliding(n).toSet)
    }
    val df = sets.flatMap(_._2.toSeq).groupBy(identity).map { case (g, v) => g -> v.size }
    val gated = sets.map { case (id, s) => id -> s.filter(df(_) <= maxDf) }
    for {
      (a, ga) <- gated; (b, gb) <- gated if a < b
      s = (ga intersect gb).size.toLong if s > 0
    } yield (a, b, s, ga.size.toLong, gb.size.toLong)
  }

  test("ngramJaccardPairs and ngramContainmentPairs equal the plain-Scala reference") {
    // pairs found per threshold over all corpora: none may be vacuous
    val found = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for ((corpus, i) <- samples(corpusGen, 8, 0x5EED).zipWithIndex) {
      val docs = corpus.toDF("doc_id", "text").repartition(1 + i % 4)
      for (maxDf <- Seq(Int.MaxValue, 2 + i % 2)) {
        val ref = refShared(corpus, maxDf)
        for (t <- Seq(1, 20, 50, 80)) {
          val want = ref.collect { case (a, b, s, g1, g2) if s * 100 >= (g1 + g2 - s) * t =>
            val u = g1 + g2 - s
            (a, b, s, g1, g2, (s * 200 + u) / (u * 2))
          }.toSet
          val got = DedupOps.ngramJaccardPairs(docs, "doc_id", col("text"), 3, maxDf, t)
            .as[(Long, Long, Long, Long, Long, Long)].collect()
          assert(got.length == got.toSet.size, s"corpus $i maxDf=$maxDf J>=$t: duplicate pairs")
          assert(got.toSet == want,
            s"corpus $i maxDf=$maxDf J>=$t: lost ${want -- got} extra ${got.toSet -- want}")
          found(s"J>=$t") += got.length
        }
        val want = ref.collect { case (a, b, s, g1, g2) if s * 100 >= math.min(g1, g2) * 80 =>
          val m = math.min(g1, g2)
          (a, b, s, g1, g2, (s * 200 + m) / (m * 2))
        }.toSet
        val got = DedupOps.ngramContainmentPairs(docs, "doc_id", col("text"), 3, maxDf, 80)
          .as[(Long, Long, Long, Long, Long, Long)].collect()
        assert(got.length == got.toSet.size, s"corpus $i maxDf=$maxDf containment: duplicate pairs")
        assert(got.toSet == want,
          s"corpus $i maxDf=$maxDf containment>=80: lost ${want -- got} extra ${got.toSet -- want}")
        found("containment>=80") += got.length
      }
    }
    assert(found.size == 5 && found.values.forall(_ > 0), s"vacuous thresholds: $found")
  }
}
