package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.vector.{Ivf, VectorOps}

/** Property tests: the IVF exact paths equal brute force on ARBITRARY
  * corpora — not just the fixed testdata. Random low-dim vectors mix
  * clustered and anti-clustered shapes, so both the block-pruned and
  * the fallback plan of `cosinePairsExact`, and both phases of
  * `probeExact`'s triangle-inequality bound, get exercised across the
  * decision boundary. Exactness here is the whole contract: these are
  * the operators whose 100 TB story is "prunes when the data allows,
  * NEVER loses a qualifying row". */
class IvfPropertySpec extends SparkSpec {
  import spark.implicits._
  implicit val sp: org.apache.spark.sql.SparkSession = spark

  private def samples[A](g: Gen[A], n: Int, seed0: Long): Seq[A] = {
    var seed = Seed(seed0)
    (1 to n).flatMap { _ =>
      val r = g.apply(Gen.Parameters.default, seed)
      seed = seed.next
      r
    }
  }

  // corpora of 12-40 vectors in 4 dims: a few anchor directions plus
  // noise, so clusters exist sometimes and not others
  private val corpusGen: Gen[List[(Long, Seq[Float])]] = for {
    n <- Gen.chooseNum(12, 40)
    anchors <- Gen.chooseNum(1, 4)
    rows <- Gen.listOfN(n, for {
      a <- Gen.chooseNum(0, anchors - 1)
      jitter <- Gen.listOfN(4, Gen.chooseNum(-40, 40).map(_ / 100.0f))
    } yield Array.tabulate(4)(d => (if (d == a) 1.0f else 0.0f) + jitter(d)).toSeq)
  } yield rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }

  test("cosinePairsExact equals the tiled brute join on arbitrary corpora and thresholds") {
    samples(Gen.zip(corpusGen, Gen.oneOf(0.3, 0.5, 0.8)), 10, 31337L).foreach {
      case (corpus, minCos) =>
        val emb = corpus.toDF("vec_id", "embedding")
          .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
        val brute = VectorOps.cosinePairs(emb, "vec_id", "embedding", minCos)
          .select("id1", "id2", "cosine").as[(Long, Long, Double)].collect().toSet
        val pruned = Ivf.cosinePairsExact(emb, "vec_id", "embedding", minCos, k = 5)
          .select("id1", "id2", "cosine").as[(Long, Long, Double)].collect().toSet
        assert(pruned == brute,
          s"minCos=$minCos missing=${(brute -- pruned).take(3)} extra=${(pruned -- brute).take(3)}")
    }
  }

  test("probeExact equals brute-force top-k on arbitrary corpora") {
    samples(corpusGen, 8, 2025L).foreach { corpus =>
      val emb = corpus.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      val index = Ivf.build(emb, "vec_id", "embedding", k = 4, iters = 2)
      val queries = emb.where($"vec_id" < 4)
      val probed = Ivf.probeExact(index, queries, "vec_id", "embedding", nprobe = 1, topK = 3)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Int, Long, Double)].collect().toSet
      val brute = VectorOps.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(probed == brute,
        s"missing=${(brute -- probed).take(3)} extra=${(probed -- brute).take(3)}")
    }
  }
}
