package graft

import graft.text.DedupOps

/** The one near-dup pipeline, [[DedupOps.nearDupPairs]]: its pair set
  * is the exact n-gram Jaccard ground truth, and building its frame
  * runs nothing — candidate generation happens inside the action. */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  /** Clone-heavy corpus: groups of near-identical docs (1-token edits
    * of a 200-token base) are true J>=50 pairs; unrelated bases are
    * far. Deterministic. */
  private def cloneCorpus(nGroups: Int, perGroup: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(11)
    (0 until nGroups).flatMap { g =>
      val base = Vector.fill(200)(s"tok${rnd.nextInt(500)}")
      (0 until perGroup).map { c =>
        val doc = if (c == 0) base else base.updated(rnd.nextInt(200), s"mut${g}_$c")
        ((g * perGroup + c).toLong, doc.mkString(" "))
      }
    }
  }

  test("nearDupPairs emits exactly the exact-Jaccard J>=50 pairs of a clone corpus") {
    val docs = cloneCorpus(12, 3).toDF("doc_id", "text")
    val truth = DedupOps.ngramJaccardPairs(docs, "doc_id", $"text", 3, Int.MaxValue, 50)
      .select("doc1", "doc2", "jaccard_pct").as[(Long, Long, Long)].collect().toSet
    assert(truth.nonEmpty, "corpus must contain true pairs")
    val got = DedupOps.nearDupPairs(docs, "doc_id", $"text", 3, 50)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == truth, s"missing=${(truth -- got).take(3)} extra=${(got -- truth).take(3)}")
  }

  test("building a near-dup frame starts no SQL execution") {
    // every SQL execution started while the frames are built (its
    // description is the action's call site, e.g. "count at …")
    val (_, profile) = Profile.window(spark) { p =>
      p.build {
        DedupOps.nearDupPairs(Tables.documents(spark, sf), "doc_id", $"text", 3, 50)
        SparkEntry.queries("q_dedup_simhash")(spark, sf)
        SparkEntry.queries("q_dedup_minhash")(spark, sf)
      }
    }
    assert(profile.build.executions.isEmpty, s"building the frames ran SQL executions: ${profile.build.executions}")
  }
}
