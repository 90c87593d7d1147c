package graft

import org.apache.spark.sql.functions._
import graft.text.{TextOps, DedupOps}

class TextSpec extends SparkSpec {
  /** Relational MinHash reference for `minhashSignaturesNative`: all
    * k seeded xxhash64 values of each gram in one array, reduced per
    * doc by the element-wise `vec_min` aggregate. */
  private def minhashSignatures(grams: org.apache.spark.sql.DataFrame, id: String, k: Int) = {
    grams
      .withColumn("vec", transform(sequence(lit(0), lit(k - 1)), s => xxhash64(s, col("gram"))))
      .groupBy(col(id))
      .agg(call_function("vec_min", col("vec")).as("sig"))
  }

  import spark.implicits._

  test("token counting: whitespace vs BPE-ish") {
    val df = Seq("hello world, it's 2024!").toDF("text")
      .select(
        TextOps.wordCount($"text").as("ws"),
        TextOps.bpeTokenCount($"text").as("bpe"))
    val (ws, bpe) = df.as[(Int, Int)].head()
    assert(ws == 4)
    // hello | world | , | it | ' | s | 2024 | !
    assert(bpe == 8)
  }

  test("quality score is integer-exact and bucketed") {
    val df = Seq("the cat sat on the mat").toDF("text").select(
      TextOps.qualityScore(
        length($"text"), TextOps.wordCount($"text"),
        TextOps.stopwordCount($"text", TextOps.StopwordsEn),
        TextOps.distinctWordCount($"text")).as("q"))
    val q = df.as[Long].head()
    // n_chars=22 -> 1; n_words=6 -> 1; stop_hits=3 -> 50pct -> 25; distinct=5 -> 83pct -> 25
    assert(q == 1 + 1 + 25 + 25)
  }

  test("language id picks the dominant stopword list, zh via CJK") {
    val df = Seq("der hund und die katze", "le chat et la maison", "你好世界", "zzz qqq").toDF("text")
      .select(TextOps.langPredict($"text").as("p"))
    assert(df.as[String].collect().toSeq == Seq("de", "fr", "zh", "unknown"))
  }

  test("ngram jaccard finds the duplicated document pair") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different content with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairs(df, "doc_id", $"text", 3, 100, 50)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("minhash LSH surfaces near-identical docs") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val grams = DedupOps.wordGramHashes(df, "doc_id", $"text", 3)
    val sigs = minhashSignatures(grams, "doc_id", 32)
    val pairs = DedupOps.minhashLshPairs(sigs, "doc_id", 32, 8, 0.9)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("simhash of identical token multisets is identical; pairs verify hamming") {
    val df = Seq(
      (1L, "spark makes big data small again"),
      (2L, "spark makes big data small again"),
      (3L, "entirely unrelated words live here now")
    ).toDF("doc_id", "text")
    val h = DedupOps.simhash(df, "doc_id", $"text")
    val hs = h.as[(Long, Long)].collect().toMap
    assert(hs(1L) == hs(2L))
    // hamming distance of every pair, as bit_count of the xor
    val ham = h.select($"doc_id".as("d1"), $"simhash".as("h1"))
      .join(h.select($"doc_id".as("d2"), $"simhash".as("h2")), $"d1" < $"d2")
      .select($"d1", $"d2", bit_count($"h1".bitwiseXOR($"h2")).as("hamming"))
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(ham((1L, 2L)) == 0)
    assert(ham((1L, 3L)) > 0 && ham((2L, 3L)) > 0)
  }

  test("q_dedup_simhash end to end: the near-dup pipeline reproduces the exact J>=50 truth") {
    val docs = Tables.documents(spark, sf)
    val truth = DedupOps.ngramJaccardPairs(docs, "doc_id", $"text", 3, Int.MaxValue, 50)
      .select("doc1", "doc2")
    val banded = SparkEntry.queries("q_dedup_simhash")(spark, sf).select("doc1", "doc2")
    assert(truth.exceptAll(banded).isEmpty,
      "a true J>=50 pair escaped the 24x2 MinHash banding — recall margin broken")
    assert(banded.exceptAll(truth).isEmpty,
      "exact verification must kill every sub-threshold candidate")
  }

  test("ngram novelty: first-occurrence ownership, duplicates at zero, short docs out") {
    val df = Seq(
      (1L, "a b c d"),        // grams {a b c, b c d} — both novel
      (2L, "a b c d"),        // identical: every gram owned by doc 1
      (3L, "a b c x y z"),    // {a b c(owned), b c x, c x y, x y z} -> 3/4
      (4L, "p q")             // < 3 tokens: no grams, excluded
    ).toDF("doc_id", "text")
    val out = QueriesText.ngramNoveltyOn(df)
      .select("doc_id", "n_grams", "n_novel", "novelty_permille")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 2L, 1000L),
      (2L, 2L, 0L, 0L),
      (3L, 4L, 3L, 750L)))
  }

  test("gram df histogram: exact buckets, cap bucket aggregates the tail") {
    // gram "a b c" in 3 docs (df 3); "b c d" in 1; "x y z" in 1
    val df = Seq(
      (1L, "a b c"), (2L, "a b c d"), (3L, "a b c"), (4L, "x y z")
    ).toDF("doc_id", "text")
    val out = QueriesText.gramDfHistogramOn(df)
      .select("df_bucket", "n_grams", "n_postings")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 2L), (3L, 1L, 3L)))
  }

  test("dup cluster sizes: transitive components collapse to a size histogram") {
    // docs 1-2-3 chain into one component via shared grams; 4-5 are
    // exact twins; 6 is isolated (drops out: no pair, no cluster)
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, base + " one"),
      (2L, base + " two"),
      (3L, base + " three"),
      (4L, "totally different words entirely here now okay right"),
      (5L, "totally different words entirely here now okay right"),
      (6L, "isolated document with its very own vocabulary set")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairs(df, "doc_id", $"text", 3, 100, 20)
    val sizes = DedupOps.resolveGroups(pairs)
      .groupBy($"group_id").agg(count(lit(1)).as("n"))
      .select($"n").as[Long].collect().toSeq.sorted
    assert(sizes == Seq(2L, 3L), s"components must be {4,5} and {1,2,3}: $sizes")
  }

  test("cross-source dup matrix: pairs land in unordered cells, diagonal kept") {
    // 1 (src A) ~ 2 (src B): cross cell (A,B); 3 ~ 4 both src B:
    // diagonal cell (B,B); 5 matches nothing
    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota"
    val long2 = "kappa lambda mu nu xi omicron pi rho sigma"
    val docs = Seq(
      (1L, long1, "A"), (2L, long1 + " tail", "B"),
      (3L, long2, "B"), (4L, long2, "B"),
      (5L, "nothing shared with anyone here at all today", "A")
    ).toDF("doc_id", "text", "source")
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", $"text", 3, 100, 50)
      .select("doc1", "doc2")
    val src = docs.select($"doc_id", $"source")
    val out = pairs
      .join(src.select($"doc_id".as("doc1"), $"source".as("__s1")), "doc1")
      .join(src.select($"doc_id".as("doc2"), $"source".as("__s2")), "doc2")
      .groupBy(least($"__s1", $"__s2").as("a"), greatest($"__s1", $"__s2").as("b"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("A", "B", 1L), ("B", "B", 1L)))
  }

  test("native minhash signature is bit-identical to the explode+vec_min pipeline") {
    val docs = Tables.documents(spark, sf).where($"doc_id" < 50).select($"doc_id", $"text")
    val grams = DedupOps.wordGramHashes(docs, "doc_id", $"text", 3)
    val relational = minhashSignatures(grams, "doc_id", k = 16)
    val native = DedupOps.minhashSignaturesNative(docs, "doc_id", $"text", n = 3, k = 16)
    assert(relational.exceptAll(native).isEmpty && native.exceptAll(relational).isEmpty)
  }

  test("native simhash is bit-identical to the relational ±count formulation") {
    val docs = Tables.documents(spark, sf).where($"doc_id" < 50).select($"doc_id", $"text")
    // the pre-round-2 relational pipeline, reconstructed inline
    val relational = docs
      .select($"doc_id", explode(graft.text.TextOps.tokens($"text")).as("token"))
      .select($"doc_id", xxhash64($"token").as("th"))
      .groupBy($"doc_id", $"th").agg(count(lit(1)).as("cnt"))
      .withColumn("vec", transform(sequence(lit(0), lit(63)), j =>
        when(call_function("shiftright", $"th", j.cast("int"))
          .bitwiseAND(lit(1L)) === 1L, $"cnt").otherwise(-$"cnt")))
      .groupBy($"doc_id").agg(call_function("vec_sum", $"vec").as("sums"))
      .select($"doc_id",
        aggregate(
          zip_with($"sums", sequence(lit(0L), lit(63L)), (s, j) =>
            when(s > 0, call_function("shiftleft", lit(1L), j.cast("int"))).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("simhash"))
    val native = DedupOps.simhash(docs, "doc_id", $"text")
    assert(relational.exceptAll(native).isEmpty && native.exceptAll(relational).isEmpty)
  }

  test("native winnowing is bit-identical to the posexplode+window formulation") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf).where($"doc_id" < 50).select($"doc_id", $"text")
    val n = 3; val win = 4
    // the pre-round-2 relational pipeline, reconstructed inline
    val th = $"__th"
    val grams = when(size(th) < n, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), size(th) - n),
        i => xxhash64((0 until n).map(j => element_at(th, i + j + 1)): _*)))
    val positioned = docs
      .select($"doc_id", transform(graft.text.TextOps.tokens($"text"), t => xxhash64(t)).as("__th"))
      .select($"doc_id", posexplode(grams).as(Seq("pos", "h")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos").rowsBetween(0, win - 1)
    val relational = positioned
      .withColumn("fp", min($"h").over(w))
      .select($"doc_id", $"fp").distinct()
    val native = DedupOps.fingerprints(docs, "doc_id", $"text", n, win)
    assert(relational.exceptAll(native).isEmpty && native.exceptAll(relational).isEmpty)
  }

  test("winnowing fingerprints overlap heavily for near-identical docs") {
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val df = Seq((1L, a), (2L, a + " extra")).toDF("doc_id", "text")
    val fp = DedupOps.fingerprints(df, "doc_id", $"text", 3, 4)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val overlap = fp(1L).intersect(fp(2L)).size.toDouble / fp(1L).size
    assert(overlap > 0.7)
  }
}
