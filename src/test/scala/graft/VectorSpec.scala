package graft

import org.apache.spark.sql.functions._
import graft.vector.VectorOps

class VectorSpec extends SparkSpec {

  test("quantized ANN recalls most exact top-5 neighbors (int8 error only)") {
    import spark.implicits._
    val exact = QueriesVector.annTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quant = QueriesVector.annQuantized(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      exact(q).intersect(quant.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@5 $mean")
  }

  test("int8 quantization bounds values to [-127, 127] and keeps zero vectors") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = graft.vector.VectorOps.quantizeI8(df, "vec_id", "embedding")
      .as[(Long, Seq[Byte])].collect().toMap
    assert(q(1L) == Seq[Byte](64, -127, 32))
    assert(q(2L) == Seq[Byte](0, 0, 0))
  }
  import spark.implicits._
  implicit val sp: org.apache.spark.sql.SparkSession = spark

  private def df(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))

  test("cosine_sim expression: orthogonal, identical, opposite, zero") {
    val d = Seq(
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 2f), Seq(1f, 2f), 1.0),
      (Seq(1f, 0f), Seq(-1f, 0f), -1.0),
      (Seq(0f, 0f), Seq(1f, 1f), 0.0)
    ).toDF("a", "b", "want")
      .select(expr("cosine_sim(cast(a as array<float>), cast(b as array<float>))").as("got"), $"want")
      .as[(Double, Double)].collect()
    d.foreach { case (got, want) => assert(math.abs(got - want) < 1e-9, s"$got != $want") }
  }

  test("cosine_sim survives codegen (runs inside a projection over real data)") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.select(expr("cosine_sim(embedding, embedding)").as("c"))
      .where(abs($"c" - 1.0) < 1e-9).count()
    assert(n == emb.count()) // self-similarity is exactly 1
  }

  test("bruteForceTopK ranks by cosine with id tiebreak and excludes self") {
    val data = df(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(1f, 0.01f)))
    val out = VectorOps.bruteForceTopK(data.where($"vec_id" === 1), data, "vec_id", "embedding", 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSeq.sorted
    assert(out == Seq((1, 4L), (2, 2L)))
  }

  test("cosinePairs finds only pairs above threshold") {
    val data = df((1L, Seq(1f, 0f)), (2L, Seq(1f, 0.05f)), (3L, Seq(0f, 1f)))
    val pairs = VectorOps.cosinePairs(data, "vec_id", "embedding", 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("null array ELEMENTS read as 0 across all vector expressions") {
    // (1, null, 2) must behave exactly like (1, 0, 2) — parquet dense
    // embeddings are routinely element-nullable in the schema.
    val d = spark.range(1).select(
      expr("cast(array(1.0, null, 2.0) as array<float>)").as("a"),
      expr("cast(array(1.0, 0.0, 2.0) as array<float>)").as("b"))
    val row = d.select(
      expr("cosine_sim(a, b)").as("cos"),
      expr("cosine_sim(a, a)").as("self"),
      VectorOps.lshBucket($"a", 4, 3).as("ba"),
      VectorOps.lshBucket($"b", 4, 3).as("bb"),
      expr("cosine_sim_i8(cast(array(1, null, 2) as array<tinyint>), cast(array(1, 0, 2) as array<tinyint>))").as("qc")
    ).collect().head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12, "cosine: null elem != 0")
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12, "cosine self: null elem != 0")
    assert(row.getLong(2) == row.getLong(3), "hyperplane_bucket: null elem != 0")
    assert(math.abs(row.getDouble(4) - 1.0) < 1e-12, "cosine_sim_i8: null elem != 0")

    graft.functions.NearestCentroid.register(
      spark, Array(1, 2), Array(Array(1f, 0f, 2f), Array(-1f, 0f, -2f)))
    val nc = d.select(expr("nearest_centroid(a)").as("n")).select($"n.cid", $"n.cos")
      .as[(Int, Double)].collect().head
    assert(nc._1 == 1 && math.abs(nc._2 - 1.0) < 1e-12, s"nearest_centroid: $nc")
  }

  test("null array ELEMENTS read as 0 in vec_sum / vec_min / vec_sum_d") {
    // same convention as the scalar expressions above: a null slot is
    // 0, never a blind buffer read.
    val d = spark.range(2).select(
      when($"id" === 0, expr("cast(array(1, null, 4) as array<bigint>)"))
        .otherwise(expr("cast(array(10, 20, null) as array<bigint>)")).as("v"),
      when($"id" === 0, expr("cast(array(1.0, null, 4.0) as array<float>)"))
        .otherwise(expr("cast(array(10.0, 20.0, null) as array<float>)")).as("f"))
    val row = d.select(
      expr("vec_sum(v)").as("s"),
      expr("vec_min(v)").as("m"),
      expr("vec_sum_d(f)").as("sd")).collect().head
    assert(row.getSeq[Long](0) == Seq(11L, 20L, 4L), "vec_sum: null elem != 0")
    assert(row.getSeq[Long](1) == Seq(1L, 0L, 0L), "vec_min: null elem != 0")
    assert(row.getSeq[Double](2) == Seq(11.0, 20.0, 4.0), "vec_sum_d: null elem != 0")
  }

  test("knnJoinExact equals brute force for every query, any block count") {
    val emb = Tables.embeddings(spark, sf).limit(120)
    val brute = VectorOps.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    for (b <- Seq(1, 4, 8)) {
      val knn = VectorOps.knnJoinExact(emb, "vec_id", "embedding", k = 3, blocks = b)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(knn == brute, s"blocks=$b: tiled two-level selection must be lossless")
    }
  }

  test("knnJoinExact plans a tiled equi-join: no cartesian / nested-loop") {
    val emb = Tables.embeddings(spark, sf)
    val p = VectorOps.knnJoinExact(emb, "vec_id", "embedding", k = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("knnJoinExact breaks cosine ties deterministically across tiles") {
    // duplicate vectors → equal cosines to every query; the winner
    // must be the smallest neighbor_id regardless of which tile
    // scored it, at every block count
    val dup = df((1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(1f, 0f)),
      (4L, Seq(1f, 0f)), (5L, Seq(0f, 1f)))
    val expect = VectorOps.knnJoinExact(dup, "vec_id", "embedding", k = 2, blocks = 1)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    for (b <- Seq(3, 8)) {
      val got = VectorOps.knnJoinExact(dup, "vec_id", "embedding", k = 2, blocks = b)
        .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
      assert(got == expect, s"blocks=$b")
    }
    // query 2's neighbors under ties: ids 1 then 3 (smallest first)
    assert(expect.contains((2L, 1, 1L)) && expect.contains((2L, 2, 3L)), expect.toString)
  }

  test("knnClassify: every label row is complete and permille-bounded") {
    val out = QueriesVector.knnClassify(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n_vectors"); val c = r.getAs[Long]("n_correct")
      val p = r.getAs[Long]("accuracy_permille")
      assert(c >= 0 && c <= n, r.toString)
      assert(p == c * 1000 / n, "permille must be exact integer math")
    }
  }

  test("lshTopK returns a subset of brute-force candidates with correct scores") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val q = emb.where($"vec_id" < 3)
    val lsh = VectorOps.lshTopK(q, emb, "vec_id", "embedding", 8, 5).collect()
    assert(lsh.nonEmpty)
    // identical vector always shares its own bucket -> rank1 of a self-set is itself-excluded neighbor
    lsh.foreach(r => assert(r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
  }
}
