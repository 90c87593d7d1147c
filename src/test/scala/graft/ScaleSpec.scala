package graft

import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("nfc_norm unifies decomposed and precomposed forms") {
    // a = decomposed (e + combining acute), b = precomposed \u00e9
    val out = Seq(("e\u0301tude", "\u00e9tude")).toDF("a", "b")
      .select(
        (call_function("nfc_norm", $"a") === call_function("nfc_norm", $"b")).as("same"),
        ($"a" === $"b").as("raw_same"),
        call_function("strip_accents", $"a").as("flat_a"),
        call_function("strip_accents", $"b").as("flat_b"))
      .as[(Boolean, Boolean, String, String)].collect().head
    assert(out._1, "NFC must unify the two encodings")
    assert(!out._2, "raw strings differ")
    assert(out._3 == "etude" && out._4 == "etude")
  }

  test("topk_sketch is exact when capacity exceeds distinct items") {
    val words = Seq.fill(50)("alpha") ++ Seq.fill(30)("beta") ++ Seq.fill(20)("gamma") ++ Seq.fill(5)("delta")
    val out = words.toDF("w").repartition(7)
      .agg(call_function("topk_sketch", $"w", lit(16)).as("top"))
      .select(explode($"top").as("e"))
      .select($"e.item", $"e.count", $"e.err")
      .as[(String, Long, Long)].collect().toList
    assert(out == List(("alpha", 50L, 0L), ("beta", 30L, 0L), ("gamma", 20L, 0L), ("delta", 5L, 0L)))
  }

  test("topk_sketch under pressure keeps the heavy hitter with bounded error") {
    // 1000 occurrences of "hot", 200 distinct cold items × 1 — capacity 64
    val words = Seq.fill(1000)("hot") ++ (1 to 200).map(i => f"cold$i%03d")
    val out = words.toDF("w").repartition(5)
      .agg(call_function("topk_sketch", $"w", lit(64)).as("top"))
      .select(explode($"top").as("e")).select($"e.item", $"e.count", $"e.err")
      .as[(String, Long, Long)].collect().toList
    val hot = out.find(_._1 == "hot").get
    assert(hot._2 >= 1000L, "count is an over-estimate, never under")
    assert(hot._2 - hot._3 <= 1000L, "count - err lower-bounds the true frequency")
    assert(out.size <= 64)
  }

  test("seq_pack fills packs in doc order without overflowing ids") {
    val out = QueriesScale.seqPack(spark, sf)
      .groupBy("source", "pack_id").agg(sum("n_tokens").as("toks"), count(lit(1)).as("docs"))
    // every pack except possibly the last per source starts below the budget boundary
    val packs = out.count()
    assert(packs > 0)
    val bad = QueriesScale.seqPack(spark, sf)
      .where(col("pack_offset") >= 2048L || col("pack_offset") < 0L).count()
    assert(bad == 0)
  }

  test("pack_payload: slices reassemble the token stream exactly, packs full except the last") {
    import spark.implicits._
    // a hand-built ledger with one doc that SPANS a pack boundary:
    // source A: 1500 + 1500 tokens → packs 0 (2048) and 1 (952)
    val mk = (n: Int, tag: String) => (1 to n).map(i => s"$tag$i").mkString(" ")
    val ledger = Seq(
      (1L, 1L, "A", mk(1500, "a")),
      (2L, 1L, "A", mk(1500, "b")),
      (3L, 1L, "B", mk(10, "c"))
    ).toDF("doc_id", "copy_id", "source", "text")
    val out = QueriesScale.packPayloadsOn(ledger)
      .orderBy("source", "pack_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
      Seq(("A", 0L, 2L, 2048L), ("A", 1L, 1L, 952L), ("B", 0L, 1L, 10L)))
    // pack 0 = all of doc 1 + the first 548 tokens of doc 2; pack 1 =
    // the remaining 952 — concatenation reassembles doc 2 exactly
    val p0 = out(0)._5.split(" "); val p1 = out(1)._5.split(" ")
    assert(p0.take(1500).sameElements((1 to 1500).map(i => s"a$i")))
    assert((p0.drop(1500) ++ p1).sameElements((1 to 1500).map(i => s"b$i")),
      "the boundary-spanning doc reassembles from its slices")
    // determinism: a repartitioned rerun yields identical payloads
    val again = QueriesScale.packPayloadsOn(ledger.repartition(7))
      .orderBy("source", "pack_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(again.toSeq == out.toSeq)
  }

  test("mix_sample keeps rates deterministic per source tier") {
    val out = QueriesScale.mixSample(spark, sf)
    val rates = out.select("keep_rate_pct").distinct().as[Long].collect().toSet
    assert(rates.subsetOf(Set(100L, 50L, 20L)))
    // rerun must produce the identical sample (no rand())
    val a = out.where($"sampled").select("doc_id").as[Long].collect().toSet
    val b = QueriesScale.mixSample(spark, sf).where($"sampled").select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("mix_upsample materializes whole copies plus the key-mod fraction") {
    val out = QueriesScale.mixUpsample(spark, sf).cache()
    val perDoc = out.groupBy("doc_id", "weight_pct").count()
      .as[(Long, Long, Long)].collect()
    perDoc.foreach { case (docId, w, copies) =>
      val expect = w / 100 + (if (docId % 100 < w % 100) 1L else 0L)
      assert(copies == expect, s"doc $docId weight $w: $copies copies, expected $expect")
    }
    // 250% sources average ~2.5 copies per doc across the key space
    val t1 = perDoc.filter(_._2 == 250L)
    if (t1.nonEmpty) {
      val mean = t1.map(_._3).sum.toDouble / t1.length
      assert(mean > 2.2 && mean < 2.8, s"mean $mean")
    }
    out.unpersist()
  }

  test("quartiles: each segment yields the 4 requested quantiles, values from real rows") {
    val out = QueriesScale.quartiles(spark, sf)
    val bySeg = out.groupBy("c_mktsegment").count().as[(String, Long)].collect().toMap
    assert(bySeg.values.forall(_ == 4L), bySeg.toString)
    val pcts = out.select("pctl").distinct().as[Long].collect().toSet
    assert(pcts == Set(25L, 50L, 75L, 90L))
  }

  test("hll approx distinct stays within the configured error of exact") {
    // the query emits the envelope check itself (|approx-exact| <= 5%)
    val out = QueriesScale.hllDistinct(spark, sf)
      .select($"approx_ok").as[Boolean].collect()
    assert(out.nonEmpty && out.forall(identity), out.mkString(","))
  }

  test("two-level prefix sum equals the single-window formulation") {
    import org.apache.spark.sql.expressions.Window
    import graft.text.TextOps
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", $"source", TextOps.wordCount($"text").cast("long").as("n_tokens"))
    val twoLevel = graft.operators.ScanOps
      .exclusivePrefixSum(toks, Seq("source"), Seq("doc_id"), $"n_tokens", "tok_before")
      .select("doc_id", "source", "n_tokens", "tok_before")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val oneWindow = toks
      .withColumn("tok_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
    assert(twoLevel.exceptAll(oneWindow).isEmpty && oneWindow.exceptAll(twoLevel).isEmpty)
    // and the local scan really is bucket-scoped: the fact-sized
    // window partitions on (source, __bkt) — its spec shows __bkt as
    // a PARTITION column (followed by the doc_id sort key), and no
    // window sorts the fact on source alone
    val plan = twoLevel.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(source#\\d+, __bkt#\\d+L?, doc_id".r.findFirstIn(plan).isDefined,
      plan.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n"))
    assert(!"windowspecdefinition\\(source#\\d+, doc_id".r.findFirstIn(plan).isDefined,
      "whole-source window sort crept back in")
  }

  test("two-pass quantiles equal the whole-segment window sort") {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")),
        $"o_custkey" === $"c_custkey")
    val twoPass = graft.operators.Quantiles.selectAtRanks(
      o, "c_mktsegment", $"o_totalprice", $"o_orderkey",
      floor($"o_totalprice" / 1000.0).cast("long"), Seq(25L, 50L, 75L, 90L), "value")
    val w = Window.partitionBy("c_mktsegment").orderBy($"o_totalprice", $"o_orderkey")
    val windowed = o
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
      .withColumn("pctl", explode(array(lit(25L), lit(50L), lit(75L), lit(90L))))
      .where($"rn" === call_function("div", $"pctl" * $"n" + 99L, lit(100L)))
      .select($"c_mktsegment", $"pctl", $"o_totalprice".as("value"))
    assert(twoPass.exceptAll(windowed).isEmpty && windowed.exceptAll(twoPass).isEmpty)
    // no window over the raw fact partitioned by segment alone
    val plan = twoPass.queryExecution.executedPlan.toString
    assert(!"windowspecdefinition\\(c_mktsegment#\\d+, o_totalprice".r
      .findFirstIn(plan).isDefined, "whole-segment sort crept back in")
  }

  test("exact IVF probe equals brute force regardless of data clusteredness") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val emb = Tables.embeddings(spark, sf)
    val idx = graft.vector.Ivf.build(emb, "vec_id", "embedding", k = 4, iters = 1)
    val exact = graft.vector.Ivf.probeExact(
      idx, emb.where($"vec_id" < 5), "vec_id", "embedding", nprobe = 1, topK = 3)
    val brute = graft.vector.VectorOps.bruteForceTopK(
      emb.where($"vec_id" < 5), emb, "vec_id", "embedding", k = 3)
    assert(exact.exceptAll(brute).isEmpty && brute.exceptAll(exact).isEmpty)
  }

  test("contamination report broadcasts the eval side and hits planted overlaps") {
    val out = QueriesText.contamination(spark, sf)
    assert(out.count() > 0, "the synthetic corpus plants near-dups of eval docs")
    // the eval postings must come in over a broadcast join — the
    // corpus side must not shuffle for the probe
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(8).mkString("\n"))
  }

  test("minhash_sig / winnow_fps tolerate NULL array elements (SQL surface)") {
    val out = spark.sql(
      """SELECT minhash_sig(array('a', CAST(NULL AS STRING), 'b'), 2, 4) AS sig,
        |       winnow_fps(array('a', CAST(NULL AS STRING), 'b', 'c'), 2, 2) AS fps
        |""".stripMargin).collect().head
    assert(out.getSeq[Long](0).size == 4)
    assert(out.getSeq[Long](1).nonEmpty)
  }
}
