package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{CorpusIncrementalDag, CorpusPipelineDag, CorpusSelectionDelta, WatermarkStore}
import graft.operators.JobGraph.Succeeded

/** The incremental corpus release (operators/CorpusIncrementalDag.scala)
  * and its delta selection refresh (operators/CorpusSelectionDelta.scala):
  * the batch-proportional release path. Headline contract — after N
  * incremental cycles, the dedup layers (flags / pairs / keep / clean)
  * and the materialized views (selected / mixture / splits / export)
  * equal a full [[CorpusPipelineDag]] rebuild on the union EXACTLY,
  * and the pack/payload delta shards are content-equal (same packed
  * copies, same token mass, in-range offsets; pack-id numbering is
  * batch-sequential by design). Plus restart convergence and
  * empty-batch no-op.
  */
class CorpusSelectionDeltaSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_seldelta").toString

  private def rows(df: DataFrame, cols: Seq[String]): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  private def diff(a: Set[Seq[Any]], b: Set[Seq[Any]]): String =
    s"delta-only=${(a -- b).toSeq.sortBy(_.head.toString).take(4)} " +
      s"full-only=${(b -- a).toSeq.sortBy(_.head.toString).take(4)}"

  test("three-batch delta release == full rebuild; restart converges; empty batch no-ops") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val b1 = ids(ids.length / 3)
    val b2 = ids(ids.length * 2 / 3)

    val root = tmp()
    val L = CorpusSelectionDelta.Layers(root)
    val li = CorpusIncrementalDag.Layout(root)
    Seq(Some(b1), Some(b2), None).zipWithIndex.foreach { case (upTo, i) =>
      val r = CorpusIncrementalDag.run(spark, sf, root,
        upTo = upTo.getOrElse(Long.MaxValue))
      assert(r.forall(_.status == Succeeded),
        s"cycle ${i + 1}: ${r.filterNot(_.status == Succeeded).map(x => x.id -> x.status)}")
    }
    val watermark = new WatermarkStore(li.marks, CorpusIncrementalDag.bootstrapMark)
    assert(watermark.get(CorpusIncrementalDag.entity).trim.toLong == ids.last,
      "watermark advanced to the last batch max")

    // the equivalence PRECONDITION, asserted so it can't silently rot:
    // no later-batch doc bridged two standing components (if this
    // corpus ever does, the contract is the ledger, not bit-equality)
    assert(spark.read.parquet(li.retractions).isEmpty,
      "spec corpus must produce no retractions — bridge merges break bit-equality by design")

    // (on this natural corpus the cut barely moves — adds-only; the
    // eviction/re-admit branches are driven by the engineered-corpus
    // test below, which guarantees they fire)
    val fullRoot = tmp()
    val lf = CorpusPipelineDag.Layout(fullRoot)
    val rf = CorpusPipelineDag.run(spark, sf, fullRoot)
    assert(rf.forall(_.status == Succeeded), s"full: ${rf.map(r => r.id -> r.status)}")

    // EXACT dedup-layer equality (the incremental layers carry an
    // extra `batch` partition column; compare the data columns)
    def layer(path: String, cols: Seq[String]) = rows(spark.read.parquet(path), cols)
    val flagsCols = Seq("doc_id", "lang", "source", "n_words", "r0", "r1", "r2", "r3")
    val fi = layer(li.flags, flagsCols); val ff = layer(lf.flags, flagsCols)
    assert(fi == ff, s"flags layer: ${diff(fi, ff)}")
    val pairCols = Seq("doc1", "doc2", "jaccard_pct")
    assert(layer(li.pairs, pairCols) == layer(lf.pairs, pairCols), "near-dup pair set")
    val keepCols = Seq("doc_id", "lang", "source", "n_words")
    assert(layer(li.keep, keepCols) == layer(lf.keep, keepCols), "keep layer")
    val cleanCols = Seq("doc_id", "lang", "source", "n_paras", "n_kept", "text")
    val cf = layer(lf.clean, cleanCols)
    assert(layer(li.clean, cleanCols) == cf, "clean layer")

    // EXACT view equality
    val selCols = Seq("doc_id", "lang", "source", "quality_score", "n_words", "text")
    val sv = rows(CorpusSelectionDelta.selectedView(spark, L), selCols)
    val sf_ = rows(spark.read.parquet(lf.selected), selCols)
    assert(sv == sf_, s"selected view: ${diff(sv, sf_)}")
    val mixCols = Seq("doc_id", "lang", "source", "n_words", "copy_id")
    val mv = rows(CorpusSelectionDelta.mixtureView(spark, L), mixCols)
    val mf = rows(spark.read.parquet(lf.mixture), mixCols)
    assert(mv == mf, s"mixture view: ${diff(mv, mf)}")
    val splitCols = mixCols :+ "split"
    val pv = rows(CorpusSelectionDelta.splitsView(spark, L), splitCols)
    val pf = rows(spark.read.parquet(lf.splits), splitCols)
    assert(pv == pf, s"splits view: ${diff(pv, pf)}")
    val exCols = Seq("doc_id", "copy_id", "lang", "source", "split", "n_words", "text")
    val ev = rows(CorpusSelectionDelta.exportView(spark, L), exCols)
    val ef = rows(spark.read.parquet(lf.export), exCols)
    assert(ev == ef, s"export view: ${diff(ev, ef)}")

    // packs: CONTENT equality (pack ids are batch-sequential by design)
    val liveCols = Seq("doc_id", "copy_id", "source", "n_words")
    val lv = rows(CorpusSelectionDelta.packsLive(spark, L), liveCols)
    val lfp = rows(spark.read.parquet(lf.packs), liveCols)
    assert(lv == lfp, s"live packed copies: ${diff(lv, lfp)}")
    assert(CorpusSelectionDelta.packsLive(spark, L)
      .where(col("pack_offset") < 0 || col("pack_offset") >= 2048).count() == 0L,
      "pack offsets in [0, 2048)")
    // no pack id collides across batches within a source
    val packDup = spark.read.parquet(L.packsDelta)
      .select("source", "pack_id", "batch").distinct()
      .groupBy("source", "pack_id").count().where(col("count") > 1).count()
    assert(packDup == 0L, "delta shards never reuse a (source, pack_id)")

    // payload shards reconcile: Σ n_tokens over delta payloads ==
    // Σ n_words over ALL delta-packed copies (tombstoned or not —
    // payload shards are append-only; the tombstones carry the dead
    // mass the policy watches)
    val pdTok = spark.read.parquet(L.payloadsDelta)
      .agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
    val packedTok = spark.read.parquet(L.packsDelta)
      .agg(coalesce(sum("n_words"), lit(0L))).head().getLong(0)
    assert(pdTok == packedTok, s"payload tokens $pdTok == packed ledger tokens $packedTok")
    // and the LIVE mass equals the full rebuild's train mass
    val liveTok = CorpusSelectionDelta.packsLive(spark, L)
      .agg(coalesce(sum("n_words"), lit(0L))).head().getLong(0)
    val fullTok = spark.read.parquet(lf.packs)
      .agg(coalesce(sum("n_words"), lit(0L))).head().getLong(0)
    assert(liveTok == fullTok, s"live token mass $liveTok == full train mass $fullTok")

    // delta payload shards equal the shared #153 derivation recomputed
    // on each batch's own adds at the recorded base offsets — the
    // shift self-consistency the scaladoc claims
    // partition discovery types small batch ids as INT — cast
    val batches = spark.read.parquet(L.packsDelta)
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    batches.foreach { b =>
      val train = spark.read.parquet(s"${L.exportDelta}/batch=$b")
        .where(col("split") === "train")
        .select("doc_id", "copy_id", "source", "text")
      val heads = spark.read.parquet(L.packHeads).where(col("batch") < b)
        .groupBy("source").agg(max("packs_end").as("__b"))
        .select(col("source"), (col("__b") * 2048L).as("tok_base"))
      val expect = rows(QueriesScale.packPayloadsOn(train, 2048L, Some(heads)),
        Seq("source", "pack_id", "n_docs", "n_tokens", "payload"))
      val got = rows(spark.read.parquet(s"${L.payloadsDelta}/batch=$b"),
        Seq("source", "pack_id", "n_docs", "n_tokens", "payload"))
      assert(got == expect, s"payload shard batch=$b reproduces the shared derivation")
    }

    // RESTART: reset the watermark to b2 (crash before advance) and
    // rerun — the final cycle recomputes into its own partitions and
    // every view converges to the same full-rebuild equality
    watermark.update(CorpusIncrementalDag.entity, CorpusIncrementalDag.pad(b2))
    val rb = CorpusIncrementalDag.run(spark, sf, root)
    assert(rb.forall(_.status == Succeeded), s"rerun: ${rb.map(r => r.id -> r.status)}")
    assert(layer(li.flags, flagsCols) == ff, "flags after rerun")
    assert(layer(li.clean, cleanCols) == cf, "clean after rerun")
    assert(rows(CorpusSelectionDelta.selectedView(spark, L), selCols) == sf_,
      "selected view after rerun")
    assert(rows(CorpusSelectionDelta.mixtureView(spark, L), mixCols) == mf,
      "mixture view after rerun")
    assert(rows(CorpusSelectionDelta.packsLive(spark, L), liveCols) == lfp,
      "live packs after rerun")
    assert(rows(CorpusSelectionDelta.exportView(spark, L), exCols) == ef,
      "export view after rerun")

    // EMPTY batch: every stage no-ops, the watermark stays, layers and
    // views unchanged
    val re = CorpusIncrementalDag.run(spark, sf, root)
    assert(re.forall(_.status == Succeeded), s"empty: ${re.map(r => r.id -> r.status)}")
    assert(re.find(_.id == "watermark_batch").get.metric == 0L, "empty batch detected")
    Seq("batch_flags", "paragraph_strip", "sel_index", "sel_delta", "sel_texts",
      "mix_delta", "pack_delta", "export_delta", "payload_delta", "release_policy").foreach { id =>
      assert(re.find(_.id == id).get.metric == 0L, s"$id must no-op on an empty batch")
    }
    assert(watermark.get(CorpusIncrementalDag.entity).trim.toLong == ids.last,
      "watermark unchanged")
    assert(layer(li.clean, cleanCols) == cf, "clean unchanged by the empty batch")
    assert(rows(CorpusSelectionDelta.selectedView(spark, L), selCols) == sf_,
      "selected view unchanged by the empty batch")
    assert(rows(CorpusSelectionDelta.packsLive(spark, L), liveCols) == lfp,
      "live packs unchanged by the empty batch")

    // no rebuild flag on this corpus (no retractions, dead tokens
    // under the default 10% bound)
    assert(!CorpusIncrementalDag.rebuildRequested(spark, li),
      "clean corpus must not schedule a compaction")
  }

  test("ledger snapshots: views over snapshot+tail equal the full ledger; partitions stay bounded; crash-rerun above the snapshot converges") {
    import spark.implicits._
    // the engineered two-score corpus (see the cut-movement test
    // below) — evictions, re-admits and first-admits all fire, so the
    // snapshot must preserve every op class, not just adds
    def hDoc(d: Long) = (0 until 120)
      .map(i => if (i % 2 == 0) "the" else s"d${d}w${i / 2}").mkString(" ")
    def lDoc(d: Long) = ("the" +: (1 until 120).map(i => s"d${d}w$i")).mkString(" ")
    def src(d: Long) = if (d % 2 == 0) "s1" else "s2"
    val corpusDir = tmp()
    ((1L to 40L).map(d => (d, "en", src(d), lDoc(d))) ++
      (101L to 140L).map(d => (d, "en", src(d), hDoc(d))) ++
      (201L to 320L).map(d => (d, "en", src(d), lDoc(d))))
      .toDF("doc_id", "lang", "source", "text")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    // snapshotEvery = 2: the roll-up lands after batch 2 (tail of 2
    // partitions), batch 3 appends a tail on top of the snapshot
    val root = tmp()
    val L = CorpusSelectionDelta.Layers(root)
    val li = CorpusIncrementalDag.Layout(root)
    def cycle(upTo: Long) = CorpusIncrementalDag.run(
      spark, corpusDir, root, upTo = upTo, snapshotEvery = 2)
    Seq(40L, 140L).foreach { upTo =>
      val r = cycle(upTo)
      assert(r.forall(_.status == Succeeded), s"upTo=$upTo: ${r.map(x => x.id -> x.status)}")
    }
    // the batch-2 cycle rolled the ledgers up at the committed mark
    assert(cycleSnapped(spark, L.verdicts) == Some(140L),
      "verdict ledger snapshot committed at the batch-2 watermark")
    Seq(L.verdicts, L.mixDelta, L.cells, L.packHeads, L.packsDelta, L.docIndex)
      .foreach { p => assert(CorpusSelectionDelta.tailPartitions(spark, p) == 0,
        s"$p: rolled-up ledger partitions must be pruned") }

    // CRASH-RERUN above the snapshot: reset the watermark to the
    // snapshot mark (= a batch-3 crash before advance) and rerun —
    // standing reads sit exactly at the snapshot boundary
    val r3 = cycle(Long.MaxValue)
    assert(r3.forall(_.status == Succeeded), s"batch 3: ${r3.map(x => x.id -> x.status)}")
    new WatermarkStore(li.marks, CorpusIncrementalDag.bootstrapMark)
      .update(CorpusIncrementalDag.entity, CorpusIncrementalDag.pad(140L))
    val rb = cycle(Long.MaxValue)
    assert(rb.forall(_.status == Succeeded), s"rerun: ${rb.map(x => x.id -> x.status)}")

    // equality: snapshot+tail views == the full rebuild on the union
    val fullRoot = tmp()
    val lf = CorpusPipelineDag.Layout(fullRoot)
    val rf = CorpusPipelineDag.run(spark, corpusDir, fullRoot)
    assert(rf.forall(_.status == Succeeded), s"full: ${rf.map(r => r.id -> r.status)}")
    val selCols = Seq("doc_id", "lang", "source", "quality_score", "n_words", "text")
    val sv = rows(CorpusSelectionDelta.selectedView(spark, L), selCols)
    val sfr = rows(spark.read.parquet(lf.selected), selCols)
    assert(sv == sfr, s"selected view over snapshot+tail: ${diff(sv, sfr)}")
    val mixCols = Seq("doc_id", "lang", "source", "n_words", "copy_id")
    val mv = rows(CorpusSelectionDelta.mixtureView(spark, L), mixCols)
    val mfr = rows(spark.read.parquet(lf.mixture), mixCols)
    assert(mv == mfr, s"mixture view over snapshot+tail: ${diff(mv, mfr)}")
    val exCols = Seq("doc_id", "copy_id", "lang", "source", "split", "n_words", "text")
    val ev = rows(CorpusSelectionDelta.exportView(spark, L), exCols)
    val efr = rows(spark.read.parquet(lf.export), exCols)
    assert(ev == efr, s"export view over snapshot+tail: ${diff(ev, efr)}")
    val liveCols = Seq("doc_id", "copy_id", "source", "n_words")
    val lv = rows(CorpusSelectionDelta.packsLive(spark, L), liveCols)
    val lfp = rows(spark.read.parquet(lf.packs), liveCols)
    assert(lv == lfp, s"live packs over snapshot+tail: ${diff(lv, lfp)}")

    // a read below the snapshot throws loudly — history under the
    // roll-up is intentionally gone, never silently partial
    val ex = intercept[IllegalStateException] {
      CorpusSelectionDelta.admittedIndex(spark, L, upTo = 40L)
    }
    assert(ex.getMessage.contains("below snapshot"), ex.getMessage)
  }

  /** Committed snapshot id of a ledger (spec-side peek). */
  private def cycleSnapped(s: org.apache.spark.sql.SparkSession, path: String): Option[Long] =
    CorpusSelectionDelta.latestSnap(s, path)

  test("engineered cut movement: evictions, standing re-admits and first-admits all fire, equality holds") {
    import spark.implicits._
    // Two score classes from the stopword component alone (length,
    // word-count and diversity capped): H docs score 100, L docs 75.
    // All 120 words per doc, doc-unique token namespaces (no dups of
    // any kind), funnel-passing by construction.
    def hDoc(d: Long) = (0 until 120)
      .map(i => if (i % 2 == 0) "the" else s"d${d}w${i / 2}").mkString(" ")
    def lDoc(d: Long) = ("the" +: (1 until 120).map(i => s"d${d}w$i")).mkString(" ")
    def src(d: Long) = if (d % 2 == 0) "s1" else "s2"
    val batch1 = (1L to 40L).map(d => (d, "en", src(d), lDoc(d)))     // low-score mass
    val batch2 = (101L to 140L).map(d => (d, "en", src(d), hDoc(d)))  // cut jumps UP: evictions
    val batch3 = (201L to 320L).map(d => (d, "en", src(d), lDoc(d)))  // cut sinks: re-admits
    // a non-empty ingest day whose docs ALL fail the funnel (< 20
    // words): the delta stages must run through an adds-free patch —
    // the empty hive-partitioned export partition has NO parquet
    // files, the regression the sf1 rehearsal caught
    val batch4 = (401L to 420L).map(d => (d, "en", src(d), "the tiny doc"))
    val corpusDir = tmp()
    (batch1 ++ batch2 ++ batch3 ++ batch4).toDF("doc_id", "lang", "source", "text")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    val root = tmp()
    val L = CorpusSelectionDelta.Layers(root)
    Seq(40L, 140L, 320L, Long.MaxValue).zipWithIndex.foreach { case (upTo, i) =>
      val r = CorpusIncrementalDag.run(spark, corpusDir, root, upTo = upTo)
      assert(r.forall(_.status == Succeeded),
        s"cycle ${i + 1}: ${r.filterNot(_.status == Succeeded).map(x => x.id -> x.status)}")
      if (i == 3) assert(r.find(_.id == "payload_delta").get.metric == 0L,
        "adds-free batch: payload stage emits zero packs instead of throwing")
    }

    val verdicts = spark.read.parquet(L.verdicts)
      .select("batch", "doc_id", "op").as[(Long, Long, String)].collect()
    // batch 2 (bid=140): ALL standing admitted L docs evicted (H mass
    // fills the halved budget exactly)
    val b2drops = verdicts.filter(v => v._1 == 140L && v._3 == "drop").map(_._2).toSet
    assert(b2drops == (1L to 20L).toSet, s"batch-2 evictions: $b2drops")
    // batch 3: the cut sinks back into the L stratum — the 20 docs
    // admitted-then-evicted RE-ADMIT (texts already stored) and docs
    // 21..40 admit for the FIRST time (standing clean text fetch)
    val b3adds = verdicts.filter(v => v._1 == 320L && v._3 == "add").map(_._2).toSet
    assert((1L to 40L).toSet.subsetOf(b3adds), s"batch-3 standing adds: ${b3adds.toSeq.sorted}")
    // first-admit texts for 21..40 landed in batch 3's text partition
    val t3 = spark.read.parquet(s"${L.texts}/batch=320").select("doc_id")
      .as[Long].collect().toSet
    assert((21L to 40L).toSet.subsetOf(t3),
      s"standing first-admits fetch text through the Bloom-gated scan: ${t3.toSeq.sorted.take(30)}")
    assert((1L to 20L).toSet.intersect(t3).isEmpty,
      "re-admitted docs must NOT re-store text (first-admit store is doc-unique)")
    // mixture actually dropped copies in batch 2
    assert(spark.read.parquet(L.mixDelta)
      .where(col("op") === "drop" && col("batch") === 140L).count() > 0,
      "batch-2 mixture copy drops")

    // equality against the full rebuild on the union, after all the
    // churn above
    val fullRoot = tmp()
    val lf = CorpusPipelineDag.Layout(fullRoot)
    val rf = CorpusPipelineDag.run(spark, corpusDir, fullRoot)
    assert(rf.forall(_.status == Succeeded), s"full: ${rf.map(r => r.id -> r.status)}")
    val selCols = Seq("doc_id", "lang", "source", "quality_score", "n_words", "text")
    val sv = rows(CorpusSelectionDelta.selectedView(spark, L), selCols)
    val sfr = rows(spark.read.parquet(lf.selected), selCols)
    assert(sv == sfr, s"selected view (churned corpus): ${diff(sv, sfr)}")
    val mixCols = Seq("doc_id", "lang", "source", "n_words", "copy_id")
    val mv = rows(CorpusSelectionDelta.mixtureView(spark, L), mixCols)
    val mfr = rows(spark.read.parquet(lf.mixture), mixCols)
    assert(mv == mfr, s"mixture view (churned corpus): ${diff(mv, mfr)}")
    val exCols = Seq("doc_id", "copy_id", "lang", "source", "split", "n_words", "text")
    val ev = rows(CorpusSelectionDelta.exportView(spark, L), exCols)
    val efr = rows(spark.read.parquet(lf.export), exCols)
    assert(ev == efr, s"export view (churned corpus): ${diff(ev, efr)}")
    val liveCols = Seq("doc_id", "copy_id", "source", "n_words")
    val lv = rows(CorpusSelectionDelta.packsLive(spark, L), liveCols)
    val lfp = rows(spark.read.parquet(lf.packs), liveCols)
    assert(lv == lfp, s"live packs (churned corpus): ${diff(lv, lfp)}")
  }

  test("snapshot cadence defaults ON and a cadence below one is rejected") {
    assert(CorpusIncrementalDag.defaultSnapshotEvery > 0,
      "ledger snapshots must default ON")
    // there is no snapshots-off mode: unbounded ledgers grow one
    // partition per ingest day, forever
    val ex = intercept[IllegalArgumentException] {
      CorpusIncrementalDag.build(spark, sf, CorpusIncrementalDag.Layout(tmp()), snapshotEvery = 0)
    }
    assert(ex.getMessage.contains("snapshotEvery"), ex.getMessage)
  }
}
