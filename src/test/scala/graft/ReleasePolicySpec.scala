package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusIncrementalDag, CorpusPipelineDag, CorpusSelectionDelta}
import graft.operators.JobGraph.Succeeded

/** [[CorpusIncrementalDag.ReleasePolicy]] — the consumption hook for
  * the release's honesty ledgers (VERDICT r14 item 4). Two firing
  * paths, each driven end-to-end:
  *   1. a BRIDGE batch (a new doc near-dups two standing keepers that
  *      aren't near-dups of each other) produces a retraction ledger
  *      row AND raises the rebuild flag;
  *   2. evicted train copies accumulate dead tokens inside standing pack shards; past the bound the
  *      flag fires (exercised with bound 0 so any eviction trips it),
  *      and the export tombstones are visible to a release reader.
  */
class ReleasePolicySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_policy").toString

  /** Token master sequence: "the tok0 the tok1 …" — every doc slices
    * a range. Funnel-passing by construction (en stopwords, ≥ 20
    * words, ≥ 100 chars, no repeated trigrams). */
  private def slice(lo: Int, hi: Int): String =
    (lo until hi).map(i => if (i % 2 == 0) "the" else s"tok${i / 2}").mkString(" ")

  test("a bridge batch writes a retraction row and schedules a full-rebuild compaction") {
    // A = m[0,100), B = m[50,150): 3-gram Jaccard ~32% (no pair).
    // C = m[25,125): ~59% with BOTH — C bridges {A} and {B}; a full
    // rebuild would merge the component and drop B, an append-only
    // release cannot retract it.
    val corpusDir = tmp()
    Seq(
      (1L, "en", "s1", slice(0, 100)),
      (2L, "en", "s1", slice(50, 150)),
      (3L, "en", "s1", slice(25, 125)))
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")

    val root = tmp()
    val li = CorpusIncrementalDag.Layout(root)
    val r1 = CorpusIncrementalDag.run(spark, corpusDir, root, upTo = 2L)
    assert(r1.forall(_.status == Succeeded), s"batch1: ${r1.map(r => r.id -> r.status)}")
    assert(spark.read.parquet(li.keep).count() == 2L, "A and B both standing keepers")
    assert(!CorpusIncrementalDag.rebuildRequested(spark, li), "no flag before the bridge")

    val r2 = CorpusIncrementalDag.run(spark, corpusDir, root)
    assert(r2.forall(_.status == Succeeded), s"batch2: ${r2.map(r => r.id -> r.status)}")

    // the honesty ledger: B (standing keeper) would have been dropped
    // by a full rebuild — it resolves to A's component
    val retr = spark.read.parquet(li.retractions)
      .select("doc_id", "group_id").as[(Long, Long)].collect().toSet
    assert(retr == Set((2L, 1L)), s"retraction ledger must name B -> A, got $retr")

    // the policy consumed it: flag row written, scheduler hook true
    val flags = spark.read.parquet(li.rebuildFlag)
      .select("reason", "metric").as[(String, Long)].collect().toSet
    assert(flags == Set(("retractions", 1L)), s"rebuild flag rows: $flags")
    assert(CorpusIncrementalDag.rebuildRequested(spark, li),
      "the scheduler hook must report a pending compaction")
    assert(r2.find(_.id == "release_policy").get.metric == 1L, "policy metric = fired rules")
  }

  test("delta path: evicted train copies trip the dead-token bound; export tombstones are readable") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val mid = ids(ids.length / 2)

    val root = tmp()
    val li = CorpusIncrementalDag.Layout(root)
    val L = CorpusSelectionDelta.Layers(root)
    val policy = CorpusIncrementalDag.ReleasePolicy(maxDeadTokenPermille = 0L)
    val r1 = CorpusIncrementalDag.run(spark, sf, root, upTo = mid, policy = policy)
    assert(r1.forall(_.status == Succeeded), s"batch1: ${r1.map(r => r.id -> r.status)}")
    val r2 = CorpusIncrementalDag.run(spark, sf, root, policy = policy)
    assert(r2.forall(_.status == Succeeded), s"batch2: ${r2.map(r => r.id -> r.status)}")

    // batch 2 must evict standing train copies on this corpus
    val tombs = spark.read.parquet(L.packTombs).count()
    assert(tombs > 0, "batch 2 must tombstone standing train copies")
    val deadFlag = spark.read.parquet(li.rebuildFlag)
      .where(col("reason") === "dead_tokens")
    assert(!deadFlag.isEmpty, "dead-token rule must fire at bound 0")
    assert(CorpusIncrementalDag.rebuildRequested(spark, li))

    // a release reader sees the eviction: tombstoned copies are
    // absent from the export view but present in the raw shards
    val ev = CorpusSelectionDelta.exportView(spark, L)
      .select("doc_id", "copy_id").as[(Long, Long)].collect().toSet
    val tombstoned = spark.read.parquet(L.exportTombs)
      .select("doc_id", "copy_id").as[(Long, Long)].collect().toSet
    assert(tombstoned.nonEmpty, "export tombstones written")
    // a tombstoned copy that was NOT re-added later must not be live
    val lastBatch = spark.read.parquet(L.mixDelta)
      .agg(max(col("batch").cast("long"))).head().getLong(0)
    val readded = spark.read.parquet(L.mixDelta)
      .where(col("op") === "add" && col("batch") === lastBatch)
      .select("doc_id", "copy_id").as[(Long, Long)].collect().toSet
    val deadForGood = tombstoned -- readded
    assert(deadForGood.nonEmpty && deadForGood.intersect(ev).isEmpty,
      "evicted copies are invisible to the export view")
  }

  test("the compaction cycle is EXECUTABLE: flag fires -> compact -> views unchanged, packs contiguous, dead tokens 0, flag cleared, delta resumes and equality holds") {
    // the engineered two-score corpus: batch 2's H docs halve the
    // budget into the high stratum and evict EVERY standing L doc —
    // guaranteed train-copy tombstones, so the dead-token rule fires
    // deterministically
    def hDoc(d: Long) = (0 until 120)
      .map(i => if (i % 2 == 0) "the" else s"d${d}w${i / 2}").mkString(" ")
    def lDoc(d: Long) = ("the" +: (1 until 120).map(i => s"d${d}w$i")).mkString(" ")
    def src(d: Long) = if (d % 2 == 0) "s1" else "s2"
    val b1 = (1L to 40L).map(d => (d, "en", src(d), lDoc(d)))
    val b2 = (101L to 140L).map(d => (d, "en", src(d), hDoc(d)))
    val b3 = (201L to 320L).map(d => (d, "en", src(d), lDoc(d)))
    val corpusDir = tmp()       // all three batches (the delta feed)
    val corpus12Dir = tmp()     // batches 1-2 only (the compaction-time twin)
    (b1 ++ b2 ++ b3).toDF("doc_id", "lang", "source", "text").repartition(4)
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    (b1 ++ b2).toDF("doc_id", "lang", "source", "text").repartition(4)
      .write.mode("overwrite").parquet(s"$corpus12Dir/documents.parquet")

    val root = tmp()
    val li = CorpusIncrementalDag.Layout(root)
    val L = CorpusSelectionDelta.Layers(root)
    val policy = CorpusIncrementalDag.ReleasePolicy(maxDeadTokenPermille = 0L)
    Seq(40L, 140L).foreach { upTo =>
      val r = CorpusIncrementalDag.run(spark, corpusDir, root, upTo = upTo, policy = policy)
      assert(r.forall(_.status == Succeeded), s"upTo=$upTo: ${r.map(x => x.id -> x.status)}")
    }
    assert(spark.read.parquet(L.packTombs).count() > 0, "batch 2 must tombstone train copies")
    assert(CorpusIncrementalDag.rebuildRequested(spark, li), "dead-token flag standing")

    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Set[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val selCols = Seq("doc_id", "lang", "source", "quality_score", "n_words", "text")
    val mixCols = Seq("doc_id", "lang", "source", "n_words", "copy_id")
    val exCols = Seq("doc_id", "copy_id", "lang", "source", "split", "n_words", "text")
    val mark = CorpusIncrementalDag.releaseWatermark(li)
    val selBefore = rows(CorpusSelectionDelta.selectedView(spark, L, mark), selCols)
    val mixBefore = rows(CorpusSelectionDelta.mixtureView(spark, L, mark), mixCols)
    val exBefore = rows(CorpusSelectionDelta.exportView(spark, L, mark), exCols)

    // the generation a pre-flip reader resolved: fingerprint it so we
    // can prove the compaction never mutates it (VERDICT r16 item 4)
    val preGen = CorpusSelectionDelta.Layers.active(spark, root)
    def fingerprint(l: CorpusSelectionDelta.Layers): Set[(String, Long)] = {
      val conf = spark.sessionState.newHadoopConf()
      l.all.flatMap { layer =>
        val p = new org.apache.hadoop.fs.Path(layer)
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) Seq.empty
        else {
          val it = fs.listFiles(p, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          while (it.hasNext) { val f = it.next(); buf += ((f.getPath.toString, f.getLen)) }
          buf.toSeq
        }
      }.toSet
    }
    val preFp = fingerprint(preGen)

    // THE COMPACTION (VERDICT r15 item 1)
    val rc = CorpusIncrementalDag.runCompaction(spark, root)
    assert(rc.forall(_.status == Succeeded), s"compaction: ${rc.map(x => x.id -> x.status)}")

    // the commit is an atomic POINTER FLIP to a fresh generation
    // (VERDICT r16 item 4): current names selgen=<mark>, previous the
    // generation pre-flip readers resolved — and that old generation
    // is bit-untouched, so a reader that resolved before the flip
    // keeps reading the old CONSISTENT family for its whole scan
    val (gCur, gPrev) = CorpusSelectionDelta.readGenerations(spark, root).get
    assert(gCur == s"selgen=$mark" && gPrev == "",
      s"pointer after first compaction: ($gCur, $gPrev)")
    assert(fingerprint(preGen) == preFp,
      "compaction must never write into the generation pre-flip readers resolved")

    // flag cleared; views content-unchanged
    assert(!CorpusIncrementalDag.rebuildRequested(spark, li), "compaction clears the flag")
    assert(rows(CorpusSelectionDelta.selectedView(spark, L, mark), selCols) == selBefore,
      "selected view unchanged by compaction")
    assert(rows(CorpusSelectionDelta.mixtureView(spark, L, mark), mixCols) == mixBefore,
      "mixture view unchanged by compaction")
    assert(rows(CorpusSelectionDelta.exportView(spark, L, mark), exCols) == exBefore,
      "export view unchanged by compaction")

    // packs now CONTIGUOUS: EXACT equality with a full rebuild on the
    // same content, INCLUDING pack ids and offsets — the one axis the
    // delta path diverges on by design is healed
    val full12 = tmp()
    val lf12 = CorpusPipelineDag.Layout(full12)
    val rf12 = CorpusPipelineDag.run(spark, corpus12Dir, full12)
    assert(rf12.forall(_.status == Succeeded), s"full12: ${rf12.map(r => r.id -> r.status)}")
    val packCols = Seq("doc_id", "copy_id", "source", "n_words", "pack_id", "pack_offset")
    val pv = rows(CorpusSelectionDelta.packsLive(spark, L, mark), packCols)
    val pf = rows(spark.read.parquet(lf12.packs), packCols)
    assert(pv == pf, s"compacted packs == full rebuild's contiguous packs (ids included): " +
      s"delta-only=${(pv -- pf).take(3)} full-only=${(pf -- pv).take(3)}")

    // dead tokens physically gone: the fresh generation carries NO
    // tombstone ledgers (the old generation's are retained untouched
    // for its in-flight readers, not deleted mid-compaction — the r15
    // torn window is structurally gone), payload mass == live ledger
    // mass exactly
    val La = CorpusSelectionDelta.Layers.active(spark, root)
    assert(La.root == s"$root/selgen=$mark", s"active generation root: ${La.root}")
    assert(CorpusSelectionDelta.readLedger(spark, La.packTombs,
      "doc_id BIGINT, copy_id BIGINT, source STRING, n_words BIGINT, " +
        "pack_id BIGINT, batch BIGINT", Long.MaxValue).isEmpty,
      "pack tombstones cleared")
    val pdTok = spark.read.parquet(La.payloadsDelta)
      .agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
    val liveTok = CorpusSelectionDelta.packsLive(spark, L, mark)
      .agg(coalesce(sum("n_words"), lit(0L))).head().getLong(0)
    assert(pdTok == liveTok, s"payload tokens $pdTok == live ledger tokens $liveTok (0 dead)")

    // reads below the rebased mark THROW (review r16): rolled-up
    // export history must never read as an empty release
    val exFloor = intercept[IllegalStateException] {
      CorpusSelectionDelta.exportView(spark, L, upTo = 40L)
    }
    assert(exFloor.getMessage.contains("compaction floor"), exFloor.getMessage)

    // the NEXT delta batch resumes on the compacted base, and the
    // equivalence contract still holds on the union
    val r3 = CorpusIncrementalDag.run(spark, corpusDir, root, policy = policy)
    assert(r3.forall(_.status == Succeeded), s"batch 3: ${r3.map(x => x.id -> x.status)}")
    val fullAll = tmp()
    val lfAll = CorpusPipelineDag.Layout(fullAll)
    val rfAll = CorpusPipelineDag.run(spark, corpusDir, fullAll)
    assert(rfAll.forall(_.status == Succeeded))
    val mark3 = CorpusIncrementalDag.releaseWatermark(li)
    assert(rows(CorpusSelectionDelta.selectedView(spark, L, mark3), selCols) ==
      rows(spark.read.parquet(lfAll.selected), selCols), "selected view after resume")
    assert(rows(CorpusSelectionDelta.mixtureView(spark, L, mark3), mixCols) ==
      rows(spark.read.parquet(lfAll.mixture), mixCols), "mixture view after resume")
    assert(rows(CorpusSelectionDelta.exportView(spark, L, mark3), exCols) ==
      rows(spark.read.parquet(lfAll.export), exCols), "export view after resume")
    val liveCols = Seq("doc_id", "copy_id", "source", "n_words")
    assert(rows(CorpusSelectionDelta.packsLive(spark, L, mark3), liveCols) ==
      rows(spark.read.parquet(lfAll.packs), liveCols), "live packs after resume")

    // compaction rerun (e.g. a crash after the flag write of a LATER
    // cycle) converges: run it again, views still equal. This is a
    // SECOND generation hop — capture what a pre-flip reader of the
    // first compacted generation sees, to pin the retention contract
    val preGen2 = CorpusSelectionDelta.Layers(s"$root/selgen=$mark")
    val oldLive = rows(CorpusSelectionDelta.packsLive(spark, preGen2, mark3), liveCols)
    val rc2 = CorpusIncrementalDag.runCompaction(spark, root)
    assert(rc2.forall(_.status == Succeeded), s"re-compaction: ${rc2.map(x => x.id -> x.status)}")
    assert(rows(CorpusSelectionDelta.selectedView(spark, L, mark3), selCols) ==
      rows(spark.read.parquet(lfAll.selected), selCols), "selected view after re-compaction")
    assert(rows(CorpusSelectionDelta.packsLive(spark, L, mark3), packCols) ==
      rows(spark.read.parquet(lfAll.packs), packCols),
      "re-compacted packs == full rebuild on the union, ids included")

    // pointer: current = the new generation, previous = the first one
    // (retained as the in-flight readers' grace window); the legacy
    // root-level family — two generations old now — is GC'd
    val (gCur2, gPrev2) = CorpusSelectionDelta.readGenerations(spark, root).get
    assert(gCur2 == s"selgen=$mark3" && gPrev2 == s"selgen=$mark",
      s"pointer after second compaction: ($gCur2, $gPrev2)")
    assert(rows(CorpusSelectionDelta.packsLive(spark, preGen2, mark3), liveCols) == oldLive,
      "a reader that resolved the previous generation pre-flip still reads it, consistent")
    val fsRoot = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fsRoot.exists(new org.apache.hadoop.fs.Path(L.verdicts)),
      "the grandparent (legacy root-level) ledger family is GC'd")

    // a rerun AFTER the committed flip (crash between flip and flag
    // clear) must skip the rebase — not read the generation it
    // overwrites — and leave the pointer's previous line intact
    val rc3 = CorpusIncrementalDag.runCompaction(spark, root)
    assert(rc3.forall(_.status == Succeeded), s"post-flip rerun: ${rc3.map(x => x.id -> x.status)}")
    assert(CorpusSelectionDelta.readGenerations(spark, root).get ==
      ((s"selgen=$mark3", s"selgen=$mark")), "post-flip rerun keeps the pointer intact")
    assert(rows(CorpusSelectionDelta.packsLive(spark, L, mark3), packCols) ==
      rows(spark.read.parquet(lfAll.packs), packCols), "views stable across the no-op rerun")
  }
}
