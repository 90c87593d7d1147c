package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, Tables}
import graft.operators.{CorpusPipelineDag, JobGraph}

/** Composed streaming corpus release (VERDICT r13 item 6): two ingest
  * cycles through the chained file-source streams must reproduce the
  * batch [[CorpusPipelineDag]]'s flags, clean and selection layers on
  * the union of all input — the corpus twin of PipelineStreamSpec's
  * sales equivalence. */
class CorpusStreamSpec extends SparkSpec {

  test("two streamed cycles == the batch DAG's flags/clean/selection on the union") {
    val root = java.nio.file.Files.createTempDirectory("graft_cstream").toString
    val layout = CorpusStream.Layout(root)
    val srcDir = s"$root/src_docs"

    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "text")
      .persist()
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val mid = ids(ids.length / 2)

    // ascending-id arrival: the precondition under which streaming
    // first-arrival ownership == the batch min-id rules
    var cycleId = 0L
    def cycle(lo: Long, hi: Long): Unit = {
      docs.where(col("doc_id") > lo && col("doc_id") <= hi)
        .coalesce(1).write.mode("append").parquet(srcDir)
      cycleId += 1
      val cid = cycleId
      CorpusStream.runCycle(
        () => CorpusStream.admissionsWriter(
            spark.readStream.schema(CorpusStream.docSchema).parquet(srcDir),
            layout, srcDir)
          .trigger(Trigger.AvailableNow()).start(),
        () => CorpusStream.candidatesWriter(
            spark.readStream.schema(CorpusStream.admittedSchema)
              .parquet(s"${layout.admitted}/batch_v*"),
            layout)
          .trigger(Trigger.AvailableNow()).start(),
        () => CorpusStream.materializeKeep(spark, layout, cid),
        () => CorpusStream.claimsWriter(
            spark.readStream.schema(CorpusStream.keepSchema)
              .parquet(s"${layout.keep}/cycle=*"),
            layout)
          .trigger(Trigger.AvailableNow()).start(),
        () => CorpusStream.ledgerWriter(
            spark.readStream.schema(CorpusStream.cleanSchema)
              .parquet(s"${layout.clean}/batch_v*"),
            layout)
          .trigger(Trigger.AvailableNow()).start())
    }
    cycle(-1L, mid)
    cycle(mid, Long.MaxValue)

    // the batch DAG over the whole corpus
    val dagRoot = java.nio.file.Files.createTempDirectory("graft_cstream_dag").toString
    val lf = CorpusPipelineDag.Layout(dagRoot)
    val rf = CorpusPipelineDag.run(spark, sf, dagRoot)
    assert(rf.forall(_.status == JobGraph.Succeeded), rf.map(r => r.id -> r.status).toString)

    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Set[Seq[Any]] =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

    // FLAGS: streamed admissions == the DAG flags layer
    val flagsCols = Seq("doc_id", "lang", "source", "n_words", "r0", "r1", "r2", "r3")
    val streamedFlags = spark.read.parquet(s"${layout.admissions}/batch_v*")
    assert(rows(streamedFlags, flagsCols) == rows(spark.read.parquet(lf.flags), flagsCols),
      "flags layer")

    // KEEP: accumulated streamed keepers == the DAG keep set
    val streamedKeep = spark.read.parquet(s"${layout.keep}/cycle=*")
    assert(rows(streamedKeep, Seq("doc_id")) ==
      rows(spark.read.parquet(lf.keep), Seq("doc_id")), "keep set")

    // CLEAN: streamed strip == the DAG clean layer
    val cleanCols = Seq("doc_id", "lang", "source", "n_paras", "n_kept", "text")
    val streamedClean = spark.read.parquet(s"${layout.clean}/batch_v*")
    assert(rows(streamedClean, cleanCols) == rows(spark.read.parquet(lf.clean), cleanCols),
      "clean layer")

    // SELECTION: derived verdicts == the DAG's selected doc set, and
    // the ledger is the bounded sufficient statistic (≤ 101 cells)
    val verdicts = CorpusStream.selection(spark, layout)
    val admitted = verdicts.where(col("admitted"))
      .select("doc_id", "quality_score", "n_words")
    assert(rows(admitted, Seq("doc_id", "quality_score", "n_words")) ==
      rows(spark.read.parquet(lf.selected), Seq("doc_id", "quality_score", "n_words")),
      "selection verdicts")
    val nCells = spark.read.parquet(s"${layout.ledger}/batch_v*")
      .select("quality_score").distinct().count()
    assert(nCells <= 101, s"ledger must stay bounded, got $nCells cells")

    // EXPORT TAIL (stage E): the final cycle's release artifact and
    // packed payloads equal the batch DAG's last mile exactly — and a
    // rerun of the step converges (own-cycle overwrite)
    val exported = CorpusStream.exportStep(spark, layout, 2L)
    assert(exported > 0, "export step emits rows")
    val exCols = Seq("doc_id", "copy_id", "lang", "source", "split", "n_words", "text")
    val streamedExport = spark.read.parquet(s"${layout.export}/cycle=2")
    assert(rows(streamedExport, exCols) == rows(spark.read.parquet(lf.export), exCols),
      "export artifact == the batch DAG's export_release")
    val ppCols = Seq("source", "pack_id", "n_docs", "n_tokens", "payload")
    val streamedPp = spark.read.parquet(s"${layout.payloads}/cycle=2")
    assert(rows(streamedPp, ppCols) == rows(spark.read.parquet(lf.packPayloads), ppCols),
      "packed payloads == the batch DAG's pack_payloads")
    CorpusStream.exportStep(spark, layout, 2L)
    assert(rows(spark.read.parquet(s"${layout.export}/cycle=2"), exCols) ==
      rows(spark.read.parquet(lf.export), exCols), "export step rerun converges")

    // CRASH-RERUN of the cycle-2 keeper step: the standing reads
    // filter cycle < 2, so the rerun must not dedup against its own
    // prior partition (which would re-verify nothing and emit an
    // EMPTY keep set) — it overwrites its partition and converges
    val pairsBefore = rows(spark.read.parquet(layout.pairs),
      Seq("doc1", "doc2", "jaccard_pct"))
    val keepBefore = rows(streamedKeep, Seq("doc_id"))
    CorpusStream.materializeKeep(spark, layout, 2L)
    assert(rows(spark.read.parquet(layout.pairs), Seq("doc1", "doc2", "jaccard_pct")) ==
      pairsBefore, "pairs layer converges on keeper-step rerun")
    assert(rows(spark.read.parquet(s"${layout.keep}/cycle=*"), Seq("doc_id")) ==
      keepBefore, "keep layer converges on keeper-step rerun")

    docs.unpersist()
  }

  test("export step skips a no-change cycle via the cell digest; recuts when the ledger moved or on same-cycle rerun") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cstream_skip").toString
    val layout = CorpusStream.Layout(root)
    def fs = new org.apache.hadoop.fs.Path(layout.export)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def cycleExists(c: Long): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(s"${layout.export}/cycle=$c"))
    def doc(d: Long) = (d, "en", "s1", 6L, 6L,
      (1 to 40).map(i => s"d${d}w$i").mkString(" "))
    def writeState(batch: Int, docs: Seq[(Long, String, String, Long, Long, String)]): Unit = {
      docs.toDF("doc_id", "lang", "source", "n_paras", "n_kept", "text")
        .write.mode("overwrite").parquet(s"${layout.clean}/batch_v$batch")
      // the ledger write is the CUMULATIVE cell state over everything
      // seen so far (flatMapGroupsWithState emits updated cells)
      val all = spark.read.schema(CorpusStream.cleanSchema)
        .parquet(s"${layout.clean}/batch_v*")
      graft.QueriesText.scoredTokens(all.select("doc_id", "text"))
        .groupBy("quality_score")
        .agg(sum("n_words").as("token_mass"), count(lit(1)).as("n_docs"))
        .write.mode("overwrite").parquet(s"${layout.ledger}/batch_v$batch")
    }
    writeState(0, Seq(doc(1), doc(2)))
    val e1 = CorpusStream.exportStep(spark, layout, 1L)
    assert(e1 > 0, "first cycle cuts a release")

    // nothing arrived: the cell digest matches -> NO cut, no dir
    val e2 = CorpusStream.exportStep(spark, layout, 2L)
    assert(e2 == 0L, "no-change cycle must skip the corpus-scale cut")
    assert(!cycleExists(2L), "a skipped cycle writes nothing — the prior artifact stands")

    // new data moves the ledger -> the next cycle cuts again
    writeState(1, Seq(doc(3)))
    val e3 = CorpusStream.exportStep(spark, layout, 3L)
    assert(e3 > 0 && cycleExists(3L), "ledger moved: full cut")

    // SAME-cycle rerun (crash replay) always recuts — the digest can
    // never make a rerun skip its own torn cycle
    val e3b = CorpusStream.exportStep(spark, layout, 3L)
    assert(e3b == e3, "rerun of the same cycle converges by recutting")

    // a changed packBudget with an UNCHANGED ledger must recut (ADVICE
    // r16): the standing artifact is packed at the old budget, so the
    // skip key covers the cut config, not just the cells
    val e4 = CorpusStream.exportStep(spark, layout, 4L, packBudget = 512L)
    assert(e4 > 0 && cycleExists(4L),
      "packBudget change must defeat the no-change skip")
    // and the new config skips against ITS own digest once cut
    val e5 = CorpusStream.exportStep(spark, layout, 5L, packBudget = 512L)
    assert(e5 == 0L && !cycleExists(5L), "same config + same cells skips again")
  }

  test("export PATCH posture: churn-proportional adds/tombstones per cycle, view equals the full cut, digest skip retained") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cstream_patch").toString
    val layout = CorpusStream.Layout(root)
    // two-score corpus (the ReleasePolicySpec shape): H docs score 100
    // (alternating stopword), L docs 75 (leading stopword only) — a
    // late H wave halves the budget into the high stratum and evicts
    // standing L docs, so the patch posture must emit TOMBSTONES
    def hDoc(d: Long) = (0 until 120)
      .map(i => if (i % 2 == 0) "the" else s"d${d}w${i / 2}").mkString(" ")
    def lDoc(d: Long) = ("the" +: (1 until 120).map(i => s"d${d}w$i")).mkString(" ")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select("doc_id", "copy_id", "lang", "source", "split", "n_words", "text")
        .collect().map(_.toSeq).toSet
    def writeState(batch: Int, docs: Seq[(Long, String)]): Unit = {
      docs.map { case (d, t) => (d, "en", if (d % 2 == 0) "s1" else "s2", 6L, 6L, t) }
        .toDF("doc_id", "lang", "source", "n_paras", "n_kept", "text")
        .write.mode("overwrite").parquet(s"${layout.clean}/batch_v$batch")
      val all = spark.read.schema(CorpusStream.cleanSchema)
        .parquet(s"${layout.clean}/batch_v*")
      graft.QueriesText.scoredTokens(all.select("doc_id", "text"))
        .groupBy("quality_score")
        .agg(sum("n_words").as("token_mass"), count(lit(1)).as("n_docs"))
        .write.mode("overwrite").parquet(s"${layout.ledger}/batch_v$batch")
    }

    // cycle 1: all-L corpus — the first patch IS the full release
    writeState(0, (1L to 6L).map(d => (d, lDoc(d))))
    val p1 = CorpusStream.exportPatchStep(spark, layout, 1L)
    val full1 = CorpusStream.exportStep(spark, layout, 1L) // full-cut twin, same layout
    assert(p1 > 0 && p1 == full1, s"first patch is the full release: $p1 vs $full1")
    assert(rowsOf(CorpusStream.exportPatchView(spark, layout)) ==
      rowsOf(spark.read.parquet(s"${layout.export}/cycle=1")),
      "patch view == full-cut artifact after cycle 1")

    // no-change cycle: the digest skip is retained in patch mode
    assert(CorpusStream.exportPatchStep(spark, layout, 2L) == 0L,
      "unchanged ledger: patch cycle writes nothing")

    // cycle 3: an H wave arrives — 4 H docs (480 mass) push the budget
    // to 600: all H admitted, the L prefix shrinks to one doc, so the
    // standing L keepers 2-3 EVICT while L doc 1 stays — the patch is
    // adds(new H) + tombstones(evicted L), never a full cut
    writeState(1, (101L to 104L).map(d => (d, hDoc(d))))
    val p3 = CorpusStream.exportPatchStep(spark, layout, 3L)
    val full3 = CorpusStream.exportStep(spark, layout, 3L)
    assert(p3 < full3, s"churn-proportional: patch adds $p3 < full cut $full3")
    val tombs = spark.read.parquet(s"${layout.exportPatchTombs}/cycle=3")
    assert(tombs.count() > 0, "evicted standing copies must tombstone")
    assert(rowsOf(CorpusStream.exportPatchView(spark, layout)) ==
      rowsOf(spark.read.parquet(s"${layout.export}/cycle=3")),
      "patch view == full-cut artifact after churn")

    // same-cycle rerun (crash replay) converges bit-identically
    val p3b = CorpusStream.exportPatchStep(spark, layout, 3L)
    assert(p3b == p3, "patch rerun of the same cycle converges")
    assert(rowsOf(CorpusStream.exportPatchView(spark, layout)) ==
      rowsOf(spark.read.parquet(s"${layout.export}/cycle=3")),
      "view stable across the rerun")
  }

  test("export step on a stream with no completed cycles no-ops instead of throwing (ADVICE r15)") {
    val root = java.nio.file.Files.createTempDirectory("graft_cstream_empty").toString
    val layout = CorpusStream.Layout(root)
    // no clean/ledger batch ever landed — the accumulated reads must
    // fall back to empty frames, the step emits zero rows
    val exported = CorpusStream.exportStep(spark, layout, 1L)
    assert(exported == 0L, s"empty-stream export step must be a 0-row no-op, got $exported")
    // selection() shares the posture: empty verdicts, no throw
    assert(CorpusStream.selection(spark, layout).isEmpty,
      "selection over an empty stream is an empty frame")
  }
}
