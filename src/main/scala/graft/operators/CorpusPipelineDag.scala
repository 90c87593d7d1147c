package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueriesText, Tables}
import graft.text.DedupOps
import LayerIO.write

/** The LLM training-data pipeline composed as a restartable batch DAG
  * over [[JobGraph]] — the corpus-side twin of [[SalesPipelineDag]]
  * (which mirrors the reference's airflow/dags + run_pipeline.sh for
  * the sales medallion). A data-release user runs THIS chain, not 30
  * individual queries:
  *
  * {{{
  *   validate ── funnel_flags ── neardup_pairs ─┬─ neardup_resolve ── paragraph_strip
  *                                              └─ dup_profile (sibling branch)
  *   paragraph_strip ── clean_quality_check ── token_budget ── mix_materialize
  *     ── train_split ── seq_pack ── pipeline_metrics (also waits on dup_profile)
  * }}}
  *
  * Stages and the registry rows they compose (SURVEY §2):
  *   - `funnel_flags`: the #144 gate chain (ingest → lang-id →
  *     quality → exact-dup keeper flag) at doc grain, ONE flags pass
  *     (shared derivation [[QueriesText.funnelFlags]] — bit-identical
  *     to the #144 profile and the streaming twin by construction);
  *   - `neardup_pairs`: the #23/#24 near-dup pipeline
  *     ([[DedupOps.nearDupPairs]]: MinHash banding, exact Jaccard
  *     verification) over the exact survivors;
  *   - `neardup_resolve`: #38's adaptive connected components → keep
  *     set (min-id keeper per group);
  *   - `paragraph_strip`: #142's C4-style block strip of the keepers
  *     (docs stripped to nothing drop out);
  *   - `clean_quality_check`: a [[DataQuality]] gate on the WRITTEN
  *     clean layer (failure skips selection but not the sibling
  *     profile branch — Airflow `upstream_failed` semantics);
  *   - `token_budget`: #145's greedy quality-ordered admission (half
  *     the clean corpus's token mass) via the two-level bucket scan;
  *   - `mix_materialize`: #151's epoch-capped water-fill allocation
  *     EMITTED as doc copies;
  *   - `train_split`: #72's stable md5 split at doc grain (copies of
  *     a doc share the split — eval hygiene);
  *   - `seq_pack`: #51's deterministic 2048-token packing of the
  *     train split, per source, prefix-scan division.
  *
  * Restartability contract (the [[SalesPipelineDag]] shape): every
  * stage WRITES its parquet layer with mode(overwrite) and downstream
  * stages read only the WRITTEN layer — never the upstream's
  * in-memory frame — so each job is independently restartable, the
  * dependency edges are real I/O barriers, and a crash mid-write
  * converges to the uninterrupted run on plain rerun. Layers land
  * through [[LayerIO.write]] (rows counted on the writing job) and are
  * read through [[Tables.read]] with the schema their writer left.
  *
  * Scale shape: the corpus-grain work is the flags projection, the
  * near-dup banding, the strip's hash-cell aggregate, the selection's
  * bucket scan and the materialization's prefix scan — every one a
  * registry row whose plan is already swept by
  * ScaleUpSpec/GlobalWindowSpec; the DAG adds only doc-grain keyed
  * joins between written layers (narrow keys, standard hash joins)
  * and collapsed-grain ledgers. Orchestration itself is driver-side
  * sequencing of Catalyst-planned jobs — zero data-plane cost.
  */
object CorpusPipelineDag {

  /** On-disk layer layout under one root. */
  final case class Layout(root: String) {
    val flags: String = s"$root/flags"
    val pairs: String = s"$root/neardup_pairs"
    val keep: String = s"$root/keep"
    val dupStats: String = s"$root/dup_stats"
    val clean: String = s"$root/clean"
    val selected: String = s"$root/selected"
    val mixture: String = s"$root/mixture"
    val splits: String = s"$root/splits"
    val packs: String = s"$root/packs"
    val export: String = s"$root/export"
    val packPayloads: String = s"$root/pack_payloads"
  }

  /** Columns the pipeline REQUIRES on the corpus. */
  private[operators] val requiredColumns: Set[String] = Set("doc_id", "text", "lang", "source")
  /** Known corpus metadata the pipeline tolerates but doesn't read. */
  private[operators] val toleratedColumns: Set[String] = Set("n_chars")

  /** The gate the pipeline runs on the stripped clean layer. */
  def defaultCleanSuite: Seq[DataQuality.Expectation] = Seq(
    DataQuality.NotNull("doc_id"),
    DataQuality.Unique("doc_id"),
    DataQuality.NotNull("text"),
    DataQuality.Satisfies("kept_blocks_positive", col("n_kept") >= 1))

  /** Build the job graph. `cleanSuite` is the quality gate's
    * expectation set (tests drive the failure path through it).
    *
    * The near-dup stage sketches with the same MinHash banding
    * (k=48, 24 bands) as [[CorpusIncrementalDag]]'s standing signature
    * index, so the two DAGs' layer-by-layer equality contract is
    * sketch-identical: they can differ only where exact verification
    * differs, never through independent sketch-recall channels.
    *
    * `boilerGuardPermille` arms the boilerplate-before-banding guard
    * on the near-dup stage (warn-only here — the DAG strips paragraphs
    * AFTER dedup by design, so the guard surfaces the one input shape
    * where that order breaks the banding contract's cost bound).
    * Default OFF: the detector is a corpus-scale gram pass that can
    * only warn, so a standing daily release should not pay it every
    * run — arm it when the ingest mix changes (new crawl, new
    * source), or run the standalone #154 `q_boiler_coverage` as a
    * scheduled diagnostic instead (same derivation, same number). */
  def build(
      s: SparkSession, sfDir: String, layout: Layout,
      cleanSuite: Seq[DataQuality.Expectation] = defaultCleanSuite,
      boilerGuardPermille: Int = 0
  ): JobGraph = {
    val g = new JobGraph()
    def docs: DataFrame = Tables.documents(s, sfDir)

    g.add("validate_corpus") {
      // drift check runs on the UNPROJECTED frame: a select() of the
      // expected columns would throw AnalysisException on a missing
      // column (bypassing the drift message) and silently drop
      // unexpected ones. Tolerated metadata columns are excluded from
      // the "unexpected" side only — they may be absent or present.
      val drift = DataQuality.columnsMatchSet(
        docs.drop(toleratedColumns.toSeq: _*), requiredColumns)
      if (drift.nonEmpty)
        throw new IllegalStateException(s"corpus schema drift: ${drift.toSeq.sorted.mkString(", ")}")
      requiredColumns.size.toLong
    }

    g.add("funnel_flags", deps = Seq("validate_corpus"), retries = 1) {
      // the #144 derivation + the exact-dup keeper flag, written at
      // doc grain WITHOUT text (the layer is narrow; text always
      // re-reads from the immutable source corpus)
      val flags = QueriesText.funnelFlags(docs)
      val r3set = flags.where(col("r2"))
        .groupBy(md5(lower(trim(col("text")))).as("__th"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("__r3"))
      write(
        flags.select("doc_id", "lang", "source", "n_words", "r0", "r1", "r2")
          .join(r3set, Seq("doc_id"), "left")
          .withColumn("r3", coalesce(col("__r3"), lit(false)))
          .drop("__r3"),
        layout.flags)
    }

    g.add("neardup_pairs", deps = Seq("funnel_flags"), retries = 1) {
      val survivors = Tables.read(s, layout.flags).where(col("r3")).select("doc_id")
      val gated = docs.join(survivors, Seq("doc_id"), "left_semi")
      write(
        DedupOps.nearDupPairs(gated, "doc_id", col("text"),
          n = 3, minJaccardPct = 50, boilerGuardPermille = boilerGuardPermille),
        layout.pairs)
    }

    g.add("neardup_resolve", deps = Seq("neardup_pairs"), retries = 1) {
      val resolved = DedupOps.resolveGroups(Tables.read(s, layout.pairs))
      val drops = resolved.where(col("doc_id") =!= col("group_id")).select("doc_id")
      write(
        Tables.read(s, layout.flags).where(col("r3"))
          .select("doc_id", "lang", "source", "n_words")
          .join(drops, Seq("doc_id"), "left_anti"),
        layout.keep)
    }

    // sibling branch: the release's dup-cluster profile from the SAME
    // written pairs layer — must keep running when the clean gate fails
    g.add("dup_profile", deps = Seq("neardup_pairs"), retries = 1) {
      val pairs = Tables.read(s, layout.pairs)
      val deg = pairs.select(col("doc1").as("doc_id"))
        .union(pairs.select(col("doc2").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      write(deg.groupBy("degree").agg(count(lit(1)).as("n_docs")), layout.dupStats)
    }

    g.add("paragraph_strip", deps = Seq("neardup_resolve"), retries = 1) {
      val keep = Tables.read(s, layout.keep)
      val gated = docs.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      val stripped = DedupOps.paragraphStrip(gated, "doc_id", col("text"), paraTokens = 20)
        .where(col("n_kept") >= 1) // stripped-to-nothing docs drop out
      write(
        stripped.join(keep.select("doc_id", "lang", "source"), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_paras"), col("n_kept"), col("text_clean").as("text")),
        layout.clean)
    }

    g.add("clean_quality_check", deps = Seq("paragraph_strip")) {
      JobGraph.gate(DataQuality.run(Tables.read(s, layout.clean), cleanSuite))
    }

    val terminals = addSelectionChain(g, s, () => Tables.read(s, layout.clean),
      layout.selected, layout.mixture, layout.splits, layout.packs,
      layout.export, layout.packPayloads,
      firstDep = Seq("clean_quality_check"))

    g.add("pipeline_metrics", deps = terminals :+ "dup_profile") {
      Tables.read(s, layout.packs).count()
    }
    g
  }

  /** Register the GLOBAL selection chain (token budget → mixture
    * materialization → split → pack) over a clean layer — shared by
    * the full-rebuild DAG and [[CorpusIncrementalDag.runCompaction]].
    * Selection is corpus-global BY NATURE: the #145 budget threshold
    * and the #147 water-fill allocation both move with every appended
    * batch (a new batch can evict previously admitted docs); the
    * per-batch path patches it through [[CorpusSelectionDelta]], and
    * the compaction reruns this chain to restore contiguous packs.
    * One derivation = the compacted release stays bit-identical to the
    * full rebuild on identical clean content. */
  private[operators] def addSelectionChain(
      g: JobGraph, s: SparkSession, readClean: () => DataFrame,
      selected: String, mixture: String, splits: String, packs: String,
      export: String, packPayloads: String,
      firstDep: Seq[String],
      skipWhen: () => Boolean = () => false): Seq[String] = {
    // `skipWhen`: the compaction passes "nothing to compact" (no
    // committed batch, or a rerun after the committed flip). Stages
    // report metric 0 and leave the layers untouched.
    def stage(id: String, deps: Seq[String])(body: => Long): Unit = {
      g.add(id, deps = deps, retries = 1) { if (skipWhen()) 0L else body }
      ()
    }

    stage("token_budget", deps = firstDep) {
      val clean = readClean()
      val admitted = QueriesText.tokenBudgetOn(clean.select("doc_id", "text"))
        .where(col("admitted"))
        .select("doc_id", "quality_score", "n_words")
      write(
        clean.join(admitted, Seq("doc_id"))
          .select("doc_id", "lang", "source", "quality_score", "n_words", "text"),
        selected)
    }

    stage("mix_materialize", deps = Seq("token_budget")) {
      // unordered #151: the layer is keyed by (doc_id, copy_id); only
      // the registered query pays the determinism orderBy — here it
      // would be an avoidable corpus-scale range exchange + sort
      write(
        QueriesText.mixMaterializeRaw(Tables.read(s, selected)),
        mixture)
    }

    stage("train_split", deps = Seq("mix_materialize")) {
      write(
        Tables.read(s, mixture)
          .withColumn("split", QueriesText.mdSplit(col("doc_id"))),
        splits)
    }

    stage("seq_pack", deps = Seq("train_split")) {
      val train = Tables.read(s, splits).where(col("split") === "train")
      val budget = 2048L
      write(
        ScanOps.exclusivePrefixSum(train, Seq("source"), Seq("doc_id", "copy_id"),
          col("n_words"), "tok_before")
          .select(col("doc_id"), col("copy_id"), col("source"), col("n_words"),
            call_function("div", col("tok_before"), lit(budget)).as("pack_id"),
            pmod(col("tok_before"), lit(budget)).as("pack_offset")),
        packs)
    }

    // the EXPORT last mile (r13 verdict #2): the mixture ledger joined
    // back to text, written as the release artifact users actually
    // read — hive-partitioned by (split, source) so a training reader
    // prunes at the directory level, range-clustered on doc_id so
    // row-group min/max prune inside partitions. repartitionByRange +
    // sortWithinPartitions makes the file layout a pure function of
    // the data: a rerun emits the same files (spec-pinned).
    stage("export_release", deps = Seq("train_split")) {
      val release = Tables.read(s, splits)
        .join(readClean().select("doc_id", "text"), Seq("doc_id"))
        .select("doc_id", "copy_id", "lang", "source", "split", "n_words", "text")
        .repartitionByRange(col("split"), col("source"), col("doc_id"), col("copy_id"))
      val obs = org.apache.spark.sql.Observation()
      // observe above a HASH-free layout chain: sortWithinPartitions
      // has no sampling pass, so the counter can sit under it safely —
      // but top placement costs nothing, so it goes on top
      graft.sources.ParquetSink.write(
        release.observe(obs, count(lit(1)).as("rows"))
          .sortWithinPartitions("split", "source", "doc_id", "copy_id"),
        export, partitionCols = Seq("split", "source"))
      obs.get("rows").asInstanceOf[Long]
    }

    // actual packed sequences (pack_id → concatenated token payload),
    // shared derivation with #153 — offsets reconcile with seq_pack's
    // ledger by construction (same prefix scan)
    stage("pack_payloads", deps = Seq("train_split")) {
      val train = Tables.read(s, splits).where(col("split") === "train")
        .select("doc_id", "copy_id", "source")
      write(
        graft.QueriesScale.packPayloadsOn(
          train.join(readClean().select("doc_id", "text"), Seq("doc_id"))),
        packPayloads)
    }

    Seq("seq_pack", "export_release", "pack_payloads")
  }

  /** Build and run sequentially; returns the report table. */
  def run(s: SparkSession, sfDir: String, root: String): Seq[JobGraph.JobReport] =
    build(s, sfDir, Layout(root)).run()
}
