package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueriesText, Tables}
import graft.text.{BloomDedup, DedupOps}
import LayerIO.write

/** INCREMENTAL corpus release — the daily-batch posture the sales side
  * has had since round 6 (watermark incremental + MedallionStream; the
  * reference anchor is utility/watermark_manager.py plus
  * airflow/dags/sales_pipeline_dag.py's daily-run semantics) applied
  * to the LLM data-release chain: a NEW batch of documents is gated by
  * a [[WatermarkStore]] high-water mark on `doc_id` (the corpus's
  * monotone ingest axis), deduped EXACTLY against the standing
  * release's text-hash index, near-dup-probed against the standing
  * MinHash signature index (#71's cross-corpus probe with #75's Bloom
  * pre-gate composed in), paragraph-stripped against the standing
  * block-hash index, and APPENDED to the clean layer — then
  * [[CorpusSelectionDelta]] refreshes the corpus-global selection
  * chain (#145 budget → #151 mixture → #72 split → #51 pack → export)
  * from the batch and narrow standing ledgers, emitting add/drop
  * patches: the cycle costs in proportion to the batch, not the
  * corpus. [[runCompaction]] re-runs the full chain when contiguous
  * pack ids are wanted.
  *
  * == Equivalence contract (first-arrival = min-id) ==
  * Batches arrive in ascending `doc_id` ranges (the watermark enforces
  * it), and every keeper rule in the full rebuild —
  * exact-dup (`min(doc_id)` per text hash), near-dup resolution
  * (min-id per component), paragraph ownership
  * (`min(struct(doc_id, para_idx))` per block) — picks the SMALLEST
  * id, i.e. the earliest arrival. So processing batch k sees exactly
  * the state the full rebuild's min-rules would consult, and the
  * incremental layers equal [[CorpusPipelineDag]]'s full rebuild on
  * the union (CorpusSelectionDeltaSpec pins it layer by layer).
  * SKETCH IDENTITY backs that equality: this path's candidates come
  * from MinHash banding (k=48, bands=24), the one near-dup candidate
  * generator, which [[CorpusPipelineDag]] runs too
  * ([[graft.text.DedupOps.nearDupPairs]]), so the two DAGs can only
  * differ where exact verification differs — never through
  * independent sketch-recall channels. ONE documented
  * exception remains: a new batch can BRIDGE two standing
  * near-dup components (doc C near-dup of standing keepers A and B;
  * a full rebuild would merge the component and drop B). An
  * append-only release cannot retract B, so the run reports such
  * docs in the `retractions` layer instead — the standing keepers a
  * full rebuild would have dropped. Empty ledger ⇒ the incremental
  * release is bit-equal to the full rebuild; non-empty ⇒ the operator
  * schedules a full rebuild (or accepts first-arrival semantics, the
  * standard production trade).
  *
  * == State is bounded by the batch, never the corpus ==
  * The corpus-scale state lives in three APPEND-ONLY disk indexes
  * (text hashes: 32 B/doc; MinHash sigs: k·8 B/doc; paragraph
  * hashes: 32 B/block). Per batch, each is scanned ONCE, map-only,
  * through a Bloom built over the BATCH's keys
  * ([[BloomDedup.gateBigSide]]) — the only driver-resident state is
  * that batch-keyed filter (~10 bits/key), and nothing corpus-scale
  * ever shuffles for a batch-sized question: survivors of the gate
  * are ~batch-sized and broadcast into the exact joins that make the
  * decisions. Union-find runs over batch-incident pairs only.
  *
  * == Restartability ==
  * Every per-batch layer writes to a `batch=<id>` partition
  * subdirectory with mode(overwrite), and the batch id is a pure
  * function of the watermark (max batch doc_id), so a crashed run —
  * the watermark only advances in the FINAL stage — reruns the same
  * batch into the same partitions and converges (spec-pinned).
  * Standing-state reads filter `doc_id <= mark` (id-carrying layers)
  * or `batch <= mark` (id-less hash indexes), so neither a torn
  * partition from a crashed wider run nor the crashed attempt's OWN
  * partition can leak into the standing side — without the latter a
  * rerun would dedup the batch against itself.
  */
object CorpusIncrementalDag {

  /** On-disk layout: per-batch partitioned layers, the three standing
    * indexes, and the selection layers [[runCompaction]] writes (the
    * per-batch selection patches live in [[CorpusSelectionDelta.Layers]]). */
  final case class Layout(root: String) {
    val flags: String = s"$root/flags"               // batch=N: doc flags incl. r3
    val textHashes: String = s"$root/text_hashes"    // batch=N: fresh exact-dup hashes
    val sigs: String = s"$root/sigs"                 // batch=N: MinHash sigs of r3 survivors
    val pairs: String = s"$root/neardup_pairs"       // batch=N: batch-incident verified pairs
    val resolved: String = s"$root/neardup_resolved" // batch=N: resolved (doc_id, group_id)
    val keep: String = s"$root/keep"                 // batch=N: batch keepers
    val paraHashes: String = s"$root/para_hashes"    // batch=N: fresh paragraph-block hashes
    val clean: String = s"$root/clean"               // batch=N: stripped clean docs
    val retractions: String = s"$root/retractions"   // batch=N: full-rebuild-would-drop ledger
    val batchMeta: String = s"$root/batch_meta"      // scratch: (mark, batch_id, n_docs)
    val selected: String = s"$root/selected"         // compaction only (overwrite)
    val mixture: String = s"$root/mixture"
    val splits: String = s"$root/splits"
    val packs: String = s"$root/packs"
    val export: String = s"$root/export"             // compaction: renamed into the rebased base
    val packPayloads: String = s"$root/pack_payloads"
    val rebuildFlag: String = s"$root/rebuild_flag"  // batch=N: ReleasePolicy verdicts
    val marks: String = s"$root/marks"               // WatermarkStore dir
  }

  /** The rebuild-scheduling policy (VERDICT r14 item 4): the two
    * honesty ledgers this operator emits — near-dup RETRACTIONS
    * (standing keepers a full rebuild would have dropped; bridge
    * merges) and pack TOMBSTONES (dead tokens inside standing delta
    * shards) — previously reported and nothing consumed them. The
    * policy turns them into an action: when either crosses its bound,
    * the batch writes a `rebuild_flag` row, and [[rebuildRequested]]
    * tells the scheduler (RunIncremental, or a real orchestrator's
    * branch operator) to run a full-rebuild COMPACTION cycle instead
    * of the next incremental one. Defaults:
    * any retraction flags (first-arrival drift is a correctness-shaped
    * debt), dead tokens flag at 10% (a storage/efficiency debt). */
  final case class ReleasePolicy(
      maxRetractions: Long = 0L,
      maxDeadTokenPermille: Long = 100L)

  /** Default ledger-snapshot cadence (VERDICT r16 item 5): the narrow
    * op ledgers roll up once the unsnapshotted tail reaches this many
    * batches, so per-batch standing reads stay one base + a bounded
    * tail. There is no snapshots-off mode: without roll-ups every
    * ledger gains one partition per ingest day, forever. */
  val defaultSnapshotEvery: Int = 8

  /** The COMMITTED release watermark — the last batch id whose every
    * layer landed (the mark only advances after all stages). Pass it
    * as `upTo` to [[CorpusSelectionDelta]]'s view readers for a
    * consistent committed-state read: their MaxValue default includes
    * a crashed in-flight batch's torn partitions (mixture adds with
    * no matching export rows yet), which is correct for the rerunning
    * operator but not for an out-of-band consumer. */
  def releaseWatermark(layout: Layout): Long =
    new WatermarkStore(layout.marks, bootstrapMark).get(entity).trim.toLong

  /** True when any batch has raised a rebuild flag (cleared by
    * [[runCompaction]] deleting the flag layer). */
  def rebuildRequested(s: SparkSession, layout: Layout): Boolean = {
    val p = new org.apache.hadoop.fs.Path(layout.rebuildFlag)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    fs.exists(p) && !Tables.read(s, layout.rebuildFlag).isEmpty
  }

  /** EXECUTABLE compaction (VERDICT r15 item 1): the full-rebuild
    * cycle [[rebuildRequested]] asks for, as a crash-rerun-convergent
    * job graph. Runs the SHARED selection chain
    * ([[CorpusPipelineDag.addSelectionChain]] — the derivation the
    * full-rebuild DAG uses) over the committed clean layer into the
    * [[Layout]]'s selection layers (their only writer), then REBASES
    * the delta ledgers onto it inside a FRESH generation directory
    * (`<root>/selgen=<mark>`) and flips the
    * [[CorpusSelectionDelta.genPointerName]] pointer atomically
    * (VERDICT r16 item 4 — the ScdStream `_CURRENT` pattern):
    *
    *   1. `compact_selection` — token budget → mixture → split →
    *      contiguous pack → export → payloads over
    *      `clean WHERE batch <= mark AND doc_id <= mark` (overwrite;
    *      rerun-idempotent).
    *   2. `compact_rebase` — narrow ledger BASES derived from the
    *      rebuild layers, written as committed `snap=mark` snapshots
    *      of the NEW generation (verdicts = selected as op=add;
    *      first-admit texts = selected's text; mixture ledger =
    *      mixture as op=add; pack ledger = the CONTIGUOUS packs; pack
    *      heads = max(pack_id)+1 per source); the append-only doc
    *      index + score cells consolidate OLD generation → NEW. The
    *      tombstone ledgers are simply NOT carried — the new
    *      generation starts with zero dead state, so the policy's
    *      dead-token permille reads 0 again. The old generation is
    *      never touched.
    *   3. `compact_swap` — the export artifact and payload shards are
    *      RENAMED into the new generation as the `batch=mark` base
    *      (no second text write), and the export floor file lands
    *      beside the base.
    *   4. `compact_flip` — the generation pointer swings to
    *      `selgen=<mark>` via an ATOMIC_MOVE. This is the commit
    *      point for every out-of-band reader: resolution before the
    *      flip yields the old generation (untouched, consistent);
    *      after, the rebased one. There is NO torn window — the r15
    *      in-place design's tombstones-cleared-before-swap exposure
    *      is gone by construction.
    *   5. `compact_clear_flag` — the rebuild-flag layer is deleted
    *      right after the flip: a crash anywhere above leaves the
    *      flag standing, so the scheduler ([[graft.tools
    *      .RunIncremental]]'s branch, or a real orchestrator) simply
    *      reruns the compaction; pre-flip steps overwrite/rename
    *      idempotently, and a rerun AFTER a committed flip skips
    *      straight here (re-running the rebase would read the very
    *      generation it writes).
    *   6. `compact_gc` — generations other than the new one and its
    *      immediate predecessor are deleted (the predecessor is
    *      retained one full compaction cycle so an in-flight reader
    *      that resolved just before the flip keeps live directories;
    *      the grandparent cannot have readers left).
    *
    * After compaction the views equal the rebuild layers BY
    * CONSTRUCTION (including pack ids — the one place the delta path
    * diverges by design), subsequent delta batches resume from the
    * compacted base under the unchanged `batch=N` rules, and the
    * per-batch ledger reads are back to one base partition + tail.
    * The RETRACTION ledger is not healed here: retractions record
    * first-arrival drift in the DEDUP layers (keep/clean), and the
    * honest fix for those is a full [[CorpusPipelineDag]] rebuild of
    * the corpus — this compaction clears the flag either way, which
    * is the operator's accept-first-arrival trade, documented. */
  def runCompaction(s: SparkSession, root: String): Seq[JobGraph.JobReport] = {
    val layout = Layout(root)
    val mark = releaseWatermark(layout)
    val genName = s"selgen=$mark"
    val Lold = CorpusSelectionDelta.Layers.active(s, root)
    val Lnew = CorpusSelectionDelta.Layers(s"$root/$genName")
    // rerun-after-flip: the pointer already names this generation ⇒
    // rebase and swap committed before the crash — only the flag
    // clear and GC remain, and re-running the rebase would READ the
    // generation it overwrites
    val committed = Lold.root == Lnew.root
    val skip = mark < 0L || committed
    val g = new JobGraph()
    def readClean(): DataFrame =
      Tables.read(s, layout.clean)
        .where(col("batch") <= mark && col("doc_id") <= mark)
        .select("doc_id", "lang", "source", "n_paras", "n_kept", "text")

    g.add("compact_guard") { mark } // -1 = bootstrap: nothing committed, all stages skip

    val terminals = CorpusPipelineDag.addSelectionChain(g, s, () => readClean(),
      layout.selected, layout.mixture, layout.splits, layout.packs,
      layout.export, layout.packPayloads,
      firstDep = Seq("compact_guard"),
      skipWhen = () => skip)

    g.add("compact_rebase", deps = terminals, retries = 1) {
      if (skip) 0L else {
        def snapW(path: String, frame: DataFrame): Unit = {
          frame.write.mode("overwrite")
            .parquet(s"${CorpusSelectionDelta.snapRoot(path)}/snap=$mark")
          ()
        }
        val sel = Tables.read(s, layout.selected)
        snapW(Lnew.verdicts, sel
          .select("doc_id", "lang", "source", "quality_score", "n_words")
          .withColumn("op", lit("add")).withColumn("batch", lit(mark)))
        snapW(Lnew.texts, sel.select("doc_id", "text").withColumn("batch", lit(mark)))
        snapW(Lnew.mixDelta, Tables.read(s, layout.mixture)
          .select("doc_id", "lang", "source", "n_words", "copy_id")
          .withColumn("op", lit("add")).withColumn("batch", lit(mark)))
        val packs = Tables.read(s, layout.packs)
        snapW(Lnew.packsDelta, packs.withColumn("batch", lit(mark)))
        snapW(Lnew.packHeads, packs.groupBy("source")
          .agg((max(col("pack_id")) + 1L).as("packs_end"))
          .withColumn("batch", lit(mark)).coalesce(1))
        // doc index + score cells have no rebuild counterpart —
        // consolidate OLD generation → NEW (rows keep their original
        // `batch` values; the cell roll-up matches
        // CorpusSelectionDelta.snapshot's formulation exactly)
        snapW(Lnew.cells, CorpusSelectionDelta
          .readLedger(s, Lold.cells, CorpusSelectionDelta.cellDdl, mark)
          .groupBy("quality_score")
          .agg(sum("token_mass").as("token_mass"), sum("n_docs").as("n_docs"))
          .withColumn("batch", lit(mark)).coalesce(1))
        snapW(Lnew.docIndex, CorpusSelectionDelta
          .readLedger(s, Lold.docIndex, CorpusSelectionDelta.idxDdl, mark)
          .sortWithinPartitions("quality_score"))
        7L
      }
    }

    g.add("compact_swap", deps = Seq("compact_rebase"), retries = 1) {
      if (skip) 0L else {
        val conf = s.sessionState.newHadoopConf()
        def swapIn(src: String, destLayer: String): Unit = {
          val srcP = new org.apache.hadoop.fs.Path(src)
          val fs = srcP.getFileSystem(conf)
          val dest = new org.apache.hadoop.fs.Path(s"$destLayer/batch=$mark")
          // RETRY idempotence: a prior attempt may already have
          // renamed the source away — if the base is installed and
          // the source is gone, this swap is DONE; pruning first and
          // unconditionally renaming would delete the installed base
          // and then fail forever on the missing source
          if (!fs.exists(srcP)) {
            if (fs.exists(dest)) return
            throw new IllegalStateException(
              s"compact_swap: neither source $src nor installed base $dest exists — " +
                "rerun the full compaction (the selection chain rebuilds the source)")
          }
          CorpusSelectionDelta.prunePartitions(s, destLayer, Long.MaxValue, None)
          if (fs.exists(dest)) fs.delete(dest, true)
          fs.mkdirs(dest.getParent)
          if (!fs.rename(srcP, dest))
            throw new IllegalStateException(s"compact_swap: rename $src -> $dest failed")
        }
        swapIn(layout.export, Lnew.exportDelta)
        swapIn(layout.packPayloads, Lnew.payloadsDelta)
        // floor file (review r16 + ADVICE r16): exportView must THROW
        // on reads below the rebased mark — "history rolled up" must
        // never read as an EMPTY release. A plain `_`-prefixed file,
        // NOT a row in the snap namespace.
        CorpusSelectionDelta.writeExportFloor(s, Lnew, mark)
        2L
      }
    }

    // THE commit point for out-of-band readers (VERDICT r16 item 4):
    // one atomic pointer move. Before it every resolution yields the
    // old generation, whose directories this compaction never writes;
    // after it, the rebased one.
    g.add("compact_flip", deps = Seq("compact_swap")) {
      if (mark < 0L) 0L
      else { CorpusSelectionDelta.flipGeneration(s, root, genName); 1L }
    }

    g.add("compact_clear_flag", deps = Seq("compact_flip")) {
      val p = new org.apache.hadoop.fs.Path(layout.rebuildFlag)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, true)
      1L
    }

    // hygiene: drop every generation except the new one and its
    // immediate predecessor (kept one compaction cycle as the
    // in-flight readers' grace window). Idempotent; a crash here
    // only delays disk reclamation.
    g.add("compact_gc", deps = Seq("compact_clear_flag")) {
      CorpusSelectionDelta.readGenerations(s, root) match {
        case None => 0L
        case Some((cur, prev)) =>
          val conf = s.sessionState.newHadoopConf()
          val rootP = new org.apache.hadoop.fs.Path(root)
          val fs = rootP.getFileSystem(conf)
          var removed = 0L
          // named generations not current/previous
          fs.listStatus(rootP).foreach { st =>
            val name = st.getPath.getName
            if (st.isDirectory && name.startsWith("selgen=") &&
                name != cur && name != prev) {
              fs.delete(st.getPath, true); removed += 1
            }
          }
          // the legacy root-level family counts as generation ""
          if (cur.nonEmpty && prev.nonEmpty) {
            val legacy = CorpusSelectionDelta.Layers(root)
            legacy.all.foreach { layer =>
              Seq(layer, CorpusSelectionDelta.snapRoot(layer)).foreach { d =>
                val p = new org.apache.hadoop.fs.Path(d)
                if (fs.exists(p)) { fs.delete(p, true); removed += 1 }
              }
            }
          }
          removed
      }
    }
    g.run()
  }

  /** Watermark entity name and zero-padded numeric encoding (the
    * store compares lexicographically, like the reference). */
  private[graft] val entity = "corpus_doc_id"
  private[graft] def pad(id: Long): String = f"$id%020d"
  /** Bootstrap mark: one BELOW the smallest possible doc_id, so the
    * first batch includes id 0 (`doc_id > mark` is strict). */
  private[graft] val bootstrapMark: String = "-1"

  /** Schemas of the per-batch dedup layers as their writers produce
    * them, `batch` partition column included — what every standing
    * read applies through [[LayerIO.readOr]] (spec-pinned equal to the
    * written layers). */
  private[graft] val textHashDdl = "text_hash STRING, batch BIGINT"
  private[graft] val sigDdl = "doc_id BIGINT, sig ARRAY<BIGINT>, batch BIGINT"
  private[graft] val keepDdl = "doc_id BIGINT, lang STRING, source STRING, n_words BIGINT, batch BIGINT"
  private[graft] val paraHashDdl = "para_hash STRING, batch BIGINT"
  private[graft] val retractionDdl = "doc_id BIGINT, group_id BIGINT, batch BIGINT"

  /** Delete per-batch partitions left behind by a CRASHED attempt that
    * ran with a DIFFERENT `upTo` (advice r14: a crashed wider-upTo
    * attempt leaves a `batch=<wideId>` partition no narrower rerun
    * ever overwrites; once the watermark later advances past its doc
    * ids, its rows would double-count into every standing read). Any
    * partition with `mark < batchId != bid` is by construction garbage
    * from an unfinished attempt — the watermark only advances after
    * ALL layers land, so nothing at `batch > mark` is standing state,
    * and the current run owns exactly `batch = bid`. Healing runs
    * before the first layer write, making reruns converge even when
    * `upTo` shrinks between a crash and its rerun. */
  private def healTornPartitions(
      s: SparkSession, layerPaths: Seq[String], mark: Long, bid: Long): Long = {
    var removed = 0L
    layerPaths.foreach { layer =>
      val root = new org.apache.hadoop.fs.Path(layer)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(root)) {
        fs.listStatus(root).foreach { st =>
          val name = st.getPath.getName
          if (st.isDirectory && name.startsWith("batch=")) {
            val id = scala.util.Try(name.stripPrefix("batch=").toLong).toOption
            if (id.exists(i => i > mark && i != bid)) {
              fs.delete(st.getPath, true)
              removed += 1
            }
          }
        }
      }
    }
    removed
  }

  /** Build the incremental job graph. `upTo` bounds the batch
    * (`mark < doc_id <= upTo`) — the "process up to ingest time T"
    * knob a scheduled daily run uses; default = everything new.
    *
    * After the dedup layers, [[CorpusSelectionDelta]] refreshes
    * selection: the admission cut from the ≤101-cell ledger + one
    * boundary-interval re-read of the NARROW doc index, emitting
    * add/drop patches and per-batch pack/export/payload shards with
    * tombstones. Its views equal the full rebuild exactly except
    * pack-id numbering (content-equal, spec-pinned); [[runCompaction]]
    * restores contiguous pack ids.
    *
    * `policy` is evaluated every batch (see [[ReleasePolicy]]); a
    * violated bound writes `rebuild_flag`.
    *
    * `snapshotEvery` (at least 1, default [[defaultSnapshotEvery]]):
    * after the watermark advances, roll the narrow op ledgers up via
    * [[CorpusSelectionDelta.snapshot]] once the unsnapshotted tail
    * reaches that many batches — per-batch ledger reads stay
    * one-base-partition + bounded tail instead of growing one
    * partition per ingest day forever (VERDICT r15 item 2). */
  def build(
      s: SparkSession, sfDir: String, layout: Layout,
      upTo: Long = Long.MaxValue,
      cleanSuite: Seq[DataQuality.Expectation] = CorpusPipelineDag.defaultCleanSuite,
      policy: ReleasePolicy = ReleasePolicy(),
      snapshotEvery: Int = defaultSnapshotEvery
  ): JobGraph = {
    require(snapshotEvery >= 1,
      s"CorpusIncrementalDag: snapshotEvery must be at least 1, got $snapshotEvery")
    val g = new JobGraph()
    val store = new WatermarkStore(layout.marks, defaultMark = bootstrapMark)
    // resolved ONCE at graph-build time: the scheduler is the single
    // writer and runs compactions BETWEEN cycles, so the generation
    // cannot move under a running graph
    val deltaLayers = CorpusSelectionDelta.Layers.active(s, layout.root)
    def docs: DataFrame = Tables.documents(s, sfDir)

    /** (mark, batch_id, n_docs) of this run, set by `watermark_batch`
      * (every other stage depends on it); also written to the scratch
      * layer as the batch's record. */
    @volatile var runMeta: Option[(Long, Long, Long)] = None
    def meta(): (Long, Long, Long) = runMeta.getOrElse(
      throw new IllegalStateException("watermark_batch has not run in this graph"))
    def batchDocs(mark: Long): DataFrame =
      docs.where(col("doc_id") > mark && col("doc_id") <= upTo)

    g.add("validate_corpus") {
      val drift = DataQuality.columnsMatchSet(
        docs.drop(CorpusPipelineDag.toleratedColumns.toSeq: _*),
        CorpusPipelineDag.requiredColumns)
      if (drift.nonEmpty)
        throw new IllegalStateException(s"corpus schema drift: ${drift.toSeq.sorted.mkString(", ")}")
      CorpusPipelineDag.requiredColumns.size.toLong
    }

    g.add("watermark_batch", deps = Seq("validate_corpus"), retries = 1) {
      val mark = store.get(entity).trim.toLong
      // batch id = max batch doc_id: a pure function of (mark, upTo,
      // corpus), so a crashed run recomputes the SAME id and its
      // reruns overwrite their own partitions
      val st = batchDocs(mark).agg(
        count(lit(1)).as("n"), coalesce(max("doc_id"), lit(mark)).as("mx")).head()
      val (n, bid) = (st.getLong(0), st.getLong(1))
      // heal BEFORE any layer write: partitions from a crashed attempt
      // that ran with a different upTo (batch id > mark, != this run's)
      // are deleted so they can never leak into standing reads after
      // the watermark advances past their doc ids
      healTornPartitions(s, Seq(
        layout.flags, layout.textHashes, layout.sigs, layout.pairs,
        layout.resolved, layout.keep, layout.paraHashes, layout.clean,
        layout.retractions, layout.rebuildFlag) ++ deltaLayers.all, mark, bid)
      import s.implicits._
      Seq((mark, bid, n)).toDF("mark", "batch_id", "n_docs")
        .coalesce(1).write.mode("overwrite").parquet(layout.batchMeta)
      runMeta = Some((mark, bid, n))
      n
    }

    g.add("batch_flags", deps = Seq("watermark_batch"), retries = 1) {
      val (mark, bid, n) = meta()
      if (n == 0) 0L else {
        // batch-bounded persist: the flags projection feeds the Bloom
        // count, the anti-join and the written layer — one pass
        val flags = QueriesText.funnelFlags(batchDocs(mark))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val r2h = flags.where(col("r2"))
          .select(col("doc_id"), md5(lower(trim(col("text")))).as("__th"))
        // standing exact-dup index, Bloom-reduced to ~batch size
        // map-side, then the exact anti-join (right side now small
        // enough to broadcast) decides freshness
        val standing = BloomDedup.gateBigSide(
          LayerIO.readOr(s, layout.textHashes, textHashDdl)
            .where(col("batch") <= mark).select(col("text_hash").as("__th")),
          xxhash64(col("__th")), r2h, xxhash64(col("__th")))
        val fresh = r2h.join(standing, Seq("__th"), "left_anti")
        val r3set = fresh.groupBy("__th").agg(min("doc_id").as("doc_id"))
          .select(col("doc_id"), lit(true).as("__r3"))
        val written = write(
          flags.select("doc_id", "lang", "source", "n_words", "r0", "r1", "r2")
            .join(r3set, Seq("doc_id"), "left")
            .withColumn("r3", coalesce(col("__r3"), lit(false)))
            .drop("__r3"),
          s"${layout.flags}/batch=$bid")
        flags.unpersist(blocking = false)
        written
      }
    }

    g.add("index_text_hashes", deps = Seq("batch_flags"), retries = 1) {
      val (mark, bid, n) = meta()
      if (n == 0) 0L else {
        // fresh hashes = hashes of the batch's r3 keepers (each new
        // hash has exactly one keeper); recomputed from the WRITTEN
        // flags layer + the immutable source corpus — batch-bounded
        val keepers = Tables.read(s, s"${layout.flags}/batch=$bid")
          .where(col("r3")).select("doc_id")
        write(
          batchDocs(mark).join(keepers, Seq("doc_id"), "left_semi")
            .select(md5(lower(trim(col("text")))).as("text_hash")),
          s"${layout.textHashes}/batch=$bid")
      }
    }

    g.add("batch_sigs", deps = Seq("batch_flags"), retries = 1) {
      val (mark, bid, n) = meta()
      if (n == 0) 0L else {
        val keepers = Tables.read(s, s"${layout.flags}/batch=$bid")
          .where(col("r3")).select("doc_id")
        write(
          DedupOps.minhashSignaturesNative(
            batchDocs(mark).join(keepers, Seq("doc_id"), "left_semi"),
            "doc_id", col("text"), n = 3, k = 48),
          s"${layout.sigs}/batch=$bid")
      }
    }

    g.add("neardup_pairs", deps = Seq("batch_sigs"), retries = 1) {
      val (mark, bid, n) = meta()
      if (n == 0) 0L else {
        val batchSigs = Tables.read(s, s"${layout.sigs}/batch=$bid")
        // standing side filtered by id, never by partition name, so a
        // torn wider-run partition can't leak into the standing index
        val standingSigs = LayerIO.readOr(s, layout.sigs, sigDdl)
          .where(col("doc_id") <= mark).select("doc_id", "sig")
        val cross = DedupOps.minhashLshPairsAcrossGated(
          batchSigs, standingSigs, "doc_id", k = 48, bands = 24, minEst = 0.25)
        val within = DedupOps.minhashLshPairs(
          batchSigs, "doc_id", k = 48, bands = 24, minEst = 0.25)
        val cands = cross.select("doc1", "doc2").union(within.select("doc1", "doc2"))
          .select(least(col("doc1"), col("doc2")).as("doc1"),
            greatest(col("doc1"), col("doc2")).as("doc2"))
          .distinct()
        write(
          DedupOps.verifyPairsExact(cands, docs.where(col("doc_id") <= bid),
            "doc_id", col("text"), n = 3, minJaccardPct = 50),
          s"${layout.pairs}/batch=$bid")
      }
    }

    // ONE resolution pass per batch (r14 verdict item 2): the iterative
    // label propagation runs once and lands as a layer; both consumers
    // (keep derivation, retraction ledger) read the WRITTEN frame
    g.add("neardup_resolved", deps = Seq("neardup_pairs"), retries = 1) {
      val (_, bid, n) = meta()
      if (n == 0) 0L else {
        write(
          DedupOps.resolveGroups(Tables.read(s, s"${layout.pairs}/batch=$bid")),
          s"${layout.resolved}/batch=$bid")
      }
    }

    g.add("neardup_resolve", deps = Seq("neardup_resolved"), retries = 1) {
      val (mark, bid, n) = meta()
      if (n == 0) 0L else {
        val drops = Tables.read(s, s"${layout.resolved}/batch=$bid")
          .where(col("doc_id") =!= col("group_id") && col("doc_id") > mark)
          .select("doc_id")
        write(
          Tables.read(s, s"${layout.flags}/batch=$bid").where(col("r3"))
            .select("doc_id", "lang", "source", "n_words")
            .join(drops, Seq("doc_id"), "left_anti"),
          s"${layout.keep}/batch=$bid")
      }
    }

    // sibling branch: the honesty ledger. Standing keepers that a
    // FULL rebuild on the union would have dropped (a batch doc
    // bridged their component to a smaller standing keeper). An
    // append-only release cannot retract them — it reports them.
    g.add("retraction_ledger", deps = Seq("neardup_resolved"), retries = 1) {
      val (mark, bid, n) = meta()
      if (n == 0) 0L else {
        val standingKeep = LayerIO.readOr(s, layout.keep, keepDdl)
          .where(col("doc_id") <= mark).select("doc_id")
        write(
          Tables.read(s, s"${layout.resolved}/batch=$bid")
            .where(col("doc_id") =!= col("group_id") && col("doc_id") <= mark)
            .join(standingKeep, Seq("doc_id"), "left_semi")
            .select("doc_id", "group_id"),
          s"${layout.retractions}/batch=$bid")
      }
    }

    g.add("paragraph_strip", deps = Seq("neardup_resolve"), retries = 1) {
      val (mark, bid, n) = meta()
      if (n == 0) 0L else {
        val keep = Tables.read(s, s"${layout.keep}/batch=$bid")
        val gated = batchDocs(mark).join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
        val standingParas = LayerIO.readOr(s, layout.paraHashes, paraHashDdl)
          .where(col("batch") <= mark).select("para_hash")
        val (stripped, freshHashes, release) = DedupOps.paragraphStripIncremental(
          gated, "doc_id", col("text"), paraTokens = 20, known = standingParas)
        val written =
          write(
            stripped.where(col("n_kept") >= 1)
              .join(keep.select("doc_id", "lang", "source"), Seq("doc_id"))
              .select(col("doc_id"), col("lang"), col("source"),
                col("n_paras"), col("n_kept"), col("text_clean").as("text")),
            s"${layout.clean}/batch=$bid")
        write(freshHashes, s"${layout.paraHashes}/batch=$bid")
        release()
        written
      }
    }

    g.add("clean_quality_check", deps = Seq("paragraph_strip")) {
      val (_, bid, n) = meta()
      if (n == 0) 0L
      else JobGraph.gate(DataQuality.run(
        Tables.read(s, s"${layout.clean}/batch=$bid"), cleanSuite))
    }

    // batch-proportional refresh: admission delta from the cell ledger
    // + narrow-index interval re-read, patch layers with tombstones
    // (CorpusSelectionDelta's contract)
    val terminals = CorpusSelectionDelta.addDeltaChain(g, s, deltaLayers,
      meta = () => meta(),
      readCleanBatch = () => {
        val (_, bid, _) = meta()
        Tables.read(s, s"${layout.clean}/batch=$bid")
      },
      readCleanStanding = () => {
        val (mark, _, _) = meta()
        Tables.read(s, layout.clean)
          .where(col("batch") <= mark && col("doc_id") <= mark)
      },
      firstDep = Seq("clean_quality_check"))

    // the policy gate: consume the honesty ledgers (retractions, dead
    // pack tokens) and flag a full-rebuild compaction when a bound is
    // crossed — part of the batch transaction, so the watermark never
    // advances past an unevaluated policy
    g.add("release_policy", deps = terminals :+ "retraction_ledger", retries = 1) {
      val (_, bid, n) = meta()
      if (n == 0) 0L else {
        val nRetr = LayerIO.readOr(s, layout.retractions, retractionDdl)
          .where(col("batch") === bid).count()
        val flags = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        if (nRetr > policy.maxRetractions)
          flags += (("retractions", nRetr, policy.maxRetractions))
        // snapshot-aware reads (readLedger): after a ledger snapshot or
        // compaction, the packed-token denominator must still see the
        // base rows, or the dead permille inflates and the flag fires
        // early
        val packed = CorpusSelectionDelta.readLedger(s, deltaLayers.packsDelta,
          CorpusSelectionDelta.packDdl, bid)
          .agg(coalesce(sum("n_words"), lit(0L))).head().getLong(0)
        val dead = CorpusSelectionDelta.readLedger(s, deltaLayers.packTombs,
          CorpusSelectionDelta.tombDdl, bid)
          .agg(coalesce(sum("n_words"), lit(0L))).head().getLong(0)
        val permille = if (packed > 0L) dead * 1000L / packed else 0L
        if (permille > policy.maxDeadTokenPermille)
          flags += (("dead_tokens", permille, policy.maxDeadTokenPermille))
        import s.implicits._
        flags.toSeq.toDF("reason", "metric", "bound")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${layout.rebuildFlag}/batch=$bid")
        flags.size.toLong
      }
    }

    // the watermark advances LAST: a crash anywhere above reruns the
    // same batch into the same partitions and converges
    g.add("advance_watermark",
      deps = terminals ++ Seq("release_policy", "retraction_ledger", "index_text_hashes")) {
      val (_, bid, n) = meta()
      if (n > 0) store.update(entity, pad(bid))
      bid
    }

    // ledger roll-up AFTER the watermark commits (the snapshot id is
    // the committed mark by construction): when the WORST
    // unsnapshotted tail across the six ledgers reaches
    // `snapshotEvery` batches, consolidate. Max-over-ledgers (not
    // just verdicts) + retries makes a crashed partial roll-up
    // self-healing: whichever ledger stayed unpruned keeps the count
    // high, so the next cadence hit re-snapshots all of them. Metric
    // = ledgers snapped (0 = below cadence). A torn snap dir without
    // _SUCCESS is invisible to readers and overwritten.
    g.add("ledger_snapshot", deps = Seq("advance_watermark"), retries = 1) {
      // no n==0 guard: on an empty ingest day bid == the committed
      // mark, so even a no-op cycle can finish a roll-up a crashed
      // predecessor left partial
      val (_, bid, _) = meta()
      if (CorpusSelectionDelta.maxTail(s, deltaLayers) >= snapshotEvery)
        CorpusSelectionDelta.snapshot(s, deltaLayers, bid)
      else 0L
    }

    g.add("release_report", deps = Seq("ledger_snapshot")) {
      CorpusSelectionDelta.packsLive(s, deltaLayers).count()
    }
    g
  }

  /** Build and run one incremental cycle; returns the report table. */
  def run(s: SparkSession, sfDir: String, root: String,
          upTo: Long = Long.MaxValue,
          policy: ReleasePolicy = ReleasePolicy(),
          snapshotEvery: Int = defaultSnapshotEvery): Seq[JobGraph.JobReport] =
    build(s, sfDir, Layout(root), upTo, policy = policy, snapshotEvery = snapshotEvery).run()
}
