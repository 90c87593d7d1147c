package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{QueriesText, Tables}
import graft.streaming.SelectionStream
import graft.text.BloomDedup
import LayerIO.write

/** INCREMENTAL selection refresh — the one way [[CorpusIncrementalDag]]
  * refreshes selection per batch. The full chain (#145 token budget →
  * #151 mixture → #72 split → #51 pack → export) is corpus-global by
  * nature: every appended batch moves the admission threshold and the
  * water-fill allocation. Re-running it over the FULL clean layer
  * every ingest day costs five corpus-scale layer rewrites (three of
  * them carrying TEXT) for a batch-sized question; a measured rehearsal
  * rejected that posture (BENCH_NOTES). This module computes the same
  * decisions from bounded and NARROW state instead, and emits deltas:
  *
  *   - the admission cut needs only the ≤101-cell score ledger
  *     ([[SelectionStream]]'s sufficient statistic — cells are
  *     accumulated per batch here, threshold closed-form on the
  *     driver) plus ONE boundary-stratum re-read;
  *   - per-doc verdict flips live ONLY in the closed score interval
  *     between the old and the new cut (standing docs above both cuts
  *     stay admitted, below both stay out), so the standing re-read is
  *     an interval scan of the NARROW doc index (~40 B/doc — the score
  *     column is `sortWithinPartitions`-clustered, so row-group
  *     min/max skip the rest), never the clean text;
  *   - the #151 copy targets recompute from the same narrow index via
  *     [[QueriesText.mixCopiesFromBase]] (the single derivation the
  *     full DAG's materialization uses) and diff against the live
  *     mixture ledger — the emitted patch is output-proportional;
  *   - packs/export/payloads append per-batch DELTA shards; evicted
  *     copies get tombstones instead of rewrites. Pack ids start at
  *     each source's standing high-water boundary, so delta shards
  *     never collide with standing ones.
  *
  * == Equivalence contract ==
  * The materialized views ([[selectedView]], [[mixtureView]],
  * [[splitsView]], [[exportView]]) equal the full rebuild's layers
  * EXACTLY on the same clean content (CorpusSelectionDeltaSpec pins
  * all of them across three batches, plus restart convergence). Packs
  * and payloads are content-equal, not id-equal: a delta release
  * cannot renumber standing packs without rewriting them, so
  * [[packsLive]] matches the full rebuild on the packed
  * (doc_id, copy_id, source, n_words) set and on every in-shard
  * invariant (offsets, per-batch shift self-consistency), while
  * pack_id assignment is batch-sequential. The full rebuild's
  * contiguous packing remains available as COMPACTION — which the
  * [[CorpusIncrementalDag.ReleasePolicy]] schedules when tombstoned
  * (dead) tokens cross a bound, closing the loop.
  *
  * == State and restartability ==
  * All layers are `batch=N`-partitioned with mode(overwrite); standing
  * reads filter `batch <= mark` and the run owns exactly `batch=bid` —
  * the [[CorpusIncrementalDag]] crash-rerun rules verbatim. Ledger
  * views are latest-op-wins per key (adds after drops re-admit), so a
  * rerun that recomputes the same delta converges bit-identically.
  */
object CorpusSelectionDelta {

  // ---------------------------------------------------------------
  // Generation pointer (VERDICT r16 item 4). A compaction REBASES the
  // whole ledger family; doing it in place leaves out-of-band readers
  // a torn window (old shards standing while tombstones clear, or the
  // reverse). Instead each compaction builds the rebased family in a
  // FRESH generation directory (`<root>/selgen=<mark>/...`) and flips
  // a one-line pointer file (`<root>/_SEL_CURRENT`) atomically AFTER
  // the swap lands — the ScdStream `_CURRENT` pattern. Readers resolve
  // the pointer ONCE per view call, so any single read sees one
  // generation end-to-end: pre-flip readers get the old, untouched,
  // consistent family (compaction never mutates it); post-flip readers
  // get the rebased one. The pointer's second line names the PREVIOUS
  // generation, which is retained until the NEXT compaction supersedes
  // it — an in-flight reader that resolved just before a flip keeps a
  // live directory for its whole scan (one compaction cycle of grace,
  // the snapshot-retention trade every table format makes; the
  // storage cost is one extra release artifact between compactions).
  // On a local FS the flip is a java.nio ATOMIC_MOVE; an HDFS/object-
  // store deployment uses the store's atomic rename the same way.
  // ---------------------------------------------------------------

  private[graft] val genPointerName = "_SEL_CURRENT"

  /** (current, previous) generation dir names relative to the release
    * root; "" = the legacy root-level layout. None = never compacted
    * under the generation scheme. */
  private[graft] def readGenerations(
      s: SparkSession, root: String): Option[(String, String)] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$genPointerName")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val lines = txt.split("\n", -1)
      Some((lines.headOption.getOrElse("").trim, lines.lift(1).getOrElse("").trim))
    }
  }

  /** The active generation root: `<root>/<gen>` when the pointer names
    * one, the root itself otherwise. Idempotent — a generation dir has
    * no pointer of its own, so resolving a resolved root is identity. */
  private[graft] def activeRoot(s: SparkSession, root: String): String =
    readGenerations(s, root) match {
      case Some((cur, _)) if cur.nonEmpty => s"$root/$cur"
      case _ => root
    }

  /** Atomically flip the pointer to `newGen`, recording the old
    * current as previous. A rerun after a committed flip is a no-op
    * (re-writing would clobber the true previous-gen line). Goes
    * through Hadoop's FileContext rename-with-OVERWRITE — the one
    * rename API with atomicity semantics on HDFS and local alike —
    * so the same code commits on `hdfs://`/object-store roots, not
    * just local paths (review r17). */
  private[graft] def flipGeneration(s: SparkSession, root: String, newGen: String): Unit = {
    val prev = readGenerations(s, root).map(_._1).getOrElse("")
    if (prev == newGen) return
    val conf = s.sessionState.newHadoopConf()
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    fs.mkdirs(rootP)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$genPointerName.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$newGen\n$prev\n".getBytes("UTF-8")) finally out.close()
    // readers see the old pointer or the new one, never a torn file
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(rootP).toUri, conf)
    fc.rename(fs.makeQualified(tmp),
      fs.makeQualified(new org.apache.hadoop.fs.Path(s"$root/$genPointerName")),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** On-disk delta layers under the incremental release root. */
  final case class Layers(root: String) {
    val docIndex: String = s"$root/sel_doc_index"   // batch=N: narrow per-doc score index
    val cells: String = s"$root/sel_cells"          // batch=N: per-batch score-cell deltas
    val thresholds: String = s"$root/sel_thresholds" // batch=N: audit row (cut, rem, budget)
    val verdicts: String = s"$root/sel_verdicts"    // batch=N: admission delta (op=add|drop)
    val texts: String = s"$root/sel_texts"          // batch=N: first-admit texts (doc grain)
    val mixDelta: String = s"$root/mix_delta"       // batch=N: (doc,copy) op ledger
    val packsDelta: String = s"$root/packs_delta"   // batch=N: delta pack ledger rows
    val packHeads: String = s"$root/pack_heads"     // batch=N: (source, packs_end) high-water
    val packTombs: String = s"$root/pack_tombstones" // batch=N: dead pack rows
    val exportDelta: String = s"$root/export_delta" // batch=N/(split,source): adds with text
    val exportTombs: String = s"$root/export_tombstones" // batch=N: dead export rows
    val payloadsDelta: String = s"$root/pack_payloads_delta" // batch=N: delta payload shards
    def all: Seq[String] = Seq(docIndex, cells, thresholds, verdicts, texts, mixDelta,
      packsDelta, packHeads, packTombs, exportDelta, exportTombs, payloadsDelta)
  }

  object Layers {
    /** The ledger family of the ACTIVE generation — the constructor
      * every reader and every per-batch writer should go through.
      * Resolution is one pointer read, idempotent on an already-
      * resolved root. */
    def active(s: SparkSession, root: String): Layers = Layers(activeRoot(s, root))
  }

  // ---------------------------------------------------------------
  // Ledger snapshots (VERDICT r15 item 2). The op ledgers are
  // append-only and the views recompute latest-op-wins over the WHOLE
  // accumulated history every batch — correct, but after a year of
  // daily batches the ledger shuffle and `batch=N` file listing
  // dominate a no-change day. A snapshot rolls the history up to a
  // sibling `<layer>__snap/snap=S` directory (S = the committed
  // watermark at snapshot time) holding the SUFFICIENT ROWS for every
  // view, each row keeping its ORIGINAL `batch` value as a data
  // column — so latest-op-wins, the tombstone comparator
  // (`row.batch > tomb.batch`) and the release-policy token sums are
  // bit-identical over snapshot+tail and over the full ledger
  // (spec-pinned). Readers pick the newest COMMITTED snapshot
  // (_SUCCESS present) and union ledger partitions `batch > S`;
  // partitions at or below S are garbage awaiting hygiene deletion
  // and are partition-pruned out, which is what makes the write →
  // delete sequence crash-convergent: a torn snapshot (no _SUCCESS)
  // is invisible, a completed one flips the reader atomically
  // per-ledger, and a rerun overwrites both. Reads below S throw —
  // a snapshot intentionally destroys time travel under it.
  // ---------------------------------------------------------------

  private[graft] def snapRoot(path: String): String = path + "__snap"

  /** Newest COMMITTED snapshot id of a ledger, if any. */
  private[graft] def latestSnap(s: SparkSession, path: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(snapRoot(path))
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snap="))
      .flatMap { st =>
        scala.util.Try(st.getPath.getName.stripPrefix("snap=").toLong).toOption
          .filter(_ => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      }
      .sorted.lastOption
  }

  /** Snapshot-aware ledger read: newest committed snapshot + ledger
    * tail (`S < batch <= upTo`). Without a snapshot this is exactly
    * `LayerIO.readOr(...).where(batch <= upTo)`. */
  private[graft] def readLedger(
      s: SparkSession, path: String, ddl: String, upTo: Long): DataFrame =
    latestSnap(s, path) match {
      case Some(sid) =>
        if (upTo < sid) throw new IllegalStateException(
          s"readLedger($path): upTo=$upTo is below snapshot $sid — history " +
            "under a snapshot is rolled up and no longer readable")
        s.read.schema(StructType.fromDDL(ddl)).parquet(s"${snapRoot(path)}/snap=$sid")
          .unionByName(LayerIO.readOr(s, path, ddl)
            .where(col("batch") > sid && col("batch") <= upTo))
      case None => LayerIO.readOr(s, path, ddl).where(col("batch") <= upTo)
    }

  /** Unsnapshotted `batch=` partition count of a ledger — the tail a
    * reader unions on top of the snapshot base. Owned here, next to
    * the naming scheme, so the snapshot cadence, RunIncremental's
    * telemetry and the specs can't drift apart (review r16). */
  private[graft] def tailPartitions(s: SparkSession, path: String): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(root)) 0
    else fs.listStatus(root).count(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch="))
  }

  /** Worst unsnapshotted tail across the six narrow ledgers
    * [[snapshot]] rolls up: the cadence signal. Taking the MAX (not
    * just the verdicts tail) makes a crashed partial roll-up
    * self-healing — whichever ledger the crash left unpruned keeps
    * the count high, so the next cadence check re-snapshots ALL of
    * them instead of letting five ledgers grow for another window. */
  private[graft] def maxTail(s: SparkSession, L: Layers): Int =
    Seq(L.verdicts, L.mixDelta, L.cells, L.packHeads, L.packsDelta, L.docIndex)
      .map(tailPartitions(s, _)).max

  /** Delete a ledger's hive partitions at or below `upTo`, and any
    * snapshot dirs strictly below `keepSnap` — the hygiene half of a
    * snapshot/compaction (reads are already correct without it; this
    * bounds the file listing). */
  private[graft] def prunePartitions(
      s: SparkSession, path: String, upTo: Long, keepSnap: Option[Long]): Long = {
    val conf = s.sessionState.newHadoopConf()
    var removed = 0L
    def sweep(dir: String, prefix: String, bound: Long => Boolean): Unit = {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith(prefix)) {
          scala.util.Try(name.stripPrefix(prefix).toLong).toOption.foreach { id =>
            if (bound(id)) { fs.delete(st.getPath, true); removed += 1 }
          }
        }
      }
    }
    sweep(path, "batch=", _ <= upTo)
    keepSnap.foreach(k => sweep(snapRoot(path), "snap=", _ < k))
    removed
  }

  /** Roll the NARROW op ledgers up to snapshot `atMark` (pass the
    * COMMITTED watermark): latest row per key for the op ledgers,
    * straight consolidation for the append-only index/cell/pack/head
    * layers — every surviving row keeps its original `batch`, so all
    * view semantics are unchanged (spec-pinned equal). Text-carrying
    * layers (first-admit texts, export shards) and the tombstone
    * ledgers are NOT rolled up here — their read cost is listing, not
    * recompute, and the tombstones carry the dead-token mass the
    * release policy audits; [[CorpusIncrementalDag.runCompaction]] is
    * the operation that truly rewrites those. Returns the number of
    * ledgers snapped. Crash-rerun convergent: snapshot writes commit
    * per-ledger via _SUCCESS, hygiene deletes are idempotent, and a
    * rerun at the same mark overwrites. */
  def snapshot(s: SparkSession, L0: Layers, atMark: Long): Long = {
    val L = Layers.active(s, L0.root)
    def latestPerKey(df: DataFrame, keys: Seq[String], rest: Seq[String]): DataFrame = {
      val packed = max(struct((Seq("batch") ++ rest).map(col): _*)).as("__l")
      df.groupBy(keys.map(col): _*).agg(packed)
        .select(keys.map(col) ++ (Seq("batch") ++ rest).map(c => col(s"__l.$c").as(c)): _*)
    }
    def snap(path: String)(frame: => DataFrame): Unit = {
      // already committed at this mark (a rerun): re-writing would
      // read the very snap dir being overwritten — skip the write,
      // finish the hygiene the crashed run may not have reached
      if (!latestSnap(s, path).contains(atMark))
        frame.write.mode("overwrite").parquet(s"${snapRoot(path)}/snap=$atMark")
      prunePartitions(s, path, atMark, keepSnap = Some(atMark))
      ()
    }
    snap(L.verdicts)(latestPerKey(
      readLedger(s, L.verdicts, verdictDdl, atMark), Seq("doc_id"),
      Seq("op", "lang", "source", "quality_score", "n_words")))
    snap(L.mixDelta)(latestPerKey(
      readLedger(s, L.mixDelta, mixDdl, atMark), Seq("doc_id", "copy_id"),
      Seq("op", "lang", "source", "n_words")))
    snap(L.cells)(readLedger(s, L.cells, cellDdl, atMark)
      .groupBy("quality_score")
      .agg(sum("token_mass").as("token_mass"), sum("n_docs").as("n_docs"))
      .withColumn("batch", lit(atMark)).coalesce(1))
    snap(L.packHeads)(readLedger(s, L.packHeads, headDdl, atMark)
      .groupBy("source").agg(max("packs_end").as("packs_end"))
      .withColumn("batch", lit(atMark)).coalesce(1))
    // append-only layers: consolidation only (rows unchanged — the
    // policy's packed-token denominator and the tombstone comparator
    // both need the dead rows and original batch values)
    snap(L.packsDelta)(readLedger(s, L.packsDelta, packDdl, atMark))
    snap(L.docIndex)(readLedger(s, L.docIndex, idxDdl, atMark)
      .sortWithinPartitions("quality_score"))
    6L
  }

  private val verdictDdl =
    "doc_id BIGINT, lang STRING, source STRING, quality_score BIGINT, n_words BIGINT, op STRING, batch BIGINT"
  private val mixDdl =
    "doc_id BIGINT, lang STRING, source STRING, n_words BIGINT, copy_id BIGINT, op STRING, batch BIGINT"
  private[graft] val packDdl =
    "doc_id BIGINT, copy_id BIGINT, source STRING, n_words BIGINT, pack_id BIGINT, pack_offset BIGINT, batch BIGINT"
  private[graft] val tombDdl =
    "doc_id BIGINT, copy_id BIGINT, source STRING, n_words BIGINT, pack_id BIGINT, batch BIGINT"
  private val headDdl = "source STRING, packs_end BIGINT, batch BIGINT"
  private val textDdl = "doc_id BIGINT, text STRING, batch BIGINT"
  private[graft] val cellDdl = "quality_score BIGINT, token_mass BIGINT, n_docs BIGINT, batch BIGINT"
  private[graft] val idxDdl =
    "doc_id BIGINT, lang STRING, source STRING, quality_score BIGINT, n_words BIGINT, batch BIGINT"
  private val exportDdl =
    "doc_id BIGINT, copy_id BIGINT, lang STRING, n_words BIGINT, text STRING, " +
      "batch BIGINT, split STRING, source STRING"

  /** Currently admitted docs (narrow) as of `upTo`: latest op per doc
    * over the verdict ledger, keep the adds. The ledger is doc-grain
    * NARROW rows bounded by admission churn — never text.
    *
    * `upTo` on every view below: the DAG's own stages pass the batch
    * id they own; an OUT-OF-BAND reader must pass
    * [[CorpusIncrementalDag.releaseWatermark]] — the MaxValue default
    * reads in-flight state and can expose a crashed batch's torn
    * partial patch (e.g. mixture adds whose export rows never
    * landed) until the rerun converges. */
  def admittedIndex(s: SparkSession, L0: Layers, upTo: Long): DataFrame = {
    val L = Layers.active(s, L0.root)
    readLedger(s, L.verdicts, verdictDdl, upTo)
      .groupBy("doc_id")
      .agg(max(struct(col("batch"), col("op"), col("lang"), col("source"),
        col("quality_score"), col("n_words"))).as("__l"))
      .where(col("__l.op") === "add")
      .select(col("doc_id"), col("__l.lang").as("lang"), col("__l.source").as("source"),
        col("__l.quality_score").as("quality_score"), col("__l.n_words").as("n_words"))
  }

  /** The selected layer, materialized: admitted docs + their text from
    * the first-admit text store (≤1 row per doc by construction). */
  def selectedView(s: SparkSession, L0: Layers, upTo: Long = Long.MaxValue): DataFrame = {
    val L = Layers.active(s, L0.root)
    admittedIndex(s, L, upTo)
      .join(readLedger(s, L.texts, textDdl, upTo)
        .select("doc_id", "text"), Seq("doc_id"))
      .select("doc_id", "lang", "source", "quality_score", "n_words", "text")
  }

  /** The mixture layer, materialized: latest op per (doc, copy). */
  def mixtureView(s: SparkSession, L0: Layers, upTo: Long = Long.MaxValue): DataFrame = {
    val L = Layers.active(s, L0.root)
    readLedger(s, L.mixDelta, mixDdl, upTo)
      .groupBy("doc_id", "copy_id")
      .agg(max(struct(col("batch"), col("op"), col("lang"), col("source"),
        col("n_words"))).as("__l"))
      .where(col("__l.op") === "add")
      .select(col("doc_id"), col("__l.lang").as("lang"), col("__l.source").as("source"),
        col("__l.n_words").as("n_words"), col("copy_id"))
  }

  /** The splits layer, derived: the #72 md5 rule is a pure per-doc
    * function, so the split column rides the mixture view — no layer
    * of its own to patch. */
  def splitsView(s: SparkSession, L: Layers, upTo: Long = Long.MaxValue): DataFrame =
    mixtureView(s, L, upTo).withColumn("split", QueriesText.mdSplit(col("doc_id")))

  /** Live pack ledger rows: delta rows not killed by a LATER-or-equal
    * tombstone on the same (doc, copy) — a re-added copy's fresh pack
    * row (strictly later batch) survives its old tombstone. */
  def packsLive(s: SparkSession, L0: Layers, upTo: Long = Long.MaxValue): DataFrame = {
    val L = Layers.active(s, L0.root)
    val p = readLedger(s, L.packsDelta, packDdl, upTo)
    val t = LayerIO.readOr(s, L.packTombs, tombDdl).where(col("batch") <= upTo)
      .groupBy("doc_id", "copy_id").agg(max("batch").as("__tb"))
    p.join(t, Seq("doc_id", "copy_id"), "left")
      .where(col("__tb").isNull || col("batch") > col("__tb"))
      .drop("__tb")
  }

  /** Name of the export floor file a compaction writes beside the
    * rebased `batch=mark` base: a plain `_`-prefixed file readers
    * ignore, holding the rebase mark. Distinct from the `__snap`
    * namespace on purpose (ADVICE r16) — everything under a snap dir
    * must be reader-consumable rows, never metadata. */
  private[graft] val exportFloorName = "_COMPACTION_FLOOR"

  private[graft] def exportFloor(s: SparkSession, L: Layers): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"${L.exportDelta}/$exportFloorName")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      scala.util.Try(txt.trim.toLong).toOption
    }
  }

  private[graft] def writeExportFloor(s: SparkSession, L: Layers, mark: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${L.exportDelta}/$exportFloorName")
    val out = p.getFileSystem(s.sessionState.newHadoopConf()).create(p, true)
    try out.write(mark.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Live export rows (same tombstone comparator as [[packsLive]]).
    * A compaction rebases the shard history into a single `batch=mark`
    * base and leaves [[exportFloorName]] beside it: reads below that
    * floor THROW like every snapshotted ledger — "history rolled up"
    * must never read as an empty release. */
  def exportView(s: SparkSession, L0: Layers, upTo: Long = Long.MaxValue): DataFrame = {
    val L = Layers.active(s, L0.root)
    exportFloor(s, L).foreach { floor =>
      if (upTo < floor) throw new IllegalStateException(
        s"exportView(${L.exportDelta}): upTo=$upTo is below the compaction floor $floor — " +
          "shard history under the rebase is rolled up and no longer readable")
    }
    val e = LayerIO.readOr(s, L.exportDelta, exportDdl)
      .where(col("batch") <= upTo)
    val t = LayerIO.readOr(s, L.exportTombs,
      "doc_id BIGINT, copy_id BIGINT, split STRING, source STRING, batch BIGINT")
      .where(col("batch") <= upTo)
      .groupBy("doc_id", "copy_id").agg(max("batch").as("__tb"))
    e.join(t, Seq("doc_id", "copy_id"), "left")
      .where(col("__tb").isNull || col("batch") > col("__tb"))
      .select("doc_id", "copy_id", "lang", "source", "split", "n_words", "text")
  }

  /** Accumulated score cells (≤101 rows) from the per-batch deltas. */
  private def cellsUpTo(s: SparkSession, L: Layers, upTo: Long): Seq[SelectionStream.ScoreCell] =
    readLedger(s, L.cells, cellDdl, upTo)
      .groupBy("quality_score")
      .agg(sum("token_mass").as("m"), sum("n_docs").as("d"))
      .collect()
      .map(r => SelectionStream.ScoreCell(r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq

  /** The #145 self-budget: half the seen clean token mass (`div` —
    * floor division, matching tokenBudgetOn). */
  private def budgetOf(cells: Seq[SelectionStream.ScoreCell]): Long =
    cells.map(_.token_mass).sum / 2L

  /** Register the delta selection chain on an incremental release
    * graph. `meta` yields (mark, batch_id, n_docs); clean readers are
    * partition-scoped by the caller. Returns the terminal stage ids. */
  private[operators] def addDeltaChain(
      g: JobGraph, s: SparkSession, L: Layers,
      meta: () => (Long, Long, Long),
      readCleanBatch: () => DataFrame,
      readCleanStanding: () => DataFrame,
      firstDep: Seq[String],
      packBudget: Long = 2048L): Seq[String] = {

    def stage(id: String, deps: Seq[String])(body: => Long): Unit = {
      g.add(id, deps = deps, retries = 1) { if (meta()._3 == 0) 0L else body }
      ()
    }

    // 1. narrow per-doc score index + this batch's score-cell delta.
    // The ONLY stage that scans the batch's clean TEXT; everything
    // below runs on narrow frames. Score-clustered so the interval
    // re-read prunes row groups.
    stage("sel_index", firstDep) {
      val (_, bid, _) = meta()
      val clean = readCleanBatch()
      val idx = QueriesText.scoredTokens(clean.select("doc_id", "text"))
        .join(clean.select("doc_id", "lang", "source"), Seq("doc_id"))
        .select("doc_id", "lang", "source", "quality_score", "n_words")
      val written = write(idx.sortWithinPartitions("quality_score"),
        s"${L.docIndex}/batch=$bid")
      write(
        Tables.read(s, s"${L.docIndex}/batch=$bid")
          .groupBy("quality_score")
          .agg(sum("n_words").as("token_mass"), count(lit(1)).as("n_docs")),
        s"${L.cells}/batch=$bid")
      written
    }

    // 2. the admission delta: closed-form threshold from the cell
    // ledger, one interval re-read of the narrow standing index, diff
    // against the live admitted set. Flips can only live between the
    // old and the new cut (docs above both stay in, below both stay
    // out), and the boundary stratum's doc_id-ordered prefix is
    // append-only (batch ids exceed the mark), so old in-stratum
    // prefixes are unchanged — the interval covers every flip.
    stage("sel_delta", Seq("sel_index")) {
      val (mark, bid, _) = meta()
      val cellsNew = cellsUpTo(s, L, bid)
      val cellsOld = cellsUpTo(s, L, mark)
      val thrNew = SelectionStream.threshold(cellsNew, budgetOf(cellsNew))
      val thrOld = SelectionStream.threshold(cellsOld, budgetOf(cellsOld))
      val sNewEff = thrNew.map(_._1).getOrElse(-1L)
      val sOldEff = thrOld.map(_._1).getOrElse(-1L)
      val (lo, hi) = (math.min(sNewEff, sOldEff), math.max(sNewEff, sOldEff))

      val standing = readLedger(s, L.docIndex, idxDdl, mark)
        .where(col("quality_score").between(lo, hi))
        .select("doc_id", "lang", "source", "quality_score", "n_words")
      val batchIdx = Tables.read(s, s"${L.docIndex}/batch=$bid")
        .select("doc_id", "lang", "source", "quality_score", "n_words")
      val frame = standing.union(batchIdx)

      val withNew = thrNew match {
        case None => frame.withColumn("__newAdm", lit(true))
        case Some((sStar, rem)) =>
          // boundary refine: the stratum's doc_id-ordered exclusive
          // prefix < remaining budget — [[SelectionStream.verdicts]]'
          // rule on the narrow index (no text re-read)
          val stratum = ScanOps.exclusivePrefixSum(
            frame.where(col("quality_score") === sStar),
            Seq.empty, Seq("doc_id"), col("n_words"), "__cum")
            .select(col("doc_id"), (col("__cum") < rem).as("__adm"))
          frame.join(stratum, Seq("doc_id"), "left")
            .withColumn("__newAdm",
              when(col("quality_score") > sStar, lit(true))
                .when(col("quality_score") < sStar, lit(false))
                .otherwise(coalesce(col("__adm"), lit(false))))
            .drop("__adm")
      }
      val cur = admittedIndex(s, L, mark).select(col("doc_id"), lit(true).as("__curAdm"))
      val written = write(
        withNew.join(cur, Seq("doc_id"), "left")
          .withColumn("__cur", coalesce(col("__curAdm"), lit(false)))
          .where(col("__newAdm") =!= col("__cur"))
          .select(col("doc_id"), col("lang"), col("source"), col("quality_score"),
            col("n_words"), when(col("__newAdm"), "add").otherwise("drop").as("op")),
        s"${L.verdicts}/batch=$bid")
      import s.implicits._
      write(Seq((thrNew.map(_._1), thrNew.map(_._2),
        budgetOf(cellsNew), cellsNew.map(_.token_mass).sum))
        .toDF("cut_score", "cut_rem", "budget", "total_mass")
        .coalesce(1), s"${L.thresholds}/batch=$bid")
      written
    }

    // 3. first-admit text store: adds not seen before fetch text —
    // batch docs from the batch's own clean partition (pruned);
    // standing first-admits (the threshold descended into a stratum
    // never admitted) through a Bloom-gated map-only standing scan,
    // which short-circuits to nothing on the common rising-cut day.
    stage("sel_texts", Seq("sel_delta")) {
      val (mark, bid, _) = meta()
      val adds = Tables.read(s, s"${L.verdicts}/batch=$bid")
        .where(col("op") === "add").select("doc_id")
      val known = readLedger(s, L.texts, textDdl, mark).select("doc_id")
      val need = adds.join(known, Seq("doc_id"), "left_anti")
      val fromBatch = readCleanBatch().select("doc_id", "text")
        .join(need.where(col("doc_id") > mark), Seq("doc_id"), "left_semi")
      val needStanding = need.where(col("doc_id") <= mark)
      val fromStanding = BloomDedup.gateBigSide(
        readCleanStanding().select("doc_id", "text"), xxhash64(col("doc_id")),
        needStanding, xxhash64(col("doc_id")))
        .join(needStanding, Seq("doc_id"), "left_semi")
      write(fromBatch.union(fromStanding), s"${L.texts}/batch=$bid")
    }

    // 4. the mixture patch: copy targets from the SAME derivation the
    // full DAG materializes (mixCopiesFromBase) over the narrow
    // admitted index, diffed against the live ledger. Copies are
    // 1..n per doc on both sides, so add/drop at the (doc, copy)
    // grain reproduces the full rebuild's row set exactly.
    stage("mix_delta", Seq("sel_delta")) {
      val (mark, bid, _) = meta()
      val target = QueriesText.mixCopiesFromBase(
        admittedIndex(s, L, bid).select("doc_id", "lang", "source", "n_words"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_words"),
          col("n_copies").as("__tgt"))
      val curCnt = mixtureView(s, L, mark)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("__cur"), first("lang").as("__clang"),
          first("source").as("__csource"), first("n_words").as("__cnw"))
      val merged = target.join(curCnt, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lang"), col("__clang")).as("lang"),
          coalesce(col("source"), col("__csource")).as("source"),
          coalesce(col("n_words"), col("__cnw")).as("n_words"),
          coalesce(col("__tgt"), lit(0L)).as("__tgt"),
          coalesce(col("__cur"), lit(0L)).as("__cur"))
      val adds = merged.where(col("__tgt") > col("__cur"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_words"),
          explode(sequence(col("__cur") + 1L, col("__tgt"))).as("copy_id"),
          lit("add").as("op"))
      val drops = merged.where(col("__tgt") < col("__cur"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_words"),
          explode(sequence(col("__tgt") + 1L, col("__cur"))).as("copy_id"),
          lit("drop").as("op"))
      write(adds.unionByName(drops), s"${L.mixDelta}/batch=$bid")
    }

    // 5. delta pack shards: this batch's train adds packed from each
    // source's standing high-water boundary (ids never collide, the
    // shard is self-contained); dropped train copies tombstone their
    // live pack rows instead of rewriting shards.
    stage("pack_delta", Seq("mix_delta")) {
      val (mark, bid, _) = meta()
      val delta = Tables.read(s, s"${L.mixDelta}/batch=$bid")
        .withColumn("split", QueriesText.mdSplit(col("doc_id")))
      val trainAdds = delta.where(col("op") === "add" && col("split") === "train")
        .select("doc_id", "copy_id", "source", "n_words")
      val heads = readLedger(s, L.packHeads, headDdl, mark)
        .groupBy("source").agg(max("packs_end").as("__base"))
      val pre = ScanOps.exclusivePrefixSum(
        trainAdds, Seq("source"), Seq("doc_id", "copy_id"), col("n_words"), "__tok")
        .join(broadcast(heads), Seq("source"), "left")
        .withColumn("__base", coalesce(col("__base"), lit(0L)))
      val written = write(
        pre.select(col("doc_id"), col("copy_id"), col("source"), col("n_words"),
          (col("__base") + call_function("div", col("__tok"), lit(packBudget))).as("pack_id"),
          pmod(col("__tok"), lit(packBudget)).as("pack_offset")),
        s"${L.packsDelta}/batch=$bid")
      write(
        pre.groupBy("source")
          .agg(max(col("__tok") + col("n_words")).as("__tot"), max("__base").as("__base"))
          .select(col("source"), (col("__base") + call_function("div",
            col("__tot") + lit(packBudget - 1L), lit(packBudget))).as("packs_end")),
        s"${L.packHeads}/batch=$bid")
      val trainDrops = delta.where(col("op") === "drop" && col("split") === "train")
        .select("doc_id", "copy_id")
      write(
        packsLive(s, L, mark).join(trainDrops, Seq("doc_id", "copy_id"), "left_semi")
          .select("doc_id", "copy_id", "source", "n_words", "pack_id"),
        s"${L.packTombs}/batch=$bid")
      written
    }

    // 6. delta export shards: this batch's mixture adds with text,
    // hive-partitioned (split, source) inside the batch dir like the
    // full export (a training reader prunes identically); drops emit
    // tombstones. Text joins from the first-admit store — this
    // batch's partition covers new admits; older partitions are
    // Bloom-gated map-only and only pay when standing allocation
    // actually shifted.
    stage("export_delta", Seq("mix_delta", "sel_texts")) {
      val (mark, bid, _) = meta()
      val adds = Tables.read(s, s"${L.mixDelta}/batch=$bid")
        .where(col("op") === "add")
        .withColumn("split", QueriesText.mdSplit(col("doc_id")))
        .select("doc_id", "copy_id", "lang", "source", "split", "n_words")
      val tNew = Tables.read(s, s"${L.texts}/batch=$bid").select("doc_id", "text")
      val needOld = adds.select("doc_id").distinct()
        .join(tNew, Seq("doc_id"), "left_anti")
      val tOld = BloomDedup.gateBigSide(
        readLedger(s, L.texts, textDdl, mark)
          .select("doc_id", "text"),
        xxhash64(col("doc_id")), needOld, xxhash64(col("doc_id")))
        .join(needOld, Seq("doc_id"), "left_semi")
      val release = adds.join(tNew.union(tOld), Seq("doc_id"))
        .repartitionByRange(col("split"), col("source"), col("doc_id"), col("copy_id"))
      val obs = org.apache.spark.sql.Observation()
      graft.sources.ParquetSink.write(
        release.observe(obs, count(lit(1)).as("rows"))
          .sortWithinPartitions("split", "source", "doc_id", "copy_id"),
        s"${L.exportDelta}/batch=$bid", partitionCols = Seq("split", "source"))
      val written = obs.get("rows").asInstanceOf[Long]
      write(
        Tables.read(s, s"${L.mixDelta}/batch=$bid").where(col("op") === "drop")
          .withColumn("split", QueriesText.mdSplit(col("doc_id")))
          .select("doc_id", "copy_id", "split", "source"),
        s"${L.exportTombs}/batch=$bid")
      written
    }

    // 7. delta payload shards: the batch's train adds re-read from the
    // just-written export partition (train-pruned), packed by the
    // shared #153 derivation shifted to the standing boundary — pack
    // ids reconcile with stage 5's ledger by construction (same
    // ordering, same base, boundaries align at budget multiples).
    stage("payload_delta", Seq("pack_delta", "export_delta")) {
      val (mark, bid, _) = meta()
      // schema-explicit: an adds-free batch leaves this partition
      // with no parquet files (only partition dirs get created), and
      // inference would throw where the correct answer is zero packs
      val train = s.read.schema(StructType.fromDDL(
        "doc_id BIGINT, copy_id BIGINT, lang STRING, n_words BIGINT, text STRING, " +
          "split STRING, source STRING"))
        .parquet(s"${L.exportDelta}/batch=$bid")
        .where(col("split") === "train")
        .select("doc_id", "copy_id", "source", "text")
      val tokBase = readLedger(s, L.packHeads, headDdl, mark)
        .groupBy("source").agg(max("packs_end").as("__b"))
        .select(col("source"), (col("__b") * lit(packBudget)).as("tok_base"))
      write(graft.QueriesScale.packPayloadsOn(train, packBudget, Some(tokBase)),
        s"${L.payloadsDelta}/batch=$bid")
    }

    Seq("payload_delta")
  }
}
