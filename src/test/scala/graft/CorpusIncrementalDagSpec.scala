package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators.{CorpusIncrementalDag, CorpusPipelineDag, CorpusSelectionDelta, WatermarkStore}
import graft.operators.JobGraph.Succeeded

/** Incremental corpus release (operators/CorpusIncrementalDag.scala):
  * the watermark-gated daily-batch path's dedup layers — two-batch
  * equivalence with the full [[CorpusPipelineDag]] rebuild and restart
  * convergence, the schema every standing read applies, torn-partition
  * healing, and the Bloom gate and paragraph strip it builds on. The
  * three-batch case, the pack payload shards and the empty-batch no-op
  * are pinned in CorpusSelectionDeltaSpec.
  */
class CorpusIncrementalDagSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_cinc").toString

  private def rows(df: DataFrame, cols: Seq[String]): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("two-batch incremental release == full rebuild on the union, ledger empty, restart converges") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val mid = ids(ids.length / 2)

    val incRoot = tmp()
    val li = CorpusIncrementalDag.Layout(incRoot)
    val L = CorpusSelectionDelta.Layers(incRoot)
    val watermark = new WatermarkStore(li.marks, CorpusIncrementalDag.bootstrapMark)

    // batch 1: everything up to mid (bootstrap against empty indexes)
    val r1 = CorpusIncrementalDag.run(spark, sf, incRoot, upTo = mid)
    assert(r1.forall(_.status == Succeeded), s"batch1: ${r1.map(r => r.id -> r.status)}")
    assert(watermark.get(CorpusIncrementalDag.entity).trim.toLong == mid,
      "watermark advanced to the batch max")

    // batch 2: the rest
    val r2 = CorpusIncrementalDag.run(spark, sf, incRoot)
    assert(r2.forall(_.status == Succeeded), s"batch2: ${r2.map(r => r.id -> r.status)}")
    assert(watermark.get(CorpusIncrementalDag.entity).trim.toLong == ids.last)

    // the equivalence PRECONDITION: no batch-2 doc bridged two standing
    // components (if this corpus ever does, the contract is the
    // retraction ledger, not bit-equality)
    assert(spark.read.parquet(li.retractions).isEmpty,
      "spec corpus must produce no retractions — bridge merges break bit-equality by design")

    // full rebuild on the whole corpus
    val fullRoot = tmp()
    val lf = CorpusPipelineDag.Layout(fullRoot)
    val rf = CorpusPipelineDag.run(spark, sf, fullRoot)
    assert(rf.forall(_.status == Succeeded), s"full: ${rf.map(r => r.id -> r.status)}")

    // dedup layers: exact equality on the data columns (the
    // incremental layers carry an extra `batch` partition column)
    def layer(path: String, cols: Seq[String]) = rows(spark.read.parquet(path), cols)
    val flagsCols = Seq("doc_id", "lang", "source", "n_words", "r0", "r1", "r2", "r3")
    val fi = layer(li.flags, flagsCols); val ff = layer(lf.flags, flagsCols)
    assert(fi == ff,
      s"flags layer: inc-only=${(fi -- ff).toSeq.sortBy(_.head.toString).take(6)} " +
        s"full-only=${(ff -- fi).toSeq.sortBy(_.head.toString).take(6)}")
    val pairCols = Seq("doc1", "doc2", "jaccard_pct")
    assert(layer(li.pairs, pairCols) == layer(lf.pairs, pairCols), "near-dup pair set")
    val keepCols = Seq("doc_id", "lang", "source", "n_words")
    assert(layer(li.keep, keepCols) == layer(lf.keep, keepCols), "keep layer")
    val cleanCols = Seq("doc_id", "lang", "source", "n_paras", "n_kept", "text")
    val cf = layer(lf.clean, cleanCols)
    assert(layer(li.clean, cleanCols) == cf, "clean layer")

    // release views: exact equality; packs: content equality (pack ids
    // are batch-sequential by design)
    val selCols = Seq("doc_id", "lang", "source", "quality_score", "n_words", "text")
    val sf_ = layer(lf.selected, selCols)
    assert(rows(CorpusSelectionDelta.selectedView(spark, L), selCols) == sf_, "selected view")
    val mixCols = Seq("doc_id", "lang", "source", "n_words", "copy_id")
    assert(rows(CorpusSelectionDelta.mixtureView(spark, L), mixCols) ==
      layer(lf.mixture, mixCols), "mixture view")
    val splitCols = mixCols :+ "split"
    assert(rows(CorpusSelectionDelta.splitsView(spark, L), splitCols) ==
      layer(lf.splits, splitCols), "splits view")
    val exCols = Seq("doc_id", "copy_id", "lang", "source", "split", "n_words", "text")
    val ef = layer(lf.export, exCols)
    assert(rows(CorpusSelectionDelta.exportView(spark, L), exCols) == ef, "export view")
    val liveCols = Seq("doc_id", "copy_id", "source", "n_words")
    val lfp = layer(lf.packs, liveCols)
    assert(rows(CorpusSelectionDelta.packsLive(spark, L), liveCols) == lfp, "live packed copies")

    // RESTART: reset the watermark to mid (simulates a crash anywhere
    // before advance_watermark) and rerun — batch 2 reprocesses into
    // its own partitions and every layer converges to the same release
    watermark.update(CorpusIncrementalDag.entity, CorpusIncrementalDag.pad(mid))
    val r2b = CorpusIncrementalDag.run(spark, sf, incRoot)
    assert(r2b.forall(_.status == Succeeded), s"rerun: ${r2b.map(r => r.id -> r.status)}")
    assert(watermark.get(CorpusIncrementalDag.entity).trim.toLong == ids.last,
      "watermark re-advanced by the rerun")
    assert(layer(li.flags, flagsCols) == ff, "flags after rerun")
    assert(layer(li.clean, cleanCols) == cf, "clean after rerun")
    assert(rows(CorpusSelectionDelta.selectedView(spark, L), selCols) == sf_,
      "selected view after rerun")
    assert(rows(CorpusSelectionDelta.exportView(spark, L), exCols) == ef,
      "export view after rerun")
    assert(rows(CorpusSelectionDelta.packsLive(spark, L), liveCols) == lfp,
      "live packs after rerun")
  }

  test("standing-read DDLs equal the dedup layers as written, batch column included") {
    import spark.implicits._
    // the bridge corpus (ReleasePolicySpec): batch 2's doc 3 near-dups
    // both standing keepers, so every dedup layer, the retraction
    // ledger included, holds rows after two batches
    def slice(lo: Int, hi: Int): String =
      (lo until hi).map(i => if (i % 2 == 0) "the" else s"tok${i / 2}").mkString(" ")
    val corpusDir = tmp()
    Seq((1L, "en", "s1", slice(0, 100)), (2L, "en", "s1", slice(50, 150)),
      (3L, "en", "s1", slice(25, 125)))
      .toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val root = tmp()
    val li = CorpusIncrementalDag.Layout(root)
    Seq(2L, Long.MaxValue).foreach { upTo =>
      val r = CorpusIncrementalDag.run(spark, corpusDir, root, upTo = upTo)
      assert(r.forall(_.status == Succeeded), s"upTo=$upTo: ${r.map(x => x.id -> x.status)}")
    }

    // DDL field types vs each written partition's file schema (a
    // partition dir read alone carries no `batch` column); nullability
    // is not compared — a file source reads every column nullable
    def fields(st: StructType): Seq[(String, String)] =
      st.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
    Seq(
      li.sigs -> CorpusIncrementalDag.sigDdl,
      li.keep -> CorpusIncrementalDag.keepDdl,
      li.retractions -> CorpusIncrementalDag.retractionDdl,
      li.textHashes -> CorpusIncrementalDag.textHashDdl,
      li.paraHashes -> CorpusIncrementalDag.paraHashDdl
    ).foreach { case (path, ddl) =>
      val declared = StructType.fromDDL(ddl)
      assert(declared.lastOption.map(f => f.name -> f.dataType) == Some("batch" -> LongType),
        s"$path: the DDL must end with the `batch BIGINT` partition column: $ddl")
      val parts = Seq(2L, 3L).map(b => s"$path/batch=$b")
      assert(parts.map(p => spark.read.parquet(p).count()).sum > 0L, s"$path holds rows")
      parts.foreach { p =>
        assert(fields(spark.read.parquet(p).schema) == fields(declared).dropRight(1),
          s"$p: written ${spark.read.parquet(p).schema.toDDL} vs declared $ddl")
      }
    }
  }

  test("torn partition from a crashed wider-upTo attempt is healed before the narrower rerun") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val mid = ids(ids.length / 2)
    val mid2 = ids(ids.length * 3 / 4)

    val root = tmp()
    val li = CorpusIncrementalDag.Layout(root)
    val r1 = CorpusIncrementalDag.run(spark, sf, root, upTo = mid)
    assert(r1.forall(_.status == Succeeded), s"batch1: ${r1.map(r => r.id -> r.status)}")

    // simulate a crashed WIDER attempt (upTo = ids.last) that landed a
    // clean partition before dying: batch id ids.last > the narrower
    // rerun's bid (mid2), so without healing its rows pass every
    // doc_id filter once the watermark advances past them
    val wideBid = ids.last
    spark.read.parquet(s"${li.clean}/batch=$mid")
      .write.mode("overwrite").parquet(s"${li.clean}/batch=$wideBid")

    val r2 = CorpusIncrementalDag.run(spark, sf, root, upTo = mid2)
    assert(r2.forall(_.status == Succeeded), s"batch2: ${r2.map(r => r.id -> r.status)}")

    val fs = new org.apache.hadoop.fs.Path(li.clean)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${li.clean}/batch=$wideBid")),
      "healing must delete the torn wider-upTo partition")
    // no doc appears twice across clean batch partitions
    val dups = spark.read.parquet(li.clean)
      .groupBy("doc_id").count().where(col("count") > 1).count()
    assert(dups == 0L, "clean layer must hold each doc at most once after healing")
  }

  test("gated cross-corpus probe == ungated probe (Bloom adds no misses), on a clone corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val docsSeq = (0 until 40).flatMap { g =>
      val base = Vector.fill(120)(s"w${rnd.nextInt(400)}")
      Seq((g * 2L, base.mkString(" ")),
        (g * 2L + 1, base.updated(rnd.nextInt(120), s"m$g").mkString(" ")))
    }
    val docs = docsSeq.toDF("doc_id", "text")
    val newSide = docs.where($"doc_id" % 2 === 1)
    val standing = docs.where($"doc_id" % 2 === 0)
    val sigsNew = graft.text.DedupOps.minhashSignaturesNative(newSide, "doc_id", $"text", 3, 48)
    val sigsOld = graft.text.DedupOps.minhashSignaturesNative(standing, "doc_id", $"text", 3, 48)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc1", "doc2").as[(Long, Long)].collect().toSet
    val ungated = pairs(graft.text.DedupOps.minhashLshPairsAcross(
      sigsNew, sigsOld, "doc_id", 48, 24, 0.25))
    val gated = pairs(graft.text.DedupOps.minhashLshPairsAcrossGated(
      sigsNew, sigsOld, "doc_id", 48, 24, 0.25))
    assert(ungated.nonEmpty, "clone corpus must produce cross pairs")
    assert(gated == ungated, "the Bloom pre-gate must not lose a single candidate")
  }

  test("incremental paragraph strip against an empty index == the full strip") {
    val docs = Tables.documents(spark, sf).limit(200)
    val full = graft.text.DedupOps.paragraphStrip(docs, "doc_id", col("text"), 20)
      .collect().map(_.toSeq).toSet
    val emptyKnown = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("para_hash STRING"))
    val (inc, fresh, release) = graft.text.DedupOps.paragraphStripIncremental(
      docs, "doc_id", col("text"), 20, emptyKnown)
    val got = inc.collect().map(_.toSeq).toSet
    val freshN = fresh.count()
    release()
    assert(got == full, "empty-index incremental strip must equal the full strip")
    assert(freshN > 0, "fresh hash set covers the batch's blocks")
  }
}
