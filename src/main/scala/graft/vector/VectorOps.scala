package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (query-set ×
  * corpus, scored by the native [[graft.functions.CosineSimilarity]]
  * expression inside WholeStageCodegen). The scale path is
  * random-hyperplane LSH: sign-bucket the corpus once, then only
  * score within (multi-probed) buckets — at 100 TB the cross product
  * never materializes; the bucket id is the shuffle key.
  */
object VectorOps {
  private def cos(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Exact top-k cosine neighbors for each query vector (self-matches
    * excluded). `queries`/`corpus`: (idCol, vecCol). */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int
  )(implicit spark: SparkSession): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q)) // corpus stays partitioned; queries broadcast
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cos(col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Scalar int8 quantization of an embedding frame: each vector
    * becomes `round(127·x / max|x|)` as `array<tinyint>` — 4× smaller
    * than float32, which at 100 TB is 4× scan bandwidth. Cosine needs
    * no dequantization (per-vector scales cancel), so the quantized
    * corpus is directly searchable via `cosine_sim_i8`. The max-abs
    * is staged in its own projection so it isn't re-evaluated per
    * element after project collapse. */
  def quantizeI8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df
      .select(col(idCol), col(vecCol),
        array_max(transform(col(vecCol), x => abs(x))).as("__m"))
      .select(col(idCol),
        when(col("__m") === 0.0f,
          transform(col(vecCol), _ => lit(0).cast("byte")))
          .otherwise(transform(col(vecCol),
            x => round(x * 127.0 / col("__m")).cast("byte")))
          .as("qvec"))

  /** Exact-over-quantized top-k: brute-force cosine on the int8
    * corpus (integer accumulation via the native
    * [[graft.functions.QuantizedCosine]] expression). Same plan shape
    * as [[bruteForceTopK]] at a quarter of the memory traffic; recall
    * loss is the quantization error only (spec-asserted ≥ 0.6 at
    * dim 64, typically ≈ 1). */
  def quantizedTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int
  )(implicit spark: SparkSession): DataFrame = {
    val q = quantizeI8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("qvec").as("__qv"))
    val c = quantizeI8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("qvec").as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("qcosine", call_function("cosine_sim_i8", col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("qcosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("qcosine"), 4).as("qcosine"))
  }

  /** All pairs with cosine >= minCos (near-duplicate detection) —
    * EXACT, via a tiled self-join: block the corpus on a stable key
    * hash, materialize each of the B(B+1)/2 block-pair tiles as one
    * shuffle-join key, and score only within tiles.
    *
    * Why tiles and not LSH candidates: an exact threshold output needs
    * recall 1, and on a continuous cosine distribution the threshold
    * has no margin (measured on the testdata at sf0.1: 14,922 pairs
    * ≥ 0.30 with the nearest kept/dropped pair 7e-6 apart), so ANY
    * probabilistic bucketing either misses straddling pairs or degrades
    * to scoring everything. Exhaustive scoring is inherent to the
    * semantics; what scale demands is that it DISTRIBUTES: the tile id
    * is the shuffle key, each task holds 2·(n/B) vectors (bounded by
    * choosing B), no broadcast of the corpus, no CartesianProduct /
    * BroadcastNestedLoopJoin in the plan (spec-asserted), and shuffle
    * volume is n·B rows — the classic GEMM tiling. For an approximate
    * top-k at scale use [[lshTopK]] instead; the thresholded
    * NEAR-DUP decision (cos ≥ 0.8-ish, wide margins) can layer LSH
    * candidates in front, but the exact threshold operator is this. */
  /** Tile grid for the exact all-pairs scans, sized to the corpus:
    * ~`TileSide` vectors per block keeps each task's tile at a bounded
    * ~1M scored pairs whatever the corpus size — with a FIXED grid,
    * per-task work grows (n/B)², and at 10× the corpus every tile
    * task is a 100× straggler. Floor 8 preserves local parallelism on
    * small corpora without drowning them in tile overhead (B² tiles
    * of (n/B)² pairs: at 2k vectors, 64 tiles of ~62k pairs is
    * work-dominated, 256 tiles of ~15k pairs is overhead-dominated —
    * measured 2.5× slower); cap 512 bounds the tile-id space (task
    * count B², shuffle volume n·B). The count is one cheap
    * metadata-heavy job against the O(n²) scoring it sizes. */
  private val TileSide = 1000L
  private def autoBlocks(corpus: DataFrame, explicit: Int): Int =
    if (explicit > 0) explicit
    else {
      val n = corpus.count()
      math.min(512L, math.max(8L, (n + TileSide - 1) / TileSide)).toInt
    }

  def cosinePairs(
      corpus: DataFrame, idCol: String, vecCol: String, minCos: Double,
      blocks: Int = 0
  )(implicit spark: SparkSession): DataFrame = {
    val blockCount = autoBlocks(corpus, blocks)
    val b = lit(blockCount)
    val withBlock = corpus.select(
      col(idCol), col(vecCol),
      pmod(xxhash64(col(idCol)), b.cast("long")).cast("int").as("__b"))
    // a vector in block i drives row-side tiles (i, j≥i); one in block
    // j drives col-side tiles (i≤j, j) — every unordered block pair is
    // exactly one tile, so no pair is scored twice across tiles
    // fixed-count repartition on the tile key (same AQE-coalesce trap
    // as knnJoinExact: the join INPUT is 2·n·B/2 small rows, its
    // OUTPUT the (n/B)² pair explosion — coalescing from input stats
    // would serialize the scoring; an explicit count is exempt and
    // matches the join keys, so no extra exchange)
    val tileParts = blockCount * blockCount
    val rows = withBlock.select(
      col(idCol).as("id1"), col(vecCol).as("__v1"),
      col("__b").as("__ti"), explode(sequence(col("__b"), b - 1)).as("__tj"))
      .repartition(tileParts, col("__ti"), col("__tj"))
    val cols = withBlock.select(
      col(idCol).as("id2"), col(vecCol).as("__v2"),
      explode(sequence(lit(0), col("__b"))).as("__ti"), col("__b").as("__tj"))
      .repartition(tileParts, col("__ti"), col("__tj"))
    rows.join(cols, Seq("__ti", "__tj"))
      // diagonal tiles see both orderings: keep one; cross tiles see
      // exactly one ordering: keep it whatever the id order
      .where(col("__ti") =!= col("__tj") || col("id1") < col("id2"))
      .withColumn("cosine", round(cos(col("__v1"), col("__v2")), 4))
      .where(col("cosine") >= minCos)
      .select(
        least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"),
        col("cosine"))
  }

  /** Exact k-nearest-neighbor SELF-join: EVERY corpus vector gets its
    * top-k cosine neighbors — the batch similarity join behind
    * embedding-cluster dedup and retrieval evaluation, as opposed to
    * the small-query-set probes above.
    *
    * Scale shape: the corpus never broadcasts. Both sides tile on a
    * stable key-hash block (queries replicate across the corpus-block
    * axis, corpus rows across the query-block axis), so the tile id is
    * the shuffle key, shuffle volume is 2·n·B rows, and each task
    * scores an (n/B)×(n/B) tile holding 2·(n/B) vectors — B sizes the
    * task, the classic GEMM tiling (same scheme as [[cosinePairs]]).
    * Selection is TWO-LEVEL: a per-(tile, query) top-k inside the tile
    * (bounding the second exchange to B·k rows per query) and a global
    * top-k over those candidates — lossless, because every global
    * neighbor is by definition in its tile's local top-k. */
  def knnJoinExact(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      blocks: Int = 0
  )(implicit spark: SparkSession): DataFrame = {
    val blockCount = autoBlocks(corpus, blocks)
    val b = lit(blockCount)
    val withBlock = corpus.select(
      col(idCol), col(vecCol),
      pmod(xxhash64(col(idCol)), b.cast("long")).cast("int").as("__b"))
    // explicit fixed-count repartition on the tile key: the join's
    // INPUT is tiny (2nB id+vector rows) while its OUTPUT is the
    // (n/B)² pair explosion per tile — AQE's coalescing reads the
    // input stats and would fold the tiles onto 1-2 cores, serializing
    // the scoring. A fixed partition count is exempt from coalescing,
    // and since it matches the join keys no further exchange is added.
    val tileParts = blockCount * blockCount
    val q = withBlock.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      col("__b").as("__qb"), explode(sequence(lit(0), b - 1)).as("__cb"))
      .repartition(tileParts, col("__qb"), col("__cb"))
    val c = withBlock.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      explode(sequence(lit(0), b - 1)).as("__qb"), col("__b").as("__cb"))
      .repartition(tileParts, col("__qb"), col("__cb"))
    val scored = q.join(c, Seq("__qb", "__cb"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cos(col("__qv"), col("__cv")))
      // drop the vectors BEFORE the window sort: the local top-k sorts
      // the full pair stream, which must carry 5 narrow columns, not
      // two dim-length float arrays
      .select("__qb", "__cb", "query_id", "neighbor_id", "cosine")
    val wLocal = Window.partitionBy("__qb", "__cb", "query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val candidates = scored
      .withColumn("__r", row_number().over(wLocal))
      .where(col("__r") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    candidates
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Deterministic hyperplanes in [-0.5, 0.5), generated driver-side
    * (splitmix64) and embedded as literal arrays — generating them
    * with per-row expressions would recompute nPlanes × dim hashes
    * for every vector. */
  private[graft] def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Seq.tabulate(nPlanes)(p => Seq.tabulate(dim)(d =>
      math.floorMod(mix(p.toLong * 4096 + d), 1000000L).toDouble / 1000000.0 - 0.5))
  }

  /** Random-hyperplane LSH bucket id (`nPlanes` sign bits) for each
    * vector: bucket = Σ_p (dot(v, plane_p) > 0) << p. Computed by the
    * native [[graft.functions.HyperplaneBucket]] expression — one
    * tight codegen loop, planes as a reference object. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int)(implicit spark: SparkSession): Column = {
    val ps = planes(nPlanes, dim).map(_.toArray).toArray
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hyperplane_bucket",
      exprs => graft.functions.HyperplaneBucket(exprs.head, ps),
      "built-in")
    call_function("hyperplane_bucket", vec)
  }

  /** Embedding-corpus QA gate: per-`label` health report over a
    * vector column — the validation every ANN/index build runs BEFORE
    * trusting its embeddings (a null vector NPEs a kernel, a
    * wrong-dim vector corrupts a GEMM tile, an all-zero or collapsed
    * norm distribution means the encoder broke upstream).
    *
    * Anomaly counters (null vector / wrong dim / null element /
    * NaN-or-Inf element / absurd norm / zero norm) plus the norm
    * distribution (min/max and an EXACT decimal sum of round(‖v‖,4)
    * — a float mean would be partition-order-dependent and
    * unverifiable, SURVEY §3) over the valid rows. Per-vector norms
    * are sequential element-order loops (Spark `aggregate`, DuckDB
    * `list_reduce`), so both engines produce the identical IEEE
    * double before the shared round.
    *
    * The gate must be TOTAL over dirty corpora — that is its job. A
    * NaN/Inf element is counted, not summed (under ANSI a NaN
    * reaching the decimal cast would abort the whole report — the
    * gate crashing on exactly the broken-encoder vectors it exists
    * to flag). Finite norms ≥ 1e12 (twelve orders past any real
    * embedding family) are likewise counted as `n_huge_norm` and
    * kept out of the stats, so the decimal sum cannot overflow
    * before ~1e22 rows.
    *
    * Scale shape: ONE corpus scan, every counter a conditional
    * partial aggregate (map-side combine), shuffle = |labels| rows.
    */
  def embeddingQa(emb: DataFrame, vecCol: String, labelCol: String, dim: Int): DataFrame = {
    val v = col(vecCol)
    val isNullVec = v.isNull
    val badDim = v.isNotNull && size(v) =!= dim
    val nullElem = v.isNotNull && exists(v, _.isNull)
    val nonFinite = v.isNotNull && exists(v, x =>
      x.cast("double").isNaN || abs(x.cast("double")) === lit(Double.PositiveInfinity))
    val structuralOk = !isNullVec && !badDim && !nullElem && !nonFinite
    val nraw = sqrt(aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val one = (c: Column) => sum(when(c, 1L).otherwise(0L))
    emb
      .select(col(labelCol).as("label"),
        isNullVec.as("__nv"), badDim.as("__bd"), nullElem.as("__ne"),
        nonFinite.as("__nf"),
        when(structuralOk, nraw).as("__nraw"))
      .select(col("label"), col("__nv"), col("__bd"), col("__ne"), col("__nf"),
        (col("__nraw") >= 1e12).as("__huge"),
        when(col("__nraw") < 1e12, round(col("__nraw"), 4)).as("__norm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        one(col("__nv")).as("n_null_vec"),
        one(col("__bd")).as("n_bad_dim"),
        one(col("__ne")).as("n_null_elem"),
        one(col("__nf")).as("n_nonfinite"),
        one(col("__huge")).as("n_huge_norm"),
        one(col("__norm") === 0.0).as("n_zero_norm"),
        min(col("__norm")).as("min_norm"),
        max(col("__norm")).as("max_norm"),
        // exact decimal accumulation, double only at emission — the
        // sum is order-independent, the final cast deterministic
        sum(col("__norm").cast("decimal(28,4)")).cast("double").as("sum_norm"))
      .orderBy("label")
  }

  /** ANN via LSH buckets: score queries only against corpus vectors
    * in the same bucket, take top-k per query. Recall < 1 by design;
    * increase planes/probes for precision, this is the 100 TB path. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, nPlanes: Int, k: Int, dim: Int = 64
  )(implicit spark: SparkSession): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("bucket", lshBucket(col("__qv"), nPlanes, dim))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("bucket", lshBucket(col("__cv"), nPlanes, dim))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cos(col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
  }
}
