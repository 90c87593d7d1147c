package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.vector.{VectorOps, Ivf}

/** Embedding similarity / ANN verified queries (SURVEY §2 #26–#28)
  * over the `embeddings` table (array<float>, dim 64). */
object QueriesVector {
  import Queries.Q

  /** #26 embedding-cosine near-dup pairs (threshold chosen to be
    * non-empty on the near-orthogonal testdata). */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    VectorOps.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", minCos = 0.30)
  }

  /** #27 brute-force cosine top-5 neighbors for query set vec_id<10,
    * scored by the native CosineSimilarity expression. */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val emb = Tables.embeddings(s, dir)
    // query side: a raw pruned scan — the <10-row query set is about
    // to be broadcast, so the loader's parallelism spread would be a
    // pure extra exchange+job (guide §2.4); corpus side keeps it
    VectorOps.bruteForceTopK(Tables.table(s, dir, "embeddings").where(col("vec_id") < 10),
      emb, "vec_id", "embedding", k = 5)
  }

  /** #28 LSH-bucketed ANN (8 hyperplanes), the scale path — rows-only
    * oracle (bucket membership is hash-specific). */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val emb = Tables.embeddings(s, dir)
    // query side raw scan: same reasoning as annTopK
    VectorOps.lshTopK(Tables.table(s, dir, "embeddings").where(col("vec_id") < 10),
      emb, "vec_id", "embedding", nPlanes = 8, k = 5)
      .orderBy("query_id", "rank")
  }

  /** #39 IVF ANN: 8 centroids (2 Lloyd rounds), exact adaptive probe
    * (2 seed lists + triangle-inequality completion — see
    * [[graft.vector.Ivf.probeExact]]), top-5 per query. The exactness
    * guarantee is what makes this oracle-checkable: the result equals
    * brute force BY CONSTRUCTION at any data distribution, while the
    * plan still routes through centroid lists (prunes to ≈ nprobe
    * lists on clustered corpora). */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val emb = Tables.embeddings(s, dir)
    val index = Ivf.build(emb, "vec_id", "embedding", k = 8, iters = 2)
    Ivf.probeExact(index, Tables.table(s, dir, "embeddings").where(col("vec_id") < 10),
      "vec_id", "embedding", nprobe = 2, topK = 5)
      .orderBy("query_id", "rank")
  }

  /** #61 int8-quantized brute-force ANN (4× scan bandwidth, integer
    * accumulation; see VectorOps.quantizeI8) — rows-only oracle,
    * recall vs #27 spec-asserted. */
  def annQuantized(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val emb = Tables.embeddings(s, dir)
    // query side raw scan: same reasoning as annTopK
    VectorOps.quantizedTopK(Tables.table(s, dir, "embeddings").where(col("vec_id") < 10),
      emb, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  /** #77 exact kNN self-join: EVERY vector's top-3 neighbors via the
    * tiled block join + two-level top-k selection
    * ([[VectorOps.knnJoinExact]]) — the batch similarity join of an
    * embedding-dedup/retrieval-eval pipeline, exact by construction
    * and verified against DuckDB's brute force. */
  def knnJoin(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    VectorOps.knnJoinExact(Tables.embeddings(s, dir), "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank")
  }

  /** #78 kNN probe-accuracy evaluation: predict each vector's label
    * by majority vote of its exact top-5 neighbors (ties → smallest
    * label) and report per-label accuracy — the standard
    * embedding-quality eval (linear/kNN probe) of a representation
    * pipeline. All-integer vote counts and permille math keep the
    * result engine-exact. The neighbor-label join keys on vec_id (the
    * label table is corpus-sized — no broadcast bet; AQE decides),
    * votes partial-aggregate to ≤ k rows per query, and the argmax
    * window sorts each query's ≤ k vote rows, never the corpus. */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val labels = emb.select(col("vec_id"), col("label"))
    val knn = VectorOps.knnJoinExact(emb, "vec_id", "embedding", k = 5)
    val votes = knn
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("__nl")), "neighbor_id")
      .groupBy("query_id", "__nl").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("query_id").orderBy(col("__c").desc, col("__nl"))
    val pred = votes
      .withColumn("__r", row_number().over(w)).where(col("__r") === 1)
      .select(col("query_id"), col("__nl").as("pred_label"))
    labels.select(col("vec_id").as("query_id"), col("label"))
      .join(pred, "query_id")
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("pred_label") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy_permille",
        call_function("div", col("n_correct") * 1000L, col("n_vectors")))
      .orderBy("label")
  }

  /** #85 semantic dedup resolution (SemDeDup-shaped): connected
    * components over the exact cosine ≥ 0.40 pair graph (same tiled
    * generator as #26, tighter threshold — 0.30 percolates this
    * corpus into one giant component; 0.40 yields real clusters), each group
    * annotated with size, majority label (ties → smallest) and the
    * keeper — the smallest vec_id carrying the majority label. The
    * cluster-then-keep step of embedding-space dedup, with every
    * decision integer-exact (vote counts, min ids) so DuckDB
    * reproduces it bit-for-bit. Scale shape: pairs from the tiled
    * exact join (no corpus broadcast) — optimal for THIS corpus,
    * whose near-orthogonal vectors admit 100% of cluster blocks (list
    * radii ≈ 75°, measured by tools/BlockProbe); a clustered corpus
    * should generate pairs via
    * [[graft.vector.Ivf.cosinePairsExact]] instead, which prunes
    * whole list-pair blocks by triangle-inequality bounds, decides
    * from the k² bound table whether pruning pays, and equals the
    * tiled join bit-for-bit (spec-asserted) — label propagation is
    * O(component diameter) keyed shuffles, votes partial-aggregate to
    * ≤ |labels| rows per group, and the argmax window sorts within
    * one group's label votes — never the corpus. */
  def semanticResolve(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val emb = Tables.embeddings(s, dir)
    val pairs = VectorOps.cosinePairs(emb, "vec_id", "embedding", minCos = 0.40)
      .select(col("id1").as("doc1"), col("id2").as("doc2"))
    val groups = graft.text.DedupOps.resolveGroups(pairs)
      .select(col("doc_id").as("vec_id"), col("group_id"))
    resolveSummary(groups, emb.select("vec_id", "label")).orderBy("group_id")
  }

  /** Group summary for #85 (spec-driven): majority label (ties →
    * smallest), group size, and min-id keeper within the majority
    * label, from a (vec_id, group_id) membership frame and a
    * (vec_id, label) frame. */
  def resolveSummary(groups: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = groups.join(labels, "vec_id")
    val votes = labeled.groupBy("group_id", "label").agg(count(lit(1)).as("__c"))
    val wv = Window.partitionBy("group_id").orderBy(col("__c").desc, col("label"))
    val majority = votes
      .withColumn("__r", row_number().over(wv)).where(col("__r") === 1)
      .select(col("group_id"), col("label").as("majority_label"), col("__c").as("n_majority"))
    val sizes = labeled.groupBy("group_id").agg(count(lit(1)).as("n_vecs"))
    val keeper = labeled.join(majority.select("group_id", "majority_label"), "group_id")
      .where(col("label") === col("majority_label"))
      .groupBy("group_id").agg(min(col("vec_id")).as("keeper_vec_id"))
    sizes.join(majority, "group_id").join(keeper, "group_id")
      .select(col("group_id"), col("n_vecs"), col("majority_label"),
        col("n_majority"), col("keeper_vec_id"))
  }

  /** #86 embedding-corpus QA gate: per-label anomaly counters (null
    * vector / wrong dim / null element / NaN-or-Inf element / absurd
    * norm / zero norm) + the norm distribution (min/max/exact-decimal
    * sum of round(‖v‖,4)) — the validation pass before any index
    * build or ANN job trusts its vectors (see
    * [[VectorOps.embeddingQa]]). The testdata corpus is clean, so the
    * counters verifying as ZERO against the oracle is the point — a
    * non-zero count IS the alarm; the counter mechanics fire on
    * injected anomalies in `EmbeddingQaSpec`. */
  def embeddingQa(s: SparkSession, dir: String): DataFrame =
    VectorOps.embeddingQa(Tables.embeddings(s, dir), "embedding", "label", dim = 64)

  /** #148 label-centroid confusion: cosine similarity between every
    * pair of per-label centroids — the representation-QA screen for
    * classes that COLLAPSE in embedding space (a high off-diagonal
    * cosine says the two labels are embedding-confusable; pair it
    * with #78's kNN-probe accuracy to tell collapsed-classes from
    * noisy-vectors). Engine-exact by the quantize-then-integer-sum
    * rule: elements are rounded to 1e-6 and summed as integers per
    * (label, dim) — order-independent, so the shuffle schedule can't
    * flake the hash — and the centroid cosine reduces to the SUM
    * vectors (the 1/n scaling cancels), leaving one deterministic
    * IEEE tail (cast, sqrt, multiply, divide) on exact integer dots.
    *
    * Scale shape: the corpus is touched ONCE by a map-side
    * posexplode into (label, dim) partial sums — combinable, 64·k
    * rows out of however many vectors — and everything after (the
    * dim-keyed self-join, k² dots, the diagonal join-back) runs on
    * the collapsed centroid grain. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    labelCentroidsOn(Tables.embeddings(s, dir))

  private[graft] def labelCentroidsOn(emb: DataFrame): DataFrame = {
    val base = emb.where(col("embedding").isNotNull)
    // persisted: the a/b self-join would otherwise run the corpus
    // posexplode aggregate twice — at scale that is two full passes
    // for one 64·k-row frame
    val sums = base
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("x").cast("double") * lit(1e6), 0).cast("long")).as("s"))
      .transform(Caching.share)
    val counts = base.groupBy("label").agg(count(lit(1)).as("n"))
    val a = sums.select(col("label").as("label_a"), col("dim"),
      col("s").cast("decimal(38,0)").as("sa"))
    val b = sums.select(col("label").as("label_b"), col("dim"),
      col("s").cast("decimal(38,0)").as("sb"))
    val dots = a.join(b, Seq("dim")).where(col("label_a") <= col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("sa") * col("sb")).as("dot"))
      .transform(Caching.share)
    val diag = dots.where(col("label_a") === col("label_b"))
      .select(col("label_a").as("__l"), col("dot").as("__sd"))
    dots.where(col("label_a") < col("label_b"))
      .join(diag.select(col("__l").as("label_a"), col("__sd").as("__da")), "label_a")
      .join(diag.select(col("__l").as("label_b"), col("__sd").as("__db")), "label_b")
      .join(counts.select(col("label").as("label_a"), col("n").as("n_a")), "label_a")
      .join(counts.select(col("label").as("label_b"), col("n").as("n_b")), "label_b")
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        (col("dot").cast("double") /
          (sqrt(col("__da").cast("double")) * sqrt(col("__db").cast("double"))))
          .as("cos_centroid"))
      .orderBy("label_a", "label_b")
  }

  /** #149 per-label embedding outlier screen: each vector's cosine to
    * its OWN label's leave-one-out centroid (the vector is subtracted
    * from the label sum before comparing — with it left in, the
    * self-term drowns the signal exactly where it matters, on small
    * labels). Low/negative cosine = the vector disagrees with its
    * label's direction: the mislabeled-sample / noise screen run
    * before trusting labels for eval or dedup keeps.
    *
    * All decisions are integer-exact end to end: quantized element
    * sums (round(x·1e6)) give exact dots, the leave-one-out identities
    * are pure integer algebra (dot(q, S−q) = dot(q,S) − |q|²,
    * |S−q|² = |S|² − 2·dot(q,S) + |q|²), one IEEE tail per vector
    * produces the cosine, and the reported statistics (count, negative
    * count, min/max/sum) live on round(cos·1e6) integers — nothing
    * order-dependent anywhere.
    *
    * Scale shape: two passes over the exploded (vec, dim) grain —
    * label-dim partial sums (combinable, 64·k rows), then the per-vec
    * dot with the tiny sums frame broadcast onto it and a combinable
    * collapse to vec grain — and a final k-row label aggregate.
    * Vectors whose leave-one-out residual is zero (singleton labels,
    * zero vectors) are counted but not scored. */
  def embeddingOutliers(s: SparkSession, dir: String): DataFrame =
    embeddingOutliersOn(Tables.embeddings(s, dir))

  private[graft] def embeddingOutliersOn(emb: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val base = emb.where(col("embedding").isNotNull)
    val q = base
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        round(col("x").cast("double") * lit(1e6), 0).cast("long").as("qx"))
    val sums = q.groupBy(col("label"), col("dim"))
      .agg(sum(col("qx")).as("s"))
      .transform(Caching.share)
    val labelNorm2 = sums.groupBy("label")
      .agg(sum(col("s").cast(dec) * col("s").cast(dec)).as("__ns2"))
    val perVec = q.join(broadcast(sums), Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        sum(col("qx").cast(dec) * col("s").cast(dec)).as("__dvs"),
        sum(col("qx").cast(dec) * col("qx").cast(dec)).as("__nv2"))
    val scored = perVec
      .join(broadcast(labelNorm2), "label")
      .withColumn("__ldot", col("__dvs") - col("__nv2"))
      .withColumn("__lnorm2", col("__ns2") - lit(2) * col("__dvs") + col("__nv2"))
      .withColumn("cos_e6",
        when(col("__nv2") > 0 && col("__lnorm2") > 0,
          round(col("__ldot").cast("double") /
            (sqrt(col("__nv2").cast("double")) * sqrt(col("__lnorm2").cast("double")))
            * lit(1e6), 0).cast("long")))
    scored.groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        count(col("cos_e6")).as("n_scored"),
        sum(when(col("cos_e6") < 0, 1L).otherwise(0L)).as("n_neg"),
        min(col("cos_e6")).as("cos_min_e6"),
        max(col("cos_e6")).as("cos_max_e6"),
        sum(col("cos_e6")).as("sum_cos_e6"))
      .orderBy("label")
  }

  def all: Map[String, Q] = Map(
    "q_embedding_qa" -> (embeddingQa _),
    "q_label_centroids" -> (labelCentroids _),
    "q_embedding_outliers" -> (embeddingOutliers _),
    "q_semantic_resolve" -> (semanticResolve _),
    "q_knn_classify" -> (knnClassify _),
    "q_ann_quantized" -> (annQuantized _),
    "q_ann_ivf" -> (annIvf _),
    "q_dedup_embedding" -> (dedupEmbedding _),
    "q_ann_topk" -> (annTopK _),
    "q_ann_lsh" -> (annLsh _),
    "q_knn_join" -> (knnJoin _)
  )
}
