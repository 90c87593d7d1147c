package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Document deduplication family: exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, and winnowing fingerprints.
  *
  * Scale design (SURVEY §4):
  *  - Exact dedup is a hash-groupBy with map-side combine.
  *  - Jaccard candidates come from a POSTINGS self-join on shared
  *    grams with a document-frequency cutoff — never an O(n²) cross
  *    join; the gram is the shuffle key, and the df cutoff bounds the
  *    worst bucket (a gram in df docs contributes df² pairs).
  *  - MinHash/LSH: per-(doc,seed) min aggregation (partial agg), then
  *    band-bucket self-join — candidates only within equal 4-seed
  *    band hashes.
  *  - SimHash: per-(doc,bit) signed counts (partial agg; no
  *    collect_list), banded hamming join, exact `bit_count(xor)`
  *    verification.
  *  - All similarity decisions use exact integer arithmetic.
  */
object DedupOps {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Corpus-wide permille of word-n-gram POSITIONS covered by high-df
    * grams (df ≥ max(5, 1% of docs) — the #83 boilerplate rule) — the
    * cheap pre-check behind the boilerplate-before-banding guard. One
    * (gram, doc)-keyed aggregate with map-side combine, one gram-grain
    * re-aggregation, one 1-row total; never a pair join. */
  def boilerplateCoveragePermille(
      docs: DataFrame, id: String, text: Column, n: Int, nDocs: Long): Long = {
    if (nDocs == 0L) return 0L
    boilerplateCoverageFrame(docs, id, text, n, nDocs)
      .head().getAs[Long]("coverage_permille")
  }

  /** The corpus-level boilerplate coverage as a 1-row frame
    * (n_positions, n_boiler, coverage_permille) — the #154 registry
    * surface; [[boilerplateCoveragePermille]] is its driver-side
    * reading for the router guard. */
  def boilerplateCoverageFrame(
      docs: DataFrame, id: String, text: Column, n: Int, nDocs: Long): DataFrame =
    boilerplateCoverageFrame(docs, id, text, n,
      lit(math.max(5L, (nDocs + 99L) / 100L)))

  /** In-plan variant (VERDICT r15 item 4): the df threshold rides the
    * plan as a broadcast 1-row aggregate (#83's `boilerplateOn`
    * shape) instead of a driver-side `docs.count()` pre-pass — frame
    * construction triggers NO job; callers that already hold nDocs
    * (the router guard) keep the literal-threshold overload above. */
  def boilerplateCoverageFrame(
      docs: DataFrame, id: String, text: Column, n: Int): DataFrame =
    boilerplateCoverageFrame(docs, id, text, n,
      greatest(lit(5L), call_function("div", col("__nDocs") + 99L, lit(100L))),
      withNDocs = Some(docs.agg(count(lit(1)).as("__nDocs"))))

  private def boilerplateCoverageFrame(
      docs: DataFrame, id: String, text: Column, n: Int, dfThr: Column,
      withNDocs: Option[DataFrame] = None): DataFrame = {
    val perDoc = wordGramHashesAll(docs, id, text, n)
      .groupBy(col("gram"), col(id)).agg(count(lit(1)).as("__c"))
    val byGram0 = perDoc.groupBy("gram")
      .agg(count(lit(1)).as("__df"), sum(col("__c")).as("__pos"))
    val byGram = withNDocs.fold(byGram0)(nd => byGram0.crossJoin(broadcast(nd)))
    byGram.agg(
      coalesce(sum(col("__pos")), lit(0L)).as("n_positions"),
      coalesce(sum(when(col("__df") >= dfThr, col("__pos")).otherwise(0L)), lit(0L))
        .as("n_boiler"))
      .select(col("n_positions"), col("n_boiler"),
        when(col("n_positions") === 0L, lit(0L))
          .otherwise(call_function("div", col("n_boiler") * 1000L, col("n_positions")))
          .as("coverage_permille"))
  }

  /** Sketch-input view with UNIVERSAL paragraph blocks removed: each
    * doc re-cut into `paraTokens`-token blocks (#142's grain), blocks
    * whose block-hash df ≥ `dfPermille` of the corpus dropped, the
    * rest reassembled in block order as `__stext`. The universal set
    * is tiny by construction (df ≥ half the docs) and broadcasts.
    * Docs consisting ONLY of universal blocks drop out — they carry
    * no content signal for a similarity sketch (their exact-dup
    * handling lives upstream). SKETCH input only: callers verify
    * candidates against the original text. */
  private[graft] def stripUniversalBlocksForSketch(
      docs: DataFrame, id: String, text: Column, nDocs: Long,
      paraTokens: Int = 20, dfPermille: Int = 500): DataFrame = {
    val toks = docs.select(col(id), TextOps.tokens(text).as("__t"))
    val blocks = paragraphBlocks(toks, id, paraTokens)
      .select(col(id), col("para_idx"), col("para"), md5(col("para")).as("__bh"))
    val universal = blocks.select(col(id), col("__bh")).distinct()
      .groupBy("__bh").agg(count(lit(1)).as("__df"))
      .where(col("__df") * 1000L >= lit(nDocs) * lit(dfPermille.toLong))
      .select("__bh")
    blocks
      .join(broadcast(universal), Seq("__bh"), "left_anti")
      .groupBy(col(id))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("para_idx").as("i"), col("para").as("p")))),
        x => x.getField("p")), " ").as("__stext"))
  }

  /** Exact duplicate groups by normalized text: one row per distinct
    * text with the keeper (min id) and the multiplicity. */
  def exactGroups(docs: DataFrame, id: String, text: Column): DataFrame =
    docs
      .groupBy(md5(text).as("text_md5"))
      .agg(
        min(col(id)).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"),
        min(length(text)).cast("long").as("n_chars")
      )

  /** Distinct endpoint ids of a (doc1, doc2) pair frame, emitted as
    * column `out` — the docs that participate in ≥ 1 candidate pair,
    * which for an undirected pair graph is exactly the set of members
    * of groups of size ≥ 2 (no component resolution needed). */
  def pairEndpoints(pairs: DataFrame, out: String): DataFrame =
    pairs.select(col("doc1").as(out))
      .unionByName(pairs.select(col("doc2").as(out))).distinct()

  /** Per-`source` corpus duplication profile — the dedup report a
    * data release ships: how many docs each source contributes, how
    * many are exact duplicates (their normalized text appears ≥2
    * times CORPUS-wide, not merely within the source), how many sit
    * in a resolved near-dup group, and the integer-permille rates.
    *
    * `nearMembers`: the (id)-column membership frame from
    * [[resolveGroups]] (docs in ≥1 candidate pair).
    *
    * Scale shape: ONE corpus text scan producing (md5, source, count)
    * cells with map-side combine — after it, nothing is corpus-scale:
    * the corpus-wide multiplicity is a window over the 32-byte hash
    * key (one shuffle of the CELLS, each row ~40 B — never the
    * texts), the near membership joins keyed on the doc id with the
    * candidate-bounded side small, and the rollup output is
    * ≤ |sources| rows. */
  def dupProfile(
      docs: DataFrame, id: String, text: Column, source: Column,
      nearMembers: DataFrame): DataFrame = {
    val cells = docs
      .select(source.as("source"), md5(text).as("__h"))
      .groupBy("__h", "source").agg(count(lit(1)).as("__c"))
    val withTot = cells
      .withColumn("__t", sum(col("__c")).over(Window.partitionBy("__h")))
    val exact = withTot.groupBy("source").agg(
      sum(col("__c")).as("n_docs"),
      // null text is absent content, not duplicated content: NULL-hash
      // docs count in n_docs but can never be exact-dup members (the
      // window groups all NULL hashes into one frame, so without the
      // isNotNull gate two null-text docs would read as duplicates)
      sum(when(col("__h").isNotNull && col("__t") > 1, col("__c")).otherwise(0L))
        .as("n_exact_dup"))
    val near = docs.select(col(id).as("__did"), source.as("source"))
      .join(nearMembers.select(col(id).as("__did")).distinct(), Seq("__did"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_near_dup"))
    exact.join(near, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_exact_dup"),
        coalesce(col("n_near_dup"), lit(0L)).as("n_near_dup"))
      .withColumn("exact_dup_permille",
        call_function("div", col("n_exact_dup") * 1000L, col("n_docs")))
      .withColumn("near_dup_permille",
        call_function("div", col("n_near_dup") * 1000L, col("n_docs")))
      .orderBy("source")
  }

  /** Word n-grams as 64-bit hashes, distinct per doc: hash each token
    * once, then hash `n` consecutive token hashes together
    * (`xxhash64` is variadic and order-sensitive) — no per-gram
    * string building, no per-gram string rehash, and no long
    * arithmetic (ANSI mode would throw on wrap-around). Collisions
    * are ~2⁻⁶⁴ and only perturb candidate counts. */
  def wordGramHashes(docs: DataFrame, id: String, text: Column, n: Int): DataFrame =
    // the generator must stay the FULL gram expression, not an alias
    // of it: explode(__grams) over a projected alias triggers
    // InferFiltersFromGenerate on the bare attribute, and the inferred
    // `size(__grams) > 0` predicate then pushes below the exchange
    // with the whole tokenize+hash chain alias-inlined — measured 10×
    // on every postings consumer at sf0.1
    tokenHashes(docs, id, text)
      .select(col(id), explode(array_distinct(gramArray(col("__th"), n))).as("gram"))

  /** Same distinct gram-hash set, kept as ONE array row per doc
    * instead of exploded postings. The set-as-array form lets
    * candidate verification compute |A∩B| with `array_intersect` after
    * plain doc-id joins — no postings explode, no per-pair aggregate
    * shuffle. Row width is bounded by doc length; for pathological
    * multi-million-gram docs prefer the exploded postings form. */
  def wordGramHashSets(docs: DataFrame, id: String, text: Column, n: Int): DataFrame =
    tokenHashes(docs, id, text)
      .select(col(id), array_distinct(gramArray(col("__th"), n)).as("__grams"))

  /** Positional (multiset) word n-gram hashes: one row per gram
    * POSITION, duplicates kept — the span-coverage view boilerplate
    * accounting needs (how much of each doc is covered by repeated
    * spans), vs the distinct-set view similarity dedup needs. */
  def wordGramHashesAll(docs: DataFrame, id: String, text: Column, n: Int): DataFrame =
    tokenHashes(docs, id, text)
      .select(col(id), explode(gramArray(col("__th"), n)).as("gram"))

  /** The one tokenize→hash step behind every gram builder: (id,
    * `__th`), the doc's token hashes as a materialized column. */
  private def tokenHashes(docs: DataFrame, id: String, text: Column): DataFrame =
    docs.select(col(id), transform(TextOps.tokens(text), t => xxhash64(t)).as("__th"))

  /** n-gram hash array over a token-hash array `th` — `th` MUST be a
    * materialized column (not an inline transform): referencing a
    * transform() from every element_at lets the optimizer inline it
    * and re-hash the whole doc per gram. */
  private def gramArray(th: Column, n: Int): Column =
    when(size(th) < n, array().cast("array<bigint>"))
      .otherwise(transform(
        sequence(lit(0), size(th) - n),
        i => xxhash64((0 until n).map(j => element_at(th, i + j + 1)): _*)
      ))

  /** Exact n-gram Jaccard pairs over "informative" grams (document
    * frequency <= maxDf). Emits integer gram counts and a half-up
    * integer Jaccard percentage; pairs kept when
    * shared / union >= minJaccardPct / 100, decided in exact integer
    * arithmetic. */
  def ngramJaccardPairs(
      docs: DataFrame, id: String, text: Column,
      n: Int, maxDf: Int, minJaccardPct: Int
  ): DataFrame = {
    val (withCounts, shares) = sharedGramCounts(docs, id, text, n, maxDf, Some(minJaccardPct))
    val union = col("grams1") + col("grams2") - col("shared_grams")
    val pairs = withCounts
      .withColumn("union_grams", union)
      .where(col("shared_grams") * 100 >= col("union_grams") * minJaccardPct)
      .select(
        col("doc1"), col("doc2"), col("shared_grams"),
        col("grams1"), col("grams2"),
        call_function("div",
          col("shared_grams") * 200L + col("union_grams"),
          col("union_grams") * 2L
        ).as("jaccard_pct")
      )
    // the pair set is orders of magnitude smaller than the postings:
    // materialize it and release the postings storage (leaked caches
    // tax every later query in the session)
    graft.Caching.reap(observeCount(pairs, "cand_ngram"))(shares: _*)
  }

  /** Exact n-gram CONTAINMENT pairs: shared / min(|A|, |B|) — the
    * asymmetric near-dup measure Jaccard misses. A 40-gram doc
    * embedded verbatim in a 400-gram doc has Jaccard ≈ 0.1 (never
    * crosses a dedup threshold) but containment 1.0 — the standard
    * shape for quote inclusion, template wrapping, and train/eval
    * leakage. Same df-capped postings machinery as
    * [[ngramJaccardPairs]]; the threshold and the emitted percentage
    * use exact integer arithmetic (half-up). */
  def ngramContainmentPairs(
      docs: DataFrame, id: String, text: Column,
      n: Int, maxDf: Int, minContainPct: Int
  ): DataFrame = {
    val (withCounts, shares) = sharedGramCounts(docs, id, text, n, maxDf, None)
    val minc = least(col("grams1"), col("grams2"))
    val pairs = withCounts
      .where(col("shared_grams") * 100 >= minc * minContainPct)
      .select(
        col("doc1"), col("doc2"), col("shared_grams"),
        col("grams1"), col("grams2"),
        call_function("div",
          col("shared_grams") * 200L + minc,
          minc * 2L
        ).as("containment_pct")
      )
    graft.Caching.reap(observeCount(pairs, "cand_containment"))(shares: _*)
  }

  /** Shared core of the exact pair generators: one tokenize pass into
    * per-doc gram sets (shared — read by the df pass and the
    * postings), df-gated postings that carry their doc's gated gram
    * count (shared — both sides of the pair join), and shared-gram
    * counts per candidate pair. `minJaccardPct` applies Jaccard's
    * exact length bound inside the join: shared ≤ min(|A|, |B|), so
    * J ≥ t needs 100·min(|A|, |B|) ≥ t·max(|A|, |B|); containment has
    * no such bound and passes None. Returns (pair frame with
    * grams1/grams2/shared_grams, shares) — callers apply their
    * similarity filter and MUST release the shares via
    * [[graft.Caching.reap]].
    *
    * Measured and not built: a df-ordered PPJoin prefix filter with
    * array verification kept the same pairs and cut the join rows
    * from 1.27M to 0.83M (J ≥ 20) and 0.33M (J ≥ 50) on the sf0.1
    * corpus, but ran 6.1, 4.2 and 2.4 s at J ≥ 1, 20 and 50 on 4 cores,
    * against about 1 s for the postings join. */
  private def sharedGramCounts(
      docs: DataFrame, id: String, text: Column, n: Int, maxDf: Int,
      minJaccardPct: Option[Int]
  ): (DataFrame, Seq[DataFrame]) = {
    // both shares persist rather than [[graft.Caching.share]]: the
    // columnar cache keeps the doc-key partitioning the keyed document
    // spread gives them, so the count window and the pair aggregate
    // (keyed by doc1) need no exchange. A localCheckpoint loses it once
    // AQE coalesces, which measured 17 MB of pair-aggregate shuffle
    // against 2 MB at sf0.1.
    def share(df: DataFrame) = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // gram sets carry 64-bit gram hashes, not strings: cheaper to
    // build, and the self-join shuffles and compares longs
    val sets = share(wordGramHashSets(docs, id, text, n))

    // document-frequency cutoff: drop grams too common to be
    // informative. The df side is tiny (distinct grams × count) —
    // broadcast it so the postings stream never shuffles for the gate.
    // Its map side reads the materialized sets in their own
    // partitions, never re-tokenizing.
    val df = sets.select(explode(col("__grams")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("__df"))
    // each doc's gated gram count rides its postings: a window over
    // the doc key, which the keyed document spread already
    // partitions by — no per-doc aggregate, no count joins
    val kept = share(
      sets.select(col(id), explode(col("__grams")).as("gram"))
        .join(broadcast(df.where(col("__df") <= maxDf)), "gram")
        .select(col(id), col("gram"),
          count(lit(1)).over(Window.partitionBy(col(id))).as("n_grams")))

    val a = kept.select(col(id).as("doc1"), col("gram"), col("n_grams").as("grams1"))
    val b = kept.select(col(id).as("doc2"), col("gram"), col("n_grams").as("grams2"))
    // both predicates reference both sides, so they plan as the join's
    // condition and prune before the pair aggregate
    val ordered = col("doc1") < col("doc2")
    val cond = minJaccardPct.fold(ordered) { t =>
      ordered && least(col("grams1"), col("grams2")) * 100L >=
        greatest(col("grams1"), col("grams2")) * t.toLong
    }
    val withCounts = a.join(b, "gram").where(cond)
      .groupBy("doc1", "doc2", "grams1", "grams2")
      .agg(count(lit(1)).as("shared_grams"))
    (withCounts, Seq(kept, sets))
  }

  /** MinHash signatures straight from the document text via the
    * native [[graft.functions.MinHashSig]] expression: one narrow
    * map, no gram explode, no aggregation shuffle. Bit-identical to
    * k seeded xxhash64 minima over [[wordGramHashes]] (TextSpec keeps
    * that relational formulation as the reference); docs with fewer
    * than `n` tokens are dropped (no grams → no signature). */
  def minhashSignaturesNative(docs: DataFrame, id: String, text: Column, n: Int, k: Int): DataFrame = {
    graft.functions.MinHashSig.register(docs.sparkSession)
    docs
      .select(col(id), call_function("minhash_sig", TextOps.tokens(text), lit(n), lit(k)).as("sig"))
      .where(col("sig").isNotNull)
  }

  /** Band-bucket keys for a MinHash signature frame: one row per
    * (doc, band) with `bkey` = hash of the band's seed slice. SHARED
    * by the self-join and cross-corpus candidate generators — the
    * cross-corpus probe only works while both sides derive
    * bit-identical band keys, so there is exactly one derivation. */
  private[graft] def minhashBanded(sigs: DataFrame, id: String, r: Int, bands: Int): DataFrame =
    sigs.select(
      col(id),
      col("sig"),
      explode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), xxhash64(b, slice(col("sig"), b * r + 1, lit(r)).cast("string")).as("bkey")))
      ).as("bb")
    ).select(col(id), col("sig"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

  /** Fraction of matching seeds between two signatures (the unbiased
    * MinHash similarity estimate). */
  private def estSim(sig1: Column, sig2: Column, k: Int): Column =
    aggregate(
      zip_with(sig1, sig2, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v
    ).cast("double") / k

  /** LSH candidate pairs from MinHash signatures: `bands` bands of
    * `k/bands` rows; docs sharing any band bucket become candidates;
    * estimated similarity = fraction of matching seeds. */
  def minhashLshPairs(sigs0: DataFrame, id: String, k: Int, bands: Int, minEst: Double): DataFrame = {
    require(k % bands == 0)
    val r = k / bands
    // signatures feed both sides of the bucket join: materialize once
    val sigs = sigs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = minhashBanded(sigs, id, r, bands)
    val a = banded.select(col(id).as("doc1"), col("sig").as("sig1"), col("band"), col("bkey"))
    val b = banded.select(col(id).as("doc2"), col("sig").as("sig2"), col("band"), col("bkey"))
    // estimate + filter BEFORE the distinct: the zip_with over k
    // seeds is re-evaluated per band collision (cheap, map-side), but
    // sub-threshold pairs die before the exchange and the distinct's
    // shuffle rows carry 3 narrow columns instead of two k-long
    // signature arrays. `pregate_minhash` counts the band-join volume
    // before the estimate gate — the MinHash twin of
    // `pregate_simhash`, whose growth is similarity-driven (no
    // keyspace floor: band keys live in the full 64-bit minima space)
    val pairs = observeCount(
      a.join(b, Seq("band", "bkey")).where(col("doc1") < col("doc2")),
      "pregate_minhash")
      .withColumn("est_sim", estSim(col("sig1"), col("sig2"), k))
      .where(col("est_sim") >= minEst)
      .select("doc1", "doc2", "est_sim")
      .distinct()
    graft.Caching.reap(observeCount(pairs, "cand_minhash"))(sigs)
  }

  /** 64-bit SimHash per doc from the token multiset, via the native
    * [[graft.functions.SimHash64]] expression: one narrow map pass,
    * no explode and no shuffle (the earlier relational formulation —
    * explode → groupBy(doc, hash) → ±count vectors → vec_sum —
    * shuffled the entire token stream; the per-doc function needs
    * none of it). Values are bit-identical to that formulation: same
    * seed-42 xxhash64 per token, same sign rule per bit. */
  def simhash(docs: DataFrame, id: String, text: Column): DataFrame = {
    graft.functions.SimHash64.register(docs.sparkSession)
    docs.select(col(id), call_function("simhash64", TextOps.tokens(text)).as("simhash"))
  }

  /** SimHash over the word n-GRAM multiset instead of the token
    * multiset. On templated corpora (shared vocabulary, local edits —
    * exactly what synthetic and boilerplate-heavy web text look like)
    * token-level SimHash collapses: docs share most tokens, so nearly
    * ALL pairs land within small hamming distance (measured on the
    * sf0.1 corpus: 951k of 12.5M pairs within hamming 12, vs 256 real
    * near-dups) and the candidate set is useless. Gram-level SimHash
    * uses the same unit as the n-gram Jaccard ground truth, so
    * unrelated docs diverge (~32 bits) while true near-dups stay
    * close. Still one narrow map pass. */
  /** Sliding word-gram STRING window over the materialized token
    * array `__t` (short docs → empty array; the `size < n` guard also
    * keeps the `sequence` bound non-negative). Shared by both SimHash
    * widths so the two fingerprints are built from the SAME gram set
    * — the spec-asserted h0 == simhash64 parity depends on it. */
  private def gramStringWindow(n: Int): Column =
    when(size(col("__t")) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(col("__t")) - n),
        i => concat_ws(" ", slice(col("__t"), i + 1, lit(n)))))

  def simhashGrams(docs: DataFrame, id: String, text: Column, n: Int): DataFrame = {
    graft.functions.SimHash64.register(docs.sparkSession)
    docs.select(col(id), TextOps.tokens(text).as("__t"))
      .select(col(id), call_function("simhash64", gramStringWindow(n)).as("simhash"))
  }

  /** 128-bit variant of [[simhashGrams]]: emits `simhash0`/`simhash1`
    * (two independent 64-bit halves, h0 bit-identical to `simhash`).
    * Same single narrow map pass — the width buys band selectivity,
    * see [[graft.functions.SimHash128]]. */
  def simhashGrams128(docs: DataFrame, id: String, text: Column, n: Int): DataFrame = {
    graft.functions.SimHash128.register(docs.sparkSession)
    docs.select(col(id), TextOps.tokens(text).as("__t"))
      .select(col(id), call_function("simhash128", gramStringWindow(n)).as("__h"))
      .select(col(id),
        element_at(col("__h"), 1).as("simhash0"),
        element_at(col("__h"), 2).as("simhash1"))
  }

  /** Near-dup pairs by SimHash hamming distance <= maxDist, using
    * `bands` equal bit-slices as bucket keys (pigeonhole: dist <
    * bands guarantees one equal band) then exact `bit_count(xor)`
    * verification. Band width trades completeness against bucket
    * selectivity: 4×16 bands are selective enough for web-scale
    * corpora but only guarantee dist<=3; 8×8 bands guarantee dist<=7
    * and (measured on the testdata) catch every planted near-dup up
    * to dist 12. */
  def simhashPairs(hashes0: DataFrame, id: String, maxDist: Int, bands: Int = 4): DataFrame = {
    // bands >= 2: at bands = 1 the 64-bit band width makes
    // `(1L << 64) - 1` wrap to mask 0 (JVM shifts are mod 64) and
    // every key degenerates to 0 — a silent full n² self-join
    require(bands >= 2 && 64 % bands == 0)
    require(maxDist < bands,
      s"pigeonhole completeness needs maxDist < bands (got $maxDist vs $bands): " +
        "a pair can differ in every band otherwise and silently vanish")
    val width = 64 / bands
    val mask = (1L << width) - 1
    // one row per doc: materialize once, both join sides reuse it
    val hashes = hashes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = hashes.select(
      col(id), col("simhash"),
      explode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), call_function("shiftright", col("simhash"), (b * width).cast("int")).bitwiseAND(lit(mask)).as("bkey")))
      ).as("bb")
    ).select(col(id), col("simhash"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

    val a = banded.select(col(id).as("doc1"), col("simhash").as("h1"), col("band"), col("bkey"))
    val b = banded.select(col(id).as("doc2"), col("simhash").as("h2"), col("band"), col("bkey"))
    // hamming-filter BEFORE the pair distinct: band-key chance
    // collisions (2^-width per band per pair) die on a cheap xor
    // instead of flooding the distinct's shuffle. Selectivity scales
    // as n²·bands·2^-width, so bands (completeness: > maxDist) and
    // width (selectivity: ≥ log2 n + margin) pull against each other
    // within the 64-bit budget — a corpus needing maxDist ≈ 12 at
    // n ≫ 10⁶ wants a 128-bit fingerprint, not narrower bands.
    val pairs = a.join(b, Seq("band", "bkey"))
      .where(col("doc1") < col("doc2"))
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .where(col("hamming") <= maxDist)
      .select("doc1", "doc2", "hamming")
      .distinct()
    graft.Caching.reap(observeCount(pairs, "cand_simhash"))(hashes)
  }

  /** 128-bit variant of [[simhashPairs]] over [[simhashGrams128]]
    * output: near-dup pairs with 128-bit hamming <= maxDist, banded
    * via [[graft.functions.SimHashBandKeys]] — `bands` 8-bit keys per
    * band TABLE, `tables` independently bit-permuted tables (default
    * 2), candidates = docs sharing any (table, band) bucket in any
    * table.
    *
    * Why 128 bits: band-key chance collisions scale as
    * n²·bands·2^-width. The 64-bit/16-band layout leaves 4-bit keys —
    * 16 possible values per band, so every band partitions the corpus
    * into <=16 buckets and candidate volume has an n²/32 FLOOR
    * regardless of data (measured round 9: 7.1× time per 10× docs).
    * 8-bit keys widen the band keyspace 16×, dropping the chance-
    * collision constant 16× while the fingerprint stays one narrow
    * map pass.
    *
    * Why two tables: pigeonhole guarantees a band hit only for
    * d128 < bands (16) — per table. True pairs in the window
    * [bands, maxDist] are found by chance collisions, so BANDING
    * recall (not the hamming gate) is the correctness surface; with a
    * second independently-permuted table the miss odds of that window
    * MULTIPLY (measured zero misses per table on the testdata corpus,
    * whose true pairs reach d128 = 22 — see tools/Simhash128Probe),
    * at the price of ~2× pre-gate candidate volume. Corpus sizes
    * where that volume binds should route deep-threshold dedup to
    * MinHash banding instead — [[nearDupPairsAdaptive]] makes exactly
    * that decision, and also tightens maxDist to the corpus's
    * measured margin instead of this signature's loose default.
    *
    * The `pregate_simhash` observe counter measures the band-join
    * volume BEFORE the hamming gate — the n²·bands·2^-(width+1)
    * keyspace-floor term itself, tracked per bench run so sub-
    * quadratic growth is an artifact, not an inference. */
  def simhashPairs128(hashes0: DataFrame, id: String, maxDist: Int,
                      bands: Int = 16, tables: Int = 2): DataFrame = {
    // width <= 63: a 64-bit band width would wrap the key mask to 0
    // (JVM shifts are mod 64) and silently degenerate the LSH join to
    // the full n² self-join it exists to avoid — SimHashBandKeys
    // enforces the same bound at type-check time
    require(bands >= 4 && 128 % bands == 0 && 128 / bands <= 63,
      s"bands must divide 128 with width <= 63 (got $bands)")
    require(tables >= 1, s"need at least one band table (got $tables)")
    graft.functions.SimHashBandKeys.register(hashes0.sparkSession)
    val hashes = hashes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one narrow map pass emits ALL band keys (both tables) as one
    // array; posexplode's position IS the (table, band) bucket id
    val banded = hashes.select(
      col(id), col("simhash0"), col("simhash1"),
      posexplode(call_function("simhash_bandkeys",
        col("simhash0"), col("simhash1"), lit(bands), lit(tables))).as(Seq("band", "bkey")))

    val a = banded.select(col(id).as("doc1"),
      col("simhash0").as("a0"), col("simhash1").as("a1"), col("band"), col("bkey"))
    val b = banded.select(col(id).as("doc2"),
      col("simhash0").as("b0"), col("simhash1").as("b1"), col("band"), col("bkey"))
    // hamming-filter BEFORE the pair distinct, same ordering argument
    // as [[simhashPairs]]: chance collisions die on two xors instead
    // of flooding the distinct's exchange
    val pairs = observeCount(
      a.join(b, Seq("band", "bkey")).where(col("doc1") < col("doc2")),
      "pregate_simhash")
      .withColumn("hamming",
        bit_count(col("a0").bitwiseXOR(col("b0"))) +
          bit_count(col("a1").bitwiseXOR(col("b1"))))
      .where(col("hamming") <= maxDist)
      .select("doc1", "doc2", "hamming")
      .distinct()
    graft.Caching.reap(observeCount(pairs, "cand_simhash"))(hashes)
  }

  /** Upper bound on the SimHash band-join's CHANCE-collision volume:
    * n²/2 unordered pairs × bands·tables buckets × 2^-width per-bucket
    * collision odds. This is the keyspace FLOOR of fixed-width SimHash
    * banding — data-independent, quadratic in corpus size (measured:
    * 0.81M → 80.9M → 729M at 5k/50k/150k docs for 16×8-bit bands) —
    * and therefore the quantity the routing decision must bound.
    * MinHash banding has no such floor (its band keys live in the full
    * 64-bit minima space; collisions are similarity-driven), which is
    * why it is the deep-threshold path past the cutover. */
  private[graft] def simhashPreGateBound(nDocs: Long, bands: Int, tables: Int): Double =
    nDocs.toDouble * nDocs / 2.0 * (bands.toDouble * tables) / math.pow(2.0, 128.0 / bands)

  /** Certified hamming budget from the CORPUS-WIDE true-pair
    * distance maximum: `min(cap, max + 3)`. Because every true pair
    * was measured (not a sample), exactness on this corpus needs only
    * `>= max`; the +3 absorbs small corpus drift under a reused key.
    * No sigma-extrapolation term — that belongs to sample fitting,
    * and over-widens a certificate to the point of never tightening
    * (a heavy-tailed corpus with max 22 would fit μ+6σ > the 31 cap).
    * Fewer than `minPairs` observations is thin evidence that the
    * corpus HAS a stable margin — keep the cap. */
  private[graft] def certifiedBudgetFromStats(
      nPairs: Long, maxHam: Int, cap: Int, minPairs: Long): Int =
    if (nPairs < minPairs) cap
    else math.min(cap, maxHam + 3)

  /** Certified hamming budgets, keyed by caller-supplied corpus key +
    * routing parameters. A budget lands here only after a full
    * corpus-wide run at the loose cap measured every true pair's
    * hamming distance — so reusing it prunes only candidates proven
    * non-pairs on this corpus (plus the +3/6σ drift margin). The key
    * MUST identify an immutable corpus snapshot (a parquet dir, an
    * index path — the Ivf.save contract); a mutated corpus under a
    * reused key downgrades the certificate to a statistical prior. */
  private val budgetMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** `stripped` = the EFFECTIVE sketch-input posture (the armed
    * boilerplate guard fired AND universal blocks were removed from
    * the sketch input): a hamming-budget certificate is a measurement
    * of the est-sim distribution the sketch actually saw, so one
    * minted on original text must never gate a run sketching on
    * stripped text (or vice versa) — the margin contract would be
    * validated against a different distribution (ADVICE r15). Route
    * needs no key component: certificates are only minted/consulted
    * on the SimHash branch. */
  private def budgetMemoKey(key: String, nDocs: Long, n: Int,
      minJaccardPct: Int, bands: Int, tables: Int, cap: Int,
      stripped: Boolean = false): String =
    s"$key|$nDocs|$n|$minJaccardPct|$bands|$tables|$cap|sketch=${if (stripped) "stripped" else "orig"}"

  private[graft] def certifiedBudget(key: String, nDocs: Long, n: Int,
      minJaccardPct: Int, bands: Int, tables: Int, cap: Int,
      stripped: Boolean = false): Option[Int] =
    Option(budgetMemo.get(budgetMemoKey(key, nDocs, n, minJaccardPct,
      bands, tables, cap, stripped))).map(_.intValue)

  private[graft] def clearBudgetMemo(): Unit = budgetMemo.clear()

  private[graft] def budgetMemoSize: Int = budgetMemo.size

  /** Corpus snapshot key: the caller-visible path PLUS a cheap content
    * fingerprint (file listing digest: relative name, size, mtime per
    * data file). A corpus mutated IN PLACE under the same path gets a
    * different key, so a certified budget can never be reused against
    * data it was not measured on (the r12 memo keyed on path + row
    * count alone, which a count-preserving mutation could fool). The
    * listing walk is metadata-only — no file content is read — so the
    * cost is one directory scan per query build, trivial next to the
    * corpus scan itself.
    *
    * The listing goes through the Hadoop FileSystem resolved from the
    * active session's hadoopConf (falling back to a default conf), so
    * remote corpus URIs (hdfs://, s3a://) fingerprint their actual
    * file listings — the 100 TB deployment regime — instead of
    * silently degenerating to a constant. A path that resolves to
    * NOTHING throws: a key for an invisible corpus would let every
    * later mutation reuse a stale certificate, the exact staleness
    * class the key exists to eliminate. */
  def snapshotKey(corpusPath: String): String = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(corpusPath)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"snapshotKey: corpus path does not exist (or is invisible to this " +
          s"filesystem): $corpusPath — refusing to mint a key a stale " +
          s"certificate could hide behind")
    val base = fs.makeQualified(p)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val st = it.next()
      entries += s"${st.getPath.toString.stripPrefix(base.toString)}|${st.getLen}|${st.getModificationTime}\n"
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => digest.update(e.getBytes("UTF-8")))
    val hex = digest.digest().map("%02x".format(_)).mkString
    s"$corpusPath#$hex"
  }

  /** Default on-disk budget store: certified budgets persist across
    * driver JVMs here unless the caller points elsewhere. Keys carry
    * the corpus content fingerprint ([[snapshotKey]]), so a shared
    * store can never serve a stale certificate to changed data. The
    * default is PER-USER (user name in the path, owner-only perms on
    * create) — a world-writable shared store would let any local user
    * plant a crafted certificate that silently narrows another user's
    * hamming gate; [[loadBudget]] additionally range-checks what it
    * reads so even a writable store can only widen back to the cap,
    * never below zero. */
  def defaultBudgetStore: String =
    sys.env.getOrElse("SPARK_GRAFT_BUDGET_DIR",
      s"${sys.props("java.io.tmpdir")}/graft_hamming_budgets_${sys.props("user.name")}")

  private def budgetFile(storeDir: String, memoKey: String): java.nio.file.Path = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(memoKey.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.nio.file.Paths.get(storeDir, s"$h.budget")
  }

  /** Persist one certified (key, budget) pair — the
    * [[graft.vector.Ivf.save]] build-once/probe-many shape applied to
    * the hamming certificate: a fresh driver JVM seeds the memo from
    * disk instead of re-paying the loose-cap certification run
    * (visible in r12 boards as q_dedup_simhash 2.69 s cold vs
    * 1.48-1.68 s warm). The file stores the FULL memo key and the
    * loader verifies it, so a filename-hash collision degrades to a
    * miss, never a wrong budget. */
  private[graft] def saveBudget(storeDir: String, memoKey: String, budget: Int): Unit = {
    import java.nio.file.Files
    try {
      val dir = java.nio.file.Paths.get(storeDir)
      Files.createDirectories(dir)
      // owner-only store: a certificate is trusted input to the
      // hamming gate, so nobody else gets to write one for us
      try {
        import java.nio.file.attribute.PosixFilePermissions
        Files.setPosixFilePermissions(dir, PosixFilePermissions.fromString("rwx------"))
      } catch { case _: UnsupportedOperationException => () } // non-POSIX FS
      Files.writeString(budgetFile(storeDir, memoKey), s"$memoKey\n$budget\n")
    } catch { case scala.util.control.NonFatal(e) =>
      // a read-only store must not fail the query — the certificate
      // is an accelerator; the in-JVM memo still has it
      System.err.println(s"[dedup] could not persist certified budget: ${e.getMessage}")
    }
  }

  /** Load a persisted certificate, VERIFYING both the full memo key
    * and the budget's range: anything outside [0, cap] (a tampered or
    * corrupt entry — a too-small budget would silently narrow the
    * hamming gate and drop true pairs) is treated as a miss, so the
    * worst a bad store can do is force the loose-cap certification
    * run to be re-paid. */
  private[graft] def loadBudget(storeDir: String, memoKey: String, cap: Int): Option[Int] = {
    import java.nio.file.Files
    val f = budgetFile(storeDir, memoKey)
    try {
      if (!Files.exists(f)) None
      else Files.readString(f).split("\n", -1).toList match {
        case k :: b :: _ if k == memoKey =>
          scala.util.Try(b.trim.toInt).toOption.filter(v => v >= 0 && v <= cap)
        case _ => None // foreign/corrupt entry: treat as a miss
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deep-threshold (exact n-gram Jaccard >= minJaccardPct) near-dup
    * pair detection with ADAPTIVE candidate routing — the code path
    * that makes SimHash banding's keyspace floor degrade by
    * construction instead of by operator choice.
    *
    * The output contract is sketch-independent: candidates from
    * WHICHEVER sketch are verified by [[verifyPairsExact]], so the
    * result is defined by the exact threshold alone and both routes
    * produce the same pairs (each sketch's recall is probe-measured /
    * pigeonhole-bounded as documented on its generator).
    *
    * Routing: the SimHash pre-gate chance-collision bound
    * ([[simhashPreGateBound]]) is compared against a LINEAR candidate
    * budget (`candBudgetPerDoc · n`). Under the budget, SimHash runs.
    * Past the budget (~33k docs at the defaults), the same exact
    * decision routes through MinHash banding, whose candidate volume
    * is similarity-driven with no keyspace floor — at web scale the
    * pre-gate join of 16×8-bit SimHash banding materializes
    * ~n²/16 rows regardless of how fast the hamming filter kills
    * them, which is a scale-killer a 1000-executor cluster cannot
    * outrun. Production SimHash deployments avoid this with tight
    * hamming budgets (d <= 3); deep thresholds (J >= 50 ⇒ d128 up to
    * ~22 on this corpus) genuinely need the floor-free sketch.
    *
    * Recall, stated per route (the sketch is the only statistical
    * stage — verification is exact): the SimHash route's per-table
    * banding recall is pigeonhole-GUARANTEED for d128 < bands (< 16
    * at the defaults) and statistical in the window [bands, gate];
    * the second independently-permuted table multiplies that window's
    * per-table miss odds. The MinHash route misses a pair of true
    * Jaccard J with probability (1−J^(k/bands))^bands — ≈0.1% at
    * exactly J=0.5 with the 24×2 defaults, vanishing as J grows — so
    * past the cutover the contract is LSH-statistical, the standard
    * web-scale dedup trade.
    *
    * Hamming-gate tightening is certificate-driven, never sampled:
    * with no prior evidence the gate is the loose `hammingCap`
    * (chance collisions sit ~5.7σ above it at 128 bits, so the cap
    * drops no true candidate the banding surfaced), and that run
    * doubles as the CERTIFICATION — it measures every verified true
    * pair's hamming corpus-wide (one extra join against the already-
    * checkpointed candidates plus a one-row agg, NOT a re-run of the
    * pipeline) and memoizes `min(cap, max+3)` under
    * `budgetKey`. Later runs on the same corpus key reuse the
    * certified budget and prune only candidate pairs proven non-dups.
    * This replaces round 11's per-invocation 1/16-pair sample probe,
    * which (a) re-paid ~6% of the pipeline on EVERY run and (b) could
    * clip a true pair whose distance sat outside the sampled tail —
    * the certificate is fitted on all pairs, so neither holds.
    * `hammingBudget` lets a caller inject a budget certified out of
    * band (the build-once/probe-many shape of [[vector.Ivf.save]]);
    * `budgetStore` points at an on-disk certificate directory
    * ([[saveBudget]]/[[loadBudget]]) so certificates survive driver
    * restarts — pair it with a [[snapshotKey]]-fingerprinted
    * `budgetKey` so a mutated corpus can never reuse one.
    *
    * `route` pins the candidate generator: "adaptive" (default) keeps
    * the pre-gate-bound routing above; "minhash" forces the floor-free
    * MinHash branch regardless of corpus size. The pinned route exists
    * for twin contracts — [[graft.operators.CorpusIncrementalDag]]'s
    * standing signature index is MinHash, so its full-rebuild
    * equivalence target must sketch with the SAME generator (two
    * sketches have independent probabilistic recall; equality claimed
    * across different sketches would be recall-coincidental).
    *
    * `boilerGuardPermille` > 0 arms the boilerplate-before-banding
    * guard: a universal banner (one block on ~all docs) pushes every
    * pairwise est-sim toward the banding threshold, and band-collision
    * volume stops being true-pair-driven — the one input shape that
    * breaks the banding contract SILENTLY (wall time blows up, answers
    * stay right). The guard measures corpus gram coverage by high-df
    * grams ([[boilerplateCoveragePermille]]) and, at or above the
    * bound, WARNS via the `boiler_coverage` observe metric + log.
    * With `boilerStripForSketch` it additionally removes UNIVERSAL
    * blocks (df ≥ half the docs, [[stripUniversalBlocksForSketch]])
    * from the SKETCH input only — candidate volume returns to
    * content-similarity-driven. Contract change, stated: pairs whose
    * similarity lives ONLY in universal boilerplate are then not
    * candidates (by design — those are banner matches, not content
    * dups); verification stays exact on the ORIGINAL text. */
  def nearDupPairsAdaptive(
      docs: DataFrame, id: String, text: Column, n: Int, minJaccardPct: Int,
      candBudgetPerDoc: Long = 2048,
      simhashBands: Int = 16, simhashTables: Int = 2, hammingCap: Int = 31,
      minhashK: Int = 48, minhashBands: Int = 24, minhashMinEst: Double = 0.25,
      hammingBudget: Option[Int] = None, budgetKey: Option[String] = None,
      marginMinPairs: Long = 12, budgetStore: Option[String] = None,
      route: String = "adaptive",
      boilerGuardPermille: Int = 0, boilerStripForSketch: Boolean = false): DataFrame = {
    require(route == "adaptive" || route == "minhash",
      s"nearDupPairsAdaptive: unknown route '$route' (adaptive | minhash)")
    // one cheap count (parquet row-group stats) sizes the decision
    val nDocs = docs.count()
    // boilerplate-before-banding guard (one gram-grain aggregate;
    // armed only when the caller sets a bound)
    val boilerCov =
      if (boilerGuardPermille > 0) boilerplateCoveragePermille(docs, id, text, n, nDocs)
      else -1L
    val guardFired = boilerGuardPermille > 0 && boilerCov >= boilerGuardPermille
    if (guardFired) log.warn(
      s"nearDupPairsAdaptive: high-df boilerplate covers $boilerCov permille of gram " +
        s"positions (bound $boilerGuardPermille) — banding candidate volume is " +
        s"boilerplate-driven; ${if (boilerStripForSketch) "sketching on universal-block-stripped text"
        else "consider boilerStripForSketch or a paragraph strip before dedup"}")
    // sketch input: original text, or the universal-block-stripped
    // view when the armed guard fired (verification below ALWAYS
    // reads the original docs — the decision contract is unchanged)
    val sketchDocs =
      if (guardFired && boilerStripForSketch)
        stripUniversalBlocksForSketch(docs, id, text, nDocs)
      else docs.select(col(id), text.as("__stext"))
    def withGuardMetric(df: DataFrame): DataFrame =
      if (boilerGuardPermille > 0)
        df.observe("boiler_coverage", max(lit(boilerCov)).as("n")) else df
    val preGate = simhashPreGateBound(nDocs, simhashBands, simhashTables)
    if (route == "minhash" || preGate > candBudgetPerDoc.toDouble * nDocs) {
      // floor-free route: MinHash band keys collide on similarity,
      // not keyspace exhaustion — candidate volume stays linear in
      // true-pair density at any corpus size
      val sigs = minhashSignaturesNative(sketchDocs, id, col("__stext"), n, minhashK)
      val cands = minhashLshPairs(sigs, id, minhashK, minhashBands, minhashMinEst)
      withGuardMetric(verifyPairsExact(cands, docs, id, text, n, minJaccardPct)
        .observe("route_minhash", max(lit(1L)).as("n")))
    } else {
      val memoKey = budgetKey.map(k => budgetMemoKey(k, nDocs, n,
        minJaccardPct, simhashBands, simhashTables, hammingCap,
        stripped = guardFired && boilerStripForSketch))
      val known: Option[Int] = hammingBudget
        .orElse(memoKey.flatMap(k => Option(budgetMemo.get(k)).map(_.intValue)))
        .orElse(for {
          k <- memoKey; d <- budgetStore; b <- loadBudget(d, k, hammingCap)
        } yield { budgetMemo.put(k, b); b }) // disk certificate seeds the memo
      val gate = known.getOrElse(hammingCap)
      val cands = simhashPairs128(simhashGrams128(sketchDocs, id, col("__stext"), n), id,
        maxDist = gate, bands = simhashBands, tables = simhashTables)
      val verified = verifyPairsExact(cands, docs, id, text, n, minJaccardPct)
      val out =
        if (known.isEmpty && memoKey.isDefined) {
          // certification: true-pair hamming stats ride this run —
          // `cands` is checkpointed, so the join back for distances
          // scans materialized rows, and the stats agg is one row
          val withHam = graft.Caching.reap(
            verified.join(cands.select("doc1", "doc2", "hamming"),
              Seq("doc1", "doc2")))()
          val st = withHam.agg(count(lit(1)).as("n"),
            max("hamming").as("max")).head()
          val certified =
            if (st.getLong(0) == 0L) hammingCap
            else certifiedBudgetFromStats(st.getLong(0),
              st.getAs[Number](1).intValue(), hammingCap, marginMinPairs)
          budgetMemo.put(memoKey.get, certified)
          // persist the certificate so the NEXT driver JVM starts warm
          budgetStore.foreach(d => saveBudget(d, memoKey.get, certified))
          withHam.drop("hamming")
        } else verified
      // max() metrics: idempotent under a Sort's sampling-pass
      // double-fire, so callers may orderBy above them
      withGuardMetric(out.observe("route_minhash", max(lit(0L)).as("n"))
        .observe("hamming_gate", max(lit(gate.toLong)).as("n")))
    }
  }

  /** Candidate-volume telemetry: a named `observe` counter on the
    * pair stream, surfaced per query by Bench's execution listener
    * (BENCH JSON `observed`). Sketch quality at scale IS the
    * candidate count — sf-to-sf candidate growth becomes a tracked
    * artifact instead of something inferred from seconds. Metrics
    * ride the existing action; no extra job.
    *
    * Placement: BELOW a [[graft.Caching.reap]] checkpoint (counted in
    * the one materializing pass) or ABOVE any orderBy — a counter
    * under a range-partitioned Sort double-fires on the sampling
    * pass. */
  def observeCount(df: DataFrame, name: String): DataFrame =
    df.observe(name, count(lit(1)).as("n"))

  /** EXACT n-gram Jaccard verification of candidate pairs: the
    * refine step of the candidate-generate → verify dedup pipeline.
    * Recounts grams only for docs that appear in a candidate pair
    * (broadcast semi-join gate), so the cost is proportional to the
    * candidate set — at 100 TB the sketches (MinHash bands, SimHash
    * buckets) cut n² down to candidates and this pass makes the final
    * DECISION exact, which is also what makes the whole pipeline
    * verifiable against an engine-independent oracle: the output is
    * defined by the Jaccard threshold alone, with the sketch as a
    * (recall-spec'd) accelerator. Emits (doc1, doc2, jaccard_pct)
    * for candidates with exact Jaccard >= minJaccardPct. */
  def verifyPairsExact(
      candidates: DataFrame, docs: DataFrame, id: String, text: Column,
      n: Int, minJaccardPct: Int
  ): DataFrame = {
    val inPairs = pairEndpoints(candidates, "__d")
    // gate BEFORE the gram work: the expensive tokenize + hash pass
    // touches candidate docs only. Gram sets stay as one array row per
    // doc (wordGramHashSets), so verification is two doc-id hash joins
    // + a map-side array_intersect — no postings explode and no
    // per-pair aggregate shuffle, hence nothing to persist/reap.
    val gated = docs.join(broadcast(inPairs), col(id) === col("__d")).drop("__d")
    val g = wordGramHashSets(gated, id, text, n)
    candidates.select("doc1", "doc2")
      .join(g.select(col(id).as("doc1"), col("__grams").as("__g1")), "doc1")
      .join(g.select(col(id).as("doc2"), col("__grams").as("__g2")), "doc2")
      .withColumn("__s", size(array_intersect(col("__g1"), col("__g2"))).cast("long"))
      .withColumn("__u", size(col("__g1")) + size(col("__g2")) - col("__s"))
      // `__s > 0 && __u > 0` reproduces the exploded-postings
      // contract (pairs need ≥1 shared gram; docs under n tokens have
      // empty sets and drop out) — phrased over BOTH sides' columns
      // deliberately: a per-side `size(__g1) > 0` guard is a
      // single-input predicate Catalyst pushes below the broadcast
      // gate join, where alias substitution inlines the whole
      // tokenize+hash gram chain into a scan filter evaluated over
      // the ENTIRE corpus (measured 7× the query's cost at sf0.1)
      .where(col("__s") > 0 && col("__u") > 0 &&
        col("__s") * 100 >= col("__u") * minJaccardPct)
      .select(col("doc1"), col("doc2"),
        call_function("div", col("__s") * 200L + col("__u"), col("__u") * 2L).as("jaccard_pct"))
  }

  /** MinHash LSH candidates ACROSS two corpora (incremental dedup:
    * new batch vs existing corpus). Same banding as
    * [[minhashLshPairs]], but the join pairs left-side docs only with
    * right-side docs — the n² of the self-join never appears, and at
    * 100 TB the existing corpus's band keys are a precomputed index
    * the new batch probes. Emits (doc1 = left id, doc2 = right id,
    * est_sim). */
  def minhashLshPairsAcross(
      leftSigs: DataFrame, rightSigs: DataFrame, id: String,
      k: Int, bands: Int, minEst: Double
  ): DataFrame = {
    require(k % bands == 0)
    val r = k / bands
    val a = minhashBanded(leftSigs, id, r, bands)
      .select(col(id).as("doc1"), col("sig").as("sig1"), col("band"), col("bkey"))
    val b = minhashBanded(rightSigs, id, r, bands)
      .select(col(id).as("doc2"), col("sig").as("sig2"), col("band"), col("bkey"))
    // same est-before-distinct ordering as [[minhashLshPairs]]: kill
    // sub-threshold collisions before the exchange, dedup narrow rows
    val pairs = a.join(b, Seq("band", "bkey"))
      .withColumn("est_sim", estSim(col("sig1"), col("sig2"), k))
      .where(col("est_sim") >= minEst)
      .select("doc1", "doc2", "est_sim")
      .distinct()
    // checkpoint under the counter like every other cand_* generator:
    // verifyPairsExact consumes the candidate frame twice (endpoint
    // gate + main join), and an un-checkpointed CollectMetrics node
    // would be duplicated into both subtrees of ONE physical plan —
    // double-fire/overwrite behavior is version-dependent, and some
    // Spark versions reject duplicate observed-metric subtrees outright
    graft.Caching.reap(observeCount(pairs, "cand_minhash_across"))()
  }

  /** [[minhashLshPairsAcross]] with the Bloom pre-gate composed in —
    * the incremental-release probe shape: band keys of the (small)
    * NEW batch build a Bloom ([[BloomDedup.gateBigSide]]); the
    * standing corpus's banded rows are probed map-side and only
    * possible band collisions reach the band join, so the standing
    * side never shuffles at corpus scale for a batch-sized question.
    * Exactness unchanged: Bloom false positives die in the exact
    * (band, bkey) equijoin; false negatives are impossible, so no
    * candidate the ungated probe would surface is lost — the two
    * generators emit the SAME pair set (spec-asserted).
    *
    * Driver state: the batch's band-key filter (~10 bits per
    * batch-doc-band) — bounded by the batch, never the corpus. */
  def minhashLshPairsAcrossGated(
      newSigs: DataFrame, standingSigs: DataFrame, id: String,
      k: Int, bands: Int, minEst: Double
  ): DataFrame = {
    require(k % bands == 0)
    val r = k / bands
    val bandKey = xxhash64(col("band"), col("bkey"))
    // batch side: banded once, persisted — it feeds the Bloom build
    // (one batch-bounded action) and the join probe
    val a = minhashBanded(newSigs, id, r, bands)
      .select(col(id).as("doc1"), col("sig").as("sig1"), col("band"), col("bkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = BloomDedup.gateBigSide(
      minhashBanded(standingSigs, id, r, bands)
        .select(col(id).as("doc2"), col("sig").as("sig2"), col("band"), col("bkey")),
      bandKey, a, bandKey)
    val pairs = a.join(b, Seq("band", "bkey"))
      .withColumn("est_sim", estSim(col("sig1"), col("sig2"), k))
      .where(col("est_sim") >= minEst)
      .select("doc1", "doc2", "est_sim")
      .distinct()
    graft.Caching.reap(observeCount(pairs, "cand_minhash_across_gated"))(a)
  }

  /** Benchmark-contamination report: for every corpus doc sharing at
    * least one word n-gram with any doc of the (small) eval set, the
    * number of distinct shared grams and of eval docs hit. This is
    * the standard pre-training hygiene check against test-set
    * leakage (n-gram collision detection à la GPT-3 appendix C /
    * PaLM; n = 8–13 in production, sized to the corpus here).
    *
    * Scale shape: the eval side is benchmarks — thousands of docs,
    * not terabytes — so its distinct (gram, eval_doc) postings
    * BROADCAST; the corpus side is one narrow gram pass + a broadcast
    * hash join, no corpus shuffle at all until the tiny per-doc
    * aggregate of matching rows. At 100 TB the whole check costs one
    * scan. */
  def contaminationReport(
      corpus: DataFrame, evalDocs: DataFrame, id: String, text: Column, n: Int
  ): DataFrame = {
    val corpusGrams = wordGramHashes(corpus, id, text, n)
    val evalGrams = wordGramHashes(evalDocs, id, text, n)
      .select(col(id).as("__eval_id"), col("gram"))
    corpusGrams
      .join(broadcast(evalGrams), "gram")
      .groupBy(col(id))
      .agg(
        countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("__eval_id")).as("n_eval_docs_hit"))
  }

  /** Resolve near-dup candidate pairs into groups and pick a
    * canonical keeper per group: iterative min-label propagation
    * (each doc adopts the smallest id reachable through the pair
    * graph) ACCELERATED by pointer jumping — after the neighbor step,
    * each node also adopts its label's current label (path doubling),
    * so reachable distance roughly doubles per round and convergence
    * is O(log diameter) instead of O(diameter). Cliquish dedup graphs
    * still converge in 2-3 rounds; chainy similarity graphs (an
    * embedding threshold graph percolating near its critical value
    * can have diameter in the hundreds) no longer hit the iteration
    * cap — measured at sf0.1: the cosine≥0.40 graph needs >10
    * plain-propagation rounds but 5 doubled rounds.
    *
    * Output: (id, group_id) where group_id = min doc id of the
    * component; docs not in any pair are absent (they are their own
    * keeper). Fully distributed: each round is two keyed joins
    * (neighbor min + jump), one materialization.
    */
  def resolveGroups(
      pairs: DataFrame, maxIter: Int = 20,
      localEdgeBudget: Long = 5L * 1000 * 1000
  ): DataFrame = {
    // ADAPTIVE: candidate generation leaves a pair graph orders of
    // magnitude smaller than the corpus (bands/buckets bound it), so
    // the common case fits one task — resolve it there with a
    // union-find instead of K global rounds, each of which costs a
    // full scheduling cycle. Same decision shape as AQE's
    // broadcast-vs-shuffle: measure the actual size, pick the
    // strategy. 5M edges ≈ 80 MB in the task — comfortably under
    // executor memory; a graph past the budget takes the iterative
    // path below, whose per-round cost is data-bound at that size.
    // the single-task path needs long ids; restrict it to integral id
    // types (casting a string/uuid id would NULL out silently). Any
    // other ordered type keeps the fully generic iterative path.
    val integralIds = Seq("doc1", "doc2").forall { c =>
      pairs.schema(pairs.schema.fieldIndex(c)).dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      }
    }
    val directed = (
      if (integralIds)
        pairs.select(col("doc1").cast("long").as("a"), col("doc2").cast("long").as("b"))
      else pairs.select(col("doc1").as("a"), col("doc2").as("b"))
    ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = directed.count()
    if (integralIds && nEdges <= localEdgeBudget) return resolveLocal(directed)

    // undirected edge list, both directions
    val edges = directed
      .unionByName(directed.select(col("b").as("a"), col("a").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // localCheckpoint (not persist) each round: iterative plans nest
    // their full lineage otherwise and the optimizer blows the heap
    // after a few dozen rounds
    var labels = edges.groupBy("a").agg(min(col("b")).as("nb"))
      .select(col("a").as("id"), least(col("a"), col("nb")).as("label"))
      .localCheckpoint()

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prev = labels
      // each node adopts the min label among itself and its neighbors
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "b"), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("label")).as("nl"))
      // pointer jump THROUGH THE PREVIOUS round's labels: a node's
      // label is always the id of a node in its own component (labels
      // only travel along edges), so that node's label is a valid —
      // and monotonically smaller-or-equal — label. Jumping via the
      // already-checkpointed `labels` instead of the neighbor-stepped
      // frame keeps ONE materialization per round (the stepped frame
      // would otherwise be read twice and need its own checkpoint);
      // the jump reaches one round less far, which costs at most one
      // extra O(log d) round.
      val byId = labels.select(col("id").as("__jid"), col("label").as("__jlabel"))
      // convergence is observed as a side effect of the checkpoint
      // materialization (one job per round) instead of a separate
      // join+count job: the old label is already in the plan, so the
      // changed-row count rides along for free. `__old` is the label
      // BEFORE the neighbor step: converged = the full combined round
      // moved nothing, which implies the classic fixpoint.
      val obs = new org.apache.spark.sql.Observation()
      val stepped = labels.join(neighborLabels, Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // round 1 skips the jump: labels have only traveled one hop, so
      // label-of-label ≈ label and cliquish graphs (the common dedup
      // case) would pay the extra join for nothing; from round 2 the
      // doubling is what keeps chainy graphs off the iteration cap
      val jumped = if (iter == 0) stepped else stepped
        .join(byId, col("label") === col("__jid"), "left")
        .select(col("id"), col("__old"),
          least(col("label"), coalesce(col("__jlabel"), col("label"))).as("label"))
      val next = jumped
        .observe(obs, sum(when(col("label") =!= col("__old"), 1L).otherwise(0L)).as("changed"))
        .select(col("id"), col("label"))
        .localCheckpoint()
      labels = next
      // null-safe: sum() over an empty labels frame observes NULL,
      // which must read as converged (0 changed rows), not as another
      // maxIter rounds of checkpoint jobs over empty data
      converged = Option(obs.get("changed")).forall(_ == 0L)
      iter += 1
      // free the superseded round's checkpoint blocks now — the
      // ContextCleaner would only reclaim them at some future GC
      graft.Caching.release(prev)
    }
    edges.unpersist()
    directed.unpersist()
    // a cap-hit without convergence means the labels are NOT component
    // minima — exactly the silent-wrongness class the round-7 oracle
    // caught (a chainy threshold graph outran the old cap). With
    // pointer jumping, maxIter=20 covers diameter ~2^20, so tripping
    // this means something is genuinely wrong: fail loud, never emit
    // almost-resolved groups.
    require(converged,
      s"resolveGroups did not converge within $maxIter doubled rounds — " +
        "raise maxIter only after confirming the pair graph is sane")
    labels.select(col("id").as("doc_id"), col("label").as("group_id"))
  }

  /** Single-task component resolution for a bounded pair graph:
    * union-find with min-root union (the smaller root always becomes
    * parent, so every final root IS its component's minimum id) and
    * path compression. Deterministic for any edge order; the emitted
    * labels are identical to the iterative path's fixpoint. */
  private def resolveLocal(directed: DataFrame): DataFrame = {
    val spark = directed.sparkSession
    import spark.implicits._
    val out = directed.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = parent.getOrElseUpdate(x, x)
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      // snapshot the keys first: find() path-compresses (mutates) and
      // LongMap iteration is not mutation-safe
      val keys = parent.keysIterator.toArray
      keys.iterator.map(x => (x, find(x)))
    }.toDF("doc_id", "group_id")
    // materialize before releasing the edge cache (reap checkpoints)
    graft.Caching.reap(out)(directed)
  }

  /** THE paragraph-block derivation — the one place the corpus is cut
    * into non-overlapping `paraTokens`-token blocks. Batch profile
    * (#141), strip emit (#142), funnel stage 4 (#144) and the
    * streaming twin ([[graft.streaming.ParagraphStream]]) all consume
    * THIS projection, so their block boundaries and hashes stay
    * bit-identical by construction (the same single-derivation
    * contract [[minhashBanded]] gives the MinHash gate).
    *
    * Input: a frame with the id column and a token ARRAY column named
    * `__t` (callers tokenize via [[TextOps.tokens]] — some also need
    * the array for closed-form block counts, so tokenization stays
    * with them). Output: (id, para_idx, para, ntok) — one row per
    * block, all map-side (generator over the token array, no
    * exchange); consumers hash/project before any shuffle of theirs. */
  def paragraphBlocks(toks: DataFrame, id: String, paraTokens: Int): DataFrame = {
    require(paraTokens > 0)
    toks.select(col(id), posexplode(
      transform(
        sequence(lit(0), ceil(size(col("__t")) / lit(paraTokens.toDouble)).cast("int") - 1),
        i => struct(
          concat_ws(" ", slice(col("__t"), i * paraTokens + 1, lit(paraTokens))).as("para"),
          least(lit(paraTokens.toLong),
            size(col("__t")).cast("long") - i * paraTokens.toLong).as("ntok")))
    ).as(Seq("para_idx", "__b")))
      .select(col(id), col("para_idx"), col("__b.para").as("para"), col("__b.ntok").as("ntok"))
  }

  /** Paragraph-grain exact dedup profile (C4/CCNet-style): split each
    * doc into non-overlapping `paraTokens`-token blocks (the corpus
    * has no layout newlines, so the block IS the paragraph grain —
    * the same windowing as the chunking operator), hash each block,
    * keep the globally FIRST occurrence of every distinct block
    * (smallest (doc_id, para_idx)), and report per doc how many of
    * its paragraphs a paragraph-dedup pass would strip.
    *
    * Output: (doc_id, n_paras, n_dup_paras, dup_permille), one row
    * per non-null-text doc.
    *
    * Scale shape: the paragraph strings live only inside the map-side
    * projection — md5 reduces each to a 32-byte key BEFORE the only
    * corpus-scale exchange, and that exchange is a map-side-combinable
    * `groupBy(hash).agg(min(struct(doc_id, para_idx)))`, NOT a window:
    * a window cannot partial-aggregate, so a viral boilerplate block
    * (cookie banner, license header — billions of occurrences at
    * 100 TB) would sort its entire occurrence set inside one task.
    * With the combinable min, every map task emits ONE row per block
    * hash, so the reduce side sees at most (#map tasks) rows per hash
    * regardless of block virality. Exactly one global first exists per
    * distinct block, so per doc
    *   n_dup_paras = n_paras − #{blocks whose global first is in doc}
    * — no join back to the occurrence stream is needed (a join on the
    * block hash would reintroduce the skew the aggregate removed); the
    * only join is doc-grain × doc-grain, one row per doc each side.
    * n_paras comes in closed form from the token count
    * (ceil(|tokens|/paraTokens), identical to the exploded row count
    * since split("","\\s+") = [""] keeps |tokens| ≥ 1), so the text is
    * tokenized once per consumer but exploded and hashed only once.
    * First-occurrence by (doc_id, para_idx) is total and unique, so
    * the result is deterministic at any parallelism on any engine. */
  def paragraphDedup(docs: DataFrame, id: String, text: Column, paraTokens: Int): DataFrame = {
    require(paraTokens > 0)
    val base = docs
      .where(text.isNotNull)
      .select(col(id), TextOps.tokens(text).as("__t"))
    val paras = paragraphBlocks(base, id, paraTokens)
      .select(col(id), col("para_idx"), md5(col("para")).as("__h"))
    val firstsPerDoc = paras
      .groupBy("__h")
      .agg(min(struct(col(id).as("d"), col("para_idx"))).as("__f"))
      .groupBy(col("__f.d").as("doc_id"))
      .agg(count(lit(1)).as("__n_first"))
    base
      .select(col(id).as("doc_id"),
        ceil(size(col("__t")) / lit(paraTokens.toDouble)).cast("long").as("n_paras"))
      .join(firstsPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        (col("n_paras") - coalesce(col("__n_first"), lit(0L))).as("n_dup_paras"))
      .withColumn("dup_permille",
        call_function("div", col("n_dup_paras") * 1000L, col("n_paras")))
      .orderBy("doc_id")
  }

  /** Paragraph-grain strip EMIT (the action [[paragraphDedup]] only
    * profiles): every doc's text rebuilt from the paragraph blocks
    * whose globally FIRST occurrence it owns — the C4/CCNet boilerplate
    * strip that feeds corpus filtering. Output (doc_id, n_paras,
    * n_kept, text_clean), one row per non-null-text doc; a doc whose
    * every block first occurred elsewhere keeps n_kept = 0 and
    * text_clean = "" (present, not dropped).
    *
    * Scale shape: same skew-free skeleton as [[paragraphDedup]], with
    * one twist — the kept rows ARE the firsts, so the block STRING
    * rides the combinable `min(struct(doc_id, para_idx, para))`
    * aggregate ((doc_id, para_idx) is unique, so the carried string
    * never decides the min) and NO join back to the occurrence stream
    * exists. A viral block still reduces to ≤ #map-tasks rows; the
    * rebuild is a per-doc sort of that doc's OWN kept blocks
    * (bounded by doc size, the same bound the corpus's text column
    * already implies) and the only join is doc-grain × doc-grain.
    * Within-doc repeats strip too (multiplicity is corpus-wide) —
    * the kept text is the whitespace-normalized token rejoin, the
    * standard C4 formulation. */
  def paragraphStrip(docs: DataFrame, id: String, text: Column, paraTokens: Int): DataFrame = {
    require(paraTokens > 0)
    val base = docs
      .where(text.isNotNull)
      .select(col(id), TextOps.tokens(text).as("__t"))
    val paras = paragraphBlocks(base, id, paraTokens)
    val kept = paras
      .groupBy(md5(col("para")).as("__h"))
      .agg(min(struct(col(id).as("d"), col("para_idx").as("i"),
        col("para").as("p"))).as("__f"))
      .groupBy(col("__f.d").as("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        collect_list(struct(col("__f.i").as("i"), col("__f.p").as("p"))).as("__ks"))
      .select(col("doc_id"), col("n_kept"),
        array_join(transform(array_sort(col("__ks")), x => x.getField("p")), " ")
          .as("text_clean"))
    base
      .select(col(id).as("doc_id"),
        ceil(size(col("__t")) / lit(paraTokens.toDouble)).cast("long").as("n_paras"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy("doc_id")
  }

  /** Incremental [[paragraphStrip]]: strip a NEW batch against a
    * standing paragraph-hash index (`known`: one `para_hash` md5-hex
    * column, the accumulated block hashes of every prior keeper).
    * A batch block keeps iff (a) its hash is NOT standing and (b) the
    * batch-local first occurrence (the same
    * `min(struct(doc_id, para_idx, para))` rule as the full strip)
    * is this one. With batches arriving in ascending doc_id order
    * this equals the full strip's global-first ownership restricted
    * to the batch — a standing occurrence always wins the min, and a
    * batch-internal min is the union min when no earlier occurrence
    * exists (the CorpusIncrementalDag equivalence spec pins it).
    *
    * Returns (stripped, freshHashes, release): `stripped` has the
    * full-strip schema (doc_id, n_paras, n_kept, text_clean);
    * `freshHashes` is the distinct `para_hash` set first seen in this
    * batch — exactly what the caller appends to the index; `release`
    * unpersists the shared block cache once both are written.
    *
    * Scale shape: the standing index (corpus-scale) is reduced
    * MAP-SIDE by a Bloom over the batch's block hashes
    * ([[BloomDedup.gateBigSide]]) before the exact anti-join, so the
    * only exchanges are batch-bounded; ownership stays the combinable
    * min-struct aggregate (no window, viral blocks collapse map-side),
    * and the per-doc rebuild sorts only each doc's own kept blocks. */
  private[graft] def paragraphStripIncremental(
      docs: DataFrame, id: String, text: Column, paraTokens: Int,
      known: DataFrame): (DataFrame, DataFrame, () => Unit) = {
    require(paraTokens > 0)
    val base = docs
      .where(text.isNotNull)
      .select(col(id), TextOps.tokens(text).as("__t"))
    val paras = paragraphBlocks(base, id, paraTokens)
      .withColumn("__h", md5(col("para")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gatedKnown = BloomDedup.gateBigSide(
      known.select(col("para_hash").as("__h")), xxhash64(col("__h")),
      paras, xxhash64(col("__h")))
    val fresh = paras.join(gatedKnown, Seq("__h"), "left_anti")
    val kept = fresh
      .groupBy(col("__h"))
      .agg(min(struct(col(id).as("d"), col("para_idx").as("i"),
        col("para").as("p"))).as("__f"))
      .groupBy(col("__f.d").as("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        collect_list(struct(col("__f.i").as("i"), col("__f.p").as("p"))).as("__ks"))
      .select(col("doc_id"), col("n_kept"),
        array_join(transform(array_sort(col("__ks")), x => x.getField("p")), " ")
          .as("text_clean"))
    val stripped = base
      .select(col(id).as("doc_id"),
        ceil(size(col("__t")) / lit(paraTokens.toDouble)).cast("long").as("n_paras"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
    val freshHashes = fresh.select(col("__h").as("para_hash")).distinct()
    (stripped, freshHashes, () => { paras.unpersist(blocking = false); () })
  }

  /** Winnowing fingerprints (rolling Karp–Rabin sketch): hash word
    * n-grams, take the min hash of every `window` consecutive grams,
    * keep distinct mins per doc — via the native
    * [[graft.functions.WinnowFps]] expression (one narrow map pass;
    * the earlier posexplode → per-doc window-min → distinct
    * formulation shuffled AND sorted the whole gram stream). Values
    * are bit-identical (equivalence spec in TextSpec). */
  def fingerprints(docs: DataFrame, id: String, text: Column, n: Int, window: Int): DataFrame = {
    graft.functions.WinnowFps.register(docs.sparkSession)
    docs.select(col(id),
      explode(call_function("winnow_fps", TextOps.tokens(text), lit(n), lit(window))).as("fp"))
  }
}
