package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Document deduplication family: exact, n-gram Jaccard, MinHash+LSH,
  * SimHash fingerprints, and winnowing fingerprints.
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
  *  - SimHash: a per-doc native fingerprint (one narrow map, no
  *    shuffle); near-dup pair decisions go through MinHash only
  *    ([[nearDupPairs]]).
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
    * reading for the near-dup guard. */
  def boilerplateCoverageFrame(
      docs: DataFrame, id: String, text: Column, n: Int, nDocs: Long): DataFrame =
    boilerplateCoverageFrame(docs, id, text, n,
      lit(math.max(5L, (nDocs + 99L) / 100L)))

  /** In-plan variant (VERDICT r15 item 4): the df threshold rides the
    * plan as a broadcast 1-row aggregate (#83's `boilerplateOn`
    * shape) instead of a driver-side `docs.count()` pre-pass — frame
    * construction triggers NO job; callers that already hold nDocs
    * (the near-dup guard) keep the literal-threshold overload above. */
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
    val withCounts = sharedGramCounts(docs, id, text, n, maxDf,
      SharedGramCount.Jaccard(minJaccardPct))
    val union = col("grams1") + col("grams2") - col("shared_grams")
    val pairs = withCounts
      .select(
        col("doc1"), col("doc2"), col("shared_grams"),
        col("grams1"), col("grams2"),
        call_function("div", col("shared_grams") * 200L + union, union * 2L).as("jaccard_pct")
      )
    countedCandidates(pairs, "cand_ngram")
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
    val withCounts = sharedGramCounts(docs, id, text, n, maxDf,
      SharedGramCount.Containment(minContainPct))
    val minc = least(col("grams1"), col("grams2"))
    val pairs = withCounts
      .select(
        col("doc1"), col("doc2"), col("shared_grams"),
        col("grams1"), col("grams2"),
        call_function("div",
          col("shared_grams") * 200L + minc,
          minc * 2L
        ).as("containment_pct")
      )
    countedCandidates(pairs, "cand_containment")
  }

  /** Shared core of the exact pair generators: one tokenize pass into
    * per-doc gram sets (shared — read by the df pass and the
    * postings), df-gated postings that carry their doc's gated gram
    * count (shared — both sides of the pair join), and the
    * [[SharedGramCount]] plan node, which counts each pair's shared
    * grams one `doc1` run at a time and keeps the pairs `gate` passes.
    * The join keeps `doc1 < doc2` and, for Jaccard, its exact length
    * bound: shared ≤ min(|A|, |B|), so J ≥ t needs
    * 100·min(|A|, |B|) ≥ t·max(|A|, |B|); containment has no such
    * bound. Returns (doc1, doc2, shared_grams, grams1, grams2) for the
    * gated pairs.
    *
    * The node reads the join's rows in the order the keyed document
    * spread and the `n_grams` window leave them (clustered and sorted
    * by doc), so it adds no exchange and no sort. It replaced
    * `groupBy(doc1, doc2, grams1, grams2).count`, which at J ≥ 20 on
    * the sf0.1 corpus hashed 1.23M join rows into 1.10M groups twice
    * (a partial and a final aggregate in one stage) to keep 256 pairs.
    *
    * Measured and not built (sf0.1 corpus, 4 cores):
    *  - a df-ordered PPJoin prefix filter with array verification kept
    *    the same pairs and cut the join rows from 1.27M to 0.83M
    *    (J ≥ 20) and 0.33M (J ≥ 50), but ran 6.1, 4.2 and 2.4 s at
    *    J ≥ 1, 20 and 50, against about 1 s for the postings join;
    *  - a `TypedImperativeAggregate` keyed by doc1 (an
    *    ObjectHashAggregate, partial and final in one stage, with an
    *    interpreted, boxed `update`): the pair stage took 377–417 ms,
    *    against 416–500 ms for the pair hash aggregate;
    *  - this node over a Scala `LongMap` cleared for each doc:
    *    1308 → 1173 ms for the J ≥ 20 pipeline, where the
    *    open-addressing map gave 1249 → 943 ms;
    *  - ScanCount over inverted lists (`collect_list` by gram, then a
    *    broadcast): 1.41–1.53 s against 1.31–1.38 s for the pair hash
    *    aggregate, with one more stage. */
  private def sharedGramCounts(
      docs: DataFrame, id: String, text: Column, n: Int, maxDf: Int,
      gate: SharedGramCount.Gate
  ): DataFrame = {
    // both shares keep the doc-key partitioning the keyed document
    // spread gives them (a share reports its child's partitioning),
    // so the count window and the counting node (clustered by doc1)
    // need no exchange: losing it measured 17 MB of pair shuffle
    // against 2 MB at sf0.1
    // gram sets carry 64-bit gram hashes, not strings: cheaper to
    // build, and the self-join shuffles and compares longs
    val sets = graft.Caching.share(wordGramHashSets(docs, id, text, n))

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
    val kept = graft.Caching.share(
      sets.select(col(id), explode(col("__grams")).as("gram"))
        .join(broadcast(df.where(col("__df") <= maxDf)), "gram")
        .select(col(id), col("gram"),
          count(lit(1)).over(Window.partitionBy(col(id))).as("n_grams")))

    val a = kept.select(col(id).as("doc1"), col("gram"), col("n_grams").as("grams1"))
    val b = kept.select(col(id).as("doc2"), col("gram"), col("n_grams").as("grams2"))
    // both predicates reference both sides, so they plan as the join's
    // condition and prune before the count
    val ordered = col("doc1") < col("doc2")
    val cond = gate match {
      case SharedGramCount.Jaccard(t) => ordered && least(col("grams1"), col("grams2")) * 100L >=
        greatest(col("grams1"), col("grams2")) * t.toLong
      case SharedGramCount.Containment(_) => ordered
    }
    SharedGramCount(a.join(b, "gram").where(cond), gate)
  }

  /** MinHash signatures straight from the document text via the
    * native [[graft.functions.MinHashSig]] expression: one narrow
    * map, no gram explode, no aggregation shuffle. Bit-identical to
    * k seeded xxhash64 minima over [[wordGramHashes]] (TextSpec keeps
    * that relational formulation as the reference); docs with fewer
    * than `n` tokens are dropped (no grams → no signature). */
  def minhashSignaturesNative(docs: DataFrame, id: String, text: Column, n: Int, k: Int): DataFrame = {
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
    val sigs = graft.Caching.share(sigs0)
    val banded = minhashBanded(sigs, id, r, bands)
    val a = banded.select(col(id).as("doc1"), col("sig").as("sig1"), col("band"), col("bkey"))
    val b = banded.select(col(id).as("doc2"), col("sig").as("sig2"), col("band"), col("bkey"))
    // estimate + filter BEFORE the distinct: the zip_with over k
    // seeds is re-evaluated per band collision (cheap, map-side), but
    // sub-threshold pairs die before the exchange and the distinct's
    // shuffle rows carry 3 narrow columns instead of two k-long
    // signature arrays. `pregate_minhash` counts the band-join volume
    // before the estimate gate; its growth is similarity-driven (no
    // keyspace floor: band keys live in the full 64-bit minima space)
    val pairs = observeCount(
      a.join(b, Seq("band", "bkey")).where(col("doc1") < col("doc2")),
      "pregate_minhash")
      .withColumn("est_sim", estSim(col("sig1"), col("sig2"), k))
      .where(col("est_sim") >= minEst)
      .select("doc1", "doc2", "est_sim")
      .distinct()
    countedCandidates(pairs, "cand_minhash")
  }

  /** 64-bit SimHash per doc from the token multiset, via the native
    * [[graft.functions.SimHash64]] expression: one narrow map pass,
    * no explode and no shuffle (the earlier relational formulation —
    * explode → groupBy(doc, hash) → ±count vectors → vec_sum —
    * shuffled the entire token stream; the per-doc function needs
    * none of it). Values are bit-identical to that formulation: same
    * seed-42 xxhash64 per token, same sign rule per bit. */
  def simhash(docs: DataFrame, id: String, text: Column): DataFrame = {
    docs.select(col(id), call_function("simhash64", TextOps.tokens(text)).as("simhash"))
  }

  /** Deep-threshold near-dup pairs: every doc pair whose exact word
    * n-gram Jaccard is >= minJaccardPct, found through ONE pipeline —
    * native MinHash signatures (k = 48) → 24 bands × 2 rows candidate
    * join with an est-sim gate at 0.25 → [[verifyPairsExact]] on the
    * original text. The output is defined by the exact threshold
    * alone; the sketch only proposes candidates. A pair of true
    * Jaccard J is missed with probability (1 − J²)^24 — ≈0.1% at
    * exactly J = 0.5, vanishing as J grows. MinHash band keys live in
    * the full 64-bit minima space, so candidate volume follows pair
    * similarity, not corpus size. Building the frame runs nothing.
    *
    * `boilerGuardPermille` > 0 arms the boilerplate-before-banding
    * guard: a universal banner (one block on ~all docs) pushes every
    * pairwise est-sim toward the banding threshold, and band-collision
    * volume stops being true-pair-driven — the one input shape that
    * breaks the banding contract SILENTLY (wall time blows up, answers
    * stay right). The armed guard counts the docs, measures corpus
    * gram coverage by high-df grams ([[boilerplateCoveragePermille]])
    * and, at or above the bound, WARNS via the `boiler_coverage`
    * observe metric + log. With `boilerStripForSketch` it additionally
    * removes UNIVERSAL blocks (df ≥ half the docs,
    * [[stripUniversalBlocksForSketch]]) from the SKETCH input only —
    * candidate volume returns to content-similarity-driven. Contract
    * change, stated: pairs whose similarity lives ONLY in universal
    * boilerplate are then not candidates (by design — those are banner
    * matches, not content dups); verification stays exact on the
    * ORIGINAL text. */
  def nearDupPairs(
      docs: DataFrame, id: String, text: Column, n: Int, minJaccardPct: Int,
      boilerGuardPermille: Int = 0, boilerStripForSketch: Boolean = false): DataFrame = {
    val k = 48
    // boilerplate-before-banding guard (one count + one gram-grain
    // aggregate; armed only when the caller sets a bound)
    val (nDocs, boilerCov) =
      if (boilerGuardPermille > 0) {
        val nd = docs.count()
        (nd, boilerplateCoveragePermille(docs, id, text, n, nd))
      } else (-1L, -1L)
    val guardFired = boilerGuardPermille > 0 && boilerCov >= boilerGuardPermille
    if (guardFired) log.warn(
      s"nearDupPairs: high-df boilerplate covers $boilerCov permille of gram " +
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
    val sigs = minhashSignaturesNative(sketchDocs, id, col("__stext"), n, k)
    val cands = minhashLshPairs(sigs, id, k, bands = 24, minEst = 0.25)
    val verified = verifyPairsExact(cands, docs, id, text, n, minJaccardPct)
    // max() metric: idempotent under a Sort's sampling-pass
    // double-fire, so callers may orderBy above it
    if (boilerGuardPermille > 0)
      verified.observe("boiler_coverage", max(lit(boilerCov)).as("n"))
    else verified
  }

  /** Candidate-volume telemetry: a named `observe` counter on the
    * pair stream, surfaced per query by Bench's execution listener
    * (BENCH JSON `observed`). Sketch quality at scale IS the
    * candidate count — sf-to-sf candidate growth becomes a tracked
    * artifact instead of something inferred from seconds. Metrics
    * ride the existing action; no extra job.
    *
    * Placement: ABOVE any orderBy — a counter under a
    * range-partitioned Sort double-fires on the sampling pass — or
    * sealed under an exchange ([[countedCandidates]]). */
  def observeCount(df: DataFrame, name: String): DataFrame =
    df.observe(name, count(lit(1)).as("n"))

  /** A candidate generator's output, shared, with its `cand_*`
    * counter sealed under an exchange inside the share: the generator
    * and its counter run exactly once per action however many
    * consumers read the pairs (verifyPairsExact reads them three
    * times), and a range sort above re-reads the share instead of
    * re-running the counter. The exchange is what hides the counter
    * from the consumers that reuse it (a reused stage is a leaf of the
    * plan); the share keeps each consumer's column pruning from
    * splitting it into different exchanges. Round-robin, because a
    * keyed repartition is dropped when the input is already
    * partitioned by that key (the keyed document spread reaches the
    * MinHash candidates as doc1). */
  private def countedCandidates(pairs: DataFrame, name: String): DataFrame =
    graft.Caching.share(observeCount(pairs, name)
      .repartition(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt))

  /** EXACT n-gram Jaccard verification of candidate pairs: the
    * refine step of the candidate-generate → verify dedup pipeline.
    * Recounts grams only for docs that appear in a candidate pair
    * (broadcast semi-join gate), so the cost is proportional to the
    * candidate set — at 100 TB the sketch (MinHash bands) cuts n²
    * down to candidates and this pass makes the final
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
    // per-pair aggregate shuffle, hence nothing to share.
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
    countedCandidates(pairs, "cand_minhash_across")
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
    // batch side: it feeds the Bloom build (batch-bounded actions
    // while the frame is built) and the join probe, the only reader
    // inside the action — so it is not shared
    val a = minhashBanded(newSigs, id, r, bands)
      .select(col(id).as("doc1"), col("sig").as("sig1"), col("band"), col("bkey"))
    val b = BloomDedup.gateBigSide(
      minhashBanded(standingSigs, id, r, bands)
        .select(col(id).as("doc2"), col("sig").as("sig2"), col("band"), col("bkey")),
      bandKey, a, bandKey)
    val pairs = a.join(b, Seq("band", "bkey"))
      .withColumn("est_sim", estSim(col("sig1"), col("sig2"), k))
      .where(col("est_sim") >= minEst)
      .select("doc1", "doc2", "est_sim")
      .distinct()
    countedCandidates(pairs, "cand_minhash_across_gated")
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
      freeCut(prev)
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
    // cut from the cached rows' RDD, not the cached plan: every SQL
    // execution that scans a cached plan (`Dataset.rdd` starts one too)
    // reports the plan's observed metrics again, and the edge count has
    // already reported the `cand_*` counter under `directed`
    val edges = directed.as[(Long, Long)].queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))
    val out = edges.coalesce(1).mapPartitions { it =>
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
    }.toDF("doc_id", "group_id").localCheckpoint()
    // the labels are cut from the edge cache, so it can go now
    directed.unpersist()
    out
  }

  /** Free a per-round `localCheckpoint` cut of [[resolveGroups]]: the
    * frame's plan root is the checkpoint's LogicalRDD. */
  private def freeCut(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ => ()
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
    docs.select(col(id),
      explode(call_function("winnow_fps", TextOps.tokens(text), lit(n), lit(window))).as("fp"))
  }
}
