package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.{TextOps, DedupOps, BloomDedup}
import graft.multimodal.BinaryOps

/** Text-analysis + document-dedup + multimodal verified queries
  * (SURVEY §2 #22–#25, #29–#33), over the `documents` table. */
object QueriesText {
  import Queries.Q

  /** #22 exact dedup groups by normalized text. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    DedupOps.exactGroups(Tables.documents(s, dir), "doc_id", lower(trim(col("text"))))

  /** #25 exact 3-gram Jaccard pairs over informative grams
    * (df <= 100), Jaccard >= 1%. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    DedupOps.ngramJaccardPairs(
      Tables.documents(s, dir), "doc_id", col("text"),
      n = 3, maxDf = 100, minJaccardPct = 1)

  /** #23 and #24 near-dup detection, end to end, through the one
    * pipeline [[DedupOps.nearDupPairs]]: native MinHash signatures
    * (k=48) → 24 bands × 2 rows candidate join → est_sim gate → EXACT
    * n-gram Jaccard verification at >= 50% on the candidates only.
    * The output is defined by the exact threshold — engine-portable,
    * hash-free — with MinHash as the candidate accelerator; the
    * DuckDB oracle recomputes the exact pair set, so a recall
    * regression fails CORRECTNESS.
    *
    * Banding completeness is PROBABILISTIC (inherent to MinHash):
    * with r=2, b=24, P(miss) = (1−J²)^24 ≈ 1e-3 at exactly J=0.50 and
    * 2e-11 at J=0.80. It carries the verified contract here because
    * the corpus has a measured 66-point margin around the threshold
    * (every true pair has J ≥ 0.80, every non-pair ≤ 0.14); a corpus
    * with borderline-J pairs needs more bands or a higher threshold.
    *
    * The `q_dedup_simhash` key stays for the bench and oracle contract
    * and runs this pipeline: its SimHash sketch lost to MinHash on
    * every board where it ran (BENCH_NOTES, round 12). */
  def dedupNearDup(s: SparkSession, dir: String): DataFrame =
    DedupOps.nearDupPairs(Tables.documents(s, dir), "doc_id", col("text"), n = 3, minJaccardPct = 50)
      .orderBy("doc1", "doc2")
      .transform(DedupOps.observeCount(_, "verified_pairs"))

  /** #141 paragraph-grain exact dedup profile (C4/CCNet-style): docs
    * split to 20-token paragraph blocks, corpus-wide first-occurrence
    * kept per distinct block, per-doc removed-span permille reported
    * — the line/paragraph strip every web-scale curation pipeline
    * runs BEFORE doc-grain near-dup detection (rows #22–#25 operate
    * at doc grain only). See [[DedupOps.paragraphDedup]] for the
    * hash-cells-only shuffle shape. */
  def paragraphDedup(s: SparkSession, dir: String): DataFrame =
    DedupOps.paragraphDedup(Tables.documents(s, dir), "doc_id", col("text"), paraTokens = 20)

  /** #142 paragraph-grain strip emit: the cleaned corpus #141 only
    * profiles — each doc rebuilt from the blocks whose global first
    * occurrence it owns (C4-style boilerplate strip; see
    * [[DedupOps.paragraphStrip]] for the firsts-carry-their-text
    * shape that avoids any skewed join back to occurrences). */
  def paragraphStrip(s: SparkSession, dir: String): DataFrame =
    DedupOps.paragraphStrip(Tables.documents(s, dir), "doc_id", col("text"), paraTokens = 20)

  /** #29 heuristic language identification vs the labeled lang. */
  def langId(s: SparkSession, dir: String): DataFrame =
    langIdOn(Tables.documents(s, dir))

  private[graft] def langIdOn(docs: DataFrame): DataFrame = {
    val t = col("text")
    // hits staged as columns, prediction derived FROM them: each
    // langHits is a tokenize+filter pass, and the naive form
    // (langPredict(t) twice + the hit columns) evaluated every one
    // of them 3× per row
    docs.select(
      col("doc_id"),
      col("lang"),
      TextOps.langHits(t, "en").cast("long").as("hits_en"),
      TextOps.langHits(t, "de").cast("long").as("hits_de"),
      TextOps.langHits(t, "fr").cast("long").as("hits_fr"),
      TextOps.langHits(t, "es").cast("long").as("hits_es"),
      TextOps.cjkCount(t).cast("long").as("cjk_chars"))
      .withColumn("predicted", TextOps.langPredictFromHits(
        col("hits_en"), col("hits_de"), col("hits_fr"), col("hits_es"), col("cjk_chars")))
      .withColumn("is_match", col("predicted") === col("lang"))
  }

  /** #30 quality scoring (integer-exact; see TextOps.qualityScore). */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val base = Tables.documents(s, dir).select(
      col("doc_id"),
      length(t).cast("long").as("n_chars"),
      TextOps.wordCount(t).cast("long").as("n_words"),
      TextOps.stopwordCount(t, TextOps.StopwordsEn).cast("long").as("stop_hits"),
      TextOps.distinctWordCount(t).cast("long").as("distinct_words")
    )
    base
      .withColumn("quality_score",
        TextOps.qualityScore(col("n_chars"), col("n_words"), col("stop_hits"), col("distinct_words")))
      .withColumn("quality_bucket", TextOps.qualityBucket(col("quality_score")))
  }

  /** #31 token counting: whitespace + BPE-ish regex pre-tokens. */
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(t).cast("long").as("n_chars"),
      TextOps.wordCount(t).cast("long").as("n_ws_tokens"),
      TextOps.bpeTokenCount(t).cast("long").as("n_bpe_tokens")
    )
  }

  /** #32 winnowing fingerprints with their structural invariants in
    * the verified surface: the fingerprint VALUES are xxhash64 chains
    * (engine-specific; bit-identity vs the relational formulation is
    * equivalence-spec'd in TextSpec), so the oracle instead checks
    * what an engine-independent referee CAN recompute — per doc:
    * the n-gram count, and three winnowing theorems evaluated
    * Spark-side against the doc's real gram hashes:
    * size <= n_grams plus the LAST gram's membership (its truncated
    * window is a singleton, so its hash is always selected; note the
    * density lower bound ceil(n_grams/window) does NOT hold — minima
    * are emitted DISTINCT, so repeated grams collapse), fps ⊆ gram
    * hashes, and min(fps) = min(gram hashes) (the global minimum wins
    * its own window). A fingerprint bug breaks one of these. */
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    val window = 4
    val toks = TextOps.tokens(col("text"))
    val th = col("__th")
    val grams = when(size(th) < 3, array().cast("array<bigint>"))
      .otherwise(transform(
        sequence(lit(0), size(th) - 3),
        i => xxhash64(element_at(th, i + 1), element_at(th, i + 2), element_at(th, i + 3))))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        call_function("winnow_fps", toks, lit(3), lit(window)).as("__fps"),
        transform(toks, t => xxhash64(t)).as("__th"))
      .select(col("doc_id"), col("__fps"), grams.as("__g"))
      .where(size(col("__fps")) > 0)
      .select(
        col("doc_id"),
        size(col("__g")).cast("long").as("n_grams"),
        (size(col("__fps")) <= size(col("__g")) &&
          array_contains(col("__fps"), element_at(col("__g"), -1))).as("bounds_ok"),
        forall(col("__fps"), f => array_contains(col("__g"), f)).as("subset_ok"),
        (array_min(col("__fps")) === array_min(col("__g"))).as("min_ok"))
  }

  /** #33 multimodal binary plumbing: text bytes as an opaque payload,
    * decoded partition-wise by the stub decoder (real mapPartitions
    * batching; deterministic metadata, oracle-checkable). */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val withPayload = Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    BinaryOps.decode(withPayload, "payload")
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        hex(substring(col("payload"), 1, 8)).as("header_hex"),
        col("width"), col("height"), col("channels"), col("format")
      )
  }

  /** #64 frame-sampling plumbing in the verified surface: 4 evenly
    * spaced byte-range "frames" per payload via
    * [[BinaryOps.sampleFrames]] (posexplode over substring slices).
    * Oracle parity trick: DuckDB cannot byte-slice BLOBs, but slicing
    * the HEX string at doubled offsets IS exact byte slicing, so the
    * frame bytes are compared as hex. */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val withPayload = Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    BinaryOps.sampleFrames(withPayload, "payload", nFrames = 4)
      .select(
        col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame_bytes")).cast("long").as("frame_len"),
        hex(substring(col("frame_bytes"), 1, 8)).as("frame_head_hex"))
  }

  /** #152 exact binary-payload dedup + per-format/size profile: the
    * multimodal corpus op that needs NO codec — identical media
    * payloads (re-crawled images, mirrored audio) collapse on
    * md5(bytes) regardless of filename or metadata, and the profile
    * reports, per (format, 512-byte size bucket), how many payloads /
    * how much byte mass the dedup would reclaim. Format derives from
    * the stub decoder's rule (#33) stated byte-exactly: parity of the
    * payload's FIRST BYTE via its hex low nibble — engine-portable
    * even for multi-byte text, unlike first-character codepoint
    * tricks. `sample_md5` (min hash per cell) pins cross-engine hash
    * parity in the verified surface.
    *
    * Scale shape: the corpus collapses to 16-byte hash cells in the
    * FIRST map-side-combined aggregate (payload bytes never shuffle);
    * the profile is a second combinable aggregate on the already-
    * collapsed hash grain. Two bounded exchanges, no joins. */
  def binaryDedup(s: SparkSession, dir: String): DataFrame = {
    val p = col("text").cast("binary")
    val evenNibbles = Seq("0", "2", "4", "6", "8", "A", "C", "E")
    val base = Tables.documents(s, dir).where(col("text").isNotNull)
      .select(
        col("doc_id"),
        md5(p).as("__h"),
        length(p).cast("long").as("__nb"),
        when(length(p) === 0, lit("empty"))
          .when(substring(hex(substring(p, 1, 1)), 2, 1).isin(evenNibbles: _*), lit("rgb"))
          .otherwise(lit("rgba")).as("__fmt"))
    val cells = base.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"), min(col("__nb")).as("__nb"),
        min(col("__fmt")).as("__fmt"))
    cells
      .groupBy(col("__fmt").as("format"),
        call_function("div", col("__nb"), lit(512L)).as("size_bucket"))
      .agg(
        sum(col("__c")).as("n_payloads"),
        count(lit(1)).as("n_distinct"),
        (sum(col("__c")) - count(lit(1))).as("dup_payloads"),
        sum(col("__c") * col("__nb")).as("bytes_total"),
        sum((col("__c") - 1L) * col("__nb")).as("dup_bytes"),
        min(col("__h")).as("sample_md5"))
      .withColumn("dup_permille",
        call_function("div", col("dup_payloads") * 1000L, col("n_payloads")))
      .select("format", "size_bucket", "n_payloads", "n_distinct", "dup_payloads",
        "bytes_total", "dup_bytes", "dup_permille", "sample_md5")
      .orderBy("format", "size_bucket")
  }

  /** #38 near-dup group resolution: candidate pairs → connected
    * components → canonical keeper (min id) per group. Rows-only
    * oracle (iterative graph algorithm). */
  def dedupResolve(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupOps.ngramJaccardPairs(
      Tables.documents(s, dir), "doc_id", col("text"), n = 3, maxDf = 100, minJaccardPct = 20)
    DedupOps.resolveGroups(pairs).orderBy("doc_id")
  }

  /** #79 keeper selection — the FINAL dedup decision: for each
    * resolved near-dup group (#38), keep the highest-quality doc
    * (#30's integer score; ties → smallest id) and count what drops.
    * The quality join is keyed on doc_id (group membership is
    * candidate-bounded — no broadcast bet on group count), and the
    * argmax window sorts within one near-dup cluster, never the
    * corpus.
    *
    * Deliberately RECOMPUTES the #38 resolve instead of sharing its
    * result: every registered query must stand alone (the driver runs
    * each against its own oracle), and a Bench-level cache would
    * report a keeper time no stand-alone run can reproduce. In a real
    * pipeline resolve→keeper is one job and the resolve output is
    * persisted once — the ~1.4 s overlap here is measurement honesty,
    * not a scale cost. */
  def dedupKeeper(s: SparkSession, dir: String): DataFrame = {
    val groups = dedupResolve(s, dir)
    // gate BEFORE scoring: the quality text-stats pass runs over
    // group MEMBERS only (candidate-bounded), not the whole corpus —
    // the inner join is the gate, so score after it, not before
    val t = col("text")
    val members = Tables.documents(s, dir).join(groups, "doc_id")
    val scored = members.select(col("doc_id"), col("group_id"),
      TextOps.qualityScore(
        length(t).cast("long"), TextOps.wordCount(t).cast("long"),
        TextOps.stopwordCount(t, TextOps.StopwordsEn).cast("long"),
        TextOps.distinctWordCount(t).cast("long")).as("quality_score"))
    val w = Window.partitionBy("group_id").orderBy(col("quality_score").desc, col("doc_id"))
    scored
      .withColumn("__r", row_number().over(w))
      .groupBy("group_id")
      .agg(
        max(when(col("__r") === 1, col("doc_id"))).as("keeper_doc_id"),
        max(when(col("__r") === 1, col("quality_score"))).as("keeper_quality"),
        count(lit(1)).as("n_docs"))
      .orderBy("group_id")
  }

  /** #87 per-source duplication profile — the corpus-health report of
    * a data release: per source, doc count, exact-duplicate members
    * (normalized text seen ≥2× corpus-wide; this corpus has none, and
    * ZERO verifying against the oracle is the point), near-dup group
    * members, and integer-permille rates. Membership needs only the
    * pair-graph ENDPOINTS — a doc is in a group of size ≥ 2 iff it
    * appears in ≥ 1 candidate pair — so the profile deliberately
    * skips #38's component resolution (identical member set, none of
    * the label-propagation cost); candidate generation is the shared,
    * and dominant, work. */
  def dupProfile(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = DedupOps.ngramJaccardPairs(
      docs, "doc_id", col("text"), n = 3, maxDf = 100, minJaccardPct = 20)
    DedupOps.dupProfile(
      docs, "doc_id", lower(trim(col("text"))), col("source"),
      DedupOps.pairEndpoints(pairs, "doc_id"))
  }

  /** #80 fixed-size stratified sample: exactly N docs per language,
    * chosen by md5(doc_id) order — deterministic at any parallelism
    * and stable under corpus growth for the retained hash range
    * (rate-based twin: #52 mix_sample). Scale shape: `row_number <=
    * N` over (lang | hash) plans as a WindowGroupLimit — Spark keeps
    * only the top-N per group per map PARTITION before the exchange
    * (spec-asserted), so the shuffle carries ≤ N·partitions rows per
    * lang, never the corpus — the same two-level selection as the kNN
    * join, built into the planner. */
  def groupSample(s: SparkSession, dir: String): DataFrame = {
    val n = 20
    val w = Window.partitionBy("lang").orderBy(col("__h"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("doc_id").cast("string")).as("__h"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= n)
      .select(col("lang"), col("sample_rank"), col("doc_id"), col("source"))
      .orderBy("lang", "sample_rank")
  }

  /** #40 JSON field extraction from a string column (events.props). */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k_value")
    )

  /** #41 Gopher-style repetition signals per doc: duplicate-gram
    * percentage and most-frequent-word share, integer-exact. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    // single staged gram pass (token + gram arrays materialized once;
    // see TextOps.withGramStats) instead of one re-evaluation per stat
    val base = TextOps.withGramStats(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), t, 3)
      .drop("text")
    val topWord = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(t)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_word_count"))
    base.join(topWord, "doc_id")
      .withColumn("top_word_pct",
        call_function("div", col("top_word_count") * 200L + col("n_words"), col("n_words") * 2L))
  }

  /** #42 corpus admission filter: the Bronze rule gate applied to
    * documents (first-match-wins rejection reason; KEEP otherwise) —
    * the standard pre-training hygiene pass. */
  def corpusFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bronze
    val t = col("text")
    val enriched = TextOps.withGramStats(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), t, 3)
      .select(
        col("doc_id"),
        length(t).cast("long").as("n_chars"),
        col("n_words"),
        TextOps.stopwordCount(t, TextOps.StopwordsEn).cast("long").as("stop_hits"),
        col("dup_gram_pct")
      )
    val rules = Seq(
      Bronze.Rule("TOO_SHORT", col("n_chars") >= 100),
      Bronze.Rule("TOO_FEW_WORDS", col("n_words") >= 20),
      Bronze.Rule("NO_STOPWORDS", col("stop_hits") > 0),
      Bronze.Rule("REPETITIVE", col("dup_gram_pct") <= 50)
    )
    enriched.withColumn("keep", Bronze.validCondition(rules))
      .withColumn("reason", when(Bronze.validCondition(rules), lit("KEEP"))
        .otherwise(Bronze.rejectionReason(rules)))
  }

  /** #70 eval-set contamination check: every corpus doc sharing word
    * 3-grams with the (deterministic ~1%) benchmark slice, with
    * distinct-gram and eval-doc hit counts — the test-set-leakage
    * gate a training pipeline runs before every data release. The
    * eval postings broadcast; the corpus never shuffles (see
    * [[DedupOps.contaminationReport]]). */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val evalSet = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    DedupOps.contaminationReport(corpus, evalSet, "doc_id", col("text"), n = 3)
      .orderBy("doc_id")
  }

  /** #71 incremental dedup: a new batch (deterministic ~10% slice)
    * deduped AGAINST the existing corpus — the shape production
    * pipelines actually run (band keys of the standing corpus form a
    * probe index; the batch × corpus n² never appears). Candidates
    * via [[DedupOps.minhashLshPairsAcross]], decision via exact
    * Jaccard >= 50 (oracle recomputes the cross-split exact pairs). */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isNew = pmod(col("doc_id"), lit(10)) === 7
    // one signature pass: both probe sides filter the same shared
    // frame instead of re-running the native sig map per side
    val sigsAll = DedupOps.minhashSignaturesNative(docs, "doc_id", col("text"), n = 3, k = 48)
      .transform(Caching.share)
    val cands = DedupOps.minhashLshPairsAcross(
      sigsAll.where(isNew), sigsAll.where(!isNew), "doc_id", k = 48, bands = 24, minEst = 0.25)
    DedupOps.verifyPairsExact(cands, docs, "doc_id", col("text"), n = 3, minJaccardPct = 50)
      .select(col("doc1").as("new_doc_id"), col("doc2").as("known_doc_id"), col("jaccard_pct"))
      .orderBy("new_doc_id", "known_doc_id")
      .transform(DedupOps.observeCount(_, "verified_pairs"))
  }

  /** #72 deterministic train/val/test split: bucket on the first hex
    * nibble of md5(doc_id) — train < 'd' (13/16), val < 'f' (2/16),
    * test = 'f' (1/16). A hash of the STABLE KEY (never `rand()`)
    * makes the split reproducible at any parallelism on any engine,
    * and new documents never reshuffle old ones between splits — the
    * property a training pipeline needs for eval hygiene. Map-only
    * classification + a (split, lang)-group aggregate: nothing
    * corpus-sized shuffles. */
  def trainSplit(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), mdSplit(col("doc_id")).as("split"),
        TextOps.wordCount(col("text")).cast("long").as("__nt"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      .orderBy("split", "lang")
  }

  /** #73 rare-token scoring: per document, how many of its tokens
    * fall outside the corpus head vocabulary (document frequency >=
    * 50 — `tok.distinct()` reduces the stream to one row per
    * (doc, word) first, so the count is distinct DOCUMENTS containing
    * the word, not total occurrences). High rare ratios flag
    * gibberish/OCR noise for a corpus
    * quality gate. Scale shape: the df aggregate map-side combines
    * the token stream (on natural language the Zipf head collapses
    * hard, so the head set is small — but that is a DATA assumption,
    * not a bound: an adversarial/non-Zipf corpus can have a head of
    * up to total_tokens/50 distinct words). The head join therefore
    * carries NO broadcast hint — AQE broadcasts it when its runtime
    * size stats allow and falls back to a shuffle join when they
    * don't, so the query never bets driver memory on the Zipf
    * assumption. The per-doc count partial-aggregates to ~1 row per
    * doc per task before the final exchange. rare_permille is integer
    * floor math, engine-exact. */
  def rareTokens(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
    val head = tok.distinct().groupBy("word")
      .agg(count(lit(1)).as("__df")).where(col("__df") >= 50)
      .select(col("word"), lit(1L).as("__common"))
    val nRare = col("n_tokens") - col("__nc")
    tok.join(head, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), count(col("__common")).as("__nc"))
      .select(col("doc_id"), col("n_tokens"), nRare.as("n_rare"),
        call_function("div", nRare * 1000L, col("n_tokens")).as("rare_permille"))
  }

  /** #74 keyword extraction: each document's most distinctive term by
    * tf/df (term frequency over document frequency — tf-idf's ranking
    * core with a rational score both engines compute bit-identically
    * from exact integer counts; ties break on the term). df reuses
    * the tf aggregate (df(word) = |tf rows for word|), so the token
    * stream is shuffled once into (doc, word) groups, df is a
    * second-level combine over that, and the top-1 window sorts only
    * each doc's distinct-term group — never a corpus-wide sort. */
  def tfidfTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // corpus-scale persist: at 100 TB this spills (doc, term, tf) to
      // executor disk. Deliberate — both consumers (df rollup, scored
      // join) need the SAME shuffled aggregate, and recomputing it
      // means re-tokenizing + re-shuffling the whole corpus, which
      // costs more than one spill-read. The trade flips only if
      // executor disk is the scarce resource; then drop the share
      // and eat the second shuffle.
      .transform(Caching.share)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = col("tf").cast("double") / col("df")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(score.desc, col("term"))
    val top = tf.join(df, "term")
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), score.as("score"))
    top
  }

  /** #75 Bloom-gated corpus membership: for each new-batch document
    * (deterministic ~10% slice), its distinct word 3-grams are probed
    * against a Bloom filter built over the STANDING corpus's gram
    * set — the map-only pre-gate that replaces the batch×corpus join
    * at 100 TB ([[graft.text.BloomDedup]]; the corpus gram set is far
    * past broadcast size there, but its bloom is ~10 bits/gram and
    * probes as a projection). The emitted contract is the filter's
    * defining guarantee: `bloom_ok` = NO exactly-shared gram was
    * missed (false negatives are impossible, so the oracle emits
    * TRUE); `n_shared` is the exact shared-gram count, carried as the
    * verification twin — at 100 TB that exact join is the cost the
    * bloom path exists to avoid (run it on flagged survivors only),
    * same caveat as q_hll_distinct's exact column. False-positive
    * rate is spec-asserted (BloomSpec), not part of the contract. */
  def bloomMembership(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isNew = pmod(col("doc_id"), lit(10)) === 7
    val corpusGrams = DedupOps.wordGramHashes(docs.where(!isNew), "doc_id", col("text"), n = 3)
    // sized for the sf0.1 corpus's ~1M distinct grams with headroom;
    // oversizing only lowers the FP rate (bits stay driver-small)
    val bits = BloomDedup.buildFilter(corpusGrams, col("gram"), expectedItems = 4000000L, fpp = 0.01)
    val corpusSet = corpusGrams.select(col("gram")).distinct().withColumn("__in", lit(1))
    val probed = BloomDedup.flag(
      DedupOps.wordGramHashes(docs.where(isNew), "doc_id", col("text"), n = 3),
      col("gram"), bits, "__hit")
    probed.join(corpusSet, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        count(col("__in")).as("n_shared"),
        (sum(when(col("__in").isNotNull && !col("__hit"), 1L).otherwise(0L)) === 0L).as("bloom_ok"))
      .orderBy("doc_id")
  }

  /** #82 Zipf vocabulary coverage: the top-50 corpus words by exact
    * frequency with each rank's CUMULATIVE share of all tokens
    * (half-up integer permille) — the curve that sizes a tokenizer
    * vocabulary (how many entries until the head covers X% of the
    * stream). Scale shape: token counts partial-aggregate map-side,
    * the top-50 is a distributed TakeOrdered (per-partition top-k,
    * never a vocabulary-wide sort), and the cumulative window runs
    * over exactly 50 rows — the single-partition window is bounded by
    * the LIMIT, not the data. The total-token count joins in as a
    * broadcast 1-row frame. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame =
    vocabCoverageOn(Tables.documents(s, dir))

  /** Frame-level #82: works over any (text) frame (spec-driven). */
  def vocabCoverageOn(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_tokens"))
    val total = counts.agg(sum(col("n_tokens")).as("__total"))
    val byFreq = Window.orderBy(col("n_tokens").desc, col("word"))
    val top = counts.orderBy(col("n_tokens").desc, col("word")).limit(50)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .withColumn("__cum",
        sum(col("n_tokens")).over(byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("word"), col("n_tokens"),
        call_function("div", col("__cum") * 2000L + col("__total"), col("__total") * 2L)
          .as("cum_permille"))
      .orderBy("rank")
  }

  /** #83 boilerplate span accounting: a 3-gram is "boilerplate" when
    * its document frequency reaches max(5, 1% of the corpus) — the
    * repeated-span signal (headers, templates, navigation chrome)
    * that corpus cleaning strips before training. Per doc: total gram
    * POSITIONS (multiset — coverage, not identity), positions whose
    * gram is boilerplate, and the half-up permille covered.
    *
    * Scale shape: df comes from the distinct-per-doc gram view
    * (partial-aggregated); the boilerplate set is by construction
    * small (high-df survivors only) and broadcasts to the positional
    * stream — the corpus-sized position explode never shuffles, its
    * per-doc count partial-aggregates behind the broadcast join. */
  def boilerplate(s: SparkSession, dir: String): DataFrame =
    boilerplateOn(Tables.documents(s, dir))

  /** #154 corpus boilerplate-coverage gate: the 1-row permille of
    * gram POSITIONS covered by high-df grams — the number the
    * boilerplate-before-banding guard reads before any near-dup
    * banding runs (a universal banner pushes pairwise est-sim toward
    * the banding threshold, turning candidate volume boilerplate-
    * driven; SURVEY §4). The per-doc view is #83; this is its
    * corpus-level reading, the one the adaptive router consults.
    *
    * Scale shape: one (gram, doc)-keyed aggregate with map-side
    * combine, one gram-grain re-aggregation, one 1-row total — never
    * a pair join, never a corpus-scale sort. */
  def boilerCoverage(s: SparkSession, dir: String): DataFrame =
    boilerCoverageOn(Tables.documents(s, dir))

  // in-plan nDocs (VERDICT r15 item 4): the df threshold is a 1-row
  // broadcast aggregate inside the ONE plan — no docs.count() pre-job
  private[graft] def boilerCoverageOn(docs: DataFrame): DataFrame =
    DedupOps.boilerplateCoverageFrame(docs, "doc_id", col("text"), 3)

  /** Frame-level #83: works over any (doc_id, text) frame. */
  def boilerplateOn(docs: DataFrame): DataFrame = {
    val grams = DedupOps.wordGramHashes(docs, "doc_id", col("text"), 3)
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val boiler = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .where(col("__df") >= greatest(lit(5L), call_function("div", col("__n") + 99L, lit(100L))))
      .select("gram")
    val positions = DedupOps.wordGramHashesAll(docs, "doc_id", col("text"), 3)
    val boilerCounts = positions.join(broadcast(boiler), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("__nb"))
    val toks = TextOps.tokens(col("text"))
    docs.select(col("doc_id"),
        greatest(size(toks) - 2, lit(0)).cast("long").as("n_positions"))
      .join(boilerCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_positions"),
        coalesce(col("__nb"), lit(0L)).as("n_boiler"),
        when(col("n_positions") === 0L, lit(0L)).otherwise(
          call_function("div",
            coalesce(col("__nb"), lit(0L)) * 2000L + col("n_positions"),
            col("n_positions") * 2L)).as("boiler_permille"))
      .orderBy("doc_id")
  }

  /** #84 asymmetric containment pairs: shared / min-gram-set ≥ 80% on
    * df-capped 3-grams — catches doc-contains-doc near-dups whose
    * Jaccard stays low (see [[DedupOps.ngramContainmentPairs]]). */
  def gramContainment(s: SparkSession, dir: String): DataFrame =
    DedupOps.ngramContainmentPairs(
      Tables.documents(s, dir), "doc_id", col("text"),
      n = 3, maxDf = 100, minContainPct = 80)
      .orderBy("doc1", "doc2")

  /** #90 PMI collocations: top bigrams by lift = P(xy)/(P(x)P(y)) —
    * the association-mining pass behind tokenizer-merge candidates
    * and phrase detection. `lift` is the PMI exponent (monotone in
    * PMI, no log — one deterministic double expression per row);
    * min-support `c_xy ≥ 5` kills the noise tail, ties break on the
    * bigram itself.
    *
    * Scale shape: bigram counts shuffle keyed by the bigram (partial
    * aggs absorb repeats map-side), unigram counts are vocab-sized —
    * the joins are vocab×vocab-support, never corpus-scale; the
    * 1-row total broadcasts; the head is a distributed TakeOrdered
    * bounded by the LIMIT, not a global sort. */
  def pmiBigrams(s: SparkSession, dir: String): DataFrame =
    pmiBigramsOn(Tables.documents(s, dir))

  private[graft] def pmiBigramsOn(docs: DataFrame): DataFrame = {
    val w = docs.select(TextOps.tokens(col("text")).as("__w"))
    val n = size(col("__w"))
    val bi = w.where(n >= 2)
      .withColumn("__a", slice(col("__w"), lit(1), n - 1))
      .withColumn("__b", slice(col("__w"), lit(2), n - 1))
      .select(explode(arrays_zip(col("__a"), col("__b"))).as("g"))
      .select(col("g.__a").as("word1"), col("g.__b").as("word2"))
    val uni = w.select(explode(col("__w")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("n_total"))
    bi.groupBy("word1", "word2").agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= 5)
      .join(uni.toDF("word1", "c_x"), "word1")
      .join(uni.toDF("word2", "c_y"), "word2")
      .crossJoin(broadcast(tot))
      .withColumn("lift",
        col("c_xy").cast("double") * col("n_total") / col("c_x") / col("c_y"))
      .select("word1", "word2", "c_xy", "c_x", "c_y", "lift")
      .orderBy(col("lift").desc, col("word1"), col("word2"))
      .limit(50)
  }

  /** #143 bigram LM familiarity score: each doc scored by how
    * familiar its word bigrams are corpus-wide — the corpus-LM
    * quality signal CCNet-style pipelines threshold (perplexity
    * buckets) before training, with an exact-integer contract
    * instead of FP logs: a bigram occurring `c` times corpus-wide
    * contributes floor(log2(c)), computed as `length(bin(c)) - 1`
    * (identical integer in Spark and DuckDB — no order-dependent
    * float summation anywhere). Reported per doc as the contribution
    * sum and the integer-centilog mean; templated/boilerplate docs
    * score high (repeated bigrams), gibberish/OCR noise scores ~0
    * (every bigram df = 1 → floor(log2 1) = 0) — threshold BOTH
    * tails before training.
    *
    * Scale shape: ONE tokenize pass into persisted positional bigram
    * postings (8-byte hash cells; counts on hashes equal counts on
    * strings, the gram family's standard ~2⁻⁶⁴ trade) consumed
    * twice — the gram-keyed map-side-combined count table, and the
    * count join back to the postings that collapses immediately to
    * the doc grain (count + sum, both combinable). Both exchanges
    * key on the gram hash; gram-popularity skew is absorbed by
    * map-side partial aggregation on the count side and bounded on
    * the join side by the postings' own row count. The postings are
    * a share: materialized once inside the action, freed with it. */
  def bigramLm(s: SparkSession, dir: String): DataFrame =
    bigramLmOn(Tables.documents(s, dir))

  private[graft] def bigramLmOn(docs: DataFrame): DataFrame = {
    val nn = docs.where(col("text").isNotNull)
    val postings = DedupOps.wordGramHashesAll(nn, "doc_id", col("text"), n = 2)
      .transform(Caching.share)
    val cnt = postings.groupBy(col("gram")).agg(count(lit(1)).as("__c"))
    val sc = postings.join(cnt, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(col("__c"))) - 1).cast("long").as("flog2_sum"))
    nn.select(col("doc_id"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("flog2_sum"), lit(0L)).as("flog2_sum"))
      .withColumn("familiarity_centilog",
        when(col("n_bigrams") > 0,
          call_function("div", col("flog2_sum") * lit(100L), col("n_bigrams")))
          .otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  /** #144 end-to-end corpus admission funnel: the whole C4-style
    * pre-training hygiene chain as ONE profile — ingest → language-id
    * confirmation (heuristic prediction agrees with the label) →
    * quality gates (the #42 Bronze rules) → exact dedup (first doc
    * per normalized-text hash) → paragraph strip (docs stripped to
    * nothing by #142's block-grain dedup drop out) — with per-stage
    * doc counts AND token mass (what stage 4 removes is tokens, not
    * docs: the strip trims inside survivors). This is the one-screen
    * answer to "where does my corpus go?" that individually-run gates
    * (#29/#42/#22/#141) can't give, because each stage here filters
    * the SURVIVORS of the previous one — exact-dup keepers are chosen
    * among quality survivors, block firsts among dedup survivors.
    *
    * Scale shape: one flags pass over the corpus (per-row expressions
    * only, persisted for its three consumers), then three combinable
    * exchanges — the text-hash keeper min, the block-hash firsts min
    * (the #141 skew-free shape: never a window), and the single
    * global 1-row aggregate every stage count collapses into; the
    * 5-row result explodes from that one row. No window, no
    * cross join, nothing at corpus grain leaves the map side except
    * hash-keyed combinable aggregates. */
  def corpusFunnel(s: SparkSession, dir: String): DataFrame =
    corpusFunnelOn(Tables.documents(s, dir))

  /** THE funnel gate derivation — one doc-grain projection (no
    * aggregate, no state) computing the r0 (ingest) / r1 (lang-id
    * confirmation) / r2 (quality) flags plus n_words. Batch (#144)
    * and the streaming twin ([[graft.streaming.FunnelStream]]) both
    * consume THIS projection, so gate decisions stay bit-identical by
    * construction (the [[graft.text.DedupOps.paragraphBlocks]]
    * single-derivation contract, applied to the gates). */
  private[graft] def funnelFlags(docs: DataFrame): DataFrame = {
    import graft.text.TextOps
    val t = col("text")
    // carry `source` through when the input has it (the corpus
    // pipeline DAG keys its mixing cells on it); gate decisions do
    // not depend on the extra column, so batch/stream bit-identity
    // is untouched
    val keyCols =
      if (docs.columns.contains("source"))
        Seq(col("doc_id"), col("lang"), col("source"), col("text"))
      else Seq(col("doc_id"), col("lang"), col("text"))
    TextOps.withGramStats(docs.select(keyCols: _*), t, 3)
      .withColumn("n_chars", length(t).cast("long"))
      .withColumn("stop_hits",
        TextOps.stopwordCount(t, TextOps.StopwordsEn).cast("long"))
      .withColumn("hits_en", TextOps.langHits(t, "en").cast("long"))
      .withColumn("hits_de", TextOps.langHits(t, "de").cast("long"))
      .withColumn("hits_fr", TextOps.langHits(t, "fr").cast("long"))
      .withColumn("hits_es", TextOps.langHits(t, "es").cast("long"))
      .withColumn("cjk_chars", TextOps.cjkCount(t).cast("long"))
      .withColumn("r0", t.isNotNull)
      .withColumn("r1", col("r0") && TextOps.langPredictFromHits(
        col("hits_en"), col("hits_de"), col("hits_fr"), col("hits_es"),
        col("cjk_chars")) === col("lang"))
      .withColumn("r2", col("r1") && col("n_chars") >= 100 &&
        col("n_words") >= 20 && col("stop_hits") > 0 && col("dup_gram_pct") <= 50)
  }

  /** The funnel's 5-row stage summary from a doc-grain frame carrying
    * r0..r3, n_words, __n_kept, __kept_tokens — shared by batch #144
    * and the streaming twin's profile so both report through one
    * formulation. */
  private[graft] def funnelSummary(withKept: DataFrame): DataFrame = {
    val row = withKept.agg(
      count(lit(1)).as("total"),
      sum(when(col("r0"), 1L).otherwise(0L)).as("d0"),
      sum(when(col("r1"), 1L).otherwise(0L)).as("d1"),
      sum(when(col("r2"), 1L).otherwise(0L)).as("d2"),
      sum(when(col("r3"), 1L).otherwise(0L)).as("d3"),
      sum(when(col("r3") && coalesce(col("__n_kept"), lit(0L)) >= 1, 1L).otherwise(0L)).as("d4"),
      sum(when(col("r0"), col("n_words")).otherwise(0L)).as("t0"),
      sum(when(col("r1"), col("n_words")).otherwise(0L)).as("t1"),
      sum(when(col("r2"), col("n_words")).otherwise(0L)).as("t2"),
      sum(when(col("r3"), col("n_words")).otherwise(0L)).as("t3"),
      sum(when(col("r3"), coalesce(col("__kept_tokens"), lit(0L))).otherwise(0L)).as("t4"))
    def stageRow(k: Int, name: String, in: Column, out: Column, tok: Column) =
      struct(lit(k).as("stage"), lit(name).as("name"), in.as("docs_in"),
        out.as("docs_out"), (in - out).as("docs_removed"), tok.as("tokens_out"))
    row.select(explode(array(
      stageRow(0, "ingest", col("total"), col("d0"), col("t0")),
      stageRow(1, "lang_id", col("d0"), col("d1"), col("t1")),
      stageRow(2, "quality", col("d1"), col("d2"), col("t2")),
      stageRow(3, "exact_dedup", col("d2"), col("d3"), col("t3")),
      stageRow(4, "paragraph_strip", col("d3"), col("d4"), col("t4")))).as("r"))
      .select(col("r.*"))
      .orderBy("stage")
  }

  private[graft] def corpusFunnelOn(docs: DataFrame): DataFrame = {
    import graft.text.TextOps
    val t = col("text")
    // the ONE corpus-grain share that carries `text` — every other
    // frame below is narrow (8-byte id + flags) or collapsed. r12
    // persisted a SECOND full-corpus text frame (`staged`) alongside
    // this one; at 100 TB that is two complete corpus
    // materializations where one suffices (verdict r12 #3).
    val flags = funnelFlags(docs)
      .transform(Caching.share)
    // exact-dup keepers among quality survivors: the min doc per
    // normalized-text hash IS the stage-3 survivor set. Shared
    // narrow (id + bool) for its TWO consumers — the strip's survivor
    // gate and the summary's r3 flag.
    val r3set = flags.where(col("r2"))
      .groupBy(md5(lower(trim(t))).as("__th"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("__r3"))
      .transform(Caching.share)
    // block firsts among dedup survivors — #141's combinable-min
    // shape, carrying each block's token count for stage-4 mass; the
    // survivor gate is a narrow id semi-join, text rides only from
    // the one shared flags frame
    val paras = graft.text.DedupOps.paragraphBlocks(
      flags.join(r3set, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), TextOps.tokens(t).as("__t")),
      "doc_id", paraTokens = 20)
    val kept = paras
      .groupBy(md5(col("para")).as("__h"))
      .agg(min(struct(col("doc_id").as("d"), col("para_idx").as("i"),
        col("ntok").as("ntok"))).as("__f"))
      .groupBy(col("__f.d").as("doc_id"))
      .agg(count(lit(1)).as("__n_kept"), sum(col("__f.ntok")).as("__kept_tokens"))
    // the summary consumer needs flags + r3 only — text never rides
    val staged = flags.drop("text").join(r3set, Seq("doc_id"), "left")
      .withColumn("r3", coalesce(col("__r3"), lit(false)))
    funnelSummary(staged.join(kept, Seq("doc_id"), "left"))
  }

  /** #145 token-budget corpus selection: the "fit the best B tokens
    * from N candidates" pass every pre-training data build ends with —
    * docs are admitted in quality order (score DESC, doc_id ASC) while
    * the tokens admitted BEFORE them stay under the budget (here: half
    * the corpus's token mass, so the op is self-contained and the
    * boundary is guaranteed non-trivial). Emits the full doc-grain
    * admission ledger: score, token count, tokens ahead in the queue,
    * and the admit/reject verdict — the straddling doc is admitted
    * (greedy "take until the budget is reached"), everything after it
    * rejected.
    *
    * Scale shape: the global quality ordering NEVER becomes a global
    * sort — the admission order is encoded as one integral key
    * ((100−score)·2⁵⁶ + doc_id, exact while doc_id < 2⁵⁶) and the
    * exclusive running token count comes from
    * [[graft.operators.ScanOps.exclusivePrefixSum]]'s two-level bucket
    * scan: every stage is bounded by bucket size, not corpus size (a
    * quality-score hot spot subdivides by the doc_id low bits). The
    * budget is a 1-row aggregate broadcast onto the ledger
    * (ScaleUpSpec-allowlisted bounded BNLJ); the scored projection is
    * persisted so its three consumers (bucket bounds, the scan, the
    * budget) tokenize the corpus once. */
  def tokenBudget(s: SparkSession, dir: String): DataFrame =
    tokenBudgetOn(Tables.documents(s, dir))

  private[graft] def tokenBudgetOn(docs: DataFrame): DataFrame = {
    // the composite admission key is exact ONLY while 0 <= doc_id <
    // 2^56 — a 64-bit hash id (the norm in a 100 TB corpus) would
    // silently scramble the quality ordering while staying oracle-green
    // (the oracle replays the same arithmetic), so the precondition is
    // ENFORCED per row: out-of-range ids fail the job loudly instead
    // of corrupting the selection. The check is a codegen'd branch on
    // a column already in registers — no extra pass, no extra action.
    val ordKey = when(col("doc_id") >= 0L && col("doc_id") < lit(1L << 56),
      (lit(100L) - col("quality_score")) * lit(1L << 56) + col("doc_id"))
      .otherwise(raise_error(concat(
        lit("q_token_budget: doc_id out of [0, 2^56) breaks the admission-order key "),
        lit("(widen the key to decimal(38,0) for hash-ranged ids): doc_id="),
        col("doc_id").cast("string"))))
    val scored = scoredTokens(docs)
      .withColumn("__ord", ordKey)
      .transform(Caching.share)
    val budget = scored.agg(
      call_function("div", sum(col("n_words")), lit(2L)).as("__budget"))
    graft.operators.ScanOps
      .exclusivePrefixSum(scored, Seq.empty, Seq("__ord"), col("n_words"), "cum_before")
      .crossJoin(broadcast(budget))
      .select(col("doc_id"), col("quality_score"), col("n_words"), col("cum_before"),
        (col("cum_before") < col("__budget")).as("admitted"))
      .orderBy("doc_id")
  }

  /** Shared doc-grain (doc_id, n_words, quality_score) projection for
    * the budget/sweep selection ops — the #30 scoring rules verbatim.
    * private[graft]: the streaming selection twin
    * ([[graft.streaming.SelectionStream]]) consumes THIS derivation so
    * batch and stream score bit-identically by construction. */
  private[graft] def scoredTokens(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.where(t.isNotNull).select(
      col("doc_id"),
      TextOps.wordCount(t).cast("long").as("n_words"),
      TextOps.qualityScore(
        length(t).cast("long"),
        TextOps.wordCount(t).cast("long"),
        TextOps.stopwordCount(t, TextOps.StopwordsEn).cast("long"),
        TextOps.distinctWordCount(t).cast("long")).as("quality_score"))
  }

  /** #146 quality-threshold sweep: the survival curve behind choosing
    * a quality cutoff — for every threshold t in {0,5,…,100}, how many
    * docs and how much token mass survive `score ≥ t`, as counts and
    * corpus permille. The threshold-first twin of #145's budget-first
    * selection: #145 answers "which docs fit B tokens", this answers
    * "which cutoff yields the mass I want" (read the row whose
    * tokens_permille crosses the target, then gate at that score).
    *
    * Scale shape: one scored scan collapses to the ≤101-row score
    * grain (combinable count/sum) and a 1-row total; the 21-row
    * threshold grid theta-joins the score grain (both sides
    * aggregated and bounded — the BNLJ is allowlisted) and every
    * later step runs on ≤21 rows. Nothing at corpus grain survives
    * the first aggregate. */
  def qualitySweep(s: SparkSession, dir: String): DataFrame =
    qualitySweepOn(Tables.documents(s, dir))

  private[graft] def qualitySweepOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // persisted: byScore and the totals would otherwise each pay the
    // tokenize+score projection over the whole corpus
    val scored = scoredTokens(docs)
      .transform(Caching.share)
    val byScore = scored.groupBy("quality_score")
      .agg(count(lit(1)).as("__docs"), sum(col("n_words")).as("__toks"))
    val totals = scored.agg(
      count(lit(1)).as("__td"), coalesce(sum(col("n_words")), lit(0L)).as("__tt"))
    val grid = spark.range(0, 101, 5).select(col("id").as("threshold"))
    grid.join(byScore, col("quality_score") >= col("threshold"), "left")
      .groupBy("threshold")
      .agg(sum(coalesce(col("__docs"), lit(0L))).as("docs_kept"),
        sum(coalesce(col("__toks"), lit(0L))).as("tokens_kept"))
      .crossJoin(broadcast(totals))
      .select(
        col("threshold"),
        col("docs_kept"),
        col("tokens_kept"),
        call_function("div", col("docs_kept") * 1000L, greatest(col("__td"), lit(1L)))
          .as("docs_permille"),
        call_function("div", col("tokens_kept") * 1000L, greatest(col("__tt"), lit(1L)))
          .as("tokens_permille"))
      .orderBy("threshold")
  }

  /** #147 budgeted mixture allocation: split a global token budget
    * (half the corpus — self-contained, the contention is real) across
    * the (lang, source) cells by WATER-FILLING — every cell gets
    * min(cap, L) tokens where the level L is the largest integer with
    * sum(min(cap, L)) ≤ B. Small cells are taken whole, large cells
    * are capped at the common level: the standard fair-mixing answer
    * to "no source may dominate the training mix" stated as an exact
    * integer program (L has a closed form per sorted-prefix segment —
    * no iteration, no floats). Emits the per-cell allocation ledger
    * (cap, allocated, fill permille) plus the level itself.
    *
    * Scale shape: ONE combinable aggregate collapses the corpus to
    * the ≤|lang×source| cell grain; every later step — the sorted
    * prefix sums, the feasibility boundary, the level — runs on that
    * collapsed frame (its global window sits above the aggregate, the
    * GlobalWindowSpec-sanctioned shape), and the 1-row level/budget
    * frames broadcast back onto it (allowlisted bounded BNLJ). */
  def mixAllocate(s: SparkSession, dir: String): DataFrame =
    mixAllocateOn(Tables.documents(s, dir))

  private[graft] def mixAllocateOn(docs: DataFrame): DataFrame = {
    val cells = tokenCells(docs)
      .transform(Caching.share)
    waterFill(cells, col("cap_tokens"))
      .select(col("lang"), col("source"), col("cap_tokens"),
        col("allocated_tokens"),
        call_function("div", col("allocated_tokens") * 1000L,
          greatest(col("cap_tokens"), lit(1L))).as("fill_permille"),
        col("level"))
      .orderBy("lang", "source")
  }

  /** (lang, source) token-capacity cells — one combinable aggregate. */
  private def tokenCells(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.where(t.isNotNull)
      .groupBy(col("lang"), col("source"))
      .agg(sum(TextOps.wordCount(t).cast("long")).as("cap_tokens"))
  }

  /** Water-filling allocation over cell capacities: every cell gets
    * min(capExpr, L) where L is the largest integer with
    * sum(min(capExpr, L)) ≤ half the total capExpr mass. Shared by
    * #147 (raw caps) and #150 (epoch-scaled caps — the budget scales
    * with the caps, so ONE closed form serves both regimes). Input
    * must be the collapsed cell grain; emits the input columns +
    * allocated_tokens + level.
    *
    * Sorted-prefix feasibility: with caps ascending (c1 ≤ … ≤ cn,
    * ties broken by cell key), used(ci) = pfx(i−1) + (n−i+1)·ci is
    * the budget consumed at level ci; the last feasible row anchors
    * the closed-form level.
    *
    * `tieBreak` = the cell-key columns that order cap ties (they make
    * the ranking total, hence the level deterministic); they MUST
    * exist on `cells` — checked loudly here so a caller with a new
    * cell grain fails at build time instead of inheriting a silently
    * different tie order from same-named stray columns. */
  private[graft] def waterFill(cells: DataFrame, capExpr: Column,
      tieBreak: Seq[String] = Seq("lang", "source")): DataFrame = {
    require(tieBreak.nonEmpty, "waterFill: tieBreak key columns required")
    val missing = tieBreak.filterNot(cells.columns.contains)
    require(missing.isEmpty,
      s"waterFill: tie-break column(s) ${missing.mkString(", ")} absent from the " +
        s"cells frame (${cells.columns.mkString(", ")}) — pass the cell grain's key columns")
    val capped = cells.withColumn("__cap", capExpr)
    val tot = capped.agg(
      call_function("div", sum(col("__cap")), lit(2L)).as("__B"),
      count(lit(1)).as("__n"))
    val w = Window.orderBy(col("__cap") +: tieBreak.map(col): _*)
    val ranked = capped
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__pfx", coalesce(
        sum(col("__cap")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("__used",
        col("__pfx") + (col("__n") - col("__i") + 1L) * col("__cap"))
    val lastFeas = ranked.where(col("__used") <= col("__B"))
      .agg(max(struct(col("__i").as("i"), col("__cap").as("c"),
        col("__used").as("u"))).as("__f"))
    val level = lastFeas.crossJoin(broadcast(tot)).select(
      when(col("__f").isNull, call_function("div", col("__B"), col("__n")))
        .when(col("__f.i") === col("__n"), col("__f.c"))
        .otherwise(col("__f.c") + call_function("div",
          col("__B") - col("__f.u"), col("__n") - col("__f.i")))
        .as("level"))
    capped.crossJoin(broadcast(level))
      .withColumn("allocated_tokens", least(col("__cap"), col("level")))
      .drop("__cap")
  }

  /** #150 epoch-capped upsampling allocation (the data-constrained
    * scaling regime): the budget is 2× the corpus (more than one
    * epoch of everything), no cell may repeat beyond 4 epochs, and
    * the surplus water-fills — small high-value cells repeat up to
    * the 4-epoch ceiling, big cells absorb the level. Mechanically
    * this IS #147's closed form on 4×-scaled caps (the budget scales
    * with the caps: 2·total = (4·total)/2), so both regimes share
    * [[waterFill]]; the ledger reports epochs_permille =
    * allocated·1000 / cap (1000 = exactly one epoch).
    *
    * Scale shape: identical to #147 — one combinable aggregate to the
    * cell grain, everything after on ≤|cells| rows. */
  def mixEpochs(s: SparkSession, dir: String): DataFrame =
    mixEpochsOn(Tables.documents(s, dir))

  private[graft] def mixEpochsOn(docs: DataFrame): DataFrame = {
    val cells = tokenCells(docs)
      .transform(Caching.share)
    waterFill(cells, col("cap_tokens") * 4L)
      .select(col("lang"), col("source"), col("cap_tokens"),
        col("allocated_tokens"),
        call_function("div", col("allocated_tokens") * 1000L,
          greatest(col("cap_tokens"), lit(1L))).as("epochs_permille"),
        col("level"))
      .orderBy("lang", "source")
  }

  /** #151 mixture materialization: the ACTION row of the #147/#150
    * allocation ledgers — the epoch-capped water-fill allocation
    * (#150's regime: budget 2× the corpus, 4-epoch ceiling) is turned
    * into an actual emitted corpus. Per (lang, source) cell the
    * allocation splits into whole epochs (allocated ÷ cap copies of
    * every doc) plus a fractional remainder filled by a deterministic
    * per-cell prefix of docs in doc_id order: a doc earns the extra
    * copy iff its cell-local exclusive running token mass fits the
    * remainder ENTIRELY (cum_before + n_words ≤ rem). That rule makes
    * the emitted mass exact-by-construction: per cell
    * whole·cap + prefix ≤ allocated ≤ 4·cap, so no cell exceeds its
    * epoch ceiling, totals stay ≤ the global budget, and each cell's
    * shortfall is smaller than its first non-admitted doc ("hit
    * within one doc") — the guarantees rate-based key-mod sampling
    * (#65) can only deliver in expectation. Output = one row per
    * emitted COPY (doc_id, cell, n_words, copy_id).
    *
    * Scale shape: ONE tokenize pass persisted for its two consumers
    * (the cell caps and the prefix scan); the water-fill ledger lives
    * on the collapsed ≤|lang×source| grain and broadcast-hash-joins
    * back onto the doc stream; the per-cell running mass is
    * [[graft.operators.ScanOps.exclusivePrefixSum]]'s two-level
    * bucket scan (NEVER a per-cell window — a handful of sources
    * would each sort their whole sub-corpus in one task); the copy
    * explosion is map-side. One corpus-grain exchange total (inside
    * the prefix scan). */
  def mixMaterialize(s: SparkSession, dir: String): DataFrame =
    mixMaterializeOn(Tables.documents(s, dir))

  private[graft] def mixMaterializeOn(docs: DataFrame): DataFrame =
    // registered-query form: the raw layer + the standard determinism
    // sort every verified query pays (SURVEY §3)
    mixMaterializeRaw(docs).orderBy("doc_id", "copy_id")

  /** UNORDERED #151 — the pipeline-path variant. The mixture layer is
    * keyed by (doc_id, copy_id), so a DAG stage that writes it gains
    * nothing from a corpus-scale range exchange + sort; only the
    * registered query (whose hash contract needs row order) pays the
    * orderBy tail. */
  private[graft] def mixMaterializeRaw(docs: DataFrame): DataFrame = {
    val t = col("text")
    val base = docs.where(t.isNotNull)
      .select(col("doc_id"), col("lang"), col("source"),
        TextOps.wordCount(t).cast("long").as("n_words"))
      .transform(Caching.share)
    mixCopiesFromBase(base)
      .select(col("doc_id"), col("lang"), col("source"), col("n_words"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_id"))
  }

  /** The #151 allocation at the PRE-EXPLODE grain: per-doc target copy
    * counts over a NARROW (doc_id, lang, source, n_words) base — the
    * single derivation behind [[mixMaterializeRaw]] (which feeds it
    * the tokenized corpus) and the incremental selection delta
    * ([[graft.operators.CorpusSelectionDelta]], which feeds it the
    * standing narrow doc index — NO text scan). Emits the base
    * columns + `n_copies` (> 0 rows only); copies are 1..n_copies per
    * doc, so two callers of this function agree on the exact
    * (doc_id, copy_id) set by construction. */
  private[graft] def mixCopiesFromBase(base: DataFrame): DataFrame = {
    val cells = base.groupBy(col("lang"), col("source"))
      .agg(sum(col("n_words")).as("cap_tokens"))
    val ledger = waterFill(cells, col("cap_tokens") * 4L)
      .select(col("lang"), col("source"),
        call_function("div", col("allocated_tokens"), col("cap_tokens")).as("__whole"),
        pmod(col("allocated_tokens"), col("cap_tokens")).as("__rem"))
    val pre = graft.operators.ScanOps
      .exclusivePrefixSum(base, Seq("lang", "source"), Seq("doc_id"), col("n_words"), "__cum")
    pre.join(broadcast(ledger), Seq("lang", "source"))
      .withColumn("n_copies", col("__whole") +
        when(col("__cum") + col("n_words") <= col("__rem"), 1L).otherwise(0L))
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_words"), col("n_copies"))
  }

  /** #91 pairwise source overlap: exact 3-gram Jaccard between every
    * source pair — the corpus-mixing diagnostic that tells a data
    * release which sources are near-mirrors (crawl overlap, syndication)
    * before mixing weights are chosen. Integer permille, inner-join
    * semantics (pairs with zero shared grams don't appear).
    *
    * Scale shape: the postings self-join is keyed by gram, and a gram
    * contributes at most #sources² join rows however big the corpus —
    * the source grain bounds the blow-up the way doc-grain pair joins
    * can't; set sizes are #sources rows and broadcast. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapOn(Tables.documents(s, dir))

  private[graft] def sourceOverlapOn(docs: DataFrame): DataFrame = {
    // 64-bit gram hashes, not gram strings: the postings shuffle and
    // the self-join key drop to 8 bytes, and set counts on hashes
    // equal counts on strings absent a ~2⁻⁶⁴ collision (the same
    // trade every sketch-dedup query here already makes). The
    // distinct postings are shared by their THREE consumers (sizes +
    // both join sides).
    val grams = DedupOps.wordGramHashes(docs, "source", col("text"), 3).distinct()
      .transform(Caching.share)
    val sz = grams.groupBy("source").agg(count(lit(1)).as("n"))
    val b = grams.toDF("source_b", "gram2")
    grams.toDF("source_a", "gram")
      .join(b, col("gram") === col("gram2") && col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_inter"))
      .join(broadcast(sz.toDF("source_a", "n_a")), "source_a")
      .join(broadcast(sz.toDF("source_b", "n_b")), "source_b")
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard_permille",
        call_function("div", col("n_inter") * lit(1000L), col("n_union")))
      .select("source_a", "source_b", "n_a", "n_b", "n_inter", "n_union", "jaccard_permille")
      .orderBy("source_a", "source_b")
  }

  /** #92 per-source lexical diversity: type-token ratio, hapax share
    * and the Simpson repeat-probability — the gibberish/templating
    * profile a corpus report carries per source (a template farm has
    * low TTR and high Simpson; OCR noise has hapax ≈ 1000‰). All
    * ratios are integer permille; `simpson` = Σc(c−1)/(N(N−1)) keeps
    * an EXACT integer numerator (decimal sum, overflow-proof) and
    * becomes double only in the final expression, NULL when N < 2.
    *
    * Scale shape: one (source, term)-keyed shuffle with map-side
    * combine, then a #sources×vocab → #sources re-aggregation —
    * never a corpus-scale sort, never a float accumulation. */
  def sourceDiversity(s: SparkSession, dir: String): DataFrame =
    sourceDiversityOn(Tables.documents(s, dir))

  private[graft] def sourceDiversityOn(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    tc.groupBy("source").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("__hapax"),
        sum((col("c") * (col("c") - lit(1L))).cast("decimal(38,0)")).as("__num"))
      .select(
        col("source"), col("n_tokens"), col("n_terms"),
        call_function("div", col("n_terms") * lit(1000L), col("n_tokens"))
          .as("type_token_permille"),
        call_function("div", col("__hapax") * lit(1000L), col("n_terms"))
          .as("hapax_permille"),
        when(col("n_tokens") < 2, lit(null).cast("double"))
          .otherwise(col("__num").cast("double") /
            (col("n_tokens").cast("double") * (col("n_tokens") - lit(1L)).cast("double")))
          .as("simpson"))
      .orderBy("source")
  }

  /** #93 split drift check: the n_chars distribution of the
    * train/val/test md5 split (#72's rule), bucketed at 100 chars,
    * with per-split integer-permille shares and the max pairwise
    * share gap per bucket — the split-skew gate a pipeline runs
    * before trusting held-out metrics (a hash split SHOULD show ~0
    * drift; a time- or source-correlated id would not). Conditional
    * aggregation keeps one pass and one bucket-grain window — no
    * pivot, no join, absent-in-split buckets count 0 naturally.
    *
    * Scale shape: one pruned scan (doc_id, n_chars) → ≤ |buckets|
    * cells; the permille windows run on the bucket grain. */
  def splitDrift(s: SparkSession, dir: String): DataFrame =
    splitDriftOn(Tables.documents(s, dir))

  /** The #72 md5 split rule — ONE derivation shared by the splitter
    * (`trainSplit`) and its drift audit (`splitDrift`), so the gate
    * can never desynchronize from the split it audits: first md5
    * nibble of the id; < 'd' → train (13/16), < 'f' → val (2/16),
    * else test (1/16). */
  private[graft] def mdSplit(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nibble = substring(md5(id.cast("string")), 1, 1)
    when(nibble < "d", "train").when(nibble < "f", "val").otherwise("test")
  }

  private[graft] def splitDriftOn(docs: DataFrame): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    // an EMPTY split yields NULL permille (mirroring DuckDB's `//`),
    // not an ANSI divide-by-zero crash; the drift greatest() then
    // skips the NULL gaps in both engines
    def share(n: org.apache.spark.sql.Column) = {
      val tot = sum(n).over(all)
      when(tot === 0, lit(null).cast("long"))
        .otherwise(call_function("div", n * lit(1000L), tot))
    }
    val shares = docs
      .select(mdSplit(col("doc_id")).as("__s"),
        call_function("div", col("n_chars"), lit(100L)).as("bucket"))
      .groupBy("bucket").agg(
        sum(when(col("__s") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("__s") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("__s") === "test", 1L).otherwise(0L)).as("n_test"))
      .withColumn("train_permille", share(col("n_train")))
      .withColumn("val_permille", share(col("n_val")))
      .withColumn("test_permille", share(col("n_test")))
    shares
      .withColumn("drift_permille", greatest(
        abs(col("train_permille") - col("val_permille")),
        abs(col("train_permille") - col("test_permille")),
        abs(col("val_permille") - col("test_permille"))))
      .orderBy("bucket")
  }

  /** #102 language-ID confusion matrix: (label, prediction) counts
    * from #29's heuristic with per-label row shares in integer permille (the diagonal cell IS the recall) —
    * the model-eval report that turns a per-doc classifier into a
    * quality number per class (which languages leak into `unknown`,
    * which pair confuses). Shares #29's exact predictor derivation,
    * so the two rows can never drift apart.
    *
    * Scale shape: the per-doc classify pass is map-only; the matrix
    * is ≤ |langs|² cells with the recall window on the label grain. */
  def langConfusion(s: SparkSession, dir: String): DataFrame =
    langConfusionOn(Tables.documents(s, dir))

  private[graft] def langConfusionOn(docs: DataFrame): DataFrame =
    langIdOn(docs)
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .withColumn("lang_total",
        sum(col("n")).over(Window.partitionBy("lang")))
      .withColumn("share_permille",
        call_function("div", col("n") * lit(1000L), col("lang_total")))
      .withColumn("is_correct", col("lang") === col("predicted"))
      .select("lang", "predicted", "n", "lang_total", "share_permille", "is_correct")
      .orderBy("lang", "predicted")

  /** #103 per-source quality mix: #30's integer quality score rolled
    * up to the source grain — doc count, exact mean score in
    * permille, and the high/medium/low bucket counts with the high
    * share — the table a data release uses to set per-source mixing
    * weights (down-weight the low-quality crawl, keep the curated
    * set). Null text is explicitly unscoreable — score NULL, counted
    * in `n_docs` but in no bucket. (The guard is load-bearing: both
    * engines' `least` SKIPS nulls, so the raw #30 scorer hands a
    * null-text doc every 25-cap and a perfect 100 — consistent
    * across engines, catastrophic for a weighting table.)
    *
    * Scale shape: the scoring pass is map-only (one pruned scan),
    * then a #sources-cell aggregation with map-side combine. */
  def sourceQuality(s: SparkSession, dir: String): DataFrame =
    sourceQualityOn(Tables.documents(s, dir))

  private[graft] def sourceQualityOn(docs: DataFrame): DataFrame = {
    val t = col("text")
    val scored = docs.select(
      col("source"),
      when(t.isNull, lit(null).cast("long"))
        .otherwise(TextOps.qualityScore(
          length(t).cast("long"),
          TextOps.wordCount(t).cast("long"),
          TextOps.stopwordCount(t, TextOps.StopwordsEn).cast("long"),
          TextOps.distinctWordCount(t).cast("long"))).as("__q"))
    scored.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        call_function("div", sum(col("__q")) * lit(1000L), count(lit(1)))
          .as("mean_quality_permille"),
        sum(when(col("__q") >= 60, 1L).otherwise(0L)).as("n_high"),
        sum(when(col("__q") >= 40 && col("__q") < 60, 1L).otherwise(0L)).as("n_medium"),
        sum(when(col("__q") < 40, 1L).otherwise(0L)).as("n_low"))
      .withColumn("high_permille",
        call_function("div", col("n_high") * lit(1000L), col("n_docs")))
      .orderBy("source")
  }

  /** #107 lexical diversity per document: token count, distinct
    * tokens, type-token ratio, Simpson repeat-concentration
    * (probability two random tokens are the same type, the exact
    * quantity behind Rényi-2 entropy) and effective vocabulary
    * n²/Σc² — the corpus-quality signals that catch
    * low-entropy/templated text which plain length filters miss.
    *
    * Determinism: entropy-style measures built from an
    * order-dependent Σ p·log p float sum verify on no engine pair;
    * these are the same signals from EXACT integer sums (n, nd, Σc²)
    * with one final double division each (SURVEY §3).
    *
    * Scale shape: map-only — per-doc run-length fold over the doc's
    * own sorted token array (one codegen'd `aggregate` HOF, no
    * explode, no shuffle at all); the token stream never leaves its
    * input partition, vs the explode→groupBy(doc, token) shape whose
    * shuffle carries every token in the corpus. */
  def lexicalDiversity(s: SparkSession, dir: String): DataFrame =
    lexicalDiversityOn(Tables.documents(s, dir))

  private[graft] def lexicalDiversityOn(documents: DataFrame): DataFrame = {
    // fold state: current run's token + length, closed-run Σc², #types
    def st(prev: Column, run: Column, ssq: Column, nd: Column) =
      struct(prev.as("prev"), run.as("run"), ssq.as("ssq"), nd.as("nd"))
    val counts = aggregate(
      sort_array(col("__toks")),
      st(lit(null).cast("string"), lit(0L), lit(0L), lit(0L)),
      (acc, x) =>
        when(acc("run") === 0L, st(x, lit(1L), lit(0L), lit(1L)))
          .when(x === acc("prev"), st(x, acc("run") + 1L, acc("ssq"), acc("nd")))
          .otherwise(st(x, lit(1L), acc("ssq") + acc("run") * acc("run"), acc("nd") + 1L)),
      acc => struct((acc("ssq") + acc("run") * acc("run")).as("ssq"), acc("nd").as("nd")))
    documents
      // own projections: both are multi-referenced, the guard in
      // CollapseProject keeps each array/struct materialized once
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        counts.as("__c"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("__c.nd").as("n_distinct"),
        (col("__c.nd").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        when(col("n_tokens") > 1L,
          (col("__c.ssq") - col("n_tokens")).cast("double") /
            (col("n_tokens") * (col("n_tokens") - 1L)).cast("double"))
          .otherwise(lit(0.0)).as("simpson"),
        ((col("n_tokens") * col("n_tokens")).cast("double") /
          col("__c.ssq").cast("double")).as("eff_vocab"))
  }

  /** #136 n-gram novelty: per document, how many of its DISTINCT
    * 3-grams appear for the FIRST time in the corpus (first = the
    * smallest doc_id containing the gram — the ingestion-order proxy
    * this corpus carries), and the integer-permille novelty rate.
    * THE marginal-value metric of data curation: a feed whose
    * novelty_permille trends to zero is re-delivering the corpus and
    * stops earning its ingestion cost (complement of the dedup
    * family: dedup finds whole near-duplicate DOCS, novelty measures
    * sub-document redundancy growth even when no pair crosses a
    * dedup threshold). Docs with fewer than 3 tokens have no grams
    * and drop out, matching the gram-family convention.
    *
    * Scale shape: the corpus tokenizes ONCE into shared distinct-gram
    * postings (hashes not strings — 8-byte shuffle cells, same as the
    * rest of the gram family) consumed by both grains: the doc-keyed
    * gram counts and the gram-keyed map-side-combined min(doc_id)
    * ownership pass; owner counts collapse back to ≤ |docs| rows; the
    * postings are freed with the action. At 100 TB the postings
    * exchange is the same one every df/tfidf operator pays,
    * and novelty needs no second pass. (An earlier draft gated an
    * array-form gram SET on `size(__grams) > 0` — the alias-inline
    * trap documented on [[DedupOps.wordGramHashes]]: the pushed
    * filter re-evaluates the whole tokenize+hash chain per consumer,
    * measured 12× this query's cost.) */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    ngramNoveltyOn(Tables.documents(s, dir))

  /** Per-doc novelty core shared by #136 and #140: one tokenize pass
    * into shared hash postings, the doc-keyed gram counts and the
    * gram-keyed min(doc_id) ownership pass joined to one doc-grain
    * frame (doc_id, n_grams, n_novel). */
  private def perDocNovelty(docs: DataFrame): DataFrame = {
    val postings = DedupOps.wordGramHashes(docs, "doc_id", col("text"), n = 3)
      .transform(Caching.share)
    val counts = postings.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val novel = postings.groupBy(col("gram")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    counts.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  private[graft] def ngramNoveltyOn(docs: DataFrame): DataFrame =
    perDocNovelty(docs)
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        call_function("div", col("n_novel") * lit(1000L), col("n_grams"))
          .as("novelty_permille"))
      .orderBy("doc_id")

  /** #137 gram document-frequency histogram: for every distinct
    * 3-gram, in how many docs it appears (df), reported as exact
    * counts for df 1..100 and one ">cap" bucket at 101 — with the
    * postings-row mass (Σdf) each bucket carries. This is the
    * statistic BEHIND the gram family's df ≤ 100 informativeness cap
    * (#25/#84/#38): the top bucket's n_postings is exactly the
    * shuffle volume the cap deletes, so the cap is data-justified
    * per corpus instead of folklore. Integer-exact everywhere.
    *
    * Scale shape: one tokenize pass into hash postings, ONE
    * gram-keyed map-side-combined count, then a ≤101-row histogram
    * collapse — the same single exchange every df/tfidf operator
    * pays, with a bounded output. */
  def gramDfHistogram(s: SparkSession, dir: String): DataFrame =
    gramDfHistogramOn(Tables.documents(s, dir))

  private[graft] def gramDfHistogramOn(docs: DataFrame): DataFrame =
    DedupOps.wordGramHashes(docs, "doc_id", col("text"), n = 3)
      .groupBy(col("gram")).agg(count(lit(1)).as("__df"))
      .groupBy(least(col("__df"), lit(101L)).as("df_bucket"))
      .agg(count(lit(1)).as("n_grams"), sum(col("__df")).as("n_postings"))
      .orderBy("df_bucket")

  /** #138 near-dup cluster-size histogram: the resolved connected
    * components of the exact Jaccard pair graph (#38's groups:
    * df ≤ 100, J ≥ 20%) collapsed to (cluster_size → n_clusters) —
    * the one-screen shape of a corpus's duplication structure
    * (pairwise twins vs template families vs a percolating
    * mega-cluster demand different dedup policies; a size-2-heavy
    * histogram dedups by keeper choice, a mega-cluster means the
    * threshold is below the corpus's phase transition).
    *
    * Scale shape: everything #38 pays (df-capped postings join,
    * pointer-jumping components) plus two bounded collapses — group
    * grain, then the ≤ max-size histogram. */
  def dupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupOps.ngramJaccardPairs(
      Tables.documents(s, dir), "doc_id", col("text"), n = 3, maxDf = 100, minJaccardPct = 20)
    DedupOps.resolveGroups(pairs)
      .groupBy(col("group_id")).agg(count(lit(1)).as("__n"))
      .groupBy(col("__n").as("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")
  }

  /** #139 cross-source duplication matrix: doc-level exact near-dup
    * pairs (J ≥ 50, #25's generator) rolled up to the UNORDERED
    * source-pair grain — which feed copies which, with the diagonal
    * (within-source duplication) kept. The syndication screen: #91
    * says two sources share vocabulary (gram-level, source-grain);
    * this says actual documents are near-copies across them
    * (doc-level evidence), which is what decides dedup-before-mix.
    * min/max source normalization makes the pair unordered so both
    * directions land in one cell.
    *
    * Scale shape: everything #25 pays (df-capped postings join) plus
    * two broadcast-able doc→source joins (the doc-grain source map is
    * bounded by the corpus, joined on the pair frame — orders of
    * magnitude smaller than postings) and a ≤ #sources² collapse. */
  def crossSourceDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = DedupOps.ngramJaccardPairs(
      docs, "doc_id", col("text"), n = 3, maxDf = 100, minJaccardPct = 50)
    val src = docs.select(col("doc_id"), col("source"))
    pairs.select("doc1", "doc2")
      .join(src.select(col("doc_id").as("doc1"), col("source").as("__s1")), "doc1")
      .join(src.select(col("doc_id").as("doc2"), col("source").as("__s2")), "doc2")
      .groupBy(
        least(col("__s1"), col("__s2")).as("source_a"),
        greatest(col("__s1"), col("__s2")).as("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** #140 novelty by source: #136's first-occurrence gram ownership
    * rolled to the SOURCE grain — per feed, docs-with-grams, total
    * distinct-per-doc grams, grams first seen in this feed's docs,
    * and the permille rate. The operational form of the novelty
    * metric: the per-doc report says which documents are redundant,
    * this says which FEED has stopped earning its ingestion cost —
    * the number a curation dashboard actually pages on.
    *
    * Scale shape: identical postings work to #136 (one tokenize pass,
    * one gram-keyed exchange), then the rollup happens on the
    * doc-grain novel/count frames (≤ |docs| rows) joined to the
    * doc→source map before a ≤ #sources collapse — the corpus never
    * shuffles a second time. */
  def noveltyBySource(s: SparkSession, dir: String): DataFrame =
    noveltyBySourceOn(Tables.documents(s, dir))

  private[graft] def noveltyBySourceOn(docs: DataFrame): DataFrame =
    perDocNovelty(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("n_grams"),
        sum(col("n_novel")).as("n_novel"))
      .select(col("source"), col("n_docs"), col("n_grams"), col("n_novel"),
        call_function("div", col("n_novel") * lit(1000L), col("n_grams"))
          .as("novelty_permille"))
      .orderBy("source")

  def all: Map[String, Q] = Map(
    "q_boiler_coverage" -> (boilerCoverage _),
    "q_novelty_by_source" -> (noveltyBySource _),
    "q_cross_source_dup" -> (crossSourceDup _),
    "q_ngram_novelty" -> (ngramNovelty _),
    "q_gram_df_histogram" -> (gramDfHistogram _),
    "q_dup_cluster_sizes" -> (dupClusterSizes _),
    "q_lexical_diversity" -> (lexicalDiversity _),
    "q_source_quality" -> (sourceQuality _),
    "q_lang_confusion" -> (langConfusion _),
    "q_source_diversity" -> (sourceDiversity _),
    "q_split_drift" -> (splitDrift _),
    "q_pmi_bigrams" -> (pmiBigrams _),
    "q_bigram_lm" -> (bigramLm _),
    "q_corpus_funnel" -> (corpusFunnel _),
    "q_token_budget" -> (tokenBudget _),
    "q_quality_sweep" -> (qualitySweep _),
    "q_mix_allocate" -> (mixAllocate _),
    "q_mix_epochs" -> (mixEpochs _),
    "q_mix_materialize" -> (mixMaterialize _),
    "q_source_overlap" -> (sourceOverlap _),
    "q_vocab_coverage" -> (vocabCoverage _),
    "q_boilerplate" -> (boilerplate _),
    "q_gram_containment" -> (gramContainment _),
    "q_bloom_dedup" -> (bloomMembership _),
    "q_train_split" -> (trainSplit _),
    "q_rare_tokens" -> (rareTokens _),
    "q_tfidf_terms" -> (tfidfTerms _),
    "q_contamination" -> (contamination _),
    "q_dedup_incremental" -> (dedupIncremental _),
    "q_json_extract" -> (jsonExtract _),
    "q_repetition" -> (repetition _),
    "q_corpus_filter" -> (corpusFilter _),
    "q_dedup_resolve" -> (dedupResolve _),
    "q_dedup_keeper" -> (dedupKeeper _),
    "q_dup_profile" -> (dupProfile _),
    "q_group_sample" -> (groupSample _),
    "q_dedup_exact" -> (dedupExact _),
    "q_paragraph_dedup" -> (paragraphDedup _),
    "q_paragraph_strip" -> (paragraphStrip _),
    "q_ngram_jaccard" -> (ngramJaccard _),
    "q_dedup_minhash" -> (dedupNearDup _),
    "q_dedup_simhash" -> (dedupNearDup _),
    "q_lang_id" -> (langId _),
    "q_text_quality" -> (textQuality _),
    "q_token_count" -> (tokenCount _),
    "q_doc_fingerprint" -> (docFingerprint _),
    "q_multimodal_meta" -> (multimodalMeta _),
    "q_multimodal_frames" -> (multimodalFrames _),
    "q_binary_dedup" -> (binaryDedup _)
  )
}
