package graft.ops.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.QueryPack
import graft.state.Materialize.Policy

/** Text-analysis operators for LLM data curation (SURVEY.md §2 C39 + the
  * round-2 mandate): corpus statistics, language identification, quality
  * scoring, token counting, and document fingerprinting — all over the
  * `documents` fixture.
  *
  * Scale notes: every query is a scan + (optional explode) + hash
  * aggregate — map-side partial aggregation, one shuffle on the group key,
  * no windows over the whole corpus except the per-document argmax in
  * language-ID (partitioned by doc_id, so it scales with documents, not
  * corpus size). Token explodes multiply rows by tokens-per-doc, which is
  * bounded by document length — the standard explode+aggregate shape that
  * survives any corpus size.
  *
  * Determinism: integer statistics wherever possible; the only doubles are
  * ratios of integers (single IEEE division — identical in both engines,
  * no rounding needed).
  */
object TextStats extends QueryPack {

  /** Per-language stopword profiles over the corpus's vocabulary. The
    * fixture's synthetic text draws from one 31-word vocabulary regardless
    * of its `lang` label, so the *mechanism* (profile scoring + argmax) is
    * what the gate verifies — on real corpora the profiles would be the
    * standard per-language stopword lists.
    */
  private val profiles: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "value",
    "de" -> "data", "de" -> "table", "de" -> "row",
    "es" -> "query", "es" -> "filter", "es" -> "sort",
    "fr" -> "group", "fr" -> "join", "fr" -> "merge",
    "zh" -> "hash", "zh" -> "scan", "zh" -> "batch")

  /** C39 corpus statistics per (lang, source): doc counts, char/token
    * sums, and mean tokens per doc.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_chars").as("sum_chars"),
           sum($"n_tokens").as("sum_tokens"),
           max($"n_tokens").as("max_tokens"))
      .withColumn("avg_tokens", $"sum_tokens" / $"n_docs")
      .orderBy($"lang", $"source")
  }

  /** C39 language identification: profile-keyword scoring with
    * deterministic argmax (score desc, then language asc), aggregated
    * into a (labeled lang × predicted lang) confusion table.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    docs.join(langPredictionsFrom(docs), Seq("doc_id"), "left_outer")
      .select($"lang", coalesce($"plang", lit("und")).as("predicted"))
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"predicted")
  }

  /** Per-document language prediction `(doc_id, plang)` — the
    * profile-argmax core of [[langId]], shared with the `lang_id`
    * pipeline processor ([[graft.pipeline.LangIdProcessor]]) so the gate
    * and the configured pipeline cannot disagree on a prediction. A doc
    * with NO profile-word hit has no row (the gate's left join coalesces
    * to 'und'; the processor does the same).
    */
  private[graft] def langPredictionsFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val prof = profiles.toDF("plang", "w")
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("w"))
    val scores = toks.join(broadcast(prof), Seq("w"))
      .groupBy($"doc_id", $"plang").agg(count(lit(1)).as("score"))
    val wArg = Window.partitionBy($"doc_id").orderBy($"score".desc, $"plang")
    scores.withColumn("rn", row_number().over(wArg))
      .filter($"rn" === 1).select($"doc_id", $"plang")
  }

  /** C39 quality scoring: integer feature flags (length band, token count,
    * lexical diversity, stopword density) summed into a 0–4 score per doc.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withQualityScore(Tables.documents(spark, dir), $"text", $"n_chars")
      .select($"doc_id", $"n_tokens", $"n_distinct", $"stop_cnt", $"score")
      .orderBy($"doc_id")
  }

  /** Append the additive quality features (`n_tokens`, `n_distinct`,
    * `stop_cnt`, `score`) to any frame — the scoring core of
    * [[qualityScore]], shared with the `quality_score` pipeline
    * processor so the gate and a configured pipeline produce the same
    * score by construction. `nChars` is caller-supplied: the gate
    * trusts the fixture's `n_chars` column, the processor recomputes
    * `length(text)`. Uses (and overwrites, then drops) a temp `ws`
    * column; overwrites the four output names if present. Pure map —
    * scan-rate at 100 TB, streaming-legal.
    */
  private[graft] def withQualityScore(df: DataFrame, text: Column,
                                      nChars: Column): DataFrame =
    df.withColumn("ws", split(text, " "))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("ws"))).cast("long"))
      .withColumn("stop_cnt",
        expr("cast(size(filter(ws, w -> w = 'the' or w = 'a')) as bigint)"))
      .withColumn("score",
        (nChars.between(100, 400)).cast("int")
          + (col("n_tokens") >= 20).cast("int")
          + (col("n_distinct") * 2 >= col("n_tokens")).cast("int")
          + (col("stop_cnt") * 5 <= col("n_tokens")).cast("int"))
      .drop("ws")

  /** Gopher/C4-style heuristic quality RULES (distinct from the additive
    * [[qualityScore]]): per-document hard filters of the kind production
    * curation pipelines gate a crawl on — word-count bounds, mean word
    * length bounds, minimum alphabetic-word fraction, minimum stopword
    * evidence — each emitted as its own boolean plus the conjunction.
    *
    * Determinism: every threshold is integer cross-multiplication
    * (e.g. mean word length in [3,10] ⟺ 3·n ≤ Σlen ≤ 10·n), so the
    * booleans cannot diverge between engines; the one double emitted
    * (`mean_wlen`) is a single IEEE division of two exact integers.
    * Scale: pure map — no shuffle at all until the final presentation
    * sort; at 100 TB this is a scan-rate filter.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withGopherFlags(Tables.documents(spark, dir), $"text")
      .select($"doc_id", $"n_words", $"mean_wlen", $"stop_cnt",
              $"r_count", $"r_wlen", $"r_alpha", $"r_stop", $"passes")
      .orderBy($"doc_id")
  }

  // ---- Gopher rule building blocks: every threshold and the stopword
  // list exists exactly ONCE, composed by both the annotating helper and
  // the nameless conjunction — a future rule tweak cannot silently make
  // the gate, the filter mode, and the annotate mode disagree ----
  private def gopherFeatures(text: Column): (Column, Column, Column, Column) = {
    val ws = split(text, " ")
    (size(ws).cast("long"),
     aggregate(ws, lit(0L), (acc, w) => acc + length(w).cast("long")),
     size(filter(ws, w => w === "the" || w === "a" || w === "of")).cast("long"),
     size(filter(ws, w => w.rlike("[a-z]"))).cast("long"))
  }
  private def gopherRuleFlags(nWords: Column, sumWlen: Column,
      stopCnt: Column, alphaCnt: Column): (Column, Column, Column, Column) =
    (nWords.between(40L, 100000L),
     (sumWlen >= nWords * 3) && (sumWlen <= nWords * 10),
     alphaCnt * 5 >= nWords * 4,
     stopCnt >= 2)

  /** The Gopher conjunction as ONE nameless boolean expression — the
    * `gopher_filter` processor's filter mode uses this instead of
    * [[withGopherFlags]] so a pure row filter cannot clobber input
    * columns that collide with the working names (`stop_cnt` is also
    * emitted by the quality-score stage, `ws` by the annotating helper).
    * Built from the SAME rule blocks as [[withGopherFlags]]; the
    * equivalence is additionally pinned by CurationProcessorsSpec
    * (filter rows == annotate.where(passes)).
    */
  private[graft] def gopherPasses(text: Column): Column = {
    val (nWords, sumWlen, stopCnt, alphaCnt) = gopherFeatures(text)
    val (rCount, rWlen, rAlpha, rStop) =
      gopherRuleFlags(nWords, sumWlen, stopCnt, alphaCnt)
    rCount && rWlen && rAlpha && rStop
  }

  /** Append the Gopher rule flags (`n_words`, `sum_wlen`, `stop_cnt`,
    * `alpha_cnt`, `mean_wlen`, `r_count`, `r_wlen`, `r_alpha`, `r_stop`,
    * `passes`) to any frame — the rule core of [[gopherRules]], shared
    * with the `gopher_filter` pipeline processor's annotate mode.
    * Overwrites the output names if present. Pure map — scan-rate at
    * 100 TB, streaming-legal.
    */
  private[graft] def withGopherFlags(df: DataFrame, text: Column): DataFrame = {
    val (nWords, sumWlen, stopCnt, alphaCnt) = gopherFeatures(text)
    val flagged = df
      .withColumn("n_words", nWords)
      .withColumn("sum_wlen", sumWlen)
      .withColumn("stop_cnt", stopCnt)
      .withColumn("alpha_cnt", alphaCnt)
      .withColumn("mean_wlen", col("sum_wlen").cast("double") / col("n_words"))
    val (rCount, rWlen, rAlpha, rStop) = gopherRuleFlags(
      col("n_words"), col("sum_wlen"), col("stop_cnt"), col("alpha_cnt"))
    flagged
      .withColumn("r_count", rCount)
      .withColumn("r_wlen", rWlen)
      .withColumn("r_alpha", rAlpha)
      .withColumn("r_stop", rStop)
      .withColumn("passes",
        col("r_count") && col("r_wlen") && col("r_alpha") && col("r_stop"))
  }

  /** Vocabulary construction: corpus-wide token frequencies, top-K by
    * (count desc, token asc) — the first step of any tokenizer/BPE
    * training run. Scale shape: one hash aggregate over the exploded
    * tokens (map-side combine collapses each partition to its distinct
    * tokens), then TakeOrderedAndProject for the top-K — the global rank
    * window runs AFTER the limit, over K rows only, never over the
    * full vocabulary.
    */
  /** The corpus-wide top-20 vocabulary (w, n) — shared by [[vocabTopK]]
    * and [[oovRate]] so the (count desc, token asc) selection exists
    * exactly once.
    */
  private def topVocab(toks: DataFrame): DataFrame = {
    import toks.sparkSession.implicits._
    toks.groupBy($"w").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w").limit(20)
  }

  def vocabTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("w"))
    topVocab(toks)
      .withColumn("rank",
        row_number().over(Window.orderBy($"n".desc, $"w")).cast("long"))
      .select($"rank", $"w", $"n")
      .orderBy($"rank")
  }

  /** Out-of-vocabulary rate per source: the coverage metric every
    * tokenizer/vocab decision is judged by — the fraction of corpus
    * tokens NOT in the top-K vocabulary. Shape: the top-K vocab (tiny)
    * broadcasts into a LEFT ANTI join against the exploded tokens, then
    * one hash aggregate per source; the ratio is a single exact-integer
    * IEEE division.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"source", explode(split($"text", " ")).as("w"))
    // ONE corpus explode (r18, committed scan census; was two — vocab +
    // rate sides each re-tokenized): the per-(source, word) counts frame
    // carries everything both sides need — the global top-20 vocab is
    // its w-rollup (Σ over sources ≡ counting the raw stream) and the
    // per-source token/OOV totals are n-weighted sums over it. Two
    // consumers → conditional pin (per-source-vocabulary-bounded frame).
    val counts = graft.state.Materialize.pin(
      toks.groupBy($"source", $"w").agg(count(lit(1)).as("n")), Policy.IfLarge)
    val vocab = counts.groupBy($"w").agg(sum($"n").as("nw"))
      .orderBy($"nw".desc, $"w").limit(20)
    counts.join(broadcast(vocab.select($"w", lit(1).as("_in_v"))),
              Seq("w"), "left_outer")
      .groupBy($"source")
      .agg(sum($"n").as("n_tokens"),
           sum(when($"_in_v".isNull, $"n").otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", $"n_oov".cast("double") / $"n_tokens")
      .select($"source", $"n_tokens", $"n_oov", $"oov_rate")
      .orderBy($"source")
  }

  /** C39 token counting, whitespace vs regex ("BPE-ish" word/number/symbol
    * classes — RE2-safe so both engines tokenize identically), aggregated
    * per language.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("ws_tokens", size(split($"text", " ")).cast("long"))
      .withColumn("re_tokens",
        size(regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"ws_tokens").as("sum_ws_tokens"),
           sum($"re_tokens").as("sum_re_tokens"),
           sum($"n_chars").as("sum_chars"))
      .orderBy($"lang")
  }

  /** C39 document fingerprinting: min-hash fingerprint (lexicographic min
    * of the shingle md5s — a 1-perm MinHash both engines compute
    * identically) plus the sorted 5 smallest shingle hashes (a k-min
    * sketch; two documents' sketches overlap ⇔ their shingle sets do).
    *
    * The sketch is emitted SERIALIZED (`'|'`-joined) rather than as an
    * array column: the correctness gate sorts result rows by every
    * column, and array cells are unsortable there (VERDICT r2 #1). The
    * serialization is order-preserving over the sorted sketch, so no
    * information is lost.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.shingles3(spark, dir)
      .select($"doc_id", md5(encode($"s", "UTF-8")).as("h"))
      .groupBy($"doc_id")
      .agg(min($"h").as("fp_min"),
           concat_ws("|", slice(sort_array(collect_set($"h")), 1, 5)).as("fp_kmin"))
      .orderBy($"doc_id")
  }

  /** C39 winnowing fingerprints (the MOSS scheme): hash every character
    * k-gram, slide a w-window over the hash sequence, keep each window's
    * minimum — the selected set is a position-robust document signature
    * with guaranteed coverage (every w-run contributes a fingerprint),
    * which plain min-k sketches don't give. The per-gram hash is the
    * cross-engine 60-bit md5 prefix in its NATIVE form
    * ([[CrossHash.hex60Native]] / `graft.functions.Md5Hex60` — digest
    * bytes straight to a long, no hex-string materialization; this
    * expression runs once per character position, the hottest scalar in
    * the whole bench). The rolling-hash formulation is an equivalent
    * streaming optimization of the same k-gram hashes; the selected set
    * is identical.
    *
    * Scale notes: explode by character position is linear in corpus
    * bytes; the window-min partitions by doc_id so the sort is per-doc
    * and bounded by document length, never corpus-wide.
    */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    winnowReport(winnowSelForDir(spark, dir))

  /** [[winnowFingerprint]] over any (doc_id, text) corpus — also the
    * `ScaleProbe` entry. Un-memoized (laws/probes need fresh builds);
    * the dir-keyed gates share [[winnowSelForDir]]'s frame instead.
    */
  def winnowFrom(docs: DataFrame): DataFrame =
    winnowReport(winnowMins(docs))

  /** The per-doc fingerprint report over any (doc_id, wmin[, …]) rows —
    * `collect_set` dedups, so the per-position [[winnowMins]] rows and
    * the distinct selection frame yield the identical report.
    */
  private def winnowReport(rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    // ONE collect_set aggregate; n_fps = its size (a separate
    // countDistinct would add a distinct-aggregate expand path for a
    // number the set already carries). fp_head is serialized ('|'-joined)
    // so the gate's row-sorter can order it (VERDICT r2 #1); bigint →
    // string casting is identical in both engines.
    rows
      .groupBy($"doc_id")
      .agg(sort_array(collect_set($"wmin")).as("fps"))
      .select($"doc_id",
        size($"fps").cast("long").as("n_fps"),
        concat_ws("|",
          expr("transform(slice(fps, 1, 8), x -> cast(x as string))"))
          .as("fp_head"))
      .orderBy($"doc_id")
  }

  /** The distinct (doc_id, wmin) fingerprint selection memoized per
    * (session, fixture dir) — the [[SuffixIndex.forDir]] pattern (r11):
    * `llm_winnow` and `llm_winnow_pairs` both derive the same
    * fingerprint frame over the same corpus, and the derivation (one
    * md5 per byte position + per-doc window minima) is the engine's
    * hottest subtree. The memo's retained pin survives Bench's debris
    * sweep between the two gates.
    */
  private def winnowSelForDir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.state.Materialize.memo(spark, "winnow_selection", dir)(
      graft.state.Materialize.pin(
        winnowMins(Tables.documents(spark, dir))
          .select($"doc_id", $"wmin").distinct(), _))
  }

  /** The shared winnowing core: per-gram native md5 hashes →
    * per-position window minima over fully-populated windows. Feeds both
    * the per-doc fingerprint aggregate ([[winnowFrom]]) and the
    * cross-doc pair join ([[winnowPairs]]).
    *
    * BYTE semantics (declared round 10): grams are k-BYTE slices of the
    * UTF-8 encoding at byte offsets — the contract `graft_md5_60_at`
    * already implements natively (O(1) `getByte`; char offsets would
    * need an O(i) seek per position). Equal to char grams exactly when
    * the text is ASCII, which is why the fixture oracle's char spelling
    * still matches; UnicodeTextSpec pins the byte semantics against a
    * driver-side reference on a multilingual corpus.
    */
  private def winnowMins(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val k = 8 // gram width (bytes)
    val w = 4 // winnowing window (grams)
    val grams = docs
      .filter(octet_length($"text") >= k + w - 1)
      .select($"doc_id", octet_length($"text").as("len"),
        explode(expr(s"sequence(0, octet_length(text) - $k)")).as("i"),
        $"text")
      .select($"doc_id", $"len", $"i",
        // native positional hex60: THE hot expression of the whole bench
        // (one md5 per char position) — digest bytes straight to a long
        // from the byte slice in place: no hex string, no base
        // conversion, and no substring (whose O(i) char seek made the
        // position explode O(len²) per document)
        expr(s"graft_md5_60_at(text, i, $k)").as("hv"))
    val win = Window.partitionBy($"doc_id").orderBy($"i")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("wmin", min($"hv").over(win))
      .filter($"i" <= $"len" - k - (w - 1)) // only fully-populated windows
  }

  /** The selected (doc_id, wmin) fingerprint set — the inverted-index
    * universe of [[winnowPairsFrom]] — exposed for `PairCountProbe`'s
    * df-distribution telemetry.
    */
  private[ops] def winnowSelected(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    winnowMins(docs).select($"doc_id", $"wmin").distinct()
  }

  /** MOSS cross-document copy detection: documents sharing ≥ 3 selected
    * winnow fingerprints become candidate plagiarism/copy pairs, scored
    * by shared-fingerprint count and an integer-ppm overlap ratio vs the
    * smaller document's fingerprint set. This is the step that makes
    * winnowing a PAIRWISE detector rather than a per-doc sketch — and
    * the reason winnowing selects ~1/w of the grams: the inverted index
    * the self-join runs over is w× sparser than a full-gram index.
    * Same skeleton as the [[Dedup]] n-gram Jaccard join: inverted index
    * on the fingerprint value, document-frequency cap (df ≤ 50) so a
    * boilerplate fingerprint shared by half the corpus cannot degenerate
    * the self-join quadratically (the cap is part of the operator's
    * definition, mirrored in the oracle), pair aggregation keyed on
    * (d1, d2) — never an all-pairs comparison.
    */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsCoreSel(winnowSelForDir(spark, dir), _ => 50L)

  /** [[winnowPairs]] over any (doc_id, text) corpus — also the
    * `ScaleProbe` entry. Cap pinned at 50 for oracle parity.
    */
  def winnowPairsFrom(docs: DataFrame): DataFrame =
    winnowPairsCore(docs, _ => 50L)

  /** [[winnowPairsFrom]] with the df cap chosen by
    * [[Dedup.selectDfCap]] from the fingerprint census — the deployment
    * form: a corpus whose boilerplate fingerprint distribution shifts
    * re-tunes its own cap instead of waiting for a hand edit (the
    * round-6 degenerate-fanout incident, automated away). The census
    * runs over the SAME pinned fingerprint frame the join consumes, so
    * it adds one tiny aggregate, not a re-derivation.
    */
  def winnowPairsAutoFrom(docs: DataFrame): DataFrame =
    winnowPairsCore(docs, sel => Dedup.selectDfCap(sel, col("wmin")))

  private def winnowPairsCore(docs: DataFrame,
                              capOf: DataFrame => Long): DataFrame = {
    import docs.sparkSession.implicits._
    // The fingerprint derivation (one md5 per char position + window-min)
    // is the hottest subtree of the whole engine and is consumed FOUR
    // times below (sizes, df cap, both sides of the self-join).
    // Materialize it exactly once: without this, Catalyst re-derives the
    // subtree per consumer (~5x the work), and under a long-lived JVM the
    // plan degrades far worse than its steady-state cost. localCheckpoint
    // also truncates lineage so AQE re-plans the fan-out from observed
    // sizes rather than the explode's inflated estimates. (Dir-keyed
    // gates pass the memoized [[winnowSelForDir]] frame instead.)
    winnowPairsCoreSel(
      winnowMins(docs).select($"doc_id", $"wmin").distinct()
        .transform(graft.state.Materialize.pin(_, Policy.Always)),
      capOf)
  }

  private def winnowPairsCoreSel(sel: DataFrame,
                                 capOf: DataFrame => Long): DataFrame = {
    import sel.sparkSession.implicits._
    val cap = capOf(sel)
    val sz = sel.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val keep = sel.groupBy($"wmin").agg(count(lit(1)).as("df"))
      .where($"df" <= cap)
    val idx = sel.join(keep.select($"wmin"), Seq("wmin"))
    // SHUFFLE_HASH on both sides: the inverted index is corpus-sized, so
    // a broadcast build side here is a driver/executor memory bomb at
    // scale (and the observed failure mode of the official r4 bench).
    // A shuffled hash join on wmin keys both sides to the same partitions
    // with per-partition build tables bounded by the df cap.
    val pairs = idx.select($"wmin", $"doc_id".as("d1")).hint("SHUFFLE_HASH")
      .join(idx.select($"wmin", $"doc_id".as("d2")).hint("SHUFFLE_HASH"),
        Seq("wmin"))
      .where($"d1" < $"d2")
      .groupBy($"d1", $"d2")
      .agg(count(lit(1)).as("n_shared"))
      .where($"n_shared" >= 3)
    pairs
      .join(sz.select($"doc_id".as("d1"), $"n".as("n1")), Seq("d1"))
      .join(sz.select($"doc_id".as("d2"), $"n".as("n2")), Seq("d2"))
      .select($"d1", $"d2", $"n_shared",
        expr("(1000000 * n_shared) div least(n1, n2)").as("overlap_ppm"))
      // report pairs ≥ 30% overlap: on this shared-vocab fixture the
      // raw ≥3-shared mist is 72k pairs while ≥30% is the planted
      // near-dups plus their neighborhood — the copy-report bar
      .where($"overlap_ppm" >= 300000)
      .orderBy($"d1", $"d2")
  }

  /** Distributed suffix array by prefix doubling — the index structure
    * under exact-substring dedup (Lee et al. 2022 build suffix arrays of
    * the whole corpus to find every duplicated substring; the k-gram
    * [[winnowMins]]/span machinery approximates what this computes
    * exactly). A naive suffix sort compares O(len)-byte strings
    * O(n log n) times; prefix doubling never compares strings at all
    * after round 0 — round j orders suffixes by their first 7·2^j BYTES
    * (byte-level UTF-8 semantics, like the global sibling since r10; the
    * seed is [[graft.functions.PackBytes8]] over the first 7 bytes)
    * using only the PAIR of integer ranks (rank_i, rank_{i+d})
    * from the previous round, so each round is two windows on the same
    * doc_id partitioning (a `lead` to fetch the offset rank — positions
    * are contiguous, making the self-join a window — and a `dense_rank`
    * over the pair), and ceil(log2 maxlen) rounds finish the array.
    *
    * The gate's oracle is the NAIVE suffix sort (DuckDB orders actual
    * suffix strings); hash-equality proves the doubling algorithm, not a
    * shared spelling. maxlen is one scalar aggregate (bounded driver
    * probe, TextRank precedent); each round localCheckpoints to truncate
    * the O(log n)-deep lineage. Work distributes per document; the
    * corpus-GLOBAL generalized form is [[suffixArrayGlobal]].
    */
  def suffixArray(spark: SparkSession, dir: String): DataFrame =
    suffixRanks(Tables.documents(spark, dir).where(col("doc_id") < 100))

  /** Corpus-GLOBAL generalized suffix array — what exact-substring dedup
    * at scale actually indexes (Lee et al. 2022 build ONE suffix array
    * over the whole concatenated corpus; [[suffixArray]]'s per-doc form
    * ranks each document independently). Every (doc, position) suffix
    * gets its dense rank in the global lexicographic order of all
    * suffixes; identical suffixes across documents tie, which is exactly
    * the duplicated-substring signal the dedup pass consumes.
    *
    * Same prefix-doubling idea as the per-doc form, with two round-count
    * cuts (the naive doubling loop ran 10 rounds / 26s at sf0.1):
    *   - the INITIAL rank orders suffixes by their first 16 characters,
    *     packed order-preserving into TWO longs (7 bits per ASCII char,
    *     8 chars per long; positions past the suffix end pack as 0,
    *     below every real character, so a shorter suffix that prefixes
    *     a longer one sorts first — plain string-comparison semantics,
    *     matching the naive DuckDB oracle). Replaces rounds d=1..8.
    *   - each later round QUADRUPLES instead of doubling: rank by the
    *     4-tuple (r_i, r_{i+d}, r_{i+2d}, r_{i+3d}) — the three leads
    *     share ONE window pass (same spec), and a round extends the
    *     compared prefix 4×, so maxlen 577 needs 3 rounds after the
    *     seed instead of 6.
    * The re-rank each round must be a GLOBAL dense_rank — and a global
    * Window is a single-partition sort, the scale-killer this engine
    * bans. Instead [[SuffixIndex]]'s rankByBucketed two-phases it with a
    * DETERMINISTIC bucket column (a pure function of the sort key's
    * leading component, so equal keys always share a bucket):
    *   1. per-bucket `dense_rank` — ONE hash exchange on the bucket;
    *   2. global rank = local rank + exclusive prefix sum of the
    *      per-bucket distinct-key counts, a bounded tiny frame (≤ 128²
    *      two-char buckets for the seed, ≤ shuffle-partitions rank
    *      ranges for later rounds) broadcast back.
    * (An earlier form used `repartitionByRange` + `spark_partition_id`;
    * range partitioning SAMPLES its child — evaluating the heavy lead
    * subtree twice — and needs a second pid exchange plus a pin for id
    * stability. The deterministic bucket removes all three: measured
    * 15.8s → see COVERAGE.md for the final number at sf0.1.)
    * The offset fetch (rank at i+kd) stays a per-doc `lead` — suffixes
    * never cross document boundaries in a generalized suffix array.
    * Early exits: all-distinct (total order reached) or a round that
    * splits no group (fixed point — next round's tuples are functions
    * of the same unchanged rank partition); identical cross-doc
    * suffixes tie forever, correctly — that tie IS the duplicated-
    * substring signal.
    */
  def suffixArrayGlobal(spark: SparkSession, dir: String): DataFrame =
    formatSuffixRanks(SuffixIndex.forDir(spark, dir))

  /** Formats a [[SuffixIndex.Index]] into the gate's output frame. */
  private def formatSuffixRanks(ix: SuffixIndex.Index): DataFrame = {
    val f = ix.finalRanks
    f.select(f("doc_id"), f("r"), f("i").cast("long").as("sa_pos"))
      .orderBy(col("r"), col("doc_id"), col("sa_pos"))
  }

  /** From-frame twin for laws/probes: builds a fresh (un-memoized)
    * [[SuffixIndex]] and formats its final ranks — the round-8
    * `suffixRanksGlobal` output, bit-identical (the build moved to
    * [[SuffixIndex.build]] unchanged; only the per-round frames are now
    * retained for the longest-dup-substring consumer).
    */
  private[llm] def suffixRanksGlobal(docs: DataFrame): DataFrame =
    formatSuffixRanks(SuffixIndex.build(docs))

  /** Formatter over a caller-held (possibly memoized) index — the
    * [[UnicodeGates]] entry, which shares one [[SuffixIndex.forFrame]]
    * build between its two gates (VERDICT r10 #4).
    */
  private[graft] def suffixRanksGlobalFromIndex(ix: SuffixIndex.Index): DataFrame =
    formatSuffixRanks(ix)


  private[llm] def suffixRanks(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // BYTE-level semantics, consistent with the global sibling since r10
    // (ADVICE r10: this per-doc gate was the one remaining char/ascii()
    // holdout — silently ASCII-only while the multilingual claims cover
    // the suffix family): positions are byte offsets, lengths are byte
    // counts, order is byte-lexicographic (= code-point order on UTF-8).
    // On the ASCII gate fixture (doc_id < 100, verified all-ASCII at
    // sf0.01/sf0.1) bytes ≡ chars, so the naive DuckDB char-sort oracle
    // is unchanged.
    // shared guarded ingestion (ADVICE r11): same raise_error-on-NUL
    // contract as the global SuffixIndex build — pack8's past-end
    // sentinel is byte 0, so NUL-bearing docs would mis-rank silently
    val base = SuffixIndex.guardedBase(docs)
    val maxLenRow = base.agg(max($"len")).head()
    // all-empty corpus: zero rows survive the len > 0 filter and max()
    // is null — return the empty (doc_id, r, sa_pos) frame instead of
    // NPE'ing on getInt (self-review r12 pass 3)
    if (maxLenRow.isNullAt(0))
      return base.select($"doc_id", lit(0L).as("r"), lit(0L).as("sa_pos"))
        .where(lit(false))
    val maxLen = maxLenRow.getInt(0)
    // round 0: rank = the first 7 suffix bytes packed order-preserving
    // into one long (any order-preserving, prefix-injective initial rank
    // works; graft_pack8's past-end-as-0 gives shorter-prefix-sorts-first
    // byte semantics) — certifies d=7 before the first doubling round
    var cur = base
      .select($"doc_id", explode(expr("sequence(0, len - 1)")).as("i"), $"text")
      .select($"doc_id", $"i", expr("graft_pack8(text, i)").as("r"))
      .transform(graft.state.Materialize.pin(_, Policy.Always))
    var d = 7
    while (d < maxLen) {
      val byPos  = Window.partitionBy($"doc_id").orderBy($"i")
      val byPair = Window.partitionBy($"doc_id").orderBy($"r", $"r2")
      cur = cur
        // suffix i+d ends the doc ⇒ sentinel below every real rank: the
        // shorter suffix is a proper prefix of the longer and sorts first
        .withColumn("r2", coalesce(lead($"r", d).over(byPos), lit(-1L)))
        .withColumn("r", dense_rank().over(byPair).cast("long"))
        .drop("r2")
        .transform(graft.state.Materialize.pin(_, Policy.Always))
      d *= 2
    }
    cur.select($"doc_id", $"r", $"i".cast("long").as("sa_pos"))
      .orderBy($"doc_id", $"r")
  }

  /** Deterministic hash-based stratified sampling + train/eval split —
    * how reproducible corpus sampling actually works at scale: membership
    * is a pure function of the stable document id (hash-mod buckets),
    * never an RNG, so any re-run, any engine, and any partitioning
    * selects the IDENTICAL sample, and train/eval never leak across a
    * re-shard. 20% sample per language; sampled docs split 80/20 into
    * train/eval by a second, independent hash dimension (different salt).
    */
  def sampleHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def hashMod(salt: String) = expr(
      CrossHash.hex60(s"concat(cast(doc_id as string), '$salt')") + " % 100")
    val bucket = hashMod("#sample")
    val split = hashMod("#split")
    Tables.documents(spark, dir)
      .withColumn("bucket", bucket)
      .filter($"bucket" < 20)
      .withColumn("part", when(split < 80, "train").otherwise("eval"))
      .groupBy($"lang", $"part")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"),
           max($"doc_id").as("last_doc"))
      .orderBy($"lang", $"part")
  }

  /** Stratified train/val/test split — EXACT 80/10/10 quotas per stratum
    * (source), unlike [[sampleHash]]'s independent hash-mod buckets whose
    * proportions only hold in expectation (and drift badly on SMALL
    * strata — the reason stratified splitting exists: a 30-doc source
    * must still contribute ~3 eval docs, not 0 or 7). Each stratum's
    * documents are ranked by a salted deterministic hash (shuffle-proof,
    * reproducible) and cut at rank·10 ≤ n·8 / n·9 — integer
    * cross-multiplication, so the boundaries cannot diverge
    * cross-engine.
    *
    * Scale shape: ONE scan and ONE window shuffle keyed by stratum — the
    * stratum size `n` is a whole-partition window count over the SAME
    * partitioning as the rank window, so Catalyst plans one exchange
    * feeding two chained WindowExecs and no join. (The original form
    * computed `n` as a separate aggregate broadcast-joined back, which
    * scanned documents twice and paid a broadcast exchange per call —
    * measured 5× the sibling scan+window+agg gates at sf0.1, the round-7
    * `weak` flag.) The rank window is a streaming row_number (no
    * buffering beyond the sort); a viral stratum means one big sort
    * partition — the standard remedy (split the hash range and re-rank
    * hierarchically) keeps the same plan shape and is not needed at
    * fixture scale.
    */
  def splitStratified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source")
      .withColumn("h", expr(
        CrossHash.hex60("concat(source, '|', cast(doc_id as string))")))
    val w = Window.partitionBy($"source").orderBy($"h", $"doc_id")
    val wAll = Window.partitionBy($"source")
    docs
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("split",
        when($"r" * 10 <= $"n" * 8, "train")
          .when($"r" * 10 <= $"n" * 9, "val")
          .otherwise("test"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"),
           min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"source", $"split")
  }

  /** Per-domain document cap — the "no domain may dominate the corpus"
    * curation stage (C4/RefinedWeb cap the documents any one host can
    * contribute, because crawl frequency correlates with SEO spam, not
    * quality): within every source, documents are ranked by desirability
    * (longest first — the stand-in for a quality score; ties by doc_id)
    * and only the top [[DomainCap]] survive. Output is the per-source
    * census a curation report shows — totals, survivors, kept-character
    * mass, and the top-ranked document.
    *
    * Scale shape: ONE window shuffle keyed by source, and the census
    * aggregate reuses that partitioning (same key — no second exchange).
    * No joins, no driver state. A viral domain means one big sort
    * partition; the remedy that keeps this exact plan is a per-partition
    * pre-cap (keep ≤ cap rows per source per input partition — correct
    * because the global top-cap survives any per-partition top-cap)
    * before the global rank, bounding sort input at cap·partitions.
    */
  private val DomainCap = 15

  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")
    Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("r", row_number().over(w).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_total"),
           sum(when($"r" <= DomainCap, 1L).otherwise(0L)).as("n_kept"),
           sum(when($"r" <= DomainCap, $"n_chars").otherwise(0L)).as("chars_kept"),
           max(when($"r" === 1L, $"doc_id")).as("top_doc"))
      .orderBy($"source")
  }

  /** Deterministic training-shard assignment — the corpus→reader layout
    * step that ends every data pipeline: each document's shard is a pure
    * hash-mod of its stable id (re-runs, engines, and re-partitionings
    * all agree — [[sampleHash]]'s principle applied to OUTPUT layout),
    * and its position within the shard is a rank over a second,
    * independent salted hash — a deterministic intra-shard shuffle, so
    * readers see sources interleaved without an RNG. Census per shard:
    * doc count (hash-mod keeps shards balanced at any corpus size),
    * character mass, the head document, and a Σ pos·doc_id order
    * checksum that only matches if both engines produce the IDENTICAL
    * reading order.
    *
    * Scale shape: shard assignment is per-row column arithmetic (no
    * shuffle); the position rank is ONE window shuffle keyed by shard,
    * reused by the same-keyed census aggregate — exactly the
    * `repartition(shard) + sortWithinPartitions` a shard writer
    * executes, so the gate times the real write-path shuffle.
    */
  private val NShards = 8

  def shardAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"shard").orderBy($"oh", $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars")
      .withColumn("shard", expr(
        CrossHash.hex60("concat(cast(doc_id as string), '#shard')") +
          s" % $NShards").cast("int"))
      .withColumn("oh", expr(
        CrossHash.hex60("concat(cast(doc_id as string), '#order')")))
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_chars").as("sum_chars"),
           max(when($"pos" === 1L, $"doc_id")).as("head_doc"),
           sum($"pos" * $"doc_id").as("order_checksum"))
      .orderBy($"shard")
  }

  /** Blocklist (badwords) content filter — the C4-style term-list stage,
    * distinct in intent from QUALITY filtering (policy, not fluency): a
    * document is flagged when blocked terms exceed 2% of its tokens
    * (integer cross-multiplied, so the flag cannot diverge cross-engine).
    * The fixture vocabulary is synthetic, so in-vocabulary stand-ins play
    * the badwords role. Census per lang: docs, flagged docs, total hits,
    * worst single-document hit count.
    *
    * Scale shape: ONE corpus pass — token explode → broadcast LEFT join
    * against the tiny term list (for real lists of hundreds of terms the
    * broadcast hash join beats a regex-alternation scan and stays
    * codegen'd) → per-doc aggregate → per-lang aggregate. No corpus
    * shuffle except the two keyed aggregates.
    */
  private val Blocklist = Seq("slow", "broken", "spam")

  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bl = Blocklist.toDF("term")
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
      .join(broadcast(bl), $"tok" === $"term", "left")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_toks"),
           sum(when($"term".isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("flagged", $"n_hits" * 50 >= $"n_toks")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(when($"flagged", 1L).otherwise(0L)).as("n_flagged"),
           sum($"n_hits").as("total_hits"),
           max($"n_hits").as("worst_doc_hits"))
      .orderBy($"lang")
  }

  /** Repetition detection — the repetitious-text quality filter real
    * curation pipelines run (boilerplate, generated spam, and template
    * text show high duplicated-n-gram ratios): per document, total vs
    * distinct word 3-grams and the integer-threshold flag
    * `n_repeated/n_grams ≥ 20%`. One explode + one hash aggregate; the
    * flag is integer arithmetic so no float can diverge cross-engine.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.shingles(spark, dir, 3, distinct = false)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
           countDistinct($"s").as("n_distinct"))
      .withColumn("n_repeated", $"n_grams" - $"n_distinct")
      .withColumn("is_repetitive", $"n_repeated" * 5 >= $"n_grams")
      .orderBy($"doc_id")
  }

  /** PII scrubbing — redact emails and phone-shaped tokens, the
    * compliance pass every training corpus gets. The fixture text is
    * synthetic (no real PII), so the query PLANTS deterministic PII in a
    * subset of documents (doc_id-derived, identically in both engines)
    * and then proves the scrub: per language, how many docs carried PII,
    * how many of each kind were redacted, and a checksum (min md5) over
    * the scrubbed text that only matches if both engines produced
    * byte-identical redacted output. Patterns are RE2-safe so Spark
    * (Java regex) and DuckDB (RE2) agree.
    */
  /** The gate-proven PII patterns, shared with the `pii_scrub` pipeline
    * processor ([[graft.pipeline.PiiScrubProcessor]]). RE2-safe so Spark
    * (Java regex) and DuckDB (RE2) agree.
    */
  private[graft] val PiiEmailPattern = "[a-z0-9]+@[a-z0-9.]+"
  private[graft] val PiiPhonePattern = "555-[0-9]{4}"

  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val email = PiiEmailPattern
    val phone = PiiPhonePattern
    Tables.documents(spark, dir)
      .withColumn("text2", concat($"text",
        when($"doc_id" % 7 === 0,
          concat(lit(" contact user"), $"doc_id", lit("@example.com")))
          .otherwise(lit("")),
        when($"doc_id" % 11 === 0, lit(" call 555-0198")).otherwise(lit(""))))
      .withColumn("n_emails",
        size(regexp_extract_all($"text2", lit(email), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all($"text2", lit(phone), lit(0))).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace($"text2", email, "<EMAIL>"), phone, "<PHONE>"))
      .groupBy($"lang")
      .agg(sum(($"n_emails" + $"n_phones" > 0).cast("long")).as("n_docs_with_pii"),
           sum($"n_emails").as("n_emails"),
           sum($"n_phones").as("n_phones"),
           sum(length($"scrubbed")).cast("bigint").as("sum_len_scrubbed"),
           min(md5(encode($"scrubbed", "UTF-8"))).as("scrub_checksum"))
      .orderBy($"lang")
  }

  /** Checksum-validated PII detection — the tier above [[piiScrub]]'s
    * pattern matching: a 16-digit run is only a payment-card number if it
    * passes the Luhn check, and a scrubber that redacts every digit run
    * destroys order ids, ISBNs, and log lines (the false-positive cost
    * real PII pipelines tune against). Candidates are regex-extracted,
    * then VALIDATED by computing the Luhn sum declaratively — a
    * higher-order fold over char positions (double every second digit
    * from the right, subtract 9 when >9, sum ≡ 0 mod 10) — entirely in
    * codegen-able built-ins, identically replayable in the oracle. The
    * fixture corpus is digit-free, so a valid test PAN is planted on
    * doc_id % 7 and a Luhn-FAILING lookalike (last digit bumped) on
    * doc_id % 11: the census proves the validator separates them.
    * Map-side pass + per-lang aggregate; scan-bound at 100 TB.
    */
  def piiLuhn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val luhnOk =
      """aggregate(sequence(0, length(c) - 1), 0, (acc, i) ->
        |  acc + (CASE WHEN (length(c) - 1 - i) % 2 = 1
        |    THEN (CASE WHEN 2 * cast(substring(c, i + 1, 1) as int) > 9
        |          THEN 2 * cast(substring(c, i + 1, 1) as int) - 9
        |          ELSE 2 * cast(substring(c, i + 1, 1) as int) END)
        |    ELSE cast(substring(c, i + 1, 1) as int) END)) % 10 = 0
        |""".stripMargin
    Tables.documents(spark, dir)
      .withColumn("text2", concat($"text",
        when($"doc_id" % 7 === 0, lit(" card 4111111111111111 ok"))
          .otherwise(lit("")),
        when($"doc_id" % 11 === 0, lit(" ref 4111111111111112 no"))
          .otherwise(lit(""))))
      .select($"lang", $"doc_id",
        expr(s"""transform(regexp_extract_all(text2, '[0-9]{16}', 0),
                 c -> $luhnOk)""").as("oks"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(expr("size(oks)").cast("long")).as("n_candidates"),
           sum(expr("size(filter(oks, x -> x))").cast("long")).as("n_valid"),
           sum(expr("size(filter(oks, x -> not x))").cast("long"))
             .as("n_luhn_rejects"))
      .orderBy($"lang")
  }

  /** Markup stripping + whitespace normalization — the extraction-cleanup
    * stage between raw crawl text and every downstream filter (tags and
    * entities left in training text poison tokenizers and n-gram stats).
    * Like [[piiScrub]], the synthetic fixture is clean, so the query
    * PLANTS deterministic markup (tags on doc_id % 5, entities on % 9 —
    * identically in both engines) and proves the cleanup: strip tags,
    * decode the common entities, collapse runs of spaces, trim; the
    * per-lang census carries an md5 checksum that only matches if both
    * engines produced byte-identical cleaned text. Patterns are RE2-safe.
    *
    * One corpus pass, no joins, no shuffle except the per-lang census
    * aggregate — string work stays codegen'd in the scan projection.
    */
  def htmlStrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tag = "<[^>]+>"
    val ent = "&(amp|lt|gt);"
    Tables.documents(spark, dir)
      .withColumn("t2",
        when($"doc_id" % 5 === 0,
          concat(lit("<div class=\"x\"><p>"), $"text", lit("</p> <br/> </div>")))
          .otherwise($"text"))
      .withColumn("t2",
        when($"doc_id" % 9 === 0, concat($"t2", lit(" a &amp; b &lt;i&gt;")))
          .otherwise($"t2"))
      .withColumn("n_tags",
        size(regexp_extract_all($"t2", lit(tag), lit(0))).cast("long"))
      .withColumn("n_ents",
        size(regexp_extract_all($"t2", lit(ent), lit(0))).cast("long"))
      .withColumn("clean", trim(regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(regexp_replace($"t2", tag, " "), "&lt;", "<"),
            "&gt;", ">"),
          "&amp;", "&"),
        " +", " ")))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(($"n_tags" > 0).cast("long")).as("n_docs_markup"),
           sum($"n_tags").as("n_tags"),
           sum($"n_ents").as("n_entities"),
           sum(length($"clean")).cast("bigint").as("sum_len_clean"),
           min(md5(encode($"clean", "UTF-8"))).as("clean_checksum"))
      .orderBy($"lang")
  }

  /** Benchmark decontamination — flag corpus documents that share enough
    * word 4-grams with a benchmark/eval set (here: the first 20 docs as
    * the stand-in benchmark) that they'd leak test data into training.
    * The benchmark side is SMALL by nature (eval suites are thousands of
    * items, the corpus is billions), so the physical plan is a BROADCAST
    * join of the benchmark shingles against the corpus shingle stream —
    * one corpus pass, no shuffle of the corpus, the plan you'd run at
    * 100 TB.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = Dedup.shingles(spark, dir, 4, distinct = true)
    val bench = sh.filter($"doc_id" < 20).select($"doc_id".as("bench_id"), $"s")
    sh.filter($"doc_id" >= 20)
      .join(broadcast(bench), Seq("s"))
      .groupBy($"doc_id", $"bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 8)
      .orderBy($"doc_id", $"bench_id")
  }

  /** CONTAINMENT-RATIO decontamination — the fuzzy twin of
    * [[contamination]]: instead of an absolute shared-shingle count, a
    * document is flagged when the FRACTION of its distinct word 4-grams
    * that appear anywhere in the benchmark set crosses a threshold
    * (100000 ppm = 10% here). This is the form the published
    * decontamination recipes converge on (GPT-3 ran 13-gram collision;
    * later pipelines filter on n-gram containment share), because it
    * also catches paraphrased/partial overlap that never produces one
    * long verbatim run. Ratio arithmetic is exact-integer ppm
    * (`1000000·shared div total`), so the gate hash-matches.
    *
    * Scale shape: the benchmark side collapses to a DISTINCT gram SET
    * (eval suites are thousands of items — KBs to MBs) broadcast to a
    * single left join against the corpus shingle stream, then one
    * doc-keyed aggregate: one corpus pass, the corpus never shuffles on
    * gram. Identical plumbing at 100 TB.
    */
  def contaminationRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = Dedup.shingles(spark, dir, 4, distinct = true)
    val bench = sh.filter($"doc_id" < 20).select($"s").distinct()
    contaminationRatioFrom(sh.filter($"doc_id" >= 20), bench)
      .orderBy($"doc_id")
  }

  /** [[contaminationRatio]]'s core over any (doc_id, s) corpus shingle
    * stream and any benchmark gram set — the one definition the batch
    * gate and [[graft.streaming.DecontamStream]]'s micro-batches share.
    * Unsorted (streaming batches don't order); callers sort if gated.
    */
  private[graft] def contaminationRatioFrom(corpusShingles: DataFrame,
                                            benchGrams: DataFrame): DataFrame = {
    import corpusShingles.sparkSession.implicits._
    val bench = benchGrams.select($"s").withColumn("hit", lit(1L))
    corpusShingles
      .join(broadcast(bench), Seq("s"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(coalesce($"hit", lit(0L))).as("n_shared"))
      .withColumn("ppm", expr("(1000000 * n_shared) div n_grams"))
      .withColumn("flagged", $"ppm" >= 100000)
  }

  /** Span-corruption preprocessing — the T5/UL2 denoising-objective
    * transform that turns raw text into (corrupted input, target) pairs:
    * ~15% of tokens are masked in multi-token spans (mean length 3),
    * each span is replaced by ONE numbered sentinel in the input, and
    * the target is the sentinel-delimited masked content. Sampling is
    * DERANDOMIZED the way every sampling stage in this engine is
    * ([[sampleHash]], shard assignment): a token's 3-token segment is
    * masked iff `hexint(md5(doc_id||'_'||seg)) % 20 < 3` — 15% in
    * expectation, reproducible bit-for-bit on both engines, and stable
    * under any partitioning. Adjacent masked segments merge into one
    * span (run-length numbering), exactly like T5 merges adjacent
    * corrupted positions. The gate emits per-doc span census plus md5
    * checksums of the corrupted INPUT and the TARGET texts, so the
    * sentinel splicing itself is verified, not just the counts.
    *
    * Scale shape: pure per-document map-side work — explode, integer/md5
    * arithmetic, one doc-keyed window for the span numbering and one
    * doc-keyed aggregate to reassemble; the corpus shuffles once on
    * doc_id and nothing joins. The 100 TB tokenization job runs exactly
    * this shape per shard.
    */
  def spanCorrupt(spark: SparkSession, dir: String): DataFrame =
    spanCorruptFrom(Tables.documents(spark, dir))

  /** [[spanCorrupt]] over any (doc_id, text) corpus — the probe entry:
    * the census/checksum frame the gate hashes.
    */
  private[graft] def spanCorruptFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    spanCorruptTextsFrom(docs)
      .select($"doc_id", $"n_tokens", $"n_masked", $"n_spans",
              expr("(1000000 * n_masked) div n_tokens").as("ppm_masked"),
              md5(encode($"input_text", "UTF-8")).as("input_checksum"),
              md5(encode($"target_text", "UTF-8")).as("target_checksum"))
      .orderBy($"doc_id")
  }

  /** The (corrupted input, target) TEXTS per document — what a training
    * pipeline actually materializes; the gate consumes the md5s, the
    * [[graft.pipeline]] span_corrupt processor the texts themselves.
    */
  private[graft] def spanCorruptTextsFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .withColumn("seg", expr("pos div 3"))
      .withColumn("masked", expr(
        "cast(conv(substring(md5(concat(cast(doc_id as string), '_', " +
          "cast(seg as string))), 1, 4), 16, 10) as bigint) % 20 < 3"))
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val marked = toks
      .withColumn("prev_masked",
        coalesce(lag($"masked", 1).over(byPos), lit(false)))
      .withColumn("starts", $"masked" && !$"prev_masked")
      .withColumn("span",
        sum($"starts".cast("long")).over(
          byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("in_piece",
        when(!$"masked", $"w")
          .when($"starts", concat(lit("<X"), $"span" - 1, lit(">")))
          .otherwise(lit("")))
      .withColumn("tgt_piece",
        when($"masked" && $"starts",
             concat(lit("<X"), $"span" - 1, lit("> "), $"w"))
          .when($"masked", $"w")
          .otherwise(lit("")))
    marked.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum($"masked".cast("long")).as("n_masked"),
           sum($"starts".cast("long")).as("n_spans"),
           expr("array_join(filter(transform(array_sort(" +
             "collect_list(struct(pos, in_piece))), s -> s.in_piece), " +
             "p -> p <> ''), ' ')").as("input_text"),
           expr("array_join(filter(transform(array_sort(" +
             "collect_list(struct(pos, tgt_piece))), s -> s.tgt_piece), " +
             "p -> p <> ''), ' ')").as("target_text"))
  }

  /** Code-switching detection — per-SEGMENT language identification
    * aggregated to a per-document census: a crawled page that flips
    * language mid-document (boilerplate in one language, content in
    * another; forum quotes; machine-translated halves) gets one
    * misleading whole-doc language label, so curation pipelines segment
    * first and flag documents whose segments disagree. Reuses the
    * [[langId]] profile-argmax mechanism over fixed 20-token segments
    * (the fixture has no paragraph marks — same stand-in rule as
    * [[graft.ops.llm.Dedup]] paragraph dedup); a real corpus would
    * segment on blank lines with everything downstream unchanged.
    * Segments with no profile hit label 'und': non-profile tokens stay
    * in the stream as 'und' candidates that lose to ANY real language in
    * the argmax (the `plang = 'und'` sort key), so silence never fakes
    * agreement — and no separate segment spine (which would mean a
    * second corpus scan and a corpus-sized merge join) is ever built.
    *
    * Scale shape: ONE corpus scan; the explode is map-side; the profile
    * table joins as a broadcast LEFT join (keeps every token); the
    * argmax window and both aggregates are all keyed by (doc, seg) or
    * doc. No corpus self-join, no second scan.
    */
  def codeSwitch(spark: SparkSession, dir: String): DataFrame =
    codeSwitchFrom(Tables.documents(spark, dir))

  /** [[codeSwitch]] over any (doc_id, text) corpus — the probe entry. */
  private[graft] def codeSwitchFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val segW = 20
    val prof = profiles.toDF("plang", "w")
    val scores = docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .withColumn("seg", expr(s"pos div $segW").cast("long"))
      .join(broadcast(prof), Seq("w"), "left_outer")
      .withColumn("plang", coalesce($"plang", lit("und")))
      .groupBy($"doc_id", $"seg", $"plang").agg(count(lit(1)).as("score"))
    val wArg = Window.partitionBy($"doc_id", $"seg")
      .orderBy(($"plang" === "und").asc, $"score".desc, $"plang")
    scores.withColumn("rn", row_number().over(wArg))
      .filter($"rn" === 1).select($"doc_id", $"seg", $"plang")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segments"),
           countDistinct($"plang").as("n_langs"),
           expr("array_join(array_sort(collect_set(plang)), ',')").as("langs"))
      .withColumn("code_switched", $"n_langs" >= 2)
      .orderBy($"doc_id")
  }

  /** Sequence packing — assign documents to fixed-budget training
    * sequences (context windows) by cumulative token count: doc d lands
    * in the bin where its start offset falls (`(cumsum − tokens) div B`,
    * integer arithmetic end-to-end). Packing is inherently sequential
    * WITHIN a shard, so the window partitions by shard (lang here) and
    * shards parallelize — the standard way a 100 TB tokenization job
    * stays distributed: the running sum is a per-shard window, never a
    * global order.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 512L
    val wCum = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .withColumn("toks", size(split($"text", " ")).cast("long"))
      .withColumn("cum", sum($"toks").over(wCum))
      .withColumn("bin", expr(s"(cum - toks) div $budget"))
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("sum_tokens"))
      .orderBy($"lang", $"bin")
  }

  /** Mixture weights for corpus balancing — the data-mixing stage of a
    * training pipeline: per language, the sampling weight that flattens
    * the observed distribution to uniform (`weight = N / (k·n)`, so
    * over-represented shards down-weight and rare ones up-weight). One
    * hash aggregate plus a global window over the K aggregated rows
    * (K = number of shards — tiny by construction, so the unpartitioned
    * window is over the AGGREGATE, never the corpus). The weight is a
    * single division of exact integers — bit-identical cross-engine.
    */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wAll = Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("total", sum($"n_docs").over(wAll))
      .withColumn("k", count(lit(1)).over(wAll))
      .select($"lang", $"n_docs",
        ($"total" / ($"k" * $"n_docs")).as("sample_weight"))
      .orderBy($"lang")
  }

  /** UniMax budget allocation (Chung et al. 2023) — the water-filling
    * language-sampling policy: given a total training-token budget B
    * (here 1.5× the corpus) and a per-language epoch cap C (here 2),
    * every language gets min(C·nₗ, τ) tokens where the water level τ
    * spends exactly the rest of the budget on the uncapped languages.
    * Small languages hit the epoch cap (upsampled but never repeated
    * past C); the head language absorbs the remainder — the fairness
    * fix over temperature sampling.
    *
    * Declarative water-filling, no iteration: languages sorted
    * ascending by size; row r is capped iff C·nᵣ·(L−r+1) ≤ B−C·cumₗ₋₁
    * (INTEGER cross-multiplication — no division, so the cap decision
    * cannot diverge cross-engine), and capping is prefix-monotone, so
    * the per-row test composed with a prefix-AND (min over the sorted
    * window) IS the global solution; τ then falls out of one
    * whole-frame window. The only corpus-sized work is the per-language
    * token count (one aggregate); the allocation runs on the L-row
    * frame.
    */
  def unimaxAlloc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val C = 2 // epoch cap
    val wAll = Window.partitionBy()
    val byN = Window.orderBy($"n_tokens", $"lang")
    val pre = Window.orderBy($"n_tokens", $"lang")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select($"lang", size(split($"text", " ")).cast("long").as("t"))
      .groupBy($"lang").agg(sum($"t").as("n_tokens"))
      .withColumn("budget", expr("(3 * sum(n_tokens) over ()) div 2"))
      .withColumn("lcount", count(lit(1)).over(wAll))
      .withColumn("r", row_number().over(byN).cast("long"))
      .withColumn("cum_prev",
        coalesce(sum($"n_tokens").over(pre) - $"n_tokens", lit(0L)))
      .withColumn("fits",
        when($"n_tokens" * C * ($"lcount" - $"r" + 1L) <=
               $"budget" - $"cum_prev" * C, 1L).otherwise(0L))
      .withColumn("capped", min($"fits").over(pre) === 1L)
      .withColumn("n_capped", sum($"capped".cast("long")).over(wAll))
      .withColumn("cap_tokens",
        sum(when($"capped", $"n_tokens").otherwise(0L)).over(wAll))
      .withColumn("tau",
        ($"budget" - $"cap_tokens" * C).cast("double") /
          ($"lcount" - $"n_capped").cast("double"))
      .withColumn("allocation",
        when($"capped", ($"n_tokens" * C).cast("double")).otherwise($"tau"))
      .select($"lang", $"n_tokens", $"capped", $"allocation",
              ($"allocation" / $"n_tokens".cast("double")).as("epochs"))
      .orderBy($"lang")
  }

  /** Cross-source n-gram novelty — per source, the share of its 3-gram
    * occurrences whose 3-gram appears in NO other source. The estimator
    * behind train/test-leakage and source-diversity audits: a source
    * with low novelty is mostly restating the rest of the corpus. One
    * explode builds the gram stream; the gram→distinct-source table is
    * one aggregate keyed by gram (bounded by distinct grams, not
    * occurrences); the final ratio is integer ppm (floor division) so it
    * cannot drift cross-engine.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyFrom(Tables.documents(spark, dir))

  /** [[ngramNovelty]] over any (source, text) corpus — scale-probe entry. */
  private[graft] def ngramNoveltyFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val g = docs
      .select($"source", split($"text", " ").as("ws"))
      .where(size($"ws") >= 3)
      .select($"source", explode(expr(
        "transform(sequence(0, size(ws) - 3), " +
        "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")).as("gram"))
    // Pre-aggregate occurrences to (source, gram) pairs BEFORE anything
    // touches the gram key (r17, guide §2.3/§8: the old shape shuffled
    // the FULL occurrence stream twice on a string key — once into the
    // per-gram distinct-source aggregate, once through the join back).
    // On the deduped pair frame, distinct sources per gram is a plain
    // window count (one exchange), and the per-source totals are sums of
    // the carried occurrence counts — the heavy stream now crosses the
    // wire once, map-side-combined. Bit-identical: COUNT(DISTINCT source)
    // per gram == COUNT(*) per gram over distinct (source, gram) rows.
    val g2 = g.groupBy($"source", $"gram").agg(count(lit(1)).as("cnt"))
    g2.withColumn("nsrc",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"gram")))
      .groupBy($"source")
      .agg(sum($"cnt").as("n_grams"),
           sum(when($"nsrc" === 1, $"cnt").otherwise(0L)).as("n_novel"))
      .select($"source", $"n_grams", $"n_novel",
              expr("(1000000 * n_novel) div n_grams").as("novelty_ppm"))
      .orderBy($"source")
  }

  /** Per-document character diversity as the Simpson collision
    * probability — P[two random characters of the doc collide], in exact
    * integer ppb: (10⁹ · Σ n(n-1)) div (t(t-1)). A repetition/quality
    * signal with NO transcendental math (the usual Shannon-entropy form
    * needs ln, which is not bit-portable across engines); docs bucket
    * into terciles by an ntile over the exact score.
    *
    * Scale note: the ntile runs on the per-doc AGGREGATE table (one row
    * per document) and is the only global-order step. The exact gate
    * needs exact ranks; a 100 TB corpus would swap it for fixed bucket
    * thresholds from a mergeable quantile sketch
    * (`approx_percentile(collision_ppb, array(1/3, 2/3))`) — same output
    * schema, no single-partition window.
    */
  def charDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"collision_ppb", $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split(regexp_replace($"text", " ", ""), ""))
                .as("c"))
      .where($"c" =!= "")
      .groupBy($"doc_id", $"c").agg(count(lit(1)).as("n"))
      .groupBy($"doc_id")
      .agg(sum($"n" * ($"n" - 1)).as("num"), sum($"n").as("t"))
      .where($"t" > 1)
      .select($"doc_id",
              expr("(1000000000 * num) div (t * (t - 1))").as("collision_ppb"))
      .withColumn("bucket", ntile(3).over(w))
      .orderBy($"doc_id")
  }

  /** Encoding repair (ftfy-style) — the normalization tier that runs
    * BEFORE any hashing/dedup stage of a crawl pipeline, because mojibake
    * ("â€™" where "’" was meant: UTF-8 bytes decoded as Latin-1 once and
    * re-encoded) and invisible codepoints (zero-width space, soft hyphen,
    * BOM) otherwise make byte-identical content hash differently. The
    * defects are planted deterministically by doc_id (the fixture corpus
    * is clean ASCII), counted, then repaired by a fixed chain: mojibake
    * replace-backs, invisible-codepoint strip, C0-control → space,
    * whitespace squeeze. Per-lang census carries an md5 checksum of the
    * repaired text so the oracle replay proves the REPAIR, not just the
    * counts. Map-side only — one corpus pass, no shuffle before the tiny
    * per-lang aggregate; at 100 TB this is a scan-bound stage that
    * pipelines into whatever hashes next.
    */
  private[llm] val mojiPat = "â€™|Ã©|â€”"
  private[llm] val invPat  = "[\\x{200b}\\x{ad}\\x{feff}]"
  private[llm] val ctlPat  = "[\\x{01}-\\x{08}\\x{0b}-\\x{1f}]"

  /** The fixed repair chain of [[mojibakeFix]], factored so idempotence
    * (repair ∘ repair = repair — the property that makes the stage safe
    * to re-run over a partially-cleaned corpus) is pinned by spec.
    */
  private[llm] def repairEncoding(c: Column): Column =
    trim(regexp_replace(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(regexp_replace(c, "â€™", "’"), "Ã©", "é"),
          "â€”", "—"),
        invPat, ""),
      ctlPat, " "), " +", " "))

  def mojibakeFix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // all planted via code units, never literal invisibles in source
    val zw = "\u200b"; val shy = "\u00ad"; val bom = "\ufeff"
    val vt = "\u000b"
    Tables.documents(spark, dir)
      .withColumn("t2",
        when($"doc_id" % 7 === 0,
          concat($"text", lit(" itâ€™s a cafÃ© â€” ok"))).otherwise($"text"))
      .withColumn("t2",
        when($"doc_id" % 11 === 0,
          concat(lit(bom), $"t2", lit(s" zero${zw}width soft${shy}hyphen")))
          .otherwise($"t2"))
      .withColumn("t2",
        when($"doc_id" % 13 === 0, concat($"t2", lit(s"${vt}tail")))
          .otherwise($"t2"))
      .withColumn("n_moji",
        size(regexp_extract_all($"t2", lit(mojiPat), lit(0))).cast("long"))
      .withColumn("n_inv",
        size(regexp_extract_all($"t2", lit(invPat), lit(0))).cast("long"))
      .withColumn("n_ctl",
        size(regexp_extract_all($"t2", lit(ctlPat), lit(0))).cast("long"))
      .withColumn("clean", repairEncoding($"t2"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(($"n_moji" > 0).cast("long")).as("n_docs_mojibake"),
           sum($"n_moji").as("n_mojibake"),
           sum($"n_inv").as("n_invisible"),
           sum($"n_ctl").as("n_control"),
           sum(length($"clean")).cast("bigint").as("sum_len_clean"),
           min(md5(encode($"clean", "UTF-8"))).as("clean_checksum"))
      .orderBy($"lang")
  }

  /** Sentence segmentation census — the C4-recipe quality signals that
    * need SENTENCE boundaries rather than tokens (C4 drops pages with
    * fewer than 3 sentences; mean sentence length separates prose from
    * keyword-stuffed spam). The fixture corpus is unpunctuated
    * space-separated words, so terminators are first planted
    * deterministically (a period after every 8th word — one regex over
    * the original string, identical non-overlapping match semantics in
    * both engines), then segmented on `[.!?]+ ` and censused per lang
    * with integer-exact averages. Map-side segmentation + tiny per-lang
    * aggregate: scan-bound at 100 TB like every other single-pass text
    * op here.
    */
  def sentenceStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("t2",
        regexp_replace($"text", "((?:[^ ]+ ){7}[^ ]+) ", "$1. "))
      .withColumn("sents",
        expr("filter(split(t2, '[.!?]+ '), x -> x <> '')"))
      .withColumn("n_sent", size($"sents").cast("long"))
      .withColumn("sent_chars",
        expr("aggregate(sents, 0L, (acc, x) -> acc + length(x))"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_sent").as("n_sentences"),
           max($"n_sent").as("max_sent_per_doc"),
           sum(($"n_sent" >= 3).cast("long")).as("n_docs_multi"),
           sum($"sent_chars").as("sum_sent_chars"),
           expr("(1000000 * sum(sent_chars)) div sum(n_sent)")
             .as("avg_sent_chars_ppm"))
      .orderBy($"lang")
  }

  /** Vocabulary-coverage curve — the tokenizer-sizing diagnostic: for the
    * top-k tokens by corpus frequency (ties by token), the cumulative
    * share of all token occurrences they cover, in integer ppm. Reading
    * the curve answers "how large must the vocab be to cover X% of the
    * stream" before any BPE training runs ([[Curation.bpeMerges]] starts
    * from exactly this census). One token-count aggregate, then the
    * top-20 is taken with orderBy+limit — a TakeOrderedAndProject, i.e.
    * per-partition top-k merged on the driver — so NO single task ever
    * sorts the full vocabulary (at 100 TB of web text the raw
    * space-token vocab is ~10⁸ rows; a global window over it would
    * funnel through one partition). The rank/cum-sum window then runs
    * over the 20-row frame only; the cumulative share needs nothing
    * beyond the top-k counts plus the separately-aggregated global
    * total.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
    // r18 (committed scan census): the corpus token total is Σ cnt over
    // the vocabulary counts, so ONE tokenize pass serves both the top-20
    // and the denominator (the _total aggregate previously re-exploded
    // the whole corpus). counts then has two consumers → conditional pin
    // (vocabulary-bounded frame).
    val counts = graft.state.Materialize.pin(
      tok.groupBy($"w").agg(count(lit(1)).as("cnt")), Policy.IfLarge)
    val top = counts.orderBy($"cnt".desc, $"w").limit(20)
    val wRank = Window.orderBy($"cnt".desc, $"w")
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("cum_cnt", sum($"cnt").over(wCum))
      .crossJoin(broadcast(counts.agg(sum($"cnt").as("_total"))))
      .select($"rank", $"w", $"cnt", $"cum_cnt",
        expr("(1000000 * cum_cnt) div _total").as("cum_ppm"))
      .orderBy($"rank")
  }

  /** Flesch-style readability scoring — the classic quality feature a
    * curation classifier consumes alongside [[TextStats.gopher-rule]]
    * signals. All three components are exact integers (words = nonempty
    * space tokens; sentences = the [[sentenceStats]] plant-and-split
    * rule, min 1; syllables = per-word vowel-group count, min 1 — the
    * standard approximation), and the score is ONE fixed double
    * expression over them (206.835 − 1.015·w/s − 84.6·syl/w, evaluated
    * left-to-right identically in both engines), so the gate hash-matches
    * despite being float-valued. Map-side pass, no shuffle until the
    * tiny per-lang census.
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("t2",
        regexp_replace($"text", "((?:[^ ]+ ){7}[^ ]+) ", "$1. "))
      .withColumn("ws", expr("filter(split(t2, ' '), w -> w <> '')"))
      .withColumn("n_words", size($"ws").cast("long"))
      .where($"n_words" > 0)
      .withColumn("n_sent", greatest(lit(1L),
        expr("cast(size(filter(split(t2, '[.!?]+ '), x -> x <> '')) as bigint)")))
      .withColumn("n_syll", expr(
        """aggregate(ws, 0L, (acc, w) ->
          |  acc + greatest(1L, cast(regexp_count(lower(w), '[aeiouy]+') as bigint)))"""
          .stripMargin))
      .withColumn("flesch",
        lit(206.835) - lit(1.015) * ($"n_words".cast("double") / $"n_sent")
          - lit(84.6) * ($"n_syll".cast("double") / $"n_words"))
      .select($"doc_id", $"n_words", $"n_sent", $"n_syll", $"flesch")
      .orderBy($"doc_id")
  }

  /** Unicode NFC normalization census — the ingest-tier transform that
    * makes every hash-based operator downstream (exact dedup, CDC
    * chunks, winnowing, shingles) see ONE byte spelling per grapheme:
    * crawled text mixes precomposed ("é" U+00E9) and decomposed
    * ("e"+U+0301) forms that compare unequal as bytes. Runs through the
    * native codegen'd [[graft.functions.NfcNormalize]] expression
    * (`graft_nfc`; Spark has no normalization builtin — the C33
    * preference order in action) with an allocation-free ASCII fast
    * path. The fixture corpus is ASCII, so the gate PLANTS decomposed
    * sequences (doc_id % 7) and a precomposed idempotence case
    * (doc_id % 11) exactly like the html-strip gate plants markup; the
    * census counts changed docs and code-point shrinkage, and
    * hash-matches the normalized text against DuckDB's `nfc_normalize`
    * — two independent UAX #15 implementations agreeing byte-for-byte.
    */
  def nfcCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        when($"doc_id" % 7 === 0, // DECOMPOSED: e+U+0301, i+U+0308
          concat($"text", lit(" café naïve")))
        // %11 plant is precomposed U+00E9: the NFC-identity case
        .when($"doc_id" % 11 === 0, concat($"text", lit(" café")))
        .otherwise($"text").as("t"))
      .withColumn("nt", expr("graft_nfc(t)"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"nt" =!= $"t", 1L).otherwise(0L)).as("n_changed"),
        sum(length($"t")).cast("long").as("sum_len_raw"),
        sum(length($"nt")).cast("long").as("sum_len_nfc"),
        min(md5($"nt")).as("nfc_checksum"))
      .orderBy($"lang")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_vocab_coverage" -> (vocabCoverage _),
    "llm_readability"   -> (readability _),
    "llm_nfc_census"    -> (nfcCensus _),
    "llm_ngram_novelty" -> (ngramNovelty _),
    "llm_char_diversity" -> (charDiversity _),
    "llm_mix_weights"   -> (mixWeights _),
    "llm_unimax_alloc"  -> (unimaxAlloc _),
    "llm_pack_sequences" -> (packSequences _),
    "llm_contamination" -> (contamination _),
    "llm_contamination_ratio" -> (contaminationRatio _),
    "llm_span_corrupt"  -> (spanCorrupt _),
    "llm_code_switch"   -> (codeSwitch _),
    "llm_text_stats"    -> (textStats _),
    "llm_lang_id"       -> (langId _),
    "llm_quality_score" -> (qualityScore _),
    "llm_gopher_rules"  -> (gopherRules _),
    "llm_vocab_topk"    -> (vocabTopK _),
    "llm_oov_rate"      -> (oovRate _),
    "llm_token_stats"   -> (tokenStats _),
    "llm_fingerprint"   -> (fingerprint _),
    "llm_winnow"        -> (winnowFingerprint _),
    "llm_winnow_pairs"  -> (winnowPairs _),
    "llm_sample_hash"   -> (sampleHash _),
    "llm_split_stratified" -> (splitStratified _),
    "llm_domain_cap"    -> (domainCap _),
    "llm_shard_assign"  -> (shardAssign _),
    "llm_blocklist"     -> (blocklistFilter _),
    "llm_html_strip"    -> (htmlStrip _),
    "llm_mojibake_fix"  -> (mojibakeFix _),
    "llm_sentence_stats" -> (sentenceStats _),
    "llm_pii_luhn"      -> (piiLuhn _),
    "llm_suffix_array"  -> (suffixArray _),
    "llm_suffix_array_global" -> (suffixArrayGlobal _),
    "llm_repetition"    -> (repetition _),
    "llm_pii_scrub"     -> (piiScrub _)
  )

  private val profileValues =
    profiles.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")

  def oracle: Map[String, String] = Map(
    // same (cnt DESC, token) total order, same integer cumulative ppm
    "llm_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |t2 AS (SELECT w FROM tok WHERE len(w) > 0),
        |counts AS (SELECT w, COUNT(*)::BIGINT AS cnt FROM t2 GROUP BY w),
        |tot AS (SELECT COUNT(*)::BIGINT AS total FROM t2),
        |r AS (SELECT w, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, w)::BIGINT AS rank,
        |        SUM(cnt) OVER (ORDER BY cnt DESC, w
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |          AS cum_cnt
        |      FROM counts)
        |SELECT rank, w, cnt, cum_cnt,
        |  ((1000000 * cum_cnt) // total)::BIGINT AS cum_ppm
        |FROM r CROSS JOIN tot WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // same integer components (plant-and-split sentences, min-1 vowel-
    // group syllables), same left-to-right double expression
    "llm_readability" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((?:[^ ]+ ){7}[^ ]+) ', '\1. ', 'g') AS t2
        |  FROM documents),
        |w AS (SELECT doc_id, t2,
        |        list_filter(string_split(t2, ' '), x -> x <> '') AS ws
        |      FROM t),
        |c AS (SELECT doc_id,
        |        len(ws)::BIGINT AS n_words,
        |        GREATEST(1, len(list_filter(regexp_split_to_array(t2, '[.!?]+ '),
        |                                    x -> x <> '')))::BIGINT AS n_sent,
        |        list_sum(list_transform(ws, x ->
        |          GREATEST(1, len(regexp_extract_all(lower(x), '[aeiouy]+')))))
        |          ::BIGINT AS n_syll
        |      FROM w WHERE len(ws) > 0)
        |SELECT doc_id, n_words, n_sent, n_syll,
        |  206.835 - 1.015 * (n_words::DOUBLE / n_sent)
        |          - 84.6 * (n_syll::DOUBLE / n_words) AS flesch
        |FROM c ORDER BY doc_id""".stripMargin,
    // same plants (chr() = the exact codepoints the Spark literals carry),
    // DuckDB's independent UAX #15 nfc_normalize, same census
    "llm_nfc_census" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0
        |           THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
        |         WHEN doc_id % 11 = 0 THEN text || ' caf' || chr(233)
        |         ELSE text END AS t
        |  FROM documents),
        |n AS (SELECT lang, t, nfc_normalize(t) AS nt FROM t)
        |SELECT lang, COUNT(*)::BIGINT AS n_docs,
        |  SUM(CASE WHEN nt <> t THEN 1 ELSE 0 END)::BIGINT AS n_changed,
        |  SUM(length(t))::BIGINT AS sum_len_raw,
        |  SUM(length(nt))::BIGINT AS sum_len_nfc,
        |  MIN(md5(nt)) AS nfc_checksum
        |FROM n GROUP BY lang ORDER BY lang""".stripMargin,
    // replays the deterministic defect planting (invisibles via chr() so
    // no literal invisible codepoints live in the SQL either), then the
    // identical repair chain; the checksum column proves the repaired
    // TEXT matches, not just the defect counts
    "llm_mojibake_fix" ->
      """WITH b1 AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' itâ€™s a cafÃ© â€” ok'
        |         ELSE text END AS t1
        |  FROM documents),
        |b2 AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN chr(65279) || t1 || ' zero' || chr(8203) || 'width soft'
        |           || chr(173) || 'hyphen'
        |      ELSE t1 END AS t2a
        |  FROM b1),
        |b3 AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 13 = 0 THEN t2a || chr(11) || 'tail'
        |         ELSE t2a END AS t2
        |  FROM b2),
        |m AS (
        |  SELECT lang,
        |    len(regexp_extract_all(t2, 'â€™|Ã©|â€”')) AS n_moji,
        |    len(regexp_extract_all(t2, '[\x{200b}\x{ad}\x{feff}]')) AS n_inv,
        |    len(regexp_extract_all(t2, '[\x{01}-\x{08}\x{0b}-\x{1f}]')) AS n_ctl,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      replace(replace(replace(t2, 'â€™', '’'), 'Ã©', 'é'), 'â€”', '—'),
        |      '[\x{200b}\x{ad}\x{feff}]', '', 'g'),
        |      '[\x{01}-\x{08}\x{0b}-\x{1f}]', ' ', 'g'),
        |      ' +', ' ', 'g')) AS clean
        |  FROM b3)
        |SELECT lang, COUNT(*) AS n_docs,
        |  SUM((n_moji > 0)::INT)::BIGINT AS n_docs_mojibake,
        |  SUM(n_moji)::BIGINT AS n_mojibake,
        |  SUM(n_inv)::BIGINT AS n_invisible,
        |  SUM(n_ctl)::BIGINT AS n_control,
        |  SUM(len(clean))::BIGINT AS sum_len_clean,
        |  MIN(md5(clean)) AS clean_checksum
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // the NAIVE suffix sort — the oracle deliberately does what the
    // engine avoids (ordering actual suffix strings) so hash-equality
    // proves the prefix-doubling algorithm rather than a shared spelling
    "llm_suffix_array" ->
      """WITH s AS (
        |  SELECT doc_id, i, substring(text, i + 1) AS suf
        |  FROM documents, unnest(range(0, len(text))) AS t(i)
        |  WHERE doc_id < 100 AND len(text) > 0)
        |SELECT doc_id,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY suf) AS r,
        |  i AS sa_pos
        |FROM s ORDER BY doc_id, r""".stripMargin,
    // the corpus-global twin: ONE naive sort of every suffix of every
    // document; dense_rank (not row_number) because identical suffixes
    // across documents legitimately tie — that tie IS the duplicated-
    // substring signal the dedup consumer reads
    "llm_suffix_array_global" ->
      """WITH s AS (
        |  SELECT doc_id, i, substring(text, i + 1) AS suf
        |  FROM documents, unnest(range(0, len(text))) AS t(i)
        |  WHERE len(text) > 0)
        |SELECT doc_id,
        |  dense_rank() OVER (ORDER BY suf) AS r,
        |  i AS sa_pos
        |FROM s ORDER BY r, doc_id, sa_pos""".stripMargin,
    // same planting arithmetic, same declarative Luhn fold (nested
    // lambdas close over the candidate string in both engines)
    "llm_pii_luhn" ->
      """WITH base AS (
        |  SELECT lang, text
        |    || CASE WHEN doc_id % 7 = 0
        |            THEN ' card 4111111111111111 ok' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |            THEN ' ref 4111111111111112 no' ELSE '' END AS text2
        |  FROM documents),
        |v AS (
        |  SELECT lang,
        |    list_transform(regexp_extract_all(text2, '[0-9]{16}'), s ->
        |      list_sum(list_transform(range(0, len(s)), i ->
        |        CASE WHEN (len(s) - 1 - i) % 2 = 1
        |          THEN CASE WHEN 2 * (substring(s, i + 1, 1)::INT) > 9
        |               THEN 2 * (substring(s, i + 1, 1)::INT) - 9
        |               ELSE 2 * (substring(s, i + 1, 1)::INT) END
        |          ELSE substring(s, i + 1, 1)::INT END)) % 10 = 0) AS oks
        |  FROM base)
        |SELECT lang, COUNT(*) AS n_docs,
        |  SUM(len(oks))::BIGINT AS n_candidates,
        |  SUM(len(list_filter(oks, x -> x)))::BIGINT AS n_valid,
        |  SUM(len(list_filter(oks, x -> NOT x)))::BIGINT AS n_luhn_rejects
        |FROM v GROUP BY lang ORDER BY lang""".stripMargin,
    // plants '.' after every 8th word with ONE non-overlapping regex pass
    // (identical leftmost match semantics in RE2 and java.util.regex for
    // this pattern), segments on terminator+space, per-lang census
    "llm_sentence_stats" ->
      """WITH seg AS (
        |  SELECT lang,
        |    list_filter(regexp_split_to_array(
        |      regexp_replace(text, '((?:[^ ]+ ){7}[^ ]+) ', '\1. ', 'g'),
        |      '[.!?]+ '), x -> x <> '') AS sents
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  SUM(len(sents))::BIGINT AS n_sentences,
        |  MAX(len(sents))::BIGINT AS max_sent_per_doc,
        |  SUM((len(sents) >= 3)::INT)::BIGINT AS n_docs_multi,
        |  SUM(list_sum(list_transform(sents, x -> len(x))))::BIGINT
        |    AS sum_sent_chars,
        |  ((1000000 * SUM(list_sum(list_transform(sents, x -> len(x)))))
        |     // SUM(len(sents)))::BIGINT AS avg_sent_chars_ppm
        |FROM seg GROUP BY lang ORDER BY lang""".stripMargin,
    // replays the llm_winnow selection CTE, then the df-capped inverted-
    // index pair join — the two gates share the fingerprint definition
    "llm_winnow_pairs" ->
      """WITH grams AS (
        |  SELECT doc_id, len(text) AS l, i,
        |    ('0x' || substr(md5(substring(text, i + 1, 8)), 1, 15))::BIGINT AS hv
        |  FROM documents, unnest(range(0, len(text) - 7)) AS t(i)
        |  WHERE len(text) >= 11
        |),
        |wm AS (
        |  SELECT doc_id, l, i,
        |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
        |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM grams
        |),
        |sel AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE i <= l - 8 - 3),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sel GROUP BY 1),
        |keep AS (SELECT wmin FROM sel GROUP BY wmin HAVING COUNT(*) <= 50),
        |idx AS (SELECT s.doc_id, s.wmin FROM sel s JOIN keep USING (wmin)),
        |p AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
        |  FROM idx a JOIN idx b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT d1, d2, n_shared,
        |  (1000000 * n_shared) // LEAST(s1.n, s2.n) AS overlap_ppm
        |FROM p JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
        |WHERE (1000000 * n_shared) // LEAST(s1.n, s2.n) >= 300000
        |ORDER BY d1, d2""".stripMargin,
    "llm_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT source, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) t),
        |df AS (SELECT gram, COUNT(DISTINCT source) AS nsrc FROM g GROUP BY 1)
        |SELECT source, COUNT(*) AS n_grams,
        |  (COUNT(*) FILTER (WHERE nsrc = 1))::BIGINT AS n_novel,
        |  ((1000000 * COUNT(*) FILTER (WHERE nsrc = 1)) // COUNT(*))::BIGINT
        |    AS novelty_ppm
        |FROM g JOIN df USING (gram)
        |GROUP BY source ORDER BY source""".stripMargin,
    "llm_char_diversity" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(replace(text, ' ', ''), '')) AS c
        |  FROM documents),
        |cnt AS (SELECT doc_id, c, COUNT(*) AS n FROM ch WHERE c <> ''
        |        GROUP BY 1, 2),
        |col AS (
        |  SELECT doc_id,
        |    ((1000000000 * SUM(n * (n - 1))) // (SUM(n) * (SUM(n) - 1)))::BIGINT
        |      AS collision_ppb
        |  FROM cnt GROUP BY doc_id HAVING SUM(n) > 1)
        |SELECT doc_id, collision_ppb,
        |  NTILE(3) OVER (ORDER BY collision_ppb, doc_id)::INTEGER AS bucket
        |FROM col ORDER BY doc_id""".stripMargin,
    "llm_text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  SUM(n_chars)::BIGINT AS sum_chars,
        |  SUM(len(string_split(text, ' ')))::BIGINT AS sum_tokens,
        |  MAX(len(string_split(text, ' ')))::BIGINT AS max_tokens,
        |  SUM(len(string_split(text, ' ')))::BIGINT / COUNT(*) AS avg_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "llm_lang_id" ->
      s"""WITH prof(plang, w) AS (VALUES $profileValues),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sc AS (SELECT doc_id, plang, COUNT(*) AS score
         |       FROM toks JOIN prof USING (w) GROUP BY 1, 2),
         |pr AS (SELECT doc_id, plang,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
         |       FROM sc),
         |p1 AS (SELECT doc_id, plang FROM pr WHERE rn = 1)
         |SELECT d.lang, COALESCE(p1.plang, 'und') AS predicted, COUNT(*) AS n_docs
         |FROM documents d LEFT JOIN p1 USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "llm_quality_score" ->
      """SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens,
        |  len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct,
        |  len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a'))::BIGINT
        |    AS stop_cnt,
        |  (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END
        |   + CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END
        |   + CASE WHEN len(list_distinct(string_split(text, ' '))) * 2
        |              >= len(string_split(text, ' ')) THEN 1 ELSE 0 END
        |   + CASE WHEN len(list_filter(string_split(text, ' '),
        |                               w -> w = 'the' OR w = 'a')) * 5
        |              <= len(string_split(text, ' ')) THEN 1 ELSE 0 END)::INT AS score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_oov_rate" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |vocab AS (
        |  SELECT w FROM (SELECT w, COUNT(*) AS n FROM toks GROUP BY w
        |                 ORDER BY n DESC, w LIMIT 20)),
        |oov AS (
        |  SELECT source, COUNT(*) AS n_oov FROM toks
        |  WHERE w NOT IN (SELECT w FROM vocab) GROUP BY source),
        |tot AS (SELECT source, COUNT(*) AS n_tokens FROM toks GROUP BY source)
        |SELECT t.source, t.n_tokens, COALESCE(o.n_oov, 0) AS n_oov,
        |  CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / t.n_tokens AS oov_rate
        |FROM tot t LEFT JOIN oov o ON t.source = o.source
        |ORDER BY t.source""".stripMargin,
    "llm_vocab_topk" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |g AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY w),
        |r AS (SELECT w, n,
        |        row_number() OVER (ORDER BY n DESC, w) AS rank FROM g)
        |SELECT rank, w, n FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // thresholds replayed as the same integer cross-multiplications;
    // the only double is one exact-integer IEEE division per row
    "llm_gopher_rules" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_words,
        |    CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x)))
        |         AS BIGINT) AS sum_wlen,
        |    len(list_filter(string_split(text, ' '),
        |                    x -> list_contains(['the', 'a', 'of'], x)))::BIGINT AS stop_cnt,
        |    len(list_filter(string_split(text, ' '),
        |                    x -> regexp_matches(x, '[a-z]')))::BIGINT AS alpha_cnt
        |  FROM documents)
        |SELECT doc_id, n_words,
        |  CAST(sum_wlen AS DOUBLE) / n_words AS mean_wlen,
        |  stop_cnt,
        |  (n_words BETWEEN 40 AND 100000) AS r_count,
        |  (sum_wlen >= n_words * 3 AND sum_wlen <= n_words * 10) AS r_wlen,
        |  (alpha_cnt * 5 >= n_words * 4) AS r_alpha,
        |  (stop_cnt >= 2) AS r_stop,
        |  ((n_words BETWEEN 40 AND 100000)
        |   AND (sum_wlen >= n_words * 3 AND sum_wlen <= n_words * 10)
        |   AND (alpha_cnt * 5 >= n_words * 4)
        |   AND (stop_cnt >= 2)) AS passes
        |FROM s ORDER BY doc_id""".stripMargin,
    "llm_token_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  SUM(len(string_split(text, ' ')))::BIGINT AS sum_ws_tokens,
        |  SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))::BIGINT
        |    AS sum_re_tokens,
        |  SUM(n_chars)::BIGINT AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_winnow" ->
      """WITH grams AS (
        |  SELECT doc_id, len(text) AS l, i,
        |    ('0x' || substr(md5(substring(text, i + 1, 8)), 1, 15))::BIGINT AS hv
        |  FROM documents, unnest(range(0, len(text) - 7)) AS t(i)
        |  WHERE len(text) >= 11
        |),
        |wm AS (
        |  SELECT doc_id, l, i,
        |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
        |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM grams
        |)
        |SELECT doc_id, COUNT(DISTINCT wmin) AS n_fps,
        |  array_to_string(list_sort(list_distinct(list(wmin)))[1:8], '|') AS fp_head
        |FROM wm WHERE i <= l - 8 - 3
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_sample_hash" ->
      """WITH sampled AS (
        |  SELECT *,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '#sample'), 1, 15))::BIGINT % 100
        |      AS bucket,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '#split'), 1, 15))::BIGINT % 100
        |      AS spl
        |  FROM documents
        |)
        |SELECT lang, CASE WHEN spl < 80 THEN 'train' ELSE 'eval' END AS part,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM sampled WHERE bucket < 20
        |GROUP BY 1, 2 ORDER BY lang, part""".stripMargin,
    "llm_split_stratified" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(source || '|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM documents),
        |c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
        |r AS (SELECT d.doc_id, d.source, c.n,
        |        row_number() OVER (PARTITION BY d.source ORDER BY d.h, d.doc_id) AS r
        |      FROM d JOIN c USING (source)),
        |s AS (SELECT doc_id, source,
        |        CASE WHEN r * 10 <= n * 8 THEN 'train'
        |             WHEN r * 10 <= n * 9 THEN 'val' ELSE 'test' END AS split
        |      FROM r)
        |SELECT source, split, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin,
    "llm_domain_cap" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS r
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_total,
        |  SUM(CASE WHEN r <= 15 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  SUM(CASE WHEN r <= 15 THEN n_chars ELSE 0 END)::BIGINT AS chars_kept,
        |  MAX(CASE WHEN r = 1 THEN doc_id END) AS top_doc
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "llm_shard_assign" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    (('0x' || substr(md5(doc_id::VARCHAR || '#shard'), 1, 15))::BIGINT
        |      % 8)::INT AS shard,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '#order'), 1, 15))::BIGINT
        |      AS oh
        |  FROM documents),
        |p AS (SELECT doc_id, n_chars, shard,
        |        row_number() OVER (PARTITION BY shard ORDER BY oh, doc_id) AS pos
        |      FROM d)
        |SELECT shard, COUNT(*) AS n_docs,
        |  SUM(n_chars)::BIGINT AS sum_chars,
        |  MAX(CASE WHEN pos = 1 THEN doc_id END) AS head_doc,
        |  SUM(pos * doc_id)::BIGINT AS order_checksum
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,
    "llm_blocklist" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |bl(term) AS (VALUES ('slow'), ('broken'), ('spam')),
        |perdoc AS (
        |  SELECT t.doc_id, t.lang, COUNT(*) AS n_toks,
        |    SUM(CASE WHEN b.term IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits
        |  FROM toks t LEFT JOIN bl b ON t.tok = b.term
        |  GROUP BY t.doc_id, t.lang)
        |SELECT lang, COUNT(*) AS n_docs,
        |  SUM(CASE WHEN n_hits * 50 >= n_toks THEN 1 ELSE 0 END)::BIGINT
        |    AS n_flagged,
        |  SUM(n_hits)::BIGINT AS total_hits,
        |  MAX(n_hits) AS worst_doc_hits
        |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_mix_weights" ->
      """WITH a AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    SUM(COUNT(*)) OVER ()::BIGINT AS total,
        |    COUNT(*) OVER ()::BIGINT AS k
        |  FROM documents GROUP BY lang
        |)
        |SELECT lang, n_docs, total / (k * n_docs) AS sample_weight
        |FROM a ORDER BY lang""".stripMargin,
    "llm_unimax_alloc" ->
      """WITH t AS (
        |  SELECT lang, SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_tokens,
        |    (3 * SUM(n_tokens) OVER ()) // 2 AS budget,
        |    COUNT(*) OVER ()::BIGINT AS lcount,
        |    row_number() OVER (ORDER BY n_tokens, lang) AS r,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens, lang
        |      ROWS UNBOUNDED PRECEDING) - n_tokens, 0) AS cum_prev
        |  FROM t),
        |f AS (SELECT *,
        |    CASE WHEN n_tokens * 2 * (lcount - r + 1) <= budget - cum_prev * 2
        |         THEN 1 ELSE 0 END AS fits
        |  FROM w),
        |g AS (SELECT *,
        |    MIN(fits) OVER (ORDER BY n_tokens, lang
        |      ROWS UNBOUNDED PRECEDING) = 1 AS capped
        |  FROM f),
        |h AS (SELECT *,
        |    SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()::BIGINT AS n_capped,
        |    SUM(CASE WHEN capped THEN n_tokens ELSE 0 END) OVER ()::BIGINT
        |      AS cap_tokens
        |  FROM g),
        |a AS (SELECT lang, n_tokens, capped,
        |    CASE WHEN capped THEN (n_tokens * 2)::DOUBLE
        |         ELSE (budget - cap_tokens * 2)::DOUBLE
        |              / (lcount - n_capped)::DOUBLE END AS allocation
        |  FROM h)
        |SELECT lang, n_tokens, capped, allocation,
        |  allocation / n_tokens::DOUBLE AS epochs
        |FROM a ORDER BY lang""".stripMargin,
    "llm_pack_sequences" ->
      """WITH t AS (
        |  SELECT lang, doc_id, len(string_split(text, ' '))::BIGINT AS toks
        |  FROM documents
        |),
        |c AS (
        |  SELECT lang, doc_id, toks,
        |    SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT lang, ((cum - toks) // 512)::BIGINT AS bin,
        |  COUNT(*) AS n_docs, SUM(toks)::BIGINT AS sum_tokens
        |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,
    "llm_contamination" ->
      s"""WITH ${Dedup.shingleCte(4)},
        |b AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 20),
        |c AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20)
        |SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
        |FROM c JOIN b USING (s)
        |GROUP BY 1, 2 HAVING COUNT(*) >= 8
        |ORDER BY 1, 2""".stripMargin,
    // same distinct-gram containment ratio, same exact-integer ppm
    "llm_contamination_ratio" ->
      s"""WITH ${Dedup.shingleCte(4)},
        |b AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
        |c AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20),
        |j AS (SELECT c.doc_id,
        |        CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END AS hit
        |      FROM c LEFT JOIN b ON c.s = b.s),
        |a AS (SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
        |        SUM(hit)::BIGINT AS n_shared
        |      FROM j GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_shared,
        |  ((1000000 * n_shared) // n_grams)::BIGINT AS ppm,
        |  ((1000000 * n_shared) // n_grams) >= 100000 AS flagged
        |FROM a ORDER BY doc_id""".stripMargin,
    // same md5-derandomized 15% segment mask, same run-length sentinel
    // numbering, checksums prove the spliced INPUT and TARGET texts match
    "llm_span_corrupt" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w,
        |    generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |  FROM documents),
        |m AS (SELECT doc_id, pos, w,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '_' || (pos // 3)::VARCHAR),
        |     1, 4))::BIGINT % 20 < 3 AS masked
        |  FROM toks),
        |r AS (SELECT doc_id, pos, w, masked,
        |    COALESCE(lag(masked) OVER (PARTITION BY doc_id ORDER BY pos),
        |             false) AS prev_masked
        |  FROM m),
        |s AS (SELECT doc_id, pos, w, masked,
        |    (masked AND NOT prev_masked) AS starts,
        |    SUM(CASE WHEN masked AND NOT prev_masked THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS UNBOUNDED PRECEDING) AS span
        |  FROM r),
        |p AS (SELECT doc_id, pos, masked, starts,
        |    CASE WHEN NOT masked THEN w
        |         WHEN starts THEN '<X' || (span - 1)::VARCHAR || '>'
        |         ELSE '' END AS in_piece,
        |    CASE WHEN masked AND starts
        |           THEN '<X' || (span - 1)::VARCHAR || '> ' || w
        |         WHEN masked THEN w
        |         ELSE '' END AS tgt_piece
        |  FROM s),
        |a AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
        |    SUM(CASE WHEN masked THEN 1 ELSE 0 END)::BIGINT AS n_masked,
        |    SUM(CASE WHEN starts THEN 1 ELSE 0 END)::BIGINT AS n_spans,
        |    COALESCE(string_agg(in_piece, ' ' ORDER BY pos)
        |             FILTER (WHERE in_piece <> ''), '') AS input_text,
        |    COALESCE(string_agg(tgt_piece, ' ' ORDER BY pos)
        |             FILTER (WHERE tgt_piece <> ''), '') AS target_text
        |  FROM p GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_masked, n_spans,
        |  ((1000000 * n_masked) // n_tokens)::BIGINT AS ppm_masked,
        |  md5(input_text) AS input_checksum,
        |  md5(target_text) AS target_checksum
        |FROM a ORDER BY doc_id""".stripMargin,
    // same 20-token segments, same profile argmax with 'und' (kept-in-
    // stream non-profile tokens) losing to any real language, same
    // sorted distinct-language list
    "llm_code_switch" ->
      s"""WITH prof(plang, w) AS (VALUES $profileValues),
        |toks AS (SELECT doc_id,
        |           unnest(string_split(text, ' ')) AS w,
        |           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        |         FROM documents),
        |seg AS (SELECT doc_id, w, (pos // 20)::BIGINT AS seg FROM toks),
        |lab0 AS (SELECT s.doc_id, s.seg, COALESCE(p.plang, 'und') AS plang
        |         FROM seg s LEFT JOIN prof p USING (w)),
        |sc AS (SELECT doc_id, seg, plang, COUNT(*)::BIGINT AS score
        |       FROM lab0 GROUP BY 1, 2, 3),
        |pr AS (SELECT doc_id, seg, plang FROM (
        |         SELECT doc_id, seg, plang,
        |           row_number() OVER (PARTITION BY doc_id, seg
        |             ORDER BY (plang = 'und') ASC, score DESC, plang) AS rn
        |         FROM sc) WHERE rn = 1),
        |d AS (SELECT DISTINCT doc_id, plang FROM pr),
        |a1 AS (SELECT doc_id, COUNT(*)::BIGINT AS n_segments
        |       FROM pr GROUP BY doc_id),
        |a2 AS (SELECT doc_id, COUNT(*)::BIGINT AS n_langs,
        |         string_agg(plang, ',' ORDER BY plang) AS langs
        |       FROM d GROUP BY doc_id)
        |SELECT a1.doc_id, n_segments, n_langs, langs,
        |  n_langs >= 2 AS code_switched
        |FROM a1 JOIN a2 USING (doc_id) ORDER BY a1.doc_id""".stripMargin,
    "llm_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |      FROM toks, unnest(range(1, len(ws) - 1)) AS t(i)
        |      WHERE len(ws) >= 3)
        |SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT s) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT s) AS n_repeated,
        |  (COUNT(*) - COUNT(DISTINCT s)) * 5 >= COUNT(*) AS is_repetitive
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "llm_pii_scrub" ->
      """WITH t2 AS (
        |  SELECT lang, text
        |    || CASE WHEN doc_id % 7 = 0
        |            THEN ' contact user' || doc_id::VARCHAR || '@example.com'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-0198' ELSE '' END
        |    AS text2
        |  FROM documents
        |),
        |m AS (
        |  SELECT lang,
        |    len(regexp_extract_all(text2, '[a-z0-9]+@[a-z0-9.]+'))::BIGINT AS n_emails,
        |    len(regexp_extract_all(text2, '555-[0-9]{4}'))::BIGINT AS n_phones,
        |    regexp_replace(regexp_replace(text2, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |                   '555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        |  FROM t2
        |)
        |SELECT lang,
        |  SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_docs_with_pii,
        |  SUM(n_emails)::BIGINT AS n_emails,
        |  SUM(n_phones)::BIGINT AS n_phones,
        |  SUM(len(scrubbed))::BIGINT AS sum_len_scrubbed,
        |  MIN(md5(scrubbed)) AS scrub_checksum
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_html_strip" ->
      """WITH t1 AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN '<div class="x"><p>' || text || '</p> <br/> </div>'
        |      ELSE text END AS t1
        |  FROM documents),
        |t2 AS (SELECT lang,
        |    CASE WHEN doc_id % 9 = 0 THEN t1 || ' a &amp; b &lt;i&gt;'
        |         ELSE t1 END AS t2
        |  FROM t1),
        |c AS (SELECT lang,
        |    len(regexp_extract_all(t2, '<[^>]+>'))::BIGINT AS n_tags,
        |    len(regexp_extract_all(t2, '&(amp|lt|gt);'))::BIGINT AS n_ents,
        |    trim(regexp_replace(
        |      replace(replace(replace(
        |        regexp_replace(t2, '<[^>]+>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
        |      ' +', ' ', 'g')) AS clean
        |  FROM t2)
        |SELECT lang, COUNT(*) AS n_docs,
        |  SUM(CASE WHEN n_tags > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_markup,
        |  SUM(n_tags)::BIGINT AS n_tags,
        |  SUM(n_ents)::BIGINT AS n_entities,
        |  SUM(len(clean))::BIGINT AS sum_len_clean,
        |  MIN(md5(clean)) AS clean_checksum
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_fingerprint" ->
      s"""WITH ${Dedup.shingleCte(3)}
        |SELECT doc_id, MIN(md5(s)) AS fp_min,
        |  array_to_string(list_sort(list_distinct(list(md5(s))))[1:5], '|') AS fp_kmin
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
