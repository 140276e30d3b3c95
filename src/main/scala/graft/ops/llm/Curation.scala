package graft.ops.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.QueryPack
import graft.state.Materialize.Policy

/** Corpus-curation operators that sit between cleaning and tokenization
  * in a training-data pipeline: context-window chunking (split long
  * documents into overlapping model-context slices), boilerplate
  * removal (drop segments repeated across documents — the C4/RefinedWeb
  * line-dedup pass, but removing ALL occurrences rather than keeping the
  * first as [[Dedup.paraDedup]] does), and statistical-LM scoring (rank
  * documents by how well a corpus bigram model predicts them — the
  * classic perplexity quality filter).
  *
  * Scale notes: every operator is explode + window-partitioned-by-key +
  * hash aggregate — the shapes that survive any corpus size. Nothing
  * here materializes to the driver; the only broadcasts are the
  * vocab-bounded count tables in [[perplexity]] (and those degrade
  * gracefully to shuffle joins when the vocabulary is open — the hint is
  * on the provably-small side only).
  */
object Curation extends QueryPack {

  /** Context window (tokens) and stride for [[chunking]]. Stride < window
    * gives the overlap that lets attention see across chunk boundaries.
    */
  private val ChunkW = 32
  private val ChunkS = 24

  /** Sliding-window context chunking: split each document into
    * fixed-token chunks of [[ChunkW]] tokens every [[ChunkS]] — the
    * standard way long documents become training sequences. Emits one row
    * per chunk with its token span and an md5 of the actual slice (the
    * gate proves the slicing, not just the arithmetic).
    *
    * Scale: one scan + one explode bounded by tokens/stride per doc; no
    * shuffle at all until the output sort — chunk arithmetic is pure
    * per-row integer work, so this pipelines with whatever runs next.
    */
  def chunking(spark: SparkSession, dir: String): DataFrame =
    chunkingFrom(Tables.documents(spark, dir))

  /** [[chunking]] over any (doc_id, text) corpus — the law-test entry. */
  def chunkingFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", split($"text", " ").as("ws"))
      .withColumn("n_tokens", size($"ws").cast("long"))
      .withColumn("n_chunks",
        when($"n_tokens" <= ChunkW, lit(1L))
          .otherwise(expr(s"1 + (n_tokens - $ChunkW + ${ChunkS - 1}) div $ChunkS")))
      .select($"doc_id", $"ws", $"n_tokens",
              explode(sequence(lit(0L), $"n_chunks" - 1)).as("chunk_i"))
      .withColumn("start_tok", $"chunk_i" * ChunkS)
      .withColumn("end_tok", least($"start_tok" + ChunkW, $"n_tokens"))
      .withColumn("chunk_toks", $"end_tok" - $"start_tok")
      .select($"doc_id", $"n_tokens", $"chunk_i", $"start_tok", $"end_tok",
              $"chunk_toks",
              md5(array_join(
                slice($"ws", ($"start_tok" + 1).cast("int"),
                      $"chunk_toks".cast("int")), " ")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_i")
  }

  /** Segment width (words) for [[boilerplate]] — same stand-in-for-lines
    * convention as [[Dedup.paraDedup]] (the fixture text has no newlines).
    */
  private val SegWords = 10

  /** Boilerplate removal: segments that appear in ≥ 2 DISTINCT documents
    * are boilerplate (headers, footers, license banners) and every
    * occurrence is dropped; the per-document residue is reassembled in
    * order. Differs from paragraph dedup (keep-first) exactly the way C4's
    * "discard any line seen more than once" differs from RefinedWeb dedup.
    *
    * The document-frequency per segment comes from dense_rank + max over
    * the same `seg` partition — ONE shuffle, no self-join, and the rank is
    * streaming (no per-key buffering), so a viral segment skews a sort,
    * never a hash table.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateFrom(Tables.documents(spark, dir))

  /** [[boilerplate]] over any (doc_id, text) corpus — the law-test entry. */
  def boilerplateFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // dense_rank over doc_id ONLY: a document that repeats the segment
    // internally must not inflate the distinct-document frequency
    val wRank = Window.partitionBy($"seg").orderBy($"doc_id")
    val wSeg  = Window.partitionBy($"seg")
    docs
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", explode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(size(ws) / $SegWords.0) as int) - 1),
           |  i -> struct(
           |    cast(i as bigint) as seg_i,
           |    array_join(slice(ws, i * $SegWords + 1, $SegWords), ' ') as seg))
           |""".stripMargin)).as("s"))
      .select($"doc_id", $"s.seg_i", $"s.seg")
      .withColumn("dr", dense_rank().over(wRank))
      .withColumn("df", max($"dr").over(wSeg))
      .withColumn("keep", $"df" < 2)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_seg"),
           sum(when($"keep", 0L).otherwise(1L)).as("n_boiler"),
           md5(array_join(
             transform(
               array_sort(collect_list(when($"keep", struct($"seg_i", $"seg")))),
               x => x.getField("seg")),
             " ")).as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** Statistical-LM document scoring — the perplexity quality filter. A
    * corpus bigram model is fit in-plan (prefix counts c1(w₁) and bigram
    * counts c2(w₁,w₂) over adjacent token pairs); each document is scored
    * by its mean inverse conditional-probability support. True perplexity
    * exponentiates a mean log-probability, but libm `ln` is not
    * correctly-rounded and differs across engines, so the gate uses the
    * monotone-equivalent RATIONAL surprisal Σc1/Σc2 — exact integers up to
    * one final correctly-rounded division, bit-identical at any scale and
    * ranking documents the same way for the filter's purpose.
    *
    * Scale: the pair stream shuffles once on doc_id (the lead window);
    * the count tables are vocabulary-bounded — broadcast here, and the
    * identical plan without the hint shuffle-joins on w₁/(w₁,w₂) when the
    * vocabulary is open. Nothing is quadratic anywhere.
    */
  def perplexity(spark: SparkSession, dir: String): DataFrame =
    perplexityFrom(Tables.documents(spark, dir))

  /** [[perplexity]] over any (doc_id, text) corpus — the law-test entry. */
  def perplexityFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    // Pinned: the pair stream has THREE consumers (c1, c2, the scored
    // probe side) — unpinned, the tokenize→posexplode→lead-window tower
    // ran three times per query (r17 plan capture of llm_ccnet_buckets:
    // three identical Generate→window subtrees, each with its own
    // doc_id exchange). One pin runs it once.
    val pairs = graft.state.Materialize.pin(docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w1")))
      .withColumn("w2", lead($"w1", 1).over(wDoc))
      .where($"w2".isNotNull)
      .select($"doc_id", $"w1", $"w2"), Policy.Always)
    val c1 = pairs.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val c2 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    pairs
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(c2), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pairs"),
           sum($"c1").as("sum_prefix_cnt"),
           sum($"c2").as("sum_bigram_cnt"))
      .select($"doc_id", $"n_pairs", $"sum_prefix_cnt", $"sum_bigram_cnt",
              ($"sum_prefix_cnt".cast("double") / $"sum_bigram_cnt").as("ppl_proxy"))
      .orderBy($"doc_id")
  }

  /** Apply a TRAINED merge table to a word column — the deploy side of
    * the tokenizer: merges are learned in batch ([[bpeMerges]]) and then
    * applied as a pure column expression, so the same tokenizer runs in a
    * batch projection or a streaming select with NO state (the
    * batch-train / stream-apply architecture every production tokenizer
    * deployment uses). Returns the symbol array.
    */
  def tokenizeWith(word: Column, merges: Seq[(String, String)]): Column = {
    val s0 = concat(lit(" "), trim(regexp_replace(word, "(.)", "$1  ")), lit(" "))
    val sN = merges.foldLeft(s0) { case (st, (a, b)) =>
      replace(st, lit(s" $a  $b "), lit(s" $a$b "))
    }
    split(trim(sN), "  ")
  }

  /** CCNet-style quality bucketing: rank every document by its LM score
    * and cut the corpus into head/middle/tail terciles — the bucketing
    * CCNet uses to stratify CommonCrawl by perplexity before sampling.
    * ntile over (score, doc_id) is totally ordered, so the cut points
    * are deterministic in both engines.
    *
    * Scale: the ranking window is global by definition (a percentile cut
    * IS a global statement) — at 100 TB this exact form becomes
    * approx-quantile cut points (the tolerance-gated approx_percentile
    * pattern) computed in one pass and applied map-side; the tercile
    * semantics are identical and nothing else changes.
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wAll = Window.orderBy($"ppl_proxy", $"doc_id")
    perplexity(spark, dir)
      .withColumn("bucket", ntile(3).over(wAll).cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
           min($"ppl_proxy").as("min_ppl"), max($"ppl_proxy").as("max_ppl"),
           min($"doc_id").as("first_doc"))
      .orderBy($"bucket")
  }

  /** Log₂-bucketed document-length histogram — the length distribution a
    * curation team reads before choosing context windows and packing
    * budgets. The bucket is `len(bin(n_tokens))` = ⌊log₂ n⌋ + 1: an
    * INTEGER derived through identical binary-string semantics in both
    * engines, so no floating log can diverge. One scan + one tiny
    * aggregate, key space = 64 buckets regardless of corpus size.
    */
  def lenHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("n", size(split($"text", " ")).cast("long"))
      .withColumn("bucket", length(bin($"n")).cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
           min($"n").as("min_tokens"), max($"n").as("max_tokens"))
      .orderBy($"bucket")
  }

  /** Dataset card — the datasheet a corpus release ships with: per-
    * language doc/token volumes plus corpus-health counters (exact-
    * duplicate docs, repetitive docs, too-short docs). Every metric is
    * an integer count (nothing to diverge cross-engine).
    *
    * Physical shape (VERDICT r4 #8 — the previous form unioned five
    * independently-scanning aggregate branches, four of them over the
    * same corpus): ALL document-grain metrics now ride ONE `rollup(lang)`
    * aggregate — Spark plans a single scan + Expand into the (lang)/()
    * grouping sets — and the tiny aggregated frame (n_langs + 1 rows) is
    * exploded into (metric, dim, value) rows through one generator, so
    * no consumer re-triggers the scan. Only the repetition counter reads
    * the corpus again: it needs the 3-gram explode, a different grain by
    * definition. Corpus reads: 2, at any number of card metrics.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
    val oneScan = docs.rollup($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tokens").as("n_toks"),
           countDistinct(md5($"text")).as("n_distinct_text"),
           sum(when($"n_tokens" < 20L, 1L).otherwise(0L)).as("n_short"),
           grouping_id().as("gid"))
    val docMetrics = oneScan.select(explode(
        when($"gid" === 0, array( // per-language grouping-set row
          struct(lit("docs_per_lang").as("metric"), $"lang".as("dim"),
                 $"n_docs".as("value")),
          struct(lit("tokens_per_lang").as("metric"), $"lang".as("dim"),
                 $"n_toks".as("value"))))
        .otherwise(array(          // grand-total row → the global counters
          struct(lit("exact_dup_docs").as("metric"), lit("all").as("dim"),
                 ($"n_docs" - $"n_distinct_text").as("value")),
          struct(lit("short_docs").as("metric"), lit("all").as("dim"),
                 $"n_short".as("value"))))).as("r"))
      .select($"r.metric", $"r.dim", $"r.value")
    val repetitive = Dedup.shingles(spark, dir, 3, distinct = false)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), countDistinct($"s").as("n_distinct"))
      .withColumn("rep", ($"n_grams" - $"n_distinct") * 5 >= $"n_grams")
    val repDocs = repetitive
      .agg(sum(when($"rep", 1L).otherwise(0L)).as("value"))
      .select(lit("repetitive_docs").as("metric"), lit("all").as("dim"), $"value")
    docMetrics.union(repDocs)
      .orderBy($"metric", $"dim")
  }

  /** Held-out trigram LM scoring with stupid backoff — the realistic
    * perplexity-filter setup: the model (trigram and context counts) is
    * fit on the TRAIN split of the deterministic hash split (the same
    * `hex60(doc_id + '#split') % 100 < 80` rule as `llm_sample_hash`),
    * and EVAL documents are scored against it, so unseen trigrams
    * genuinely occur and the backoff path (0.4 × bigram estimate, the
    * "stupid backoff" of Brants et al.'s large-LM recipe, expressed in
    * exact ×1000 fixed-point with floor division) actually fires.
    *
    * Scale: one lead-window pass per document (doc_id shuffle), count
    * tables keyed by vocab³ at worst — broadcast here, shuffle joins at
    * open vocab; scores are integer fixed-point so any partitioning
    * yields the identical sum.
    */
  def trigramBackoff(spark: SparkSession, dir: String): DataFrame =
    trigramBackoffFrom(Tables.documents(spark, dir))

  /** [[trigramBackoff]] over any (doc_id, text) corpus. */
  def trigramBackoffFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val splitPct = expr(
      CrossHash.hex60("concat(cast(doc_id as string), '#split')") + " % 100")
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    // Pinned: the trigram stream has FIVE consumers (c3/c2/c2b/c1b via
    // `train` + the eval probe side) — unpinned, Catalyst duplicated the
    // tokenize→posexplode→double-lead-window tower five times per query
    // (r17 plan capture: five scans of the corpus). One pin, one pass.
    val tri = graft.state.Materialize.pin(docs
      .withColumn("part", when(splitPct < 80, "train").otherwise("eval"))
      .select($"doc_id", $"part", posexplode(split($"text", " ")).as(Seq("pos", "w1")))
      .withColumn("w2", lead($"w1", 1).over(wDoc))
      .withColumn("w3", lead($"w1", 2).over(wDoc))
      .where($"w3".isNotNull)
      .select($"doc_id", $"part", $"w1", $"w2", $"w3"), Policy.Always)
    val train = tri.where($"part" === "train")
    val c3  = train.groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("c3"))
    val c2  = train.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c2b = train.groupBy($"w2", $"w3").agg(count(lit(1)).as("c2b"))
    val c1b = train.groupBy($"w2").agg(count(lit(1)).as("c1b"))
    tri.where($"part" === "eval")
      .join(broadcast(c3), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(c2b), Seq("w2", "w3"), "left")
      .join(broadcast(c1b), Seq("w2"), "left")
      .withColumn("score_i",
        when($"c3".isNotNull, expr("(1000 * c3) div c2"))
          .when($"c2b".isNotNull, expr("(400 * c2b) div c1b"))
          .otherwise(lit(0L)))
      .withColumn("backoff", when($"c3".isNull, 1L).otherwise(0L))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tri"),
           sum($"backoff").as("n_backoff"),
           sum($"score_i").as("score_fp"))
      .orderBy($"doc_id")
  }

  /** Number of BPE merge rounds [[bpeMerges]] learns. */
  private val BpeIters = 8

  /** BPE tokenizer training — the learn-the-merges half of byte-pair
    * encoding: [[BpeIters]] rounds of "count adjacent symbol pairs across
    * the word-frequency table, merge the most frequent everywhere"
    * (tie-break: count desc, then pair lexicographic — total order, so
    * both engines pick the same pair). Output is the learned merge table,
    * which IS the tokenizer artifact a training pipeline ships.
    *
    * State encoding: `' sym  sym  sym '` — TWO spaces between symbols, ONE
    * at each edge. A merge of pair (a,b) is then the literal replacement
    * `' a  b ' → ' ab '`: adjacent occurrences each own one space of the
    * shared two-space gap, so plain left-to-right non-overlapping
    * `replace` (identical semantics in Spark and DuckDB) applies the merge
    * exactly the way BPE defines it — no occurrence is ever blocked by a
    * neighbor having consumed its boundary space, and a merged symbol can
    * never spuriously re-match (the pattern requires the bare symbol
    * between separators).
    *
    * Scale: the corpus collapses to the word-frequency table in one hash
    * aggregate FIRST (BPE statistics are word-level — the classic
    * optimization), so each round's pair count runs over |vocab| rows,
    * not the corpus. Each round is one explode + one aggregate + a one-row
    * driver probe (the argmax — bounded, like [[Ranking.textrank]]'s
    * probe) + one projection; nothing iterative ever rescans raw text.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesFrom(Tables.documents(spark, dir))

  /** [[bpeMerges]] over any (doc_id, text) corpus — the law-test entry. */
  def bpeMergesFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    bpeTrain(docs)._1.toDF("merge_i", "sym_a", "sym_b", "pair_cnt")
      .orderBy($"merge_i")
  }

  /** The training loop shared by [[bpeMerges]] (wants the merge table) and
    * [[bpeEncode]] (wants the final per-word segmentations): returns the
    * learned merges and the word → final-state table.
    */
  private def bpeTrain(docs: DataFrame): (Seq[(Long, String, String, Long)], DataFrame) = {
    import docs.sparkSession.implicits._
    // word-frequency table: the only corpus-wide pass
    var states = docs
      .select(explode(split($"text", " ")).as("word"))
      .where(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("f"))
      .select($"word", $"f",
        concat(lit(" "),
               trim(regexp_replace($"word", "(.)", "$1  ")),
               lit(" ")).as("state"))
      // vocab-sized; pins the aggregate result
      .transform(graft.state.Materialize.pin(_, Policy.Always))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= BpeIters && !exhausted) {
      val pairCounts = states
        .select($"f", split(trim($"state"), "  ").as("syms"))
        // guard: sequence(1, 0) would DESCEND and index 0 is an ANSI error
        .where(size($"syms") >= 2)
        .select($"f", explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) as a,
            |              element_at(syms, i + 1) as b))""".stripMargin)).as("p"))
        .groupBy($"p.a", $"p.b").agg(sum($"f").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
      pairCounts.head(1) match { // bounded probe: at most one row
        case Array(best) =>
          val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
          merges += ((k.toLong, a, b, cnt))
          states = states.select($"word", $"f",
            replace($"state", lit(s" $a  $b "), lit(s" $a$b ")).as("state"))
            // truncate the per-round projection lineage
            .transform(graft.state.Materialize.pin(_, Policy.Always))
          k += 1
        case _ =>
          // no pairs left (every word fully merged) — the oracle's empty
          // b_k rounds vanish from its UNION the same way
          exhausted = true
      }
    }
    (merges.result(), states)
  }

  /** BPE corpus encoding — the apply-the-merges half: tokenize every
    * document with the just-trained tokenizer and report per-language
    * fertility (BPE symbols per whitespace token) and compression
    * (chars per BPE symbol) — the numbers a tokenizer team actually
    * reviews before shipping a vocab.
    *
    * Scale: training collapses to the vocab table (above); encoding joins
    * the per-(lang, word) occurrence counts to the final segmentations —
    * a vocab-keyed equi-join that Spark broadcasts when the vocab is
    * small and shuffle-joins when it is open-ended — then one aggregate.
    * No per-document work ever touches the merge loop.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeFrom(Tables.documents(spark, dir))

  /** [[bpeEncode]] over any (lang, text) corpus — the law-test entry. */
  def bpeEncodeFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val finalStates = bpeTrain(docs)._2
      .select($"word", size(split(trim($"state"), "  ")).cast("long").as("n_syms"))
    docs
      .select($"lang", explode(split($"text", " ")).as("word"))
      .where(length($"word") > 0)
      .groupBy($"lang", $"word").agg(count(lit(1)).as("f"))
      .join(finalStates, Seq("word"))
      .groupBy($"lang")
      .agg(sum($"f").as("n_tokens_ws"),
           sum($"f" * $"n_syms").as("n_syms_bpe"),
           sum($"f" * length($"word").cast("long")).as("n_chars"))
      .select($"lang", $"n_tokens_ws", $"n_syms_bpe", $"n_chars",
              ($"n_syms_bpe".cast("double") / $"n_tokens_ws").as("fertility"),
              ($"n_chars".cast("double") / $"n_syms_bpe").as("chars_per_sym"))
      .orderBy($"lang")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each document by
    * how much more likely its hashed-unigram features are under the
    * TARGET distribution (here the `lang = 'en'` slice) than under the
    * raw corpus. The real DSIR uses log probability ratios; this keeps
    * the estimator shape but swaps ln for the integer floor-log2
    * (`length(bin(n)) - 1`) so every weight is an exact integer —
    * bit-identical cross-engine with zero float drift.
    *
    * Scale shape: one explode pass builds the hashed-feature stream; the
    * two count tables are bounded by the 256-bucket feature space (NOT
    * the corpus — that is the point of hashed features at 100 TB), so
    * the ratio dictionary broadcasts; the per-doc score is one keyed
    * aggregate. Top-k via TakeOrderedAndProject.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("w"))
      .where(length($"w") > 0)
      .withColumn("b", expr(s"${CrossHash.hex60Native("w")} % 256"))
    val src = toks.groupBy($"b").agg(count(lit(1)).as("scnt"))
    val tgt = toks.where($"lang" === "en")
      .groupBy($"b").agg(count(lit(1)).as("tcnt"))
    val dict = src.join(tgt, Seq("b"), "left_outer")
      .na.fill(0L, Seq("tcnt"))
      .select($"b",
        ((length(bin($"tcnt" + 1)) - 1) - (length(bin($"scnt" + 1)) - 1))
          .cast("long").as("lw"))
    toks.groupBy($"doc_id", $"b").agg(count(lit(1)).as("tf"))
      .join(broadcast(dict), Seq("b"))
      .groupBy($"doc_id")
      .agg(sum($"tf" * $"lw").as("dsir_weight"))
      .orderBy($"dsir_weight".desc, $"doc_id")
      .limit(20)
  }

  /** K-anonymity audit over quasi-identifiers — the privacy gate a
    * training-data release runs before shipping: any combination of
    * (lang, source, length-bucket) shared by fewer than k documents is
    * re-identifying and must be suppressed or generalized. Two hash
    * aggregates (QI census → per-lang rollup), both keyed and mergeable;
    * the QI key space bounds state, not the corpus. Output: per lang,
    * how many QI groups / documents survive at k=5 and how many fall to
    * suppression — all integers.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 5L
    val qi = Tables.documents(spark, dir)
      .select($"lang", $"source", expr("n_chars div 200").as("len_b"))
      .groupBy($"lang", $"source", $"len_b")
      .agg(count(lit(1)).as("grp_n"))
    qi.groupBy($"lang")
      .agg(count(lit(1)).as("n_groups"),
           sum(when($"grp_n" >= k, 1L).otherwise(0L)).as("n_safe_groups"),
           sum($"grp_n").as("n_docs"),
           sum(when($"grp_n" < k, $"grp_n").otherwise(0L))
             .as("n_suppressed_docs"))
      .orderBy($"lang")
  }

  /** The END-TO-END curation funnel as ONE composed plan — the pipeline
    * a corpus release actually ships: additive quality scoring (the
    * [[TextStats.qualityScore]] features) → exact content dedup among
    * the quality survivors (keep-lowest-id canonical per md5) →
    * deterministic hash-mod sampling (the [[TextStats.sampleHash]]
    * membership function) → per-language funnel report. Physically:
    * one scan, one window shuffle keyed by content hash, one final
    * aggregate — stage composition adds NO extra passes over the corpus,
    * which is the point of declaring the whole funnel in one plan and
    * the property that holds at 100 TB. The per-stage counts are the
    * data-loss audit every curation run publishes.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame =
    curationFunnelFrom(Tables.documents(spark, dir))

  /** [[curationFunnel]] over any (doc_id, lang, text, n_chars) corpus —
    * also the `ScaleProbe` entry.
    */
  private[graft] def curationFunnelFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val scored = TextStats.withQualityScore(docs, $"text", $"n_chars")
      .withColumn("qual", $"score" >= 3)
    // one window keyed on the content hash: the group's first QUALITY
    // doc (qual sorts first, then lowest id) is the canonical survivor
    val wDup = Window.partitionBy(md5($"text"))
      .orderBy($"qual".desc, $"doc_id")
    scored
      .withColumn("canon", $"qual" && row_number().over(wDup) === 1)
      .withColumn("samp", $"canon" &&
        expr(CrossHash.hex60("concat(cast(doc_id as string), '#sample')") +
             " % 100") < 50)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_raw"),
           sum($"qual".cast("long")).as("n_quality"),
           sum($"canon".cast("long")).as("n_unique"),
           sum($"samp".cast("long")).as("n_sampled"),
           sum(when($"samp", $"n_chars").otherwise(0L)).as("sampled_chars"))
      .orderBy($"lang")
  }

  /** Pairwise total-variation distance between per-source unigram
    * distributions — the mixing-diagnostic that says which domains are
    * interchangeable and which bring genuinely different text (feeds
    * weight design alongside [[dsirWeights]]/[[mixWeights]]; DoReMi-style
    * pipelines start from exactly this kind of domain-divergence matrix).
    *
    * TV(a,b) = ½ Σ_w |c_a(w)/N_a − c_b(w)/N_b| is computed in EXACT
    * integer arithmetic: with the per-source totals constant inside a
    * pair, Σ|c_a·N_b − c_b·N_a| is a decimal(38,0) sum of exact products
    * (no float until one final division) — the [[graft.Det]] playbook,
    * taken to the point where NO term is ever a rounded double, so the
    * engines cannot disagree at any corpus size. log-based divergences
    * (KL/JS) are deliberately avoided: ln() is not bit-reproducible
    * across engines; TV is, and it is a metric.
    *
    * Shape: token-count aggregate (map-side combine), vocab-keyed map
    * assembly, tiny pair frame broadcast against the vocab spine
    * (BroadcastNestedLoop over |sources|² rows — never a shuffle of the
    * corpus), one final aggregate keyed by the pair. A token absent from
    * both sources of a pair contributes zero, so the global spine serves
    * every pair without per-pair vocabularies.
    */
  def domainDivergence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"source", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
    val counts = tok.groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy($"source").agg(sum($"c").as("n"))
    val byW = counts.groupBy($"w")
      .agg(map_from_entries(collect_list(struct($"source", $"c"))).as("m"))
    val pairs = totals.select($"source".as("s1"), $"n".as("na"))
      .crossJoin(totals.select($"source".as("s2"), $"n".as("nb")))
      .filter($"s1" < $"s2")
    broadcast(pairs).crossJoin(byW)
      .select($"s1", $"s2", $"na", $"nb",
        coalesce(expr("m[s1]"), lit(0L)).as("ca"),
        coalesce(expr("m[s2]"), lit(0L)).as("cb"))
      .filter($"ca" > 0 || $"cb" > 0)
      .groupBy($"s1", $"s2", $"na", $"nb")
      .agg(count(lit(1)).as("n_vocab_union"),
        sum(when($"ca" > 0 && $"cb" > 0, 1L).otherwise(0L)).as("n_vocab_shared"),
        sum(expr("abs(cast(ca as decimal(38,0)) * nb - cast(cb as decimal(38,0)) * na)"))
          .as("s_abs"))
      .select($"s1", $"s2", $"n_vocab_union", $"n_vocab_shared",
        expr("cast(s_abs as double) / (2.0 * na * nb)").as("tv"))
      .orderBy($"s1", $"s2")
  }

  /** The END-TO-END curation pipeline as ONE gated query — the
    * composition a real ingest runs, not four separate operators:
    * NFC-normalize ([[graft.functions.NfcNormalize]]) → quality filter
    * ([[TextStats.withQualityScore]], score >= 3) → first-quality-wins
    * exact dedup (content-hash window) → CDC-chunk the survivors
    * ([[Dedup.cdcChunkRowsBatch]]) and census residual sub-document
    * duplication per lang. Every stage is verified on its own gate; this
    * gate verifies the COMPOSITION (stage boundaries, column contracts,
    * the survivors actually feeding the chunker) against one DuckDB
    * replay of the whole chain. Catalyst fuses the normalize + score +
    * window into a single pass over the corpus; the chunk census adds
    * the CDC shuffles on the uniform hash key.
    */
  def e2eCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
      .withColumn("text", expr("graft_nfc(text)"))
    // Pin the two multi-consumer stage boundaries (r17, guide §1.2 "don't
    // compute things twice" / §5 caching-when-reused): `scored` feeds both
    // the dedup window and the per-lang raw census, and `canon` feeds both
    // the CDC chunker and the lang join — unpinned, Catalyst duplicated
    // the subtrees, so the corpus went through NFC normalization + feature
    // scoring THREE times and through the md5-keyed full-text window
    // shuffle TWICE per run (measured at sf0.1: 2.04s before, 1.48s
    // after, both steal-clean). The pins drop the ws/score
    // scratch columns first so the
    // materialized bytes are (id, lang, text, qual), not the token arrays.
    val scored = TextStats.withQualityScore(docs, $"text", $"n_chars")
      .select($"doc_id", $"lang", $"text", ($"score" >= 3).as("qual"))
      .transform(graft.state.Materialize.pin(_, Policy.Always))
    val wDup = Window.partitionBy(md5($"text")).orderBy($"qual".desc, $"doc_id")
    val canon = scored.withColumn("rn", row_number().over(wDup))
      .where($"qual" && $"rn" === 1)
      .select($"doc_id", $"lang", $"text")
      .transform(graft.state.Materialize.pin(_, Policy.Always))
    // Third stage pin (r17): chunks feeds the dup census AND the
    // join-back — unpinned, the CDC per-byte md5 tower ran twice over
    // the canon pin.
    val chunks = Dedup.cdcChunkRowsBatch(canon.select($"doc_id", $"text"))
      .transform(graft.state.Materialize.pin(_, Policy.Always))
    val dup = chunks.groupBy($"h").agg(countDistinct($"doc_id").as("nd"))
    val chunkCensus = chunks.join(dup, Seq("h"))
      .join(canon.select($"doc_id", $"lang"), Seq("doc_id"))
      .groupBy($"lang")
      .agg(countDistinct($"doc_id").as("n_unique"),
           count(lit(1)).as("n_chunks"),
           sum(when($"nd" >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
           min($"h").as("chunk_checksum"))
    scored.groupBy($"lang")
      .agg(count(lit(1)).as("n_raw"), sum($"qual".cast("long")).as("n_quality"))
      .join(chunkCensus, Seq("lang"), "left")
      .select($"lang", $"n_raw", $"n_quality",
        coalesce($"n_unique", lit(0L)).as("n_unique"),
        coalesce($"n_chunks", lit(0L)).as("n_chunks"),
        coalesce($"n_dup_chunks", lit(0L)).as("n_dup_chunks"),
        coalesce($"chunk_checksum", lit("")).as("chunk_checksum"))
      .orderBy($"lang")
  }

  /** Prompt-prefix cache census — the serving-side planning op behind
    * paged-KV prefix caching (vLLM-style automatic prefix reuse): when
    * many requests share their first K tokens (system prompts, few-shot
    * headers, templated instructions), the shared prefix's KV cache is
    * computed once and reused, so the census "how many documents share
    * each 8-token prefix, and how many prefill tokens would reuse save"
    * is what sizes the cache and picks K. Exact integers throughout:
    * saved = (n_docs − 1) · prefix_tokens (every occurrence after the
    * first hits cache). Top-10 prefixes by (n_docs DESC, md5) — the
    * cache-priority order.
    *
    * Scale shape: map-side prefix extraction, ONE hash aggregate on the
    * prefix (distinct-prefix-bounded, ≤ corpus), top-10 via
    * orderBy+limit = TakeOrderedAndProject. The census never joins and
    * never sorts more than per-partition heads.
    */
  def prefixCache(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(expr("slice(split(text, ' '), 1, 8)").as("pt"))
      .select(expr("array_join(pt, ' ')").as("prefix"),
              size($"pt").cast("long").as("prefix_toks"))
      .groupBy($"prefix", $"prefix_toks")
      .agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 2)
      .select(md5(encode($"prefix", "UTF-8")).as("prefix_md5"),
              $"prefix_toks", $"n_docs",
              (($"n_docs" - 1) * $"prefix_toks").as("saved_tokens"))
      .orderBy($"n_docs".desc, $"prefix_md5")
      .limit(10)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_prefix_cache"      -> (prefixCache _),
    "llm_e2e_curation"      -> (e2eCuration _),
    "llm_domain_divergence" -> (domainDivergence _),
    "llm_curation_funnel" -> (curationFunnel _),
    "llm_k_anonymity"  -> (kAnonymity _),
    "llm_dsir_weights" -> (dsirWeights _),
    "llm_chunking"    -> (chunking _),
    "llm_boilerplate" -> (boilerplate _),
    "llm_perplexity"  -> (perplexity _),
    "llm_bpe_merges"  -> (bpeMerges _),
    "llm_bpe_encode"  -> (bpeEncode _),
    "llm_trigram_backoff" -> (trigramBackoff _),
    "llm_dataset_card" -> (datasetCard _),
    "llm_len_histogram" -> (lenHistogram _),
    "llm_ccnet_buckets" -> (ccnetBuckets _)
  )

  /** The BPE oracle replays every merge round as an unrolled CTE chain
    * generated from the same [[BpeIters]] constant — each round re-derives
    * the pair counts from the previous round's states, takes the same
    * (cnt desc, pair asc) argmax, and applies the same two-space literal
    * replacement, so the two engines cannot disagree on any round.
    */
  /** The llm_perplexity oracle — also nested verbatim as llm_ccnet_buckets'
    * `ppl` CTE, so the two gates can never drift apart.
    */
  private val perplexityOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS w1
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      |p AS (
      |  SELECT doc_id, w1,
      |         LEAD(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM toks),
      |pairs AS (SELECT doc_id, w1, w2 FROM p WHERE w2 IS NOT NULL),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2)
      |SELECT doc_id, COUNT(*) AS n_pairs,
      |  SUM(c1.c1)::BIGINT AS sum_prefix_cnt,
      |  SUM(c2.c2)::BIGINT AS sum_bigram_cnt,
      |  (CAST(SUM(c1.c1) AS DOUBLE) / SUM(c2.c2)::BIGINT) AS ppl_proxy
      |FROM pairs
      |JOIN c1 USING (w1)
      |JOIN c2 USING (w1, w2)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  private val bpeChain: String = {
    val base =
      """WITH words AS (
        |  SELECT w AS word, COUNT(*) AS f
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY w),
        |s0 AS (
        |  SELECT word, f,
        |    ' ' || trim(regexp_replace(word, '(.)', '\1  ', 'g')) || ' ' AS state
        |  FROM words)""".stripMargin
    val rounds = (1 to BpeIters).map { k =>
      s"""p$k AS (
         |  SELECT s[i] AS a, s[i + 1] AS b, SUM(f)::BIGINT AS cnt
         |  FROM (SELECT f, s, generate_subscripts(s, 1) AS i
         |        FROM (SELECT f, string_split(trim(state), '  ') AS s
         |              FROM s${k - 1}))
         |  WHERE i < len(s)
         |  GROUP BY 1, 2),
         |b$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |s$k AS (
         |  SELECT word, f, replace(state, ' ' || a || '  ' || b || ' ',
         |                          ' ' || a || b || ' ') AS state
         |  FROM s${k - 1} CROSS JOIN b$k)""".stripMargin
    }
    base + ",\n" + rounds.mkString(",\n")
  }

  private val bpeOracle: String = {
    val out = (1 to BpeIters).map(k =>
      s"SELECT ${k}::BIGINT AS merge_i, a AS sym_a, b AS sym_b, cnt AS pair_cnt FROM b$k")
      .mkString("\nUNION ALL\n")
    bpeChain + "\n" + out + "\nORDER BY merge_i"
  }

  private val bpeEncodeOracle: String =
    bpeChain + s""",
      |wl AS (
      |  SELECT lang, w AS word, COUNT(*) AS f
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE len(w) > 0 GROUP BY 1, 2),
      |fin AS (
      |  SELECT word, len(string_split(trim(state), '  '))::BIGINT AS n_syms
      |  FROM s$BpeIters)
      |SELECT lang,
      |  SUM(f)::BIGINT AS n_tokens_ws,
      |  SUM(f * n_syms)::BIGINT AS n_syms_bpe,
      |  SUM(f * len(word))::BIGINT AS n_chars,
      |  (CAST(SUM(f * n_syms) AS DOUBLE) / SUM(f)::BIGINT) AS fertility,
      |  (CAST(SUM(f * len(word)) AS DOUBLE) / SUM(f * n_syms)::BIGINT) AS chars_per_sym
      |FROM wl JOIN fin USING (word)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  def oracle: Map[String, String] = Map(
    // same 8-token prefix, same exact-integer savings, same
    // (n_docs DESC, md5) cache-priority head
    "llm_prefix_cache" ->
      """WITH p AS (SELECT list_slice(string_split(text, ' '), 1, 8) AS pt
        |           FROM documents),
        |g AS (SELECT array_to_string(pt, ' ') AS prefix,
        |        len(pt)::BIGINT AS prefix_toks
        |      FROM p),
        |c AS (SELECT prefix, prefix_toks, COUNT(*)::BIGINT AS n_docs
        |      FROM g GROUP BY prefix, prefix_toks
        |      HAVING COUNT(*) >= 2)
        |SELECT md5(prefix) AS prefix_md5, prefix_toks, n_docs,
        |  ((n_docs - 1) * prefix_toks)::BIGINT AS saved_tokens
        |FROM c ORDER BY n_docs DESC, prefix_md5 LIMIT 10""".stripMargin,
    // one DuckDB replay of the whole chain: nfc_normalize → the funnel's
    // quality features → first-quality-wins hash dedup → the CDC CTE over
    // the survivors → per-lang census
    "llm_e2e_curation" ->
      """WITH d0 AS (SELECT doc_id, lang, nfc_normalize(text) AS text, n_chars
        |            FROM documents),
        |f AS (
        |  SELECT doc_id, lang, text, n_chars,
        |    (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END
        |     + CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END
        |     + CASE WHEN len(list_distinct(string_split(text, ' '))) * 2
        |                >= len(string_split(text, ' ')) THEN 1 ELSE 0 END
        |     + CASE WHEN len(list_filter(string_split(text, ' '),
        |                                 w -> w = 'the' OR w = 'a')) * 5
        |                <= len(string_split(text, ' ')) THEN 1 ELSE 0 END)
        |      AS score
        |  FROM d0),
        |q AS (SELECT *, score >= 3 AS qual FROM f),
        |r AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
        |                ORDER BY qual DESC, doc_id) AS rn FROM q),
        |canon AS (SELECT doc_id, lang, text FROM r WHERE qual AND rn = 1),
        |d AS (SELECT doc_id, text, len(text)::BIGINT AS len FROM canon),
        |pos AS (SELECT doc_id, text, len, unnest(range(16, len + 1)) AS i
        |        FROM d WHERE len >= 16),
        |bnd AS (SELECT doc_id, i FROM pos
        |        WHERE i < len
        |          AND ('0x' || substr(md5(substr(text, (i - 15)::INT, 16)),
        |                              1, 15))::BIGINT % 64 = 0),
        |cuts AS (SELECT doc_id, list_sort(list(i)) AS cl FROM bnd GROUP BY doc_id),
        |cl2 AS (SELECT d.doc_id, d.text,
        |          list_append(list_prepend(0::BIGINT, COALESCE(cl, []::BIGINT[])),
        |                      d.len) AS cuts2
        |        FROM d LEFT JOIN cuts USING (doc_id)),
        |ch0 AS (SELECT doc_id, text, cuts2,
        |          unnest(range(1, len(cuts2))) AS j FROM cl2),
        |hh AS (SELECT doc_id, j,
        |         md5(substr(text, (cuts2[j] + 1)::INT,
        |                    (cuts2[j + 1] - cuts2[j])::INT)) AS h
        |       FROM ch0),
        |dup AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM hh GROUP BY h),
        |cc AS (SELECT c.lang, hh.doc_id, hh.h, dup.nd
        |       FROM hh JOIN dup USING (h) JOIN canon c USING (doc_id)),
        |chunkc AS (SELECT lang, COUNT(DISTINCT doc_id)::BIGINT AS n_unique,
        |             COUNT(*)::BIGINT AS n_chunks,
        |             SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT
        |               AS n_dup_chunks,
        |             MIN(h) AS chunk_checksum
        |           FROM cc GROUP BY lang),
        |rawc AS (SELECT lang, COUNT(*)::BIGINT AS n_raw,
        |           (COUNT(*) FILTER (WHERE qual))::BIGINT AS n_quality
        |         FROM q GROUP BY lang)
        |SELECT r.lang, n_raw, n_quality,
        |  COALESCE(n_unique, 0)::BIGINT AS n_unique,
        |  COALESCE(n_chunks, 0)::BIGINT AS n_chunks,
        |  COALESCE(n_dup_chunks, 0)::BIGINT AS n_dup_chunks,
        |  COALESCE(chunk_checksum, '') AS chunk_checksum
        |FROM rawc r LEFT JOIN chunkc USING (lang) ORDER BY lang""".stripMargin,
    // identical exact-integer TV: Σ|ca·Nb − cb·Na| in DECIMAL(38,0),
    // one final double division per pair
    "llm_domain_divergence" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |tok2 AS (SELECT source, w FROM tok WHERE len(w) > 0),
        |counts AS (SELECT source, w, COUNT(*)::BIGINT AS c
        |           FROM tok2 GROUP BY 1, 2),
        |totals AS (SELECT source, SUM(c)::BIGINT AS n FROM counts GROUP BY 1),
        |pairs AS (SELECT a.source AS s1, a.n AS na, b.source AS s2, b.n AS nb
        |          FROM totals a, totals b WHERE a.source < b.source),
        |vocab AS (SELECT DISTINCT w FROM counts),
        |terms AS (SELECT s1, s2, na, nb,
        |            COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
        |          FROM pairs p CROSS JOIN vocab v
        |          LEFT JOIN counts ca ON ca.source = p.s1 AND ca.w = v.w
        |          LEFT JOIN counts cb ON cb.source = p.s2 AND cb.w = v.w
        |          WHERE COALESCE(ca.c, 0) > 0 OR COALESCE(cb.c, 0) > 0)
        |SELECT s1, s2,
        |  COUNT(*)::BIGINT AS n_vocab_union,
        |  SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_vocab_shared,
        |  CAST(SUM(abs(ca::DECIMAL(38,0) * nb - cb::DECIMAL(38,0) * na))
        |       AS DOUBLE) / (2.0 * na * nb) AS tv
        |FROM terms GROUP BY s1, s2, na, nb ORDER BY s1, s2""".stripMargin,
    // the same three stages as portable CTEs; boolean DESC puts true
    // first in both engines, so the canonical pick cannot diverge
    "llm_curation_funnel" ->
      """WITH f AS (
        |  SELECT doc_id, lang, text, n_chars,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END
        |     + CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END
        |     + CASE WHEN len(list_distinct(string_split(text, ' '))) * 2
        |                >= len(string_split(text, ' ')) THEN 1 ELSE 0 END
        |     + CASE WHEN len(list_filter(string_split(text, ' '),
        |                                 w -> w = 'the' OR w = 'a')) * 5
        |                <= len(string_split(text, ' ')) THEN 1 ELSE 0 END)
        |      AS score
        |  FROM documents),
        |q AS (SELECT *, score >= 3 AS qual FROM f),
        |r AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
        |                ORDER BY qual DESC, doc_id) AS rn FROM q),
        |s AS (SELECT *, (qual AND rn = 1) AS canon,
        |        (qual AND rn = 1 AND
        |         ('0x' || substr(md5(doc_id::VARCHAR || '#sample'), 1, 15))
        |           ::BIGINT % 100 < 50) AS samp
        |      FROM r)
        |SELECT lang, COUNT(*) AS n_raw,
        |  (COUNT(*) FILTER (WHERE qual))::BIGINT AS n_quality,
        |  (COUNT(*) FILTER (WHERE canon))::BIGINT AS n_unique,
        |  (COUNT(*) FILTER (WHERE samp))::BIGINT AS n_sampled,
        |  COALESCE(SUM(n_chars) FILTER (WHERE samp), 0)::BIGINT
        |    AS sampled_chars
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_k_anonymity" ->
      """WITH qi AS (
        |  SELECT lang, source, n_chars // 200 AS len_b, COUNT(*) AS grp_n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, COUNT(*) AS n_groups,
        |  SUM(CASE WHEN grp_n >= 5 THEN 1 ELSE 0 END)::BIGINT AS n_safe_groups,
        |  SUM(grp_n)::BIGINT AS n_docs,
        |  SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)::BIGINT
        |    AS n_suppressed_docs
        |FROM qi GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_dsir_weights" ->
      s"""WITH tb AS (
         |  SELECT doc_id, lang, ${CrossHash.hex60Sql("w")} % 256 AS b
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |  WHERE len(w) > 0),
         |src AS (SELECT b, COUNT(*) AS scnt FROM tb GROUP BY 1),
         |tgt AS (SELECT b, COUNT(*) AS tcnt FROM tb WHERE lang = 'en' GROUP BY 1),
         |dict AS (
         |  SELECT s.b,
         |    ((length(bin(1 + COALESCE(tcnt, 0))) - 1)
         |     - (length(bin(1 + scnt)) - 1))::BIGINT AS lw
         |  FROM src s LEFT JOIN tgt t ON s.b = t.b),
         |tf AS (SELECT doc_id, b, COUNT(*) AS tf FROM tb GROUP BY 1, 2)
         |SELECT doc_id, SUM(tf * lw)::BIGINT AS dsir_weight
         |FROM tf JOIN dict USING (b)
         |GROUP BY doc_id
         |ORDER BY dsir_weight DESC, doc_id LIMIT 20""".stripMargin,
    "llm_chunking" ->
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |d AS (SELECT doc_id, w, len(w) AS n,
         |        CASE WHEN len(w) <= $ChunkW THEN 1
         |             ELSE 1 + (len(w) - $ChunkW + ${ChunkS - 1}) // $ChunkS END AS n_chunks
         |      FROM ws),
         |ex AS (SELECT doc_id, w, n, unnest(range(n_chunks)) AS chunk_i FROM d)
         |SELECT doc_id, n AS n_tokens, chunk_i,
         |  chunk_i * $ChunkS AS start_tok,
         |  least(chunk_i * $ChunkS + $ChunkW, n) AS end_tok,
         |  least(chunk_i * $ChunkS + $ChunkW, n) - chunk_i * $ChunkS AS chunk_toks,
         |  md5(array_to_string(
         |    list_slice(w, chunk_i * $ChunkS + 1,
         |               least(chunk_i * $ChunkS + $ChunkW, n)), ' ')) AS chunk_md5
         |FROM ex
         |ORDER BY doc_id, chunk_i""".stripMargin,
    "llm_boilerplate" ->
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |ex AS (SELECT doc_id, w,
         |         unnest(range(CAST(ceil(len(w) / $SegWords.0) AS BIGINT))) AS seg_i
         |       FROM ws),
         |segs AS (SELECT doc_id, seg_i,
         |           array_to_string(
         |             list_slice(w, seg_i * $SegWords + 1,
         |                        seg_i * $SegWords + $SegWords), ' ') AS seg
         |         FROM ex),
         |ranked AS (SELECT doc_id, seg_i, seg,
         |             MAX(dr) OVER (PARTITION BY seg) AS df
         |           FROM (SELECT *, DENSE_RANK() OVER
         |                   (PARTITION BY seg ORDER BY doc_id) AS dr
         |                 FROM segs))
         |SELECT doc_id, COUNT(*) AS n_seg,
         |  SUM(CASE WHEN df < 2 THEN 0 ELSE 1 END)::BIGINT AS n_boiler,
         |  md5(COALESCE(string_agg(CASE WHEN df < 2 THEN seg END, ' '
         |                          ORDER BY seg_i), '')) AS clean_md5
         |FROM ranked
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "llm_perplexity" -> perplexityOracle,
    "llm_ccnet_buckets" ->
      s"""WITH ppl AS ($perplexityOracle)
        |SELECT bucket, COUNT(*) AS n_docs,
        |  MIN(ppl_proxy) AS min_ppl, MAX(ppl_proxy) AS max_ppl,
        |  MIN(doc_id) AS first_doc
        |FROM (SELECT doc_id, ppl_proxy,
        |        NTILE(3) OVER (ORDER BY ppl_proxy, doc_id)::BIGINT AS bucket
        |      FROM ppl)
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    "llm_bpe_merges" -> bpeOracle,
    "llm_bpe_encode" -> bpeEncodeOracle,

    "llm_trigram_backoff" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '#split'), 1, 15))::BIGINT
        |              % 100 < 80
        |         THEN 'train' ELSE 'eval' END AS part
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, part, generate_subscripts(w, 1) AS pos, unnest(w) AS w1
        |  FROM (SELECT doc_id, part, string_split(text, ' ') AS w FROM base)),
        |tri0 AS (
        |  SELECT doc_id, part, w1,
        |    LEAD(w1, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |    LEAD(w1, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |  FROM toks),
        |tri AS (SELECT * FROM tri0 WHERE w3 IS NOT NULL),
        |c3  AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri WHERE part = 'train' GROUP BY 1, 2, 3),
        |c2  AS (SELECT w1, w2, COUNT(*) AS c2 FROM tri WHERE part = 'train' GROUP BY 1, 2),
        |c2b AS (SELECT w2, w3, COUNT(*) AS c2b FROM tri WHERE part = 'train' GROUP BY 1, 2),
        |c1b AS (SELECT w2, COUNT(*) AS c1b FROM tri WHERE part = 'train' GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_tri,
        |  SUM(CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_backoff,
        |  SUM(CASE WHEN c3.c3 IS NOT NULL THEN (1000 * c3.c3) // c2.c2
        |           WHEN c2b.c2b IS NOT NULL THEN (400 * c2b.c2b) // c1b.c1b
        |           ELSE 0 END)::BIGINT AS score_fp
        |FROM tri
        |LEFT JOIN c3  USING (w1, w2, w3)
        |LEFT JOIN c2  USING (w1, w2)
        |LEFT JOIN c2b USING (w2, w3)
        |LEFT JOIN c1b USING (w2)
        |WHERE part = 'eval'
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "llm_dataset_card" ->
      """WITH d AS (
        |  SELECT doc_id, text, lang,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |           unnest(range(1, len(ws) - 1)) AS t(i)
        |      WHERE len(ws) >= 3),
        |rep AS (SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT s) AS n_distinct
        |        FROM g GROUP BY doc_id)
        |SELECT * FROM (
        |  SELECT 'docs_per_lang' AS metric, lang AS dim, COUNT(*) AS value
        |  FROM d GROUP BY lang
        |  UNION ALL
        |  SELECT 'tokens_per_lang', lang, SUM(n_tokens)::BIGINT FROM d GROUP BY lang
        |  UNION ALL
        |  SELECT 'exact_dup_docs', 'all', COUNT(*) - COUNT(DISTINCT md5(text)) FROM d
        |  UNION ALL
        |  SELECT 'short_docs', 'all',
        |    SUM(CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END)::BIGINT FROM d
        |  UNION ALL
        |  SELECT 'repetitive_docs', 'all',
        |    SUM(CASE WHEN (n_grams - n_distinct) * 5 >= n_grams
        |             THEN 1 ELSE 0 END)::BIGINT FROM rep)
        |ORDER BY metric, dim""".stripMargin,
    "llm_len_histogram" ->
      """WITH d AS (
        |  SELECT len(string_split(text, ' '))::BIGINT AS n FROM documents)
        |SELECT len(bin(n))::BIGINT AS bucket, COUNT(*) AS n_docs,
        |  MIN(n) AS min_tokens, MAX(n) AS max_tokens
        |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin
  )
}
