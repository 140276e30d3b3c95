package graft.ops.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.state.Materialize
import graft.state.Materialize.Policy

/** The corpus-global suffix index SHARED by `llm_suffix_array_global`
  * (which dumps the final ranks) and `llm_longest_dup_substring` (which
  * binary-searches the max-LCP length over the rank rounds). Round 8 ran
  * these as two independent heavy pipelines — 18.1s + 23.5s at sf0.1,
  * the bench's #1 and #2 queries — even though the longest duplicated
  * substring is a corollary of the suffix ranks: two suffixes share a
  * prefix of length ≥ L iff their prefix-quadrupling ranks agree on a
  * tuple of offsets stepping by at most the round's compare length
  * (each rank component certifies exactly `compareLen` characters, so
  * the tuple check is EXACT — unlike the retired rolling-hash prober it
  * replaces, there is no collision case and no verify-retry loop).
  *
  * Construction (round-8 TextStats algorithm; round 10 moved it to
  * BYTE-level UTF-8 semantics — positions/lengths in bytes, order =
  * byte-lexicographic = code-point order — TextNormSpec's naive-sort
  * and partition-count-determinism pins still hold):
  *   - seed rank = first 14 bytes packed order-preserving into two longs
  *     (8 bits/byte, past-end packs as 0 — shorter-prefix-sorts-first
  *     byte-string semantics);
  *   - each round QUADRUPLES the compared prefix: rank by the 4-tuple
  *     (r_i, r_{i+d}, r_{i+2d}, r_{i+3d}) where the three leads share one
  *     per-document window pass;
  *   - the global re-rank per round is the two-phase bucketed dense rank
  *     of [[rankByBucketed]] (per-bucket rank + broadcast exclusive
  *     prefix sum of bucket key counts) — never a single-partition sort.
  *
  * Every round's rank frame is RETAINED (each is already pinned as a
  * build byproduct — keeping the reference costs nothing new): round k's
  * ranks certify `compareLens(k)`-char equality, which is precisely the
  * probe granularity the longest-dup binary search needs. Memoized per
  * (session, dir) by [[graft.state.Materialize.memo]], so whichever of
  * the two gates runs first pays the build and the other reuses it.
  *
  * 100 TB posture: identical to round 8's suffix-array analysis —
  * O(log_4 maxlen) rounds, each one doc-partitioned window pass plus one
  * bucketed rank exchange; retained rounds are the standard O(n log n)
  * space of doubling-based suffix-array construction, materialized via
  * [[graft.state.Materialize.pin]] (reliable mode on a real cluster).
  */
object SuffixIndex {

  /** One prefix-quadrupling round: `ranks` = (doc_id, i, r) for every
    * (document, byte position) suffix; equal `r` ⟺ the suffixes agree
    * on their first `compareLen` BYTES (past-end sentinel semantics).
    *
    * Round 10: `r` is a COUNT-rank (0-based number of suffixes strictly
    * before, ties sharing their group's minimum), not a dense rank —
    * order- and equality-equivalent (every consumer uses ranks for
    * ordering/equality only), and it is what makes rank refinement
    * GROUP-LOCAL: a group at rank r of size m owns the rank interval
    * [r, r+m), so a split renumbers only inside the interval and rows
    * in other groups never shift. The dense spelling the suffix-array
    * gate emits is derived once at the end ([[Index.finalRanks]]).
    */
  final case class Round(compareLen: Int, ranks: DataFrame)

  final case class Index(
      rounds: Vector[Round], // ascending compareLen; last = finest
      nSuffixes: Long,
      maxLen: Int,
      lens: DataFrame, // (doc_id, len), one row per non-empty doc
      denseFinal: () => DataFrame) {

    /** The finest rank frame re-numbered as 1-based DENSE ranks — the
      * generalized suffix array the gate emits (identical cross-document
      * suffixes tie, which IS the duplicated-substring signal the dedup
      * gates consume). Lazy: the longest-dup consumer probes the
      * count-rank [[rounds]] directly and never pays this pass.
      */
    lazy val finalRanks: DataFrame = denseFinal()
  }

  /** The [[graft.state.Materialize.memo]] name of the shared index;
    * Bench publishes its cold-build seconds as `suffix_index_cold_s`.
    */
  private[graft] val MemoName = "suffix_index"

  /** Memoized per (session, fixture dir): the two consuming gates run in
    * the same session over the same dir, and the build is the whole cost.
    */
  def forDir(spark: SparkSession, dir: String): Index =
    Materialize.memo(spark, MemoName, dir)(
      build(Tables.documents(spark, dir), _))

  /** Memoized [[build]] for an in-memory corpus, keyed on a
    * caller-supplied corpus fingerprint — the [[forDir]] pattern for
    * frames with no backing dir. The two [[UnicodeGates]] gates consume
    * the SAME 10-doc planted corpus and previously each paid a full
    * un-memoized distributed build, ~half of their combined bench cost
    * duplicated scheduling (VERDICT r10 #4). The caller owns the
    * fingerprint ⇄ content correspondence (UnicodeGates derives it from
    * the planted texts, so editing the corpus changes the key); the
    * un-memoized [[build]] stays the entry point for laws, fuzz suites
    * and probes, which need fresh per-corpus builds.
    */
  def forFrame(docs: DataFrame, fingerprint: String): Index =
    Materialize.memo(docs.sparkSession, MemoName, s"frame:$fingerprint")(
      build(docs, _))

  /** Distributed two-phase global dense rank of `df` by `sortCols`;
    * `bucket` MUST be a pure function of the sort key's leading
    * component (equal keys share a bucket). Returns the ranked frame and
    * the number of distinct keys. Phase 1 is a per-bucket `dense_rank`
    * (one hash exchange on the bucket); phase 2 adds the exclusive
    * prefix sum of per-bucket distinct-key counts — a bounded tiny frame
    * (≤ 128² two-char buckets for the seed, ≤ 4×shuffle-partitions rank
    * ranges for later rounds) broadcast back.
    */
  private def rankByBucketed(df: DataFrame, bucket: Column,
                             sortCols: Seq[Column], pin: DataFrame => DataFrame)
      : (DataFrame, Long) = {
    import df.sparkSession.implicits._
    // pin only the 4 columns every consumer needs — materializing the
    // sort-key columns too (p1/p2 or the 4 round ranks) roughly doubled
    // the per-round checkpoint volume for data nothing reads again
    val local = df.withColumn("b", bucket)
      .withColumn("dl", dense_rank().over(
        Window.partitionBy($"b").orderBy(sortCols: _*)).cast("long"))
      .select($"doc_id", $"i", $"b", $"dl")
      .transform(pin)
    val cnts = local.groupBy($"b").agg(max($"dl").as("c"))
    // bounded frame (bucket space, corpus-independent): the exclusive
    // prefix sum may run single-partition
    val offs = cnts
      .withColumn("off", coalesce(sum($"c").over(
        Window.orderBy($"b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select($"b", $"off")
    val out = local.join(broadcast(offs), Seq("b"))
      .select($"doc_id", $"i", ($"dl" + $"off").as("r"))
    val nDistinct = cnts.agg(sum($"c")).head().getLong(0)
    (out, nDistinct)
  }

  /** Shared guarded ingestion for pack8-seeded suffix ranking — the
    * global build here AND the per-doc `TextStats.suffixRanks` path
    * (ADVICE r11: the per-doc path lacked the guard and mis-ranked
    * NUL-bearing docs silently). Projects (doc_id, text, len) with
    * empty docs dropped and the NUL (0x00) contract ENFORCED: the
    * pack-seed's past-end sentinel IS byte 0, so a suffix containing
    * NUL would tie with its NUL-free prefix and the doubling fixed
    * point would freeze them as equal — wrong ranks with no error. Any
    * NUL-bearing document fails loudly at ingestion instead. One
    * contains() per document, map-side, negligible next to the per-byte
    * explode it guards.
    */
  private[llm] def guardedBase(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
        when(expr("contains(text, chr(0))"), expr(
          "raise_error('suffix ranking: NUL (0x00) byte in text of doc_id ' " +
            "|| doc_id || ' — NUL collides with the past-end sentinel; " +
            "strip or escape it before indexing')"))
          .otherwise($"text").as("text"),
        octet_length($"text").as("len"))
      .where($"len" > 0)
  }

  /** Builds the index from a (doc_id, text) frame. See object Scaladoc;
    * the algorithm is round 8's `suffixRanksGlobal` with the per-round
    * frames collected instead of discarded.
    */
  def build(docs: DataFrame, policy: Policy = Policy.Always): Index = {
    import docs.sparkSession.implicits._
    val spark = docs.sparkSession
    // the memo passes Retained: its pins outlive the building query and
    // must survive Bench's between-queries debris sweep; from-frame
    // builds stay sweepable
    val pin = Materialize.pin(_: DataFrame, policy)
    // stage telemetry for tuning runs: DEBUG on graft.ops.llm.SuffixIndex
    val lap = new graft.util.Log.Laps(
      graft.util.Log.logger("ops.llm.SuffixIndex"), "suffix-index")
    // BYTE-level (UTF-8) semantics, declared round 10: positions are
    // byte offsets, lengths are byte counts, and the suffix order is
    // byte-lexicographic — which for UTF-8 IS code-point order, so the
    // index is exact on any multilingual corpus (the round-9 7-bit pack
    // was order-preserving only on ASCII). Byte semantics is also what
    // exact-substring dedup at scale indexes (Lee et al. 2022 operate
    // on byte/token streams), and it keeps every hot expression on
    // UTF8String.getByte — the only O(1) access the format offers.
    val base = guardedBase(docs)
    // one corpus scan: pin the per-doc lengths, derive the scalar
    // aggregates from the pinned frame instead of a second scan
    val lens = base.select($"doc_id", $"len")
      .transform(pin)
    val agg0 = lens.agg(max($"len"), sum($"len".cast("long"))).head()
    val (maxLen, nSuffixes) = (agg0.getInt(0), agg0.getLong(1))
    val byPos = Window.partitionBy($"doc_id").orderBy($"i")
    // order-preserving pack of the first 14 bytes of the suffix at i
    // into two longs (8 bits per byte, 7 bytes per long; past-end packs
    // as 0, below every real byte — shorter-prefix-sorts-first byte
    // semantics). The packed seed keys come from the native codegen'd
    // [[graft.functions.PackBytes8]] (O(1) byte access on the
    // UTF8String, zero allocation, stays in whole-stage codegen) — the
    // earlier array spellings needed a per-document codes array just to
    // get O(1) character access and either carried it on every position
    // row or allocated three intermediate arrays per document
    graft.functions.GraftFunctions.register(spark)
    val seed0 = base
      .select($"doc_id", explode(expr("sequence(0, len - 1)")).as("i"), $"text")
      .select($"doc_id", $"i",
        expr("graft_pack8(text, i)").as("p1"),
        expr("graft_pack8(text, i + 7)").as("p2"))
    lap("prelude (maxLen/lens)")
    // ---- seed: two-phase bucketed COUNT-rank (0-based rows-strictly-
    // before; rank() not dense_rank — ties share their group minimum).
    // Bucket = the first two bytes (p1's top 16 bits) — ≤ 256² buckets,
    // balanced by the corpus's 2-gram distribution; offsets are the
    // exclusive prefix sums of per-bucket ROW counts (a bounded tiny
    // frame broadcast back). `fin` marks singleton groups — suffixes
    // already uniquely ranked by their first 14 bytes — detected from
    // the SAME window pass (a row is singleton iff neither neighbor in
    // the bucket sort shares its key): frozen rows are excluded from
    // every later round's re-rank, the standard finished-rank prune of
    // prefix doubling (under low duplication late rounds shrink toward
    // the tied residue — the duplicated-substring signal itself).
    val wB = Window.partitionBy($"b").orderBy($"p1", $"p2")
    val sameUp   = lag($"p1", 1).over(wB) === $"p1" && lag($"p2", 1).over(wB) === $"p2"
    val sameDown = lead($"p1", 1).over(wB) === $"p1" && lead($"p2", 1).over(wB) === $"p2"
    // bucket offsets from a SEPARATE pre-window scan (map-side partial
    // aggregate of the re-packed seed — no sort): the window half then
    // has exactly one consumer, so the whole seed pipeline (window +
    // broadcast-offset join) evaluates once into ONE pin. Pinning the
    // ASSEMBLED frame matters: every later round's frame is a union of
    // SLICES of earlier pins, and the longest-dup consumer re-scans
    // those frames — an unpinned join here re-executed corpus-wide on
    // every probe (measured +3.5s on the cold dup gate).
    val offs0 = seed0.groupBy(expr(s"p1 div ${1L << 40}").as("b"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum($"c").over(
        Window.orderBy($"b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select($"b", $"off")
    val seedRanked = seed0.withColumn("b", expr(s"p1 div ${1L << 40}"))
      .withColumn("rl", rank().over(wB).cast("long"))
      .withColumn("fin",
        !coalesce(sameUp, lit(false)) && !coalesce(sameDown, lit(false)))
      .join(broadcast(offs0), Seq("b"))
      .select($"doc_id", $"i", ($"rl" - 1 + $"off").as("r"), $"fin")
      .transform(pin)
    lap("seed rank")
    var rounds = Vector(Round(14, seedRanked))
    // active/frozen split: `full` is the current whole frame (the lead
    // windows must see EVERY position — an active row's offset rank may
    // live on a frozen neighbor, and leads computed after a filter read
    // trimmed neighbors, the round-9 tail bug); only the active rows are
    // re-ranked and pinned per round, so per-round pin volume tracks the
    // SHRINKING tied residue, not the corpus
    var active = seedRanked.where(!$"fin").select($"doc_id", $"i", $"r")
    var frozen = seedRanked.where($"fin").select($"doc_id", $"i", $"r")
    var d = 14
    var more = true
    // quadrupling measured best here: doubling = more rounds,
    // octupling = wider sort keys + 7 leads per round
    while (d < maxLen && more) {
      val full = active.withColumn("fin", lit(false))
        .unionByName(frozen.withColumn("fin", lit(true)))
      val quad = full
        .withColumn("r2", coalesce(lead($"r", d).over(byPos), lit(-1L)))
        .withColumn("r3", coalesce(lead($"r", 2 * d).over(byPos), lit(-1L)))
        .withColumn("r4", coalesce(lead($"r", 3 * d).over(byPos), lit(-1L)))
        .where(!$"fin")
      // GROUP-LOCAL refinement: within group r (count-rank ⇒ the group
      // owns [r, r+m)), new r = r + rank()−1 over the offset tuple —
      // one hash exchange of the ACTIVE rows on r, no global re-rank.
      // Singleton detection from the same window (neighbor comparison),
      // and `rl > 1` anywhere ⇔ some group split this round — its
      // absence is the paper's fixed point (r determines r(i+d) ⇒ by
      // positional composition r determines every r(i+kd))
      val wG = Window.partitionBy($"r").orderBy($"r2", $"r3", $"r4")
      def same(off: Int => Column): Column =
        off(1) === $"r2" && off(2) === $"r3" && off(3) === $"r4"
      val sUp = same(k => lag(col(Seq("r2", "r3", "r4")(k - 1)), 1).over(wG))
      val sDn = same(k => lead(col(Seq("r2", "r3", "r4")(k - 1)), 1).over(wG))
      val ref = quad
        .withColumn("rl", rank().over(wG).cast("long"))
        .withColumn("fin",
          !coalesce(sUp, lit(false)) && !coalesce(sDn, lit(false)))
        .select($"doc_id", $"i", ($"r" + $"rl" - 1).as("r"), $"fin", $"rl")
        .transform(pin)
      val split = ref.where($"rl" > 1).limit(1).count() > 0
      frozen = frozen.unionByName(ref.where($"fin").select($"doc_id", $"i", $"r"))
      active = ref.where(!$"fin").select($"doc_id", $"i", $"r")
      d *= 4
      rounds :+= Round(d,
        active.withColumn("fin", lit(false))
          .unionByName(frozen.withColumn("fin", lit(true))))
      // stop when nothing split (fixed point: only never-splitting ties
      // — identical cross-doc suffixes — remain) or everything is frozen
      more = split && !active.isEmpty
      lap(s"round d=$d (split=$split)")
    }
    // the dense spelling of the finest frame, derived on demand: ranks
    // are count-ranks in [0, nSuffixes), so a width-of-rank-range bucket
    // is a pure function of the leading (only) sort key
    val p = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt, 1)
    val finest = rounds.last.ranks
    val dense = () => {
      val width = nSuffixes / (4L * p) + 1
      rankByBucketed(finest.select($"doc_id", $"i", $"r"),
        expr(s"r div $width"), Seq($"r"), pin)._1
    }
    Index(rounds, nSuffixes, maxLen, lens, dense)
  }
}
