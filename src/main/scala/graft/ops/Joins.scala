package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Tables}

/** Join operators (SURVEY.md §2 C5–C13).
  *
  * Scale notes (100 TB posture):
  *  - Equi joins shuffle both sides on the key and sort-merge; AQE converts
  *    to broadcast at runtime when a side fits. Dimension tables (part,
  *    customer, calendar) are broadcast explicitly so the fact table never
  *    shuffles for them.
  *  - Non-equi (theta) joins are only ever written with a SMALL broadcast
  *    side — a BroadcastNestedLoopJoin against two large sides would be
  *    quadratic. Where the interval arithmetic bounds the match set (a
  *    7-day window touches ≤ 2 months) the non-equi join is rewritten away
  *    entirely into explode + equi-join (see [[intervalOverlap]]).
  *  - The as-of join avoids both a per-row subquery and a candidate
  *    cross-product: one shuffle on the key, one linear window pass
  *    (reference semantics: latest earlier record per key, cf.
  *    compacted-topic reads /root/reference/sample_kafka_process.sh:136-143).
  */
object Joins extends QueryPack {

  /** C5 inner equi join: lineitem ⋈ orders, revenue per order status. */
  def innerEqui(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_items"), Det.dsum($"l_extendedprice").as("revenue"))
      .orderBy($"o_orderstatus")
  }

  /** C6 left outer: every customer with order count + spend (0 if none). */
  def leftOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"),
           Det.dsum(coalesce($"o_totalprice", lit(0.0))).as("spend"))
      .orderBy($"c_custkey")
  }

  /** C6 right outer: orders ⟖ customer, per-nation order stats. */
  def rightOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"), "right_outer")
      .groupBy($"c_nationkey")
      .agg(countDistinct($"c_custkey").as("n_customers"),
           count($"o_orderkey").as("n_orders"))
      .orderBy($"c_nationkey")
  }

  /** C6 full outer on derived month keys: order months vs ship months
    * (ship dates extend past the last order month, so both null sides occur).
    */
  def fullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val om = Tables.orders(spark, dir)
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"))
    val sm = Tables.lineitem(spark, dir)
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_ships"))
    om.join(sm, Seq("month"), "full_outer")
      .select($"month", coalesce($"n_orders", lit(0L)).as("n_orders"),
              coalesce($"n_ships", lit(0L)).as("n_ships"))
      .orderBy($"month")
  }

  /** C7 left semi: customers having at least one high-value order. */
  def leftSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter($"o_totalprice" > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** C7 left anti: customers with no high-value order. The price band is
    * part of the fixture, not the operator: on this data EVERY customer
    * has at least one order, so an unfiltered anti-join returns 0 rows
    * and its hash-match proves nothing (VERDICT r4 #3) — the band leaves
    * ~2% survivors at both test SFs, so the gate exercises real content.
    */
  def leftAnti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter($"o_totalprice" > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** C8 broadcast hash join: fact lineitem ⋈ broadcast(dim part).
    * At 100 TB the part dim stays far below the broadcast threshold per
    * brand-level rollup; no shuffle of lineitem at all (map-side join).
    */
  def broadcastDim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "inner")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_items"), Det.dsum($"l_quantity").as("sum_qty"))
      .orderBy($"p_brand")
  }

  /** C9 theta (non-equi) join: parts cheaper than a supplier's balance,
    * small side broadcast → BroadcastNestedLoop stays linear in the big side.
    * NOTE the broadcast side here scales with SF (supplier is not a fixed
    * dim): at production scale this pattern needs an explicit size guard
    * (estimate rows, fall back to a banded/binned equi-join when too big).
    */
  def thetaRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Histogram (band) decomposition of the inequality join — the form
    // that survives BOTH sides growing. Direct `p.price < s.balance`
    // needs a nested-loop join whose broadcast side scales with SF; here
    // the only broadcast is the part-price HISTOGRAM, whose size is
    // bounded by value-range/band-width regardless of row count:
    //   n_cheaper(s) = Σ counts of bands fully below s's band   (tiny
    //                  theta join against the broadcast histogram)
    //              + parts in s's OWN band with price < balance (band
    //                  equi-join — each row compared against one band,
    //                  not the whole table)
    val width = 100.0
    val pb = Tables.part(spark, dir)
      .withColumn("band", floor($"p_retailprice" / width).cast("long"))
    val bandCnt = pb.groupBy($"band").agg(count(lit(1)).as("c"))
    val sb = Tables.supplier(spark, dir).filter($"s_nationkey" < 5)
      .withColumn("band", floor($"s_acctbal" / width).cast("long"))
    val below = sb.as("s")
      .join(broadcast(bandCnt).as("b"), expr("b.band < s.band"), "left_outer")
      .groupBy($"s_suppkey")
      .agg(sum(coalesce($"c", lit(0L))).as("n_below"))
    val partial = sb
      .join(pb.select($"band", $"p_retailprice"), Seq("band"))
      .filter($"p_retailprice" < $"s_acctbal")
      .groupBy($"s_suppkey").agg(count(lit(1)).as("n_partial"))
    below.join(partial, Seq("s_suppkey"), "left_outer")
      .select($"s_suppkey",
        (coalesce($"n_below", lit(0L)) + coalesce($"n_partial", lit(0L)))
          .as("n_cheaper_parts"))
      .filter($"n_cheaper_parts" > 0) // inner-join semantics of the oracle
      .orderBy($"s_suppkey")
  }

  /** C10 cross join: region × nation (both tiny dims). */
  def crossSmall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r = Tables.region(spark, dir).select($"r_name")
    val n = Tables.nation(spark, dir).select($"n_name")
    r.crossJoin(n)
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"r_name")
  }

  /** C11 as-of join: for each purchase event, the latest earlier click by
    * the same user (event_id is the monotone offset surrogate — FIXTURES.md
    * §2; ts is ns-precision and engine-lossy, so ids order time).
    *
    * Union-then-window form: clicks and purchases flow through ONE window
    * per user ordered by event_id, carrying the last click id seen strictly
    * before the current row (`rowsBetween(unboundedPreceding, -1)` +
    * `last(ignoreNulls)`). Linear in the input and one shuffle on user_id —
    * unlike the join-then-rank form, which materializes one row per
    * (purchase × earlier click) and explodes quadratically on a hot key.
    */
  def asOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"event_id", $"user_id", $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("last_click_id",
        last(when($"event_type" === "click", $"event_id"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id".as("p_event_id"), $"user_id",
              coalesce($"last_click_id", lit(-1L)).as("last_click_id"))
      .orderBy($"p_event_id")
  }

  /** Null-safe equality join: `<=>` treats NULL as a joinable value (one
    * NULL bucket) instead of never-matching — the semantics an entity
    * store needs when "unknown" is itself a key. Still a HASH-partitioned
    * equi-join (NULL hashes like any value under null-safe equality), so
    * the plan is identical to a plain equi-join — no nested-loop penalty
    * for the null bucket. Outputs COALESCE sentinels (nullable int
    * columns wobble pandas dtypes — FIXTURES lesson from ts_attribution).
    */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def keyed(f: DataFrame) = f
      .withColumn("k", expr("nullif(user_id % 50, 0)"))
      .groupBy($"k")
    val clicks = keyed(Tables.events(spark, dir)
        .filter($"event_type" === "click"))
      .agg(count(lit(1)).as("n_clicks"))
    val buys = keyed(Tables.events(spark, dir)
        .filter($"event_type" === "purchase"))
      .agg(count(lit(1)).as("n_buys"))
    clicks.join(buys, clicks("k") <=> buys("k"))
      .select(coalesce(clicks("k"), lit(-1L)).as("k"),
              $"n_clicks", $"n_buys")
      .orderBy($"k")
  }

  /** Forward as-of with tolerance: for each purchase, the EARLIEST LATER
    * click by the same user within 1000 event-ids — the other direction
    * of [[asOf]], plus the bounded-window clause every production as-of
    * carries (an unbounded forward search would pair a purchase with a
    * click months later). Same join-free shape: one window per user, but
    * with a VALUE-bounded `rangeBetween(1, 1000)` frame, so the tolerance
    * is enforced inside the frame instead of a post-join filter, and
    * `min` over the frame IS the first-later-within-bound semantics.
    */
  def asOfForward(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"event_id", $"user_id", $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rangeBetween(1, 1000)
    ev.withColumn("next_click_id",
        min(when($"event_type" === "click", $"event_id")).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id".as("p_event_id"), $"user_id",
              coalesce($"next_click_id", lit(-1L)).as("next_click_id"))
      .orderBy($"p_event_id")
  }

  /** C11 as-of NEAREST: for each purchase, the click minimizing the
    * |event_id| distance in EITHER direction (pandas `merge_asof
    * direction='nearest'`), ties broken backward — the completion of the
    * as-of family ([[asOf]] backward, [[asOfForward]] forward-bounded).
    * Same union-then-window design: the backward candidate is the last
    * click strictly before, the forward candidate the first click
    * strictly after, both from ONE user-keyed partitioning (two frames
    * over the same Window spec → Catalyst plans one exchange feeding one
    * WindowExec pair, never a join). Linear, one shuffle, no per-pair
    * materialization — the join-then-rank form explodes quadratically on
    * a hot user.
    */
  def asOfNearest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"event_id", $"user_id", $"event_type")
    val wB = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wF = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    ev
      .withColumn("prev_click",
        last(when($"event_type" === "click", $"event_id"),
             ignoreNulls = true).over(wB))
      .withColumn("next_click",
        first(when($"event_type" === "click", $"event_id"),
              ignoreNulls = true).over(wF))
      .filter($"event_type" === "purchase")
      .withColumn("d_prev", $"event_id" - $"prev_click")
      .withColumn("d_next", $"next_click" - $"event_id")
      .withColumn("nearest_click_id",
        when($"d_prev".isNotNull && ($"d_next".isNull || $"d_prev" <= $"d_next"),
             $"prev_click")
          .when($"d_next".isNotNull, $"next_click")
          .otherwise(lit(-1L)))
      .withColumn("direction",
        when($"nearest_click_id" === -1L, "none")
          .when($"nearest_click_id" === $"prev_click" &&
                ($"d_next".isNull || $"d_prev" <= $"d_next"), "backward")
          .otherwise("forward"))
      .select($"event_id".as("p_event_id"), $"user_id",
              $"nearest_click_id", $"direction")
      .orderBy($"p_event_id")
  }

  /** C12 interval overlap join: 7-day shipping windows × month intervals,
    * overlap predicate start1 < end2 AND end1 > start2.
    *
    * A bounded interval (7 days) overlaps at most 2 calendar months, so
    * instead of a nested-loop join against the month dim (which evaluates
    * every window against all ~84 months — quadratic, 36s at sf0.1), each
    * window EXPLODES into exactly its 1–2 overlapping month keys
    * (`sequence(trunc(start), trunc(end - 1ms), 1 month)`; the -1ms keeps
    * the `start1 < end2` strictness on the ms grid) and the month dim is
    * reduced to a broadcast LEFT SEMI equi-join. One aggregation shuffle,
    * fully codegen'd, linear at any scale. The oracle SQL remains the
    * declarative interval JOIN, proving the rewrite's equivalence.
    */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Single scan, no join at all: each window explodes into its 1–2
    // overlapping month keys; a month belongs to the month DIM iff some
    // window STARTS in it (dim = distinct trunc(l_shipdate)), which the
    // is_start flag captures — so the former broadcast-semi-join against
    // a second scan collapses into max(flag) inside the one aggregation.
    // r18 (guide §2.3 — shuffle/aggregate narrow types): the aggregate
    // key is the month-truncated TIMESTAMP (8 bytes, codegen'd hash) and
    // date_format runs once per OUTPUT month (~tens of rows), not once
    // per exploded input row; m_start values are month-truncated so
    // timestamp groups ↔ formatted-string groups are 1:1 and the final
    // yyyy-MM sort order is unchanged (lexicographic = chronological).
    // The is_start flag is the explode POSITION: sequence() starts at
    // date_trunc(ship_start), so pos 0 ⟺ the window starts in that
    // month — the per-row second date_trunc disappears.
    Tables.lineitem(spark, dir)
      .select($"l_shipdate".as("ship_start"),
              ($"l_shipdate" + expr("INTERVAL 7 DAYS")).as("ship_end"))
      .select(posexplode(expr(
        """sequence(date_trunc('MONTH', ship_start),
          |         date_trunc('MONTH', ship_end - INTERVAL 1 MILLISECOND),
          |         INTERVAL 1 MONTH)""".stripMargin)).as(Seq("p", "m_start")))
      .groupBy($"m_start")
      .agg(count(lit(1)).as("n_windows"),
           max(($"p" === 0).cast("int")).as("present"))
      .filter($"present" === 1)
      .select(date_format($"m_start", "yyyy-MM").as("month"), $"n_windows")
      .orderBy($"month")
  }

  /** Bloom-filter semi-join reduction — sideways information passing: the
    * filtering side (machinery-segment customers) is summarized into a
    * Bloom filter (a few MB regardless of row count: built distributed
    * via `df.stat.bloomFilter`'s internal treeAggregate, only the BITS
    * reach the driver), the fact table is pre-filtered by `mightContain`
    * BEFORE its shuffle, and the exact semi join afterwards removes the
    * false positives. At 100 TB this is the pattern that keeps a
    * selective dim-filtered join from shuffling the whole fact table —
    * Spark's own runtime row-level filtering does the same rewrite, but
    * only when statistics let it; this form forces it. The oracle is the
    * PLAIN semi join: the Bloom pass must be semantically invisible
    * (no false negatives; positives re-verified).
    */
  def bloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val custKeys = Tables.customer(spark, dir)
      .where($"c_mktsegment" === "MACHINERY")
      .select($"c_custkey")
    // ~1% fpp at the fixture's key count; 8 bits/key → stays tiny even
    // if sized for 10^9 keys (~1.2 GB, still executor-broadcastable)
    val bloom = custKeys.stat.bloomFilter("c_custkey", 100000L, 0.01)
    val mightContain = udf((k: Long) => bloom.mightContainLong(k))
    Tables.orders(spark, dir)
      .where(mightContain($"o_custkey"))            // cheap map-side cut
      .join(custKeys, $"o_custkey" === $"c_custkey", "left_semi") // exact
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), Det.dsum($"o_totalprice").as("total"))
      .orderBy($"o_orderpriority")
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT through the
    * spark.sql entry path — per-nation top-3 orders. Catalyst
    * decorrelates the limit into a window rank under the hood
    * (DecorrelateInnerQuery), so the declared plan stays one join + one
    * per-key window pass rather than 25 re-executed subqueries — the
    * property that makes SQL-authored lateral probes survive scale.
    */
  def lateralTopkSql(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(
      """SELECT n_name, o_orderkey, o_totalprice
        |FROM nation, LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        |ORDER BY n_name, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  /** NOT IN vs NOT EXISTS under a NULL-bearing subquery — the
    * three-valued-logic trap pinned in one row: NOT IN over a set
    * containing NULL is never TRUE (n_not_in = 0), while NOT EXISTS
    * ignores the NULLed entries (n_not_exists > 0). Spark plans the
    * NOT IN as a null-aware anti join (a distinct physical operator from
    * the plain anti); an engine that rewrites one into the other
    * silently corrupts results, which is why this gate exists.
    */
  def notInNullSql(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT CASE WHEN c_custkey % 100 = 7 THEN NULL ELSE c_custkey END
        |     FROM customer WHERE c_mktsegment = 'MACHINERY')) AS n_not_in,
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_mktsegment = 'MACHINERY'
        |     AND (CASE WHEN c.c_custkey % 100 = 7 THEN NULL
        |          ELSE c.c_custkey END) = o.o_custkey)) AS n_not_exists""".stripMargin)
  }

  /** The [[graft.functions.RangeJoinBandRewrite]] rule under the driver
    * gate: the query is written as the NAIVE interval-containment join —
    * no manual banding anywhere — and the injected optimizer rule
    * band-decomposes it into an equi join at plan time (PlanSpec pins
    * the shape: Generate + hash/sort-merge join, no nested-loop). The
    * manual twin of this rewrite is [[thetaRange]]; this gate proves a
    * user can write the declarative form and still get the scale-safe
    * plan. The frame is built on a child session carrying the caller's
    * runtime conf plus the width and the rule, so the caller's session
    * is left as it was.
    */
  def rangeAutoJoin(spark: SparkSession, dir: String): DataFrame = {
    val banded = spark.newSession()
    // newSession() starts from the SparkConf: carry the caller's runtime
    // settings (partitions, AQE, graft knobs) over
    spark.conf.getAll.foreach { case (k, v) =>
      if (!banded.conf.getOption(k).contains(v)) banded.conf.set(k, v)
    }
    graft.functions.RangeJoinBandRewrite.register(banded)
    banded.conf.set(graft.functions.RangeJoinBandRewrite.WidthKey, "16")
    import banded.implicits._
    Tables.lineitem(banded, dir)
      .select($"l_extendedprice".as("price"))
      .join(Tables.part(banded, dir)
              .select($"p_brand", $"p_retailprice"),
            $"price" >= $"p_retailprice" - 5.0 &&
              $"price" <= $"p_retailprice" + 5.0)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_close_priced"))
      .orderBy($"p_brand")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_range_auto"       -> (rangeAutoJoin _),
    "sql_not_in_null"       -> (notInNullSql _),
    "sql_lateral_topk"      -> (lateralTopkSql _),
    "join_bloom_prefilter"  -> (bloomPrefilter _),
    "join_inner_equi"       -> (innerEqui _),
    "join_left_outer"       -> (leftOuter _),
    "join_right_outer"      -> (rightOuter _),
    "join_full_outer"       -> (fullOuter _),
    "join_left_semi"        -> (leftSemi _),
    "join_left_anti"        -> (leftAnti _),
    "join_broadcast_dim"    -> (broadcastDim _),
    "join_theta_range"      -> (thetaRange _),
    "join_cross_small"      -> (crossSmall _),
    "join_asof"             -> (asOf _),
    "join_asof_forward"     -> (asOfForward _),
    "join_asof_nearest"     -> (asOfNearest _),
    "join_null_safe"        -> (nullSafeJoin _),
    "join_interval_overlap" -> (intervalOverlap _)
  )

  def oracle: Map[String, String] = Map(
    // the same naive containment join — DuckDB plans it as its own
    // IEJoin; the Spark side relies on the injected band rewrite
    "join_range_auto" ->
      """SELECT p_brand, COUNT(*) AS n_close_priced
        |FROM lineitem JOIN part
        |  ON l_extendedprice >= p_retailprice - 5.0
        | AND l_extendedprice <= p_retailprice + 5.0
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "sql_not_in_null" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT CASE WHEN c_custkey % 100 = 7 THEN NULL ELSE c_custkey END
        |     FROM customer WHERE c_mktsegment = 'MACHINERY')) AS n_not_in,
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_mktsegment = 'MACHINERY'
        |     AND (CASE WHEN c.c_custkey % 100 = 7 THEN NULL
        |          ELSE c.c_custkey END) = o.o_custkey)) AS n_not_exists""".stripMargin,
    "sql_lateral_topk" ->
      """SELECT n_name, o_orderkey, o_totalprice
        |FROM nation, LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
        |ORDER BY n_name, o_totalprice DESC, o_orderkey""".stripMargin,
    "join_bloom_prefilter" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  ${Det.sqlSum("o_totalprice")} AS total
         |FROM orders
         |WHERE EXISTS (SELECT 1 FROM customer
         |              WHERE c_custkey = o_custkey
         |                AND c_mktsegment = 'MACHINERY')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_inner_equi" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_items,
         |  ${Det.sqlSum("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_left_outer" ->
      s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         |  ${Det.sqlSum("COALESCE(o_totalprice, 0.0)")} AS spend
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_right_outer" ->
      """SELECT c_nationkey, COUNT(DISTINCT c_custkey) AS n_customers,
        |  COUNT(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "join_full_outer" ->
      """SELECT COALESCE(om.month, sm.month) AS month,
        |  COALESCE(om.n_orders, 0) AS n_orders,
        |  COALESCE(sm.n_ships, 0) AS n_ships
        |FROM (SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders
        |      FROM orders GROUP BY 1) om
        |FULL JOIN (SELECT strftime(l_shipdate, '%Y-%m') AS month, COUNT(*) AS n_ships
        |      FROM lineitem GROUP BY 1) sm
        |ON om.month = sm.month
        |ORDER BY month""".stripMargin,
    "join_left_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "join_left_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "join_broadcast_dim" ->
      s"""SELECT p_brand, COUNT(*) AS n_items, ${Det.sqlSum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_theta_range" ->
      """SELECT s_suppkey, COUNT(*) AS n_cheaper_parts
        |FROM part JOIN (SELECT * FROM supplier WHERE s_nationkey < 5) s
        |  ON p_retailprice < s.s_acctbal
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "join_cross_small" ->
      """SELECT r_name, COUNT(*) AS n_pairs
        |FROM region CROSS JOIN nation
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "join_asof" ->
      """SELECT p_event_id, user_id, COALESCE(c_event_id, -1) AS last_click_id
        |FROM (
        |  SELECT p.event_id AS p_event_id, p.user_id, c.event_id AS c_event_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.event_id < p.event_id
        |) WHERE rn = 1
        |ORDER BY p_event_id""".stripMargin,
    "join_null_safe" ->
      """WITH clicks AS (
        |  SELECT NULLIF(user_id % 50, 0) AS k, COUNT(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |buys AS (
        |  SELECT NULLIF(user_id % 50, 0) AS k, COUNT(*) AS n_buys
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT COALESCE(clicks.k, -1) AS k, n_clicks, n_buys
        |FROM clicks JOIN buys ON clicks.k IS NOT DISTINCT FROM buys.k
        |ORDER BY k""".stripMargin,
    // independent join-then-pick derivation of the same nearest rule:
    // min |delta| over ALL same-user clicks, ties backward
    "join_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id FROM events
        |      WHERE event_type = 'click'),
        |pairs AS (
        |  SELECT p.event_id AS p_event_id, p.user_id,
        |    c.event_id AS c_id,
        |    abs(c.event_id - p.event_id) AS dist,
        |    CASE WHEN c.event_id < p.event_id THEN 0 ELSE 1 END AS fwd
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id),
        |ranked AS (
        |  SELECT p_event_id, user_id, c_id, fwd,
        |    row_number() OVER (PARTITION BY p_event_id
        |                       ORDER BY dist ASC, fwd ASC) AS rn
        |  FROM pairs)
        |SELECT p_event_id, user_id,
        |  COALESCE(c_id, -1) AS nearest_click_id,
        |  CASE WHEN c_id IS NULL THEN 'none'
        |       WHEN fwd = 0 THEN 'backward' ELSE 'forward' END AS direction
        |FROM ranked WHERE rn = 1
        |ORDER BY p_event_id""".stripMargin,
    "join_asof_forward" ->
      """SELECT p_event_id, user_id, COALESCE(c_min, -1) AS next_click_id
        |FROM (
        |  SELECT p.event_id AS p_event_id, p.user_id, MIN(c.event_id) AS c_min
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.event_id > p.event_id
        |   AND c.event_id <= p.event_id + 1000
        |  GROUP BY 1, 2)
        |ORDER BY p_event_id""".stripMargin,
    "join_interval_overlap" ->
      """SELECT strftime(m_start, '%Y-%m') AS month, COUNT(*) AS n_windows
        |FROM (SELECT l_shipdate AS ship_start,
        |             l_shipdate + INTERVAL 7 DAY AS ship_end FROM lineitem) li
        |JOIN (SELECT m_start, m_start + INTERVAL 1 MONTH AS m_end
        |      FROM (SELECT DISTINCT date_trunc('month', l_shipdate) AS m_start
        |            FROM lineitem)) m
        |  ON ship_start < m_end AND ship_end > m_start
        |GROUP BY 1 ORDER BY month""".stripMargin
  )
}
