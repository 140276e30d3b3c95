package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Det, Tables}

/** Composite analytics queries in the TPC-H shape — multi-join +
  * filter + aggregate + top-k in one plan. The single-operator gates
  * prove each piece; these prove the pieces COMPOSE the way a real
  * warehouse workload uses them, with the plan properties that matter at
  * 100 TB: filters pushed beneath the joins (each table is pre-filtered
  * before its join), dims broadcast, the fact table shuffled once per
  * join key, top-k as TakeOrderedAndProject.
  *
  * (The reference itself has no such workload; SURVEY.md §2 Tier C
  * mandates the relational surface these exercise end-to-end.)
  */
object Tpch extends QueryPack {

  private val Cutoff = "timestamp'1996-01-01 00:00:00'"

  /** Q3 analog — shipping priority: revenue of not-yet-shipped lineitems
    * for one customer segment, top-10 orders by revenue.
    */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .where($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = Tables.orders(spark, dir)
      .where(expr(s"o_orderdate < $Cutoff"))
      .select($"o_orderkey", $"o_custkey",
              date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
              $"o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .where(expr(s"l_shipdate > $Cutoff"))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"order_date", $"o_orderpriority")
      .agg(Det.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
      .select($"l_orderkey", $"order_date", $"o_orderpriority", $"revenue")
  }

  /** Q5 analog — local supplier volume: revenue where supplier and
    * customer share a nation, per nation of one region, one year.
    * Six tables; region→nation→supplier collapse into one broadcast
    * dim; the order/lineitem/customer chain shuffles on its join keys.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).where($"r_name" === "ASIA"),
            $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_nationkey", $"n_name")
    val ord = Tables.orders(spark, dir)
      .where(expr(s"o_orderdate >= $Cutoff") &&
             expr("o_orderdate < timestamp'1997-01-01 00:00:00'"))
      .select($"o_orderkey", $"o_custkey")
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
      .where($"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(Det.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** Q18 analog — large-volume orders: aggregate-HAVING subquery feeding
    * the main join (orders whose total quantity clears a threshold, with
    * their customer). The quantity sums are int-valued doubles far below
    * 2^53, so they are exact in any accumulation order — no decimal
    * detour needed, and the HAVING cut is an exact integer compare.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity").as("total_qty"))
      .where($"total_qty" > 180.0)
    big.join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey", $"total_qty")
      .orderBy($"total_qty".desc, $"o_orderkey")
      .limit(20)
  }

  /** Q4 analog — order-priority checking: orders in one quarter that had
    * at least one returned lineitem, counted per priority. The EXISTS
    * becomes a LEFT SEMI join: the fact-to-fact probe never widens rows
    * (semi output ≤ left input) and duplicate matching lineitems are
    * absorbed by the join itself instead of a post-hoc distinct — at
    * 100 TB that is the difference between shuffling the lineitem rows
    * once and materializing a joined blow-up. (Fixture lineitem has no
    * commitdate/receiptdate, so the reference predicate `l_commitdate <
    * l_receiptdate` is replaced by `l_returnflag = 'R'` — same shape.)
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .where(expr(s"o_orderdate >= $Cutoff") &&
             expr("o_orderdate < timestamp'1996-04-01 00:00:00'"))
      .select($"o_orderkey", $"o_orderpriority")
    val returned = Tables.lineitem(spark, dir)
      .where($"l_returnflag" === "R").select($"l_orderkey")
    ord.join(returned, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  /** Q7 analog — volume shipping between two nations, by direction and
    * ship year. Both nation filters collapse into broadcast dims
    * (supplier side and customer side), so the only shuffles are the
    * lineitem→orders key and the orders→customer key; the OR over the
    * two directions is a post-join filter on two broadcast-joined
    * columns, not a join condition, keeping both joins equi.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.nation(spark, dir)
      .where($"n_name".isin("NATION_1", "NATION_2"))
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    Tables.lineitem(spark, dir)
      .where(expr("l_shipdate >= timestamp'1997-01-01 00:00:00'") &&
             expr("l_shipdate < timestamp'1999-01-01 00:00:00'"))
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate",
              $"l_extendedprice", $"l_discount")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .where($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation",
               year($"l_shipdate").cast("long").as("ship_year"))
      .agg(Det.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("volume"))
      .orderBy($"supp_nation", $"cust_nation", $"ship_year")
  }

  /** Q13 analog — customer order-count distribution: LEFT OUTER join so
    * zero-order customers survive with n_orders = 0, then a second
    * aggregation over the first's output. The join-side filter
    * (priority ≠ URGENT) rides INSIDE the join condition — pushing it
    * into a WHERE after an outer join would silently turn the join
    * inner and drop the zero-order bucket.
    */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
    Tables.customer(spark, dir).select($"c_custkey")
      .join(ord, $"c_custkey" === $"o_custkey" &&
                 $"o_orderpriority" =!= "1-URGENT", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"))
      .groupBy($"n_orders")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"n_customers".desc, $"n_orders".desc)
  }

  /** Data-quality audit — the integrity checks a warehouse runs before
    * trusting a load: key uniqueness, referential orphans (anti-joins),
    * null rates, domain violations. One row of counters; each violation
    * class is a separate linear scan or anti-join, unioned as audit rows
    * so adding a check never reshapes the output schema.
    */
  /** The [[graft.quality.Expectations]] contract layer under the driver
    * gate: seven declarative checks — six holding, one PLANTED failure
    * (`values_in_l_linestatus` with domain {O}) so the report's failure
    * path is part of the hash — all folded into ONE aggregate over ONE
    * scan (adding a check never adds a pass; the complement of
    * [[auditIntegrity]]'s lazy-union shape). The oracle computes the
    * same one-pass aggregate in a CTE and unpivots it.
    */
  def qualityExpectations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.quality.Expectations._
    report(Tables.lineitem(spark, dir), Seq(
      RowCountBetween(1L, 1000000000L),
      NotNull("l_orderkey"),
      Unique(Seq("l_orderkey", "l_linenumber")),
      ValuesIn("l_returnflag", Seq("A", "N", "R")),
      ValuesIn("l_linestatus", Seq("O")), // planted failure: F exists too
      NonNegative("l_quantity"),
      Predicate("discount_lt_half", $"l_discount" < 0.5)
    )).orderBy($"check")
  }

  def auditIntegrity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    def check(name: String, n: DataFrame): DataFrame =
      n.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), $"n_violations")
    Seq(
      check("customer_dup_keys",
        cust.groupBy($"c_custkey").count().where($"count" > 1)),
      check("orders_orphan_custkey",
        ord.join(cust, $"o_custkey" === $"c_custkey", "left_anti")),
      check("lineitem_orphan_orderkey",
        li.join(ord, $"l_orderkey" === $"o_orderkey", "left_anti")),
      check("orders_null_or_nonpos_price",
        ord.where($"o_totalprice".isNull || $"o_totalprice" <= 0)),
      check("lineitem_discount_out_of_range",
        li.where($"l_discount" < 0 || $"l_discount" > 0.5)),
      check("customer_null_name", cust.where($"c_name".isNull))
    ).reduce(_ union _).orderBy($"check_name")
  }

  /** Q6 analog — forecast revenue change: the single-scan filter+aggregate
    * benchmark point. No joins at all; the date/discount/quantity
    * predicates all push to the parquet scan, so at 100 TB this is pure
    * scan bandwidth times predicate selectivity — the query that measures
    * the storage layer, which is why every engine benchmark keeps it.
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .where(expr(s"l_shipdate >= $Cutoff") &&
             expr("l_shipdate < timestamp'1997-01-01 00:00:00'") &&
             $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24.0)
      .agg(Det.dsum($"l_extendedprice" * $"l_discount").as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  /** Q10 analog — returned-item reporting: the customers who returned the
    * most revenue in one quarter, with their nation. Classic fact-heavy
    * top-k: the returnflag filter prunes lineitem at the scan, the quarter
    * filter prunes orders before the join, nation rides in as a broadcast,
    * and the final top-20 is TakeOrderedAndProject over the aggregate —
    * never a global sort of the customer dimension.
    */
  def q10ReturnedItem(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .where(expr("o_orderdate >= timestamp'1997-01-01 00:00:00'") &&
             expr("o_orderdate < timestamp'1997-04-01 00:00:00'"))
      .select($"o_orderkey", $"o_custkey")
    Tables.lineitem(spark, dir)
      .where($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir)
              .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal"),
            $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)
              .select($"n_nationkey", $"n_name")),
            $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name", $"c_acctbal")
      .agg(Det.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
      .select($"c_custkey", $"c_name", $"n_name", $"c_acctbal", $"revenue")
  }

  /** Q12 analog — shipping-class priority audit: for each return class of
    * lines shipped in one year (the fixture's stand-in for TPC-H's ship
    * modes), how many came from urgent/high-priority orders vs the rest.
    * The shape Q12 exists to test: a fact-to-fact equi-join feeding
    * CONDITIONAL counts — one shuffle on orderkey, both counters from one
    * aggregate pass (no union of two filtered scans).
    */
  def q12PriorityClass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val isHigh = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .where(expr(s"l_shipdate >= $Cutoff") &&
             expr("l_shipdate < timestamp'1997-01-01 00:00:00'"))
      .select($"l_orderkey", $"l_returnflag")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_orderpriority"),
            $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  /** Q14 analog — promotion effect: the share of one month's revenue that
    * came from PROMO-typed parts. Part is the broadcast side; both sums
    * come out of ONE aggregate over one lineitem pass (a conditional sum,
    * not two scans), and the final percentage is a single ordered
    * double expression over the two exact-decimal sums.
    */
  def q14PromoEffect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    Tables.lineitem(spark, dir)
      .where(expr("l_shipdate >= timestamp'1997-03-01 00:00:00'") &&
             expr("l_shipdate < timestamp'1997-04-01 00:00:00'"))
      .select($"l_partkey", $"l_extendedprice", $"l_discount")
      .join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_type")),
            $"l_partkey" === $"p_partkey")
      .agg(Det.dsum(when($"p_type" === "PROMO", rev).otherwise(lit(0.0))).as("promo_rev"),
           Det.dsum(rev).as("total_rev"))
      .select((lit(100.0) * $"promo_rev" / $"total_rev").as("promo_pct"),
              $"promo_rev", $"total_rev")
  }

  /** Q16 analog — supplier variety per part profile: how many distinct
    * suppliers ship each (brand, type, size), excluding one brand and
    * suppliers in bad standing (negative balance — the fixture's stand-in
    * for TPC-H's complaint filter). The fixture has no partsupp table, so
    * the observed (part, supplier) pairs from lineitem stand in for it —
    * distinct-ed BEFORE the joins so the heavy fact collapses to the pair
    * domain first. The exclusion list is tiny → anti-join broadcasts;
    * part attributes broadcast; the count-distinct shuffles once on the
    * (brand, type, size) profile key.
    */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey").distinct()
    val excluded = Tables.supplier(spark, dir)
      .where($"s_acctbal" < 0.0).select($"s_suppkey")
    pairs
      .join(broadcast(excluded), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(broadcast(Tables.part(spark, dir)
              .where($"p_brand" =!= "Brand#9")
              .select($"p_partkey", $"p_brand", $"p_type", $"p_size")),
            $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  /** Q19 analog — discounted revenue under an OR-of-ANDs predicate
    * (brand × size-band × quantity-band). The join itself stays a plain
    * broadcast equi-join on partkey; the disjunction is a post-join
    * filter, so Catalyst keeps the join strategy and pushes the shared
    * `p_size <= 15` / quantity envelope beneath it where it can. The
    * answer is one row: exact-decimal revenue + the matched line count.
    */
  def q19DiscountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val joined = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_quantity", $"l_extendedprice", $"l_discount")
      .join(broadcast(Tables.part(spark, dir)
              .select($"p_partkey", $"p_brand", $"p_size")),
            $"l_partkey" === $"p_partkey")
    joined.where(
        ($"p_brand" === "Brand#1"  && $"p_size".between(1, 5)  && $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#13" && $"p_size".between(1, 10) && $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 15) && $"l_quantity".between(20, 30)))
      .agg(Det.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  /** Q22 analog — dormant high-balance customers: customers whose balance
    * beats the positive-balance average but who placed no order after the
    * cutoff, bucketed by market segment. Composes a scalar subquery (the
    * global average, a one-row broadcast cross join — never a shuffle) with
    * an anti-join against the filtered fact. The average itself is
    * decimal-exact so the `>` cut is bit-identical cross-engine.
    */
  def q22DormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.where($"c_acctbal" > 0.0)
      .agg(Det.davg($"c_acctbal").as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .where(expr("o_orderdate >= timestamp'2000-01-01 00:00:00'"))
      .select($"o_custkey")
    cust.crossJoin(broadcast(avgBal))
      .where($"c_acctbal" > $"avg_bal")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), Det.dsum($"c_acctbal").as("total_bal"))
      .orderBy($"c_mktsegment")
  }

  /** Q2 analog — minimum-cost supplier: for each LARGE-typed part, the
    * EUROPE supplier(s) offering the lowest observed unit price. The
    * fixture has no partsupp, so the observed (part, supplier) pairs from
    * lineitem stand in, with cost = MIN(unit price) — an order-independent
    * exact aggregate. The correlated-min subquery (TPC-H's signature
    * shape) becomes ONE window min over the partkey partition of the
    * already-supplier-restricted cost table: at 100 TB that is one keyed
    * shuffle of the pair domain instead of a per-part re-aggregation,
    * and the supplier/nation/region side rides in as a broadcast.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cost = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min($"l_extendedprice" / $"l_quantity").as("supplycost"))
    val elig = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
              .join(Tables.region(spark, dir).where($"r_name" === "EUROPE"),
                    $"n_regionkey" === $"r_regionkey")
              .select($"n_nationkey", $"n_name")),
            $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_acctbal", $"s_name", $"n_name")
    val best = cost.join(broadcast(elig), $"l_suppkey" === $"s_suppkey")
      .withColumn("min_cost", min($"supplycost").over(Window.partitionBy($"l_partkey")))
      .where($"supplycost" === $"min_cost")
    best.join(broadcast(Tables.part(spark, dir)
            .where($"p_type" === "LARGE").select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
      .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_brand",
              $"supplycost")
      .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
      .limit(100)
  }

  /** Q8 analog — national market share: of the revenue ASIA customers
    * generated in 1996–1997, the share supplied by NATION_1, per order
    * year. Both the numerator and denominator come out of ONE aggregate
    * pass (a conditional decimal sum), so the share is a single ordered
    * division of two exact values — never two scans of the fact.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    val asiaCust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
              .join(Tables.region(spark, dir).where($"r_name" === "ASIA"),
                    $"n_regionkey" === $"r_regionkey")
              .select($"n_nationkey")),
            $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val supN = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).select($"n_nationkey", $"n_name")),
            $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    // Join order (r17, guide §2.3 "shuffle fewer bytes"): restrict
    // orders by the ASIA-customer semi side BEFORE touching lineitem.
    // The previous order (lineitem⋈orders first, then ⋈asiaCust) made
    // the custkey exchange carry the lineitem-wide joined frame; this
    // order shuffles orders (a fraction of lineitem) by custkey and
    // lineitem crosses the wire exactly once, on orderkey. Inner
    // equi-joins — row-identical by associativity.
    val ordersAsia = Tables.orders(spark, dir)
      .where(expr(s"o_orderdate >= $Cutoff") &&
             expr("o_orderdate < timestamp'1998-01-01 00:00:00'"))
      .select($"o_orderkey", $"o_custkey",
              year($"o_orderdate").cast("long").as("o_year"))
      .join(asiaCust, $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"o_year")
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .join(ordersAsia, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supN), $"l_suppkey" === $"s_suppkey")
      .groupBy($"o_year")
      .agg(Det.dsum(when($"supp_nation" === "NATION_1", rev).otherwise(lit(0.0)))
             .as("nation_rev"),
           Det.dsum(rev).as("total_rev"))
      .select($"o_year", ($"nation_rev" / $"total_rev").as("mkt_share"),
              $"nation_rev", $"total_rev")
      .orderBy($"o_year")
  }

  /** Q9 analog — product-type profit by nation and year: profit on
    * widget-named parts, with cost proxied as 60% of the part's retail
    * price (no partsupp in the fixture). The part and supplier sides both
    * broadcast; the only shuffles are the lineitem→orders key and the
    * final (nation, year) aggregate.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val profit = $"l_extendedprice" * (lit(1.0) - $"l_discount") -
      lit(0.6) * $"p_retailprice" * $"l_quantity"
    val supN = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).select($"n_nationkey", $"n_name")),
            $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
              .where($"p_name".contains("widget"))
              .select($"p_partkey", $"p_retailprice")),
            $"l_partkey" === $"p_partkey")
      .join(broadcast(supN), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(spark, dir)
              .select($"o_orderkey", year($"o_orderdate").cast("long").as("o_year")),
            $"l_orderkey" === $"o_orderkey")
      .groupBy($"nation", $"o_year")
      .agg(Det.dsum(profit).as("profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  /** Q11 analog — important stock: parts whose ASIA-supplied value exceeds
    * 2× the mean per-part value. TPC-H's fixed fraction breaks under
    * scale-up (the part domain grows with SF, so every share shrinks);
    * the mean-relative cut is scale-invariant by construction. The
    * threshold compare is exact decimal cross-multiplication — value ×
    * n_parts > 2 × total — never a float division.
    */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val elig = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
              .join(Tables.region(spark, dir).where($"r_name" === "ASIA"),
                    $"n_regionkey" === $"r_regionkey")
              .select($"n_nationkey")),
            $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    val vals = Tables.lineitem(spark, dir)
      .join(broadcast(elig), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey")
      .agg(sum($"l_extendedprice".cast("decimal(30,6)")).as("val_dec"))
    val tot = vals.agg(sum($"val_dec").as("tot_dec"),
                       count(lit(1)).as("n_parts"))
    vals.crossJoin(broadcast(tot))
      .where($"val_dec" * $"n_parts" > $"tot_dec" * 2)
      .select($"l_partkey", $"val_dec".cast("double").as("stock_value"))
      .orderBy($"stock_value".desc, $"l_partkey")
  }

  /** Q15 analog — top supplier: the supplier(s) with maximum revenue in
    * one quarter. The scalar-subquery max is a one-row broadcast cross
    * join over the per-supplier aggregate — the revenue view is computed
    * ONCE and reused for both the max and the final filter, where the SQL
    * form's naive plan would re-aggregate the fact twice.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val revs = Tables.lineitem(spark, dir)
      .where(expr("l_shipdate >= timestamp'1997-01-01 00:00:00'") &&
             expr("l_shipdate < timestamp'1997-04-01 00:00:00'"))
      .groupBy($"l_suppkey")
      .agg(Det.dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
             .as("total_rev"))
    val mx = revs.agg(max($"total_rev").as("max_rev"))
    revs.crossJoin(broadcast(mx))
      .where($"total_rev" === $"max_rev")
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_rev")
      .orderBy($"s_suppkey")
  }

  /** Q17 analog — small-quantity revenue: average yearly revenue lost if
    * sub-20%-of-average-quantity orders of one brand were dropped. The
    * correlated per-part AVG becomes an aggregate-then-broadcast-join over
    * the brand's partkey domain (bounded by |part|, not |lineitem|).
    * Quantities are integer-valued doubles, so the average is exact in any
    * accumulation order and the 0.2× cut is bit-identical cross-engine.
    */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brandLines = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
              .where($"p_brand" === "Brand#1").select($"p_partkey")),
            $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
    val avgQty = brandLines.groupBy($"l_partkey".as("ap"))
      .agg(avg($"l_quantity").as("avg_qty"))
    brandLines.join(broadcast(avgQty), $"l_partkey" === $"ap")
      .where($"l_quantity" < lit(0.2) * $"avg_qty")
      .agg((Det.dsum($"l_extendedprice") / lit(7.0)).as("avg_yearly"),
           count(lit(1)).as("n_lines"))
  }

  /** Q20 analog — excess-stock promotion candidates: AFRICA suppliers who
    * shipped more than 450 units of red-named parts in 1997. The nested
    * IN-subqueries become a pre-aggregated inner (per-supplier shipped
    * quantity over the red-part domain, integer-exact) feeding a LEFT SEMI
    * probe of the supplier dim — the fact is aggregated once, and the
    * semi join never widens rows.
    */
  def q20ExcessStock(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val shipped = Tables.lineitem(spark, dir)
      .where(expr("l_shipdate >= timestamp'1997-01-01 00:00:00'") &&
             expr("l_shipdate < timestamp'1998-01-01 00:00:00'"))
      .join(broadcast(Tables.part(spark, dir)
              .where($"p_name".startsWith("red")).select($"p_partkey")),
            $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey")
      .agg(sum($"l_quantity").as("qty"))
      .where($"qty" > 450.0)
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
              .join(Tables.region(spark, dir).where($"r_name" === "AFRICA"),
                    $"n_regionkey" === $"r_regionkey")
              .select($"n_nationkey")),
            $"s_nationkey" === $"n_nationkey")
      .join(shipped, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name")
      .orderBy($"s_suppkey")
  }

  /** Q21 analog — suppliers who kept orders waiting: ASIA suppliers whose
    * returned line was the ONLY return on a finished multi-supplier order.
    * Both correlated subqueries collapse into ONE per-order aggregate
    * (see [[waitingOrdersFrom]]) — the measured-at-10× rewrite of the
    * textbook semi/anti translation, whose fact-wide probe builds
    * degrade super-linearly.
    */
  def q21WaitingOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asiaSup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
              .join(Tables.region(spark, dir).where($"r_name" === "ASIA"),
                    $"n_regionkey" === $"r_regionkey")
              .select($"n_nationkey")),
            $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")
    waitingOrdersFrom(Tables.lineitem(spark, dir),
                      Tables.orders(spark, dir), asiaSup)
  }

  /** [[q21WaitingOrders]] over any (lineitem, orders, supplier-dim)
    * triple — the scale-probe entry (`ScaleProbeRel`).
    *
    * Form: ONE per-order aggregate (distinct suppliers, distinct
    * R-suppliers) replaces both correlated subqueries — "exists another
    * supplier's line" ⟺ n_supp ≥ 2, "no other supplier returned" ⟺
    * n_r_supp = 1 (l1's own line is R, so it contributes the 1). The
    * naive EXISTS/NOT EXISTS translation ([[waitingOrdersSemiAntiFrom]])
    * probes the FULL fact twice (semi + anti build sides = every
    * lineitem row); measured at 10× sf0.1 (`ScaleProbeRel`, identical
    * output proven in-run) it degrades 8.2× (3.1s → 25.2s) while this
    * aggregate form grows 1.9× (4.1s → 7.6s) for 10× the data — the
    * order-keyed aggregate output is |orders|, not |lineitem|, and every
    * join after it is equi.
    */
  private[ops] def waitingOrdersFrom(li: DataFrame, ord: DataFrame,
                                     sup: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    // Two-level aggregate instead of two countDistinct (r17, guide §2.3):
    // mixing two DISTINCT aggregates makes Catalyst Expand every fact row
    // into 2 (one per distinct group), shuffle the doubled rows on a
    // 4-column key (orderkey, suppkey, CASE, gid), dedup, and re-shuffle.
    // Grouping by (orderkey, suppkey) first computes the same two counts —
    // n_supp = COUNT(*) of supplier groups, n_r_supp = SUM(had an R line) —
    // from ONE un-expanded pass: the first exchange carries half the rows
    // on a 2-column key, and the Expand operator leaves the plan entirely
    // (plans/r17/q21_waiting_orders_{before,after}.txt). Bit-identical:
    // COUNT(DISTINCT s) = number of (o, s) groups; COUNT(DISTINCT CASE WHEN
    // R THEN s END) counts suppliers with ≥1 R line = SUM(max(flag)).
    val perOrder = li
      .groupBy($"l_orderkey".as("agg_ok"), $"l_suppkey")
      .agg(max(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("has_r"))
      .groupBy($"agg_ok")
      .agg(count(lit(1)).as("n_supp"), sum($"has_r").as("n_r_supp"))
    li.where($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_suppkey")
      .join(ord.where($"o_orderstatus" === "F").select($"o_orderkey"),
            $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(perOrder, $"l_orderkey" === $"agg_ok")
      .where($"n_supp" >= 2 && $"n_r_supp" === 1)
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(20)
  }

  /** The textbook EXISTS/NOT EXISTS translation of Q21 — kept as the
    * probe baseline that justifies the aggregate form above. Two
    * fact-to-fact probes whose build sides are the whole lineitem table.
    */
  private[ops] def waitingOrdersSemiAntiFrom(li: DataFrame, ord: DataFrame,
                                             sup: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    val l1 = li.where($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_suppkey")
      .join(ord.where($"o_orderstatus" === "F").select($"o_orderkey"),
            $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
    val others = li.select($"l_orderkey".as("o2k"), $"l_suppkey".as("s2k"))
    val othersR = li.where($"l_returnflag" === "R")
      .select($"l_orderkey".as("o3k"), $"l_suppkey".as("s3k"))
    l1.join(others, $"l_orderkey" === $"o2k" && $"l_suppkey" =!= $"s2k",
            "left_semi")
      .join(othersR, $"l_orderkey" === $"o3k" && $"l_suppkey" =!= $"s3k",
            "left_anti")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(20)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q8_market_share"      -> (q8MarketShare _),
    "q9_product_profit"    -> (q9ProductProfit _),
    "q11_important_stock"  -> (q11ImportantStock _),
    "q15_top_supplier"     -> (q15TopSupplier _),
    "q17_small_quantity"   -> (q17SmallQuantity _),
    "q20_excess_stock"     -> (q20ExcessStock _),
    "q21_waiting_orders"   -> (q21WaitingOrders _),
    "q3_shipping_priority" -> (q3Shipping _),
    "q4_order_priority"    -> (q4OrderPriority _),
    "q5_local_supplier"    -> (q5LocalSupplier _),
    "q7_volume_shipping"   -> (q7VolumeShipping _),
    "q6_forecast_revenue"  -> (q6Forecast _),
    "q10_returned_item"    -> (q10ReturnedItem _),
    "q12_priority_class"   -> (q12PriorityClass _),
    "q13_customer_distribution" -> (q13CustomerDistribution _),
    "q14_promo_effect"     -> (q14PromoEffect _),
    "q16_supplier_variety" -> (q16SupplierVariety _),
    "q18_large_orders"     -> (q18LargeOrders _),
    "q19_discounted_revenue" -> (q19DiscountedRevenue _),
    "q22_dormant_customers" -> (q22DormantCustomers _),
    "audit_integrity"      -> (auditIntegrity _),
    "quality_expectations" -> (qualityExpectations _)
  )

  def oracle: Map[String, String] = Map(
    "q2_min_cost_supplier" ->
      """WITH cost AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |         MIN(l_extendedprice / l_quantity) AS supplycost
        |  FROM lineitem GROUP BY 1, 2),
        |elig AS (
        |  SELECT s_suppkey, s_acctbal, s_name, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supplycost
        |FROM part
        |JOIN cost ON p_partkey = pk
        |JOIN elig ON sk = s_suppkey
        |WHERE p_type = 'LARGE'
        |  AND supplycost = (SELECT MIN(c2.supplycost)
        |                    FROM cost c2 JOIN elig e2 ON c2.sk = e2.s_suppkey
        |                    WHERE c2.pk = p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,
    "q8_market_share" ->
      s"""SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
         |  ${Det.sqlSum("CASE WHEN sn.n_name = 'NATION_1' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
         |    / ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS mkt_share,
         |  ${Det.sqlSum("CASE WHEN sn.n_name = 'NATION_1' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS nation_rev,
         |  ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS total_rev
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1
         |ORDER BY o_year""".stripMargin,
    "q9_product_profit" ->
      s"""SELECT sn.n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
         |  ${Det.sqlSum("l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity")} AS profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2
         |ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important_stock" ->
      """WITH elig AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |vals AS (
        |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS v
        |  FROM lineitem JOIN elig ON l_suppkey = s_suppkey
        |  GROUP BY 1)
        |SELECT l_partkey, CAST(v AS DOUBLE) AS stock_value
        |FROM vals
        |WHERE v * (SELECT COUNT(*) FROM vals) > (SELECT SUM(v) FROM vals) * 2
        |ORDER BY stock_value DESC, l_partkey""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH revs AS (
         |  SELECT l_suppkey,
         |    ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS total_rev
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_rev
         |FROM revs JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_rev = (SELECT MAX(total_rev) FROM revs)
         |ORDER BY s_suppkey""".stripMargin,
    "q17_small_quantity" ->
      s"""SELECT ${Det.sqlSum("l_extendedprice")} / 7.0 AS avg_yearly,
         |  COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand = 'Brand#1'
         |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
         |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q20_excess_stock" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AFRICA'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    JOIN part ON l_partkey = p_partkey
        |    WHERE p_name LIKE 'red%'
        |      AND l_shipdate >= TIMESTAMP '1997-01-01'
        |      AND l_shipdate < TIMESTAMP '1998-01-01'
        |    GROUP BY l_suppkey
        |    HAVING SUM(l_quantity) > 450.0)
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_orders" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND l1.l_returnflag = 'R'
        |  AND o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         |  o_orderpriority,
         |  ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-01-01'
         |  AND l_shipdate > TIMESTAMP '1996-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      s"""SELECT n_name,
         |  ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND c_nationkey = s_nationkey
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q7_volume_shipping" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  EXTRACT(YEAR FROM l_shipdate) AS ship_year,
         |  ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS volume
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
         |  AND cn.n_name IN ('NATION_1', 'NATION_2')
         |  AND sn.n_name <> cn.n_name
         |  AND l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1999-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, ship_year""".stripMargin,
    "q6_forecast_revenue" ->
      s"""SELECT ${Det.sqlSum("l_extendedprice * l_discount")} AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24.0""".stripMargin,
    "q10_returned_item" ->
      s"""SELECT c_custkey, c_name, n_name, c_acctbal,
         |  ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-04-01'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo_effect" ->
      s"""WITH sums AS (
         |  SELECT
         |    ${Det.sqlSum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS promo_rev,
         |    ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS total_rev
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01')
         |SELECT 100.0 * promo_rev / total_rev AS promo_pct, promo_rev, total_rev
         |FROM sums""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#9'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q19_discounted_revenue" ->
      s"""SELECT
         |  ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 5
         |        AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
         |        AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
         |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_dormant_customers" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
         |  ${Det.sqlSum("c_acctbal")} AS total_bal
         |FROM customer
         |WHERE c_acctbal > (SELECT ${Det.sqlAvg("c_acctbal")}
         |                   FROM customer WHERE c_acctbal > 0.0)
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    "q12_priority_class" ->
      """SELECT l_returnflag,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q13_customer_distribution" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |                  AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT n_orders, COUNT(*) AS n_customers
        |FROM per_cust
        |GROUP BY n_orders
        |ORDER BY n_customers DESC, n_orders DESC""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 180.0)
        |SELECT c_custkey, c_name, o_orderkey, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,
    // the one-pass aggregate computed in a CTE, then unpivoted — check
    // names must match the API's generated names exactly
    "quality_expectations" ->
      """WITH a AS (
        |  SELECT COUNT(*)::BIGINT AS total,
        |    COUNT(l_orderkey)::BIGINT AS o_nn,
        |    COUNT(DISTINCT (l_orderkey, l_linenumber))::BIGINT AS o_uq,
        |    SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END)
        |      ::BIGINT AS o_rf,
        |    SUM(CASE WHEN l_linestatus IN ('O') THEN 0 ELSE 1 END)
        |      ::BIGINT AS o_ls,
        |    SUM(CASE WHEN l_quantity >= 0 THEN 0 ELSE 1 END)::BIGINT AS o_q,
        |    SUM(CASE WHEN l_discount < 0.5 THEN 0 ELSE 1 END)::BIGINT AS o_d
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'row_count_between_1_1000000000' AS "check",
        |    total BETWEEN 1 AND 1000000000 AS passed,
        |    total AS observed, total AS total_rows FROM a
        |  UNION ALL SELECT 'not_null_l_orderkey', o_nn = total, o_nn, total FROM a
        |  UNION ALL SELECT 'unique_l_orderkey_l_linenumber', o_uq = total, o_uq, total FROM a
        |  UNION ALL SELECT 'values_in_l_returnflag', o_rf = 0, o_rf, total FROM a
        |  UNION ALL SELECT 'values_in_l_linestatus', o_ls = 0, o_ls, total FROM a
        |  UNION ALL SELECT 'non_negative_l_quantity', o_q = 0, o_q, total FROM a
        |  UNION ALL SELECT 'discount_lt_half', o_d = 0, o_d, total FROM a)
        |ORDER BY "check"""".stripMargin,
    "audit_integrity" ->
      """SELECT * FROM (
        |  SELECT 'customer_dup_keys' AS check_name, COUNT(*) AS n_violations
        |  FROM (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1)
        |  UNION ALL
        |  SELECT 'orders_orphan_custkey', COUNT(*) FROM orders
        |  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |  UNION ALL
        |  SELECT 'lineitem_orphan_orderkey', COUNT(*) FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |  UNION ALL
        |  SELECT 'orders_null_or_nonpos_price', COUNT(*) FROM orders
        |  WHERE o_totalprice IS NULL OR o_totalprice <= 0
        |  UNION ALL
        |  SELECT 'lineitem_discount_out_of_range', COUNT(*) FROM lineitem
        |  WHERE l_discount < 0 OR l_discount > 0.5
        |  UNION ALL
        |  SELECT 'customer_null_name', COUNT(*) FROM customer
        |  WHERE c_name IS NULL
        |) ORDER BY check_name""".stripMargin
  )
}
