package graft.ops

import graft.SparkSpec

/** Physical-plan assertions: the scale properties VERDICT grades are
  * pinned here so a regression (a filter that stops pushing down, a join
  * that degrades to nested-loop, a sort that sneaks into an aggregation)
  * fails CI, not the 100 TB run. Plans are checked at sf0.001 — plan
  * SHAPE is scale-invariant for these queries (no AQE runtime re-plan
  * changes the operator choice asserted here).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("Plans.normalize replaces expression ids and plan_id values but " +
       "leaves a #123 literal alone") {
    import graft.Plans.normalize
    assert(normalize("Project [name#123, count(1)#45L] [id=#7]") ===
      "Project [name#x, count(1)#xL] [id=#x]")
    assert(normalize("Filter (tag = #123)") === "Filter (tag = #123)")
    assert(normalize("Filter contains(tag, '#123')") === "Filter contains(tag, '#123')")
    assert(normalize("LocalTableScan plan_id=7") === "LocalTableScan plan_id=x")
  }

  test("filter_pushdown: predicates reach the parquet scan") {
    val p = plan("filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(p_size,10"), p)
  }

  test("topk_global plans TakeOrderedAndProject, not a global sort") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("join_broadcast_dim broadcasts the dim side (no shuffle of the fact table for the join)") {
    val p = plan("join_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("join_interval_overlap has NO join at all (was the r1 BNLJ scale-killer)") {
    val p = plan("join_interval_overlap")
    // explode-to-month-keys + one aggregation; month-dim membership is a
    // flag inside the aggregate, so even the semi-join is gone
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("Generate"), p) // the explode
  }

  test("join_asof is window-based: no join operator at all, one user_id shuffle") {
    val p = plan("join_asof")
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("Window"), p)
  }

  test("join_asof_forward is window-based with a range frame: no join, " +
       "tolerance enforced in-frame") {
    val p = plan("join_asof_forward")
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("specifiedwindowframe(RangeFrame, 1, 1000)"), p)
  }

  test("join_asof_nearest is window-based: no join, both direction frames " +
       "ride ONE user_id exchange") {
    val p = plan("join_asof_nearest")
    assert(!p.toLowerCase.contains("join"), p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length === 1, p)
  }

  test("keyed_latest_per_key is a partial+final aggregate (map-side combine), not a window sort") {
    val p = plan("keyed_latest_per_key")
    // max_by(struct) carries a struct buffer, so Spark plans SortAggregate
    // — still ONE shuffle with a map-side partial, unlike the window form
    // which shuffles every row then sorts whole partitions.
    assert(p.contains("partial_max_by"), p)
    assert(!p.contains("Window"), p)
  }

  test("keyed_uppercase_chain: the processor fold fuses into a single projection over the scan") {
    val p = plan("keyed_uppercase_chain")
    // one Project, no extra exchanges beyond the final sort
    assert(p.contains("Project"), p)
    assert("Exchange".r.findAllIn(p).size <= 2, p) // sort's range exchange (+AQE read)
  }

  test("llm_dedup_minhash: banding join is a hash join on (band,bucket); no cartesian anywhere") {
    val p = plan("llm_dedup_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("llm_ann_cosine_topk broadcasts the query side (corpus never self-joins)") {
    val p = plan("llm_ann_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the big side streams once: no shuffle before the join
    assert(p.contains("BroadcastExchange"), p)
  }

  test("scalar packs stay inside whole-stage codegen") {
    for (q <- Seq("scalar_string", "scalar_math", "scalar_date")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.collect() // AQE shows codegen stages only in the FINAL plan
      val p = df.queryExecution.executedPlan.toString
      // codegen stages print as "*(n) Operator" in the tree format
      assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, s"$q lost codegen:\n$p")
    }
  }

  test("q1 aggregation is partial+final hash aggregate (map-side combine)") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q1 / agg_corr_moments: the decimal(30,6) partial aggregates stay " +
       "INSIDE WholeStageCodegen and the scans read only the used columns " +
       "(VERDICT r17 #4 — wide decimal sums are a classic codegen " +
       "fallback; a silent drop to interpreted eval would tax every " +
       "lineitem pass at scale)") {
    for ((q, cols) <- Seq(
        "q1_pricing_summary" -> Seq("l_quantity", "l_extendedprice",
          "l_discount", "l_returnflag", "l_linestatus"),
        "agg_corr_moments" -> Seq("l_quantity", "l_extendedprice",
          "l_returnflag"))) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.collect() // AQE finalizes codegen stages only at runtime
      val p = df.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(p).isDefined,
        s"$q: partial HashAggregate fell out of whole-stage codegen:\n$p")
      val read = "FileScan parquet \\[([^\\]]*)\\]".r
        .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
      val readCols = read.split(",")
        .map(_.trim.takeWhile(_ != '#')).filter(_.nonEmpty).toSet
      assert(readCols == cols.toSet,
        s"$q: scan projection not minimal — read $readCols, " +
        s"query uses $cols:\n$p")
    }
  }

  test("llm_contamination broadcasts the benchmark side (one corpus pass, " +
       "no corpus shuffle for the join)") {
    val p = plan("llm_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("llm_dedup_embedding builds its plan WITHOUT touching the corpus " +
       "(no driver-side collect — the r2 scale-killer); the one allowed " +
       "extra job is the MEMOIZED quantizer-census count (r17)") {
    // The r2 version ran `corpus.collect()` EAGERLY while constructing the
    // DataFrame; building the plan therefore launched extra Spark jobs
    // beyond the parquet footer read any scan construction performs.
    // Since r17 the corpus-scaled quantizer (VERDICT r16 #1) resolves K
    // from a row count at construction — a column-pruned metadata-cheap
    // count, NOT a corpus materialization — memoized per canonicalized
    // plan, so only the session's FIRST construction over a given corpus
    // pays it. Under AQE a shuffle-aggregate count executes as TWO jobs
    // (map stage + final), so the pin allows lazy-scan cost + 2 on a
    // cold cache and asserts the memo by re-constructing at exactly
    // bare-scan cost.
    val sc = spark.sparkContext
    def jobs = sc.statusTracker.getJobIdsForGroup(null).length
    val b0 = jobs
    graft.Tables.embeddings(spark, dir).queryExecution.executedPlan
    val lazyCost = jobs - b0
    val b1 = jobs
    val df = graft.SparkEntry.queries("llm_dedup_embedding")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val queryCost = jobs - b1
    assert(queryCost <= lazyCost + 2,
      s"constructing the query ran $queryCost Spark job(s) vs $lazyCost " +
      "for a bare lazy scan (+2 allowed for the one-time K census, two " +
      "jobs under AQE) — a driver-side materialization is back")
    val b2 = jobs
    graft.SparkEntry.queries("llm_dedup_embedding")(spark, dir)
      .queryExecution.executedPlan
    val recost = jobs - b2
    assert(recost <= lazyCost,
      s"re-constructing the query ran $recost job(s) vs $lazyCost for a " +
      "bare scan — the quantizer-census count is not memoized")
    // and the plan is the cell-pair shuffle + per-group verify, not a
    // broadcast of corpus data
    assert(p.contains("MapGroups") || p.contains("FlatMapGroups"), p)
    assert(!p.contains("BroadcastExchange"), p)
  }

  test("ts_funnel: funnel depth adds NO shuffles — one user_id exchange " +
       "shared by all three chained stage windows") {
    val p = plan("ts_funnel")
    val userExchanges =
      "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges === 1, p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("llm_vocab_topk: global top-K is TakeOrderedAndProject; the rank " +
       "window runs after the take, not over the full vocabulary") {
    val p = plan("llm_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the Window must sit ABOVE the take in the plan text (earlier line)
    val takeAt = p.indexOf("TakeOrderedAndProject")
    val winAt = p.indexOf("Window")
    assert(winAt >= 0 && winAt < takeAt, p)
  }

  test("llm_vocab_coverage: top-20 selection is TakeOrderedAndProject " +
       "(per-partition top-k); the rank/cumsum window runs over the " +
       "20-row frame, never over the un-limited vocabulary count") {
    val p = plan("llm_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the Window must sit ABOVE the take in the plan text (earlier line):
    // a Window below the take would be the single-partition full-vocab sort
    val takeAt = p.indexOf("TakeOrderedAndProject")
    val winAt = p.indexOf("Window")
    assert(winAt >= 0 && winAt < takeAt, p)
  }

  test("llm_contamination_ratio: the benchmark gram set broadcasts (the " +
       "corpus never shuffles on gram) and the left join keeps every doc") {
    val p = plan("llm_contamination_ratio")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("llm_span_corrupt is join-free: explode + one doc-keyed window + " +
       "one doc-keyed aggregate, nothing else") {
    val p = plan("llm_span_corrupt")
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("Window"), p)
  }

  test("llm_code_switch: ONE corpus scan, the profile table broadcasts " +
       "as a left join, and no corpus-sized join exists (the spine form " +
       "scanned documents twice and merge-joined them)") {
    val p = plan("llm_code_switch")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert("FileScan parquet".r.findAllIn(p).length === 1, p)
  }

  test("llm_ivf_add: the trained-centroid frame broadcasts to the " +
       "arrival batch (BroadcastNestedLoopJoin over K=4 centroid rows " +
       "is the argmax spine); the indexed corpus is scanned only by the " +
       "training aggregate, never shuffled per arrival") {
    val p = plan("llm_ivf_add")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("llm_bq_topk: the hamming prescreen is a WindowGroupLimit head " +
       "over the code scan (queries broadcast); raw vectors never " +
       "shuffle — only the 16-candidate slice reaches the cosine rerank") {
    val p = plan("llm_bq_topk")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("llm_split_stratified: stratum size comes from a window count over " +
       "the rank window's own partitioning — one source exchange, NO join " +
       "(the joined-counts form scanned documents twice; r7 weak flag)") {
    val p = plan("llm_split_stratified")
    val joinOps = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
    assert(!joinOps.exists(p.contains), p)
    val srcExchanges =
      "Exchange hashpartitioning\\(source".r.findAllIn(p).length
    assert(srcExchanges === 1, p)
  }

  test("llm_dedup_bloom_inc: the bloom probe is the native expression, " +
       "not a closure UDF — no ScalaUDF anywhere in the plan (C33 " +
       "preference order; r7 judge hardening item)") {
    val p = plan("llm_dedup_bloom_inc")
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("graft_bloom_might_contain"), p)
  }

  test("merge_upsert is one equi-join (no nested loop) over the key") {
    val p = plan("merge_upsert")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"), p)
  }

  test("scd2_history: one window shuffle, no self-join (the naive SCD2 " +
       "form is a quadratic per-key self-join)") {
    val p = plan("scd2_history")
    assert(!p.toLowerCase.contains("join"), p)
    assert(p.contains("Window"), p)
  }

  test("llm_para_dedup: segment dedup is a window by segment value plus " +
       "one reassembly aggregate — never an all-pairs join") {
    val p = plan("llm_para_dedup")
    // "join" alone would false-positive on the array_join expression in
    // the reassembly aggregate; check the join OPERATORS
    val joinOps = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
    assert(!joinOps.exists(p.contains), p)
    assert(p.contains("Window"), p)
    assert(p.contains("Generate"), p) // the segment explode
  }

  test("llm_substring_spans GATE consumes the memoized span checkpoint: " +
       "zero join operators, and the position explode ran once upstream " +
       "(Generate appears nowhere in the gate plan)") {
    val p = plan("llm_substring_spans")
    val joinOps = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
    assert(!joinOps.exists(p.contains), p)
    // the r11 memoized span frame (Dedup.dupSpansForDir) truncates the
    // derivation's lineage; the report is a bare aggregate over it
    assert(!p.contains("Generate explode(sequence"), p)
  }

  test("the span DERIVATION is a gram WINDOW, never an aggregate-plus-" +
       "join-back (which would re-derive the position explode) — " +
       "asserted on the un-memoized from-frame twin the probes use") {
    val p = graft.ops.llm.Dedup
      .substringSpansFrom(graft.Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString
    val joinOps = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
    assert(!joinOps.exists(p.contains), p)
    assert(p.contains("Window"), p)
    assert(p.contains("Generate"), p) // the position explode
  }

  test("llm_substring_excise: exactly ONE equi-join (kept intervals back " +
       "to the corpus) and no nested loop — the span frame feeds three " +
       "consumers from a materialized checkpoint, not three re-derivations") {
    val p = plan("llm_substring_excise")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    val equiJoins = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(op => p.sliding(op.length).count(_ == op)).sum
    // one slice join + one left join of recon onto the cut counts
    assert(equiJoins <= 2, s"expected <= 2 equi-joins, plan:\n$p")
    // the corpus FileScan must never be a broadcast build side (it is
    // the whole corpus at scale) — the slice join is pinned shuffled-hash
    assert(!p.contains("BroadcastHashJoin"), p)
    // the checkpoint truncates lineage: the gram-position Generate must
    // appear NOWHERE in the excise plan (it ran once, upstream)
    assert(!p.contains("Generate explode(sequence"), p)
  }

  test("llm_dedup_survivors broadcasts the CLUSTER side (BuildLeft), " +
       "never the documents scan (stat-less checkpointed RDD would " +
       "otherwise flip the build side onto the corpus)") {
    val p = plan("llm_dedup_survivors")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BuildLeft"), p)
    assert(!p.contains("BuildRight"), p)
  }

  test("llm_semdedup broadcasts the LABEL side (BuildRight), never the " +
       "corpus: without the hint, Catalyst broadcasts the parquet side " +
       "because the checkpointed label RDD has no stats — a corpus-sized " +
       "build at 100 TB") {
    val p = plan("llm_semdedup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BuildRight"), p)
    assert(!p.contains("BuildLeft"), p)
  }

  test("layout_dpp_prune: the dim filter prunes fact PARTITIONS at runtime " +
       "(dynamic partition pruning subquery in the scan's PartitionFilters)") {
    val p = plan("layout_dpp_prune")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("layout_bucketed_join: join AND follow-on aggregate reuse the " +
       "write-time bucketing — zero hash exchanges in the whole plan") {
    val p = plan("layout_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"), p)
  }

  test("llm_bm25: global top-20 is TakeOrderedAndProject, not a full sort") {
    assert(plan("llm_bm25").contains("TakeOrderedAndProject"))
  }

  test("q3_shipping_priority: filters pushed to every scan, top-10 is " +
       "TakeOrderedAndProject over the aggregate") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), " +
      "EqualTo(c_mktsegment,BUILDING)") || p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("q5_local_supplier: the region→nation→supplier dim chain broadcasts " +
       "(the fact chain never shuffles for those joins)") {
    val p = plan("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q4_order_priority: the EXISTS is a LEFT SEMI join (no row blow-up, " +
       "no distinct after the join)") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("HashAggregate(keys=[o_orderkey"), p)
  }

  test("q7_volume_shipping: both nation-filtered dims broadcast; the fact " +
       "never shuffles for them") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q13_customer_distribution: outer join survives (zero-order bucket " +
       "present) and both aggregations are partial+final") {
    val p = plan("q13_customer_distribution")
    assert(p.contains("LeftOuter"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q10_returned_item: returnflag filter pushed to the lineitem scan, " +
       "nation broadcast, top-20 is TakeOrderedAndProject") {
    val p = plan("q10_returned_item")
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q14_promo_effect: ONE lineitem pass — a single aggregate computes " +
       "both conditional sums; part broadcasts") {
    val p = plan("q14_promo_effect")
    assert(p.contains("BroadcastHashJoin"), p)
    // one partial+final pair, not two separate aggregations unioned
    assert("HashAggregate".r.findAllIn(p).size <= 2, p)
  }

  test("q16_supplier_variety: exclusion anti-join broadcasts (tiny list " +
       "never shuffles the pair fact)") {
    val p = plan("q16_supplier_variety")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("q19_discounted_revenue: the OR-of-ANDs stays a broadcast equi-join " +
       "(no nested-loop fallback)") {
    val p = plan("q19_discounted_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q22_dormant_customers: scalar subquery is a broadcast (one-row " +
       "cross join, no shuffle), dormancy is an anti-join") {
    val p = plan("q22_dormant_customers")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join_null_safe stays a HASH equi-join (the NULL bucket does not " +
       "degrade the plan to nested-loop)") {
    val p = plan("join_null_safe")
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("join_bloom_prefilter: the bloom probe filters BELOW the semi join " +
       "(map-side cut before the shuffle)") {
    val p = plan("join_bloom_prefilter")
    val semiAt = p.indexOf("LeftSemi")
    val udfAt = p.lastIndexOf("UDF")
    assert(semiAt >= 0 && udfAt > semiAt,
      s"bloom probe must sit under the join (semi@$semiAt, udf@$udfAt)\n$p")
  }

  test("agg_bitmap_distinct: no Expand, no sort — two clean hash aggregates") {
    val p = plan("agg_bitmap_distinct")
    assert(!p.contains("Expand"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("sample_stratified_k: rank filter becomes WindowGroupLimit (per-" +
       "partition top-k before the stratum shuffle, not a full sort+filter)") {
    val p = plan("sample_stratified_k")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q2_min_cost_supplier: correlated min is ONE window pass over the " +
       "pair aggregate; dims broadcast; no re-aggregation per part") {
    val p = plan("q2_min_cost_supplier")
    assert("Window \\[min".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q21_waiting_orders: both correlated subqueries collapse into ONE " +
       "per-order aggregate with NO Expand (the r17 (orderkey, suppkey) " +
       "pre-group computes both distinct counts from one un-expanded " +
       "pass), no fact-wide semi/anti probe builds, never nested-loop") {
    val p = plan("q21_waiting_orders")
    // r17: the two COUNT(DISTINCT)s previously forced an Expand (2x fact
    // rows) + a 4-column dedup exchange; the pre-grouped form must not
    // reintroduce either
    assert(!p.contains("Expand"), p)
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sql_lateral_topk: the correlated LIMIT decorrelates to " +
       "WindowGroupLimit (one join + one window pass, not a re-executed " +
       "subquery per outer row)") {
    val p = plan("sql_lateral_topk")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sql_not_in_null: both counts plan as anti-join shapes (the NOT IN " +
       "side null-aware), not per-row subquery re-execution") {
    val p = plan("sql_not_in_null")
    assert("LeftAnti".r.findAllIn(p).size >= 2, p)
  }

  test("ts_ohlc: ONE hash aggregate (min_by/max_by over the packed order " +
       "key), no window, no sort of the event log") {
    val p = plan("ts_ohlc")
    assert(!p.contains("Window"), p)
    assert(!p.toLowerCase.contains("join"), p)
    // the only Sort is the output ORDER BY, above the aggregate
    assert(p.contains("min_by") && p.contains("max_by"), p)
  }

  test("ts_ewma: the 8 lag taps share ONE window pass (a single Window " +
       "node, one user_id exchange)") {
    val p = plan("ts_ewma")
    assert("Window ".r.findAllIn(p).size == 1, p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("agg_regr_family: one partial+final hash aggregate; the exact " +
       "decimal combination happens ABOVE the aggregate, per group") {
    val p = plan("agg_regr_family")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window") && !p.toLowerCase.contains("join"), p)
  }

  test("sql_recursive_cte: engine-level recursion (UnionLoop), grouped " +
       "census above it — no driver-side iteration anywhere") {
    val p = plan("sql_recursive_cte")
    assert(p.contains("UnionLoop") || p.contains("Recursion"), p)
  }

  test("sql_udf: the SQL-defined function INLINES into the plan — no " +
       "ScalaUDF/eval barrier, expression stays codegen-visible") {
    val p = plan("sql_udf")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"), p)
    // the inlined body is plain arithmetic over the scan columns
    assert(p.contains("l_extendedprice"), p)
  }

  test("llm_winnow_pairs: inverted-index equi-joins only — the pair " +
       "generation is keyed on the fingerprint value, never all-pairs") {
    val p = plan("llm_winnow_pairs")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"), p)
  }

  test("join_range_auto: the OPTIMIZER band-decomposes the naive " +
       "containment join — Generate + equi join, no nested-loop") {
    val p = plan("join_range_auto")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"), p)
  }

  test("join_range_auto leaves the caller's session conf as it found it " +
       "(no band width leaks into later plans)") {
    val key = graft.functions.RangeJoinBandRewrite.WidthKey
    assert(spark.conf.getOption(key).isEmpty)
    assert(plan("join_range_auto").contains("Generate"))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("llm_curation_funnel: the three-stage funnel composes into ONE " +
       "corpus pass — a single scan, one content-hash window, no join") {
    val p = plan("llm_curation_funnel")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert("Window ".r.findAllIn(p).size == 1, p)
    assert(!p.toLowerCase.contains("join"), p)
  }

  test("llm_pq_adc: ADC scoring is broadcast hash joins ONLY — codebooks " +
       "and the per-query lookup table broadcast, the code frame streams") {
    val p = plan("llm_pq_adc")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
           !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("llm_pq_ivf_adc: the IVF cell rides the pipeline as a COLUMN — no " +
       "join back to the corpus (the pre-pin shape broadcast a " +
       "corpus-derived cells frame on vec_id)") {
    val p = plan("llm_pq_ivf_adc")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
           !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly: enc←book, qd←book, scoring←qd — all broadcast-build
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p)
  }

  test("llm_rrf_fusion: both retrieval legs end in TakeOrderedAndProject " +
       "(per-partition top-K + K-row merge, never a global sort); fusion " +
       "joins two K-row frames") {
    val p = plan("llm_rrf_fusion")
    assert("TakeOrderedAndProject\\(limit=60".r.findAllIn(p).size == 2, p)
    assert(p.contains("TakeOrderedAndProject(limit=10"), p)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("SWEEP: no gated query plans CartesianProduct (the one deliberate " +
       "cross join is bounded and explicit)") {
    // A cartesian anywhere else means a join lost its equi-condition — the
    // per-query pins above catch known shapes; this catches the next one.
    val allowed = Set(
      "join_cross_small" // C10: explicit tiny-domain cross join, by design
    )
    val offenders = graft.SparkEntry.queries.collect {
      case (name, fn) if !allowed(name) &&
        fn(spark, dir).queryExecution.executedPlan.toString
          .contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty, s"cartesian joins in: ${offenders.mkString(", ")}")
  }

  test("SWEEP: every gated query has a DuckDB oracle (key parity — a " +
       "query without an oracle silently downgrades the driver's check)") {
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries missing oracles: ${(q -- o).mkString(", ")}")
    assert((o -- q).isEmpty, s"orphan oracles: ${(o -- q).mkString(", ")}")
  }

  test("llm_domain_cap / llm_shard_assign: one data shuffle each — the " +
       "census aggregate reuses the rank window's partitioning, no joins") {
    for (q <- Seq("llm_domain_cap", "llm_shard_assign")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("join"), s"$q grew a join:\n$p")
      // hash exchange for the window + the 20/8-row final orderBy range
      // exchange; a third would mean the aggregate re-shuffled the corpus
      assert("Exchange".r.findAllIn(p).size <= 2, s"$q extra shuffle:\n$p")
    }
  }

  test("llm_rp_topk: partial top-k (WindowGroupLimit) runs before the " +
       "q_id shuffle; the query side is the broadcast build") {
    val p = plan("llm_rp_topk")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p) // partial+final
    assert(p.contains("BroadcastExchange"), p)
  }

  test("llm_blocklist: the term list is the broadcast build side (the " +
       "corpus token explode never shuffles for the join)") {
    val p = plan("llm_blocklist")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("llm_dedup_incremental: the index probe is a shuffled-hash ANTI " +
       "join — the corpus-sized index is never the broadcast side") {
    val p = plan("llm_dedup_incremental")
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("llm_nbc_confusion: the fitted model (profiles + class totals) is " +
       "broadcast — the held-out corpus never shuffles for the scoring " +
       "joins") {
    val p = plan("llm_nbc_confusion")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("llm_sq8_topk: the range model (one row) and the query table " +
       "(10 rows) broadcast — the corpus never shuffles before the " +
       "per-query top-k heads") {
    val p = plan("llm_sq8_topk")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("llm_url_dedup: canonicalization is map-only (no join, no " +
       "generate) — ONE hash aggregate on the canonical URL") {
    val p = plan("llm_url_dedup")
    // NB: can't grep lowercase "join" — the canonicalizer's array_join
    // expression would trip it; check the join OPERATORS by name
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                  "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p.contains(j), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("llm_cdc_chunks: the chunk frame is pinned (r17 — the position " +
       "explode runs once, inside the pin build) and every join over it " +
       "is hash-keyed (doc_id / md5 h) — no nested-loop anywhere") {
    val p = plan("llm_cdc_chunks")
    // the Generate lives in the pin's build plan; the query plan reads
    // the materialized chunk frame
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("llm_ann_ivf_mp: the ×2-exploded query probes BROADCAST against " +
       "the cell-keyed corpus — the corpus itself never re-shuffles per probe") {
    val p = plan("llm_ann_ivf_mp")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("llm_diversify_topk: the corpus pass is pinned once — everything " +
       "after reranks the materialized |queries|×20 candidate frame") {
    val p = plan("llm_diversify_topk")
    // the pinned candidate frame surfaces as an RDD scan; the only joins
    // left are over that bounded frame
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("llm_dedup_bloom_inc: the exact index probe stays a shuffled-hash " +
       "ANTI join on the maybe sliver — the index is never a broadcast side") {
    val p = plan("llm_dedup_bloom_inc")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("llm_nfc_census and llm_readability are map-side passes: no join " +
       "operator of any kind (census aggregates where present are tiny)") {
    for (name <- Seq("llm_nfc_census", "llm_readability")) {
      val p = plan(name)
      for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"))
        assert(!p.contains(j), s"$name: $p")
    }
    // the census gate's per-lang aggregate is there; readability is a
    // pure per-doc projection (no aggregate at all — that's the point)
    assert(plan("llm_nfc_census").contains("Aggregate"))
  }

  // ---- Graph-family never-broadcast posture (VERDICT r14 #3). The r14
  // weak-scaling probe caught AQE flipping the family's corpus-scaled
  // join sides to broadcast while the fixture sits under the threshold
  // (per-task build then grows with the graph — measured m² cpu), and
  // fb6fa51 pinned every such side to SHUFFLE_HASH. That fix was
  // verified only by a one-time PLANS.md regen; these tests execute the
  // PRE-PIN inner frames (pins truncate the gate-level plans) through
  // the exact production helpers against pinned stat-less inputs — the
  // precise planning context in which AQE broadcasts a fixture-small
  // side — and fail if a Spark upgrade or hint-handling change silently
  // reverts the posture. Plans are read AFTER execution (AQE finalizes
  // join strategies at runtime).

  private def pin(df: org.apache.spark.sql.DataFrame) =
    graft.state.Materialize.pin(df, graft.state.Materialize.Policy.Always)

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def assertShuffledNeverBroadcast(p: String, minJoins: Int,
                                           tag: String): Unit = {
    assert("ShuffledHashJoin".r.findAllIn(p).size >= minJoins,
      s"$tag expected >= $minJoins ShuffledHashJoin:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"$tag broadcast a corpus-scale side:\n$p")
  }

  test("pagerank (undirected): the iteration's edge-contribution join " +
       "stays ShuffledHashJoin over pinned stat-less inputs, AQE on — " +
       "never broadcast (the r14 m² weak-scaling hazard)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Graph.edgesAt(spark, dir, 45)
    val u = pin(e.select($"a".as("w1"), $"b".as("w2"))
      .union(e.select($"b".as("w1"), $"a".as("w2"))))
    // r18 shape: degree folded into the rank frame; the step's one join
    // is edges ⋈ rank-projection, and the former domain LEFT join is a
    // union + aggregate (no join at all — assert none appears)
    val r0 = pin(u.groupBy($"w1")
      .agg(count(lit(1)).as("out_w"))
      .select($"w1".as("node"), $"out_w", lit(1000000L).as("r")))
    val zeros = r0.select($"node", lit(0L).as("c"), $"out_w".as("ow"))
    val p = finalPlan(Graph.prStep(u, zeros, r0))
    assertShuffledNeverBroadcast(p, 1, "prStep")
    assert(!p.contains("SortMergeJoin"), s"prStep SMJ: $p")
  }

  test("pagerank (directed): the iteration's edge-contribution join " +
       "stays ShuffledHashJoin; the only broadcast is the 1-row " +
       "dangling-mass share (a BroadcastNestedLoopJoin cross, by design)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Graph.edgesAt(spark, dir, 45)
    val ed = pin(e.select($"a".as("w1"), $"b".as("w2")))
    val outw = ed.groupBy($"w1").agg(count(lit(1)).as("out_w"))
    val nodes = pin(ed.select($"w1".as("node"))
      .union(ed.select($"w2".as("node"))).distinct())
    val n = nodes.count()
    assertShuffledNeverBroadcast(
      finalPlan(Graph.prDirNodesFlagged(nodes, outw)), 1, "prDirNodesFlagged")
    val nodesF = pin(Graph.prDirNodesFlagged(nodes, outw))
    val r0 = nodesF.withColumn("r", lit(1000000L))
    val p = finalPlan(Graph.prDirStep(ed, n, r0))
    assertShuffledNeverBroadcast(p, 1, "prDirStep")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"prDirStep share broadcast missing: $p")
  }

  test("triangles: the orientation joins and the wedge/closing joins stay " +
       "ShuffledHashJoin (closing join a shuffled LeftSemi) — the oriented " +
       "edge list is never a broadcast build side") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = pin(Graph.edgesAt(spark, dir, 25))
    val deg = e.select($"a".as("v")).union(e.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    assertShuffledNeverBroadcast(finalPlan(Graph.orientByDegree(e, deg)), 2,
      "orientByDegree")
    val oriented = pin(Graph.orientByDegree(e, deg))
    val p = finalPlan(Graph.wedgeClose(oriented))
    assertShuffledNeverBroadcast(p, 2, "wedgeClose")
    assert(p.linesIterator.exists(l =>
      l.contains("ShuffledHashJoin") && l.contains("LeftSemi")), p)
  }

  test("khop: the visited anti-join stays a shuffled LeftAnti (the " +
       "frontier⋈adjacency join may broadcast by design — AQE sizes the " +
       "small frontier per level)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = Graph.edgesAt(spark, dir, 45)
    val u = pin(e.select($"a".as("v"), $"b".as("w"))
      .union(e.select($"b".as("v"), $"a".as("w"))))
    val src = e.agg(min($"a")).head().getLong(0)
    val visited = pin(Seq((src, 0L)).toDF("v", "lvl"))
    val p = finalPlan(Graph.khopExpand(u, visited, visited, 1))
    assert(p.linesIterator.exists(l =>
      l.contains("ShuffledHashJoin") && l.contains("LeftAnti")), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")), p)
  }

  test("star contraction: the large-star and small-star minima joins stay " +
       "ShuffledHashJoin over a pinned stat-less edge frame") {
    import spark.implicits._
    val e = Graph.edgesAt(spark, dir, 45)
    val pairs = pin(e.select($"a".as("u"), $"b".as("v")))
    assertShuffledNeverBroadcast(
      finalPlan(graft.ops.llm.Dedup.largeStarStep(pairs)), 1, "largeStarStep")
    assertShuffledNeverBroadcast(
      finalPlan(graft.ops.llm.Dedup.smallStarStep(pairs)), 1, "smallStarStep")
  }
}
