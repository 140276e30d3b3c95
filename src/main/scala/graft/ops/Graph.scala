package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.state.Materialize.Policy

/** Graph analytics over a co-occurrence projection of the fact table —
  * the relational form of the graph workloads a training-data pipeline
  * runs (entity linking, community sanity checks). The iterative side
  * (connected components, PageRank) lives in [[llm.Dedup]] /
  * [[llm.Ranking]]; this pack covers the one-shot combinatorial side.
  *
  * Graph: vertices = parts, edges = two parts co-occurring in the same
  * order among high-quantity lines (`l_quantity > 25` keeps the
  * projection sparse — the unfiltered co-occurrence graph over the
  * uniform fixture is near-complete and degenerate for triangle work).
  */
object Graph extends QueryPack {

  /** Distinct undirected edges (a < b) of the co-occurrence graph. */
  private def edges(spark: SparkSession, dir: String): DataFrame =
    edgesAt(spark, dir, 25)

  /** [[edges]] with a configurable sparsity cut: the iterative gates
    * ([[componentsQ]], [[khopQ]]) use `> 45`, which fragments the fixture
    * graph into ~200 components with one 482-vertex giant — the
    * structure connected-components and hop-profile work exists for.
    */
  private[ops] def edgesAt(spark: SparkSession, dir: String,
                           minQty: Int): DataFrame = {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, dir)
      .where($"l_quantity" > minQty)
      .select($"l_orderkey".as("o"), $"l_partkey".as("s"))
      .distinct()
    pairs.as("p1")
      .join(pairs.as("p2"), $"p1.o" === $"p2.o" && $"p1.s" < $"p2.s")
      .select($"p1.s".as("a"), $"p2.s".as("b"))
      .distinct()
  }

  /** Connected components of the sparse co-occurrence graph — the
    * general-graph form of the engine's duplicate-cluster resolution:
    * the SAME alternating large-star/small-star contraction
    * ([[llm.Dedup.starComponents]] — Kiveris et al. 2014, O(log²)
    * rounds on any topology, scalar set-fingerprint witness, per-round
    * pinning, no driver graph) applied to an arbitrary edge list
    * instead of near-dup pairs. Output is the per-component census
    * (component = min vertex id, size, max vertex) — 203 components
    * incl. a 482-vertex giant at sf0.01, so the gate exercises real
    * multi-component structure, not a single blob (the denser `> 40`
    * cut collapses to one 99% giant at sf0.01 — useless as a census).
    * The giant is chain-like (eccentricity ≥ 40) — exactly the shape
    * that bound round 8's min-label propagation to the diameter (33
    * hops / 9.8s at sf0.1); contraction flattens it in a handful of
    * rounds regardless of eccentricity, which is what survives an
    * adversarial long-chain graph at 100 TB.
    *
    * The oracle resolves the same components with a recursive CTE, so
    * the gate checks graph semantics against an independent method.
    */
  def componentsQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = edgesAt(spark, dir, 45)
    llm.Dedup.starComponents(e.select($"a".as("d1"), $"b".as("d2")))
      .groupBy($"lab".as("component"))
      .agg(count(lit(1)).as("n_vertices"), max($"doc").as("max_vertex"))
      .orderBy($"component")
  }

  /** PageRank iteration count — mirrored into the oracle's unrolled CTE
    * chain so the engines cannot disagree on depth.
    */
  private val PrIters = 10

  /** General-graph PageRank (damping 0.85, 10 fixed iterations) over the
    * sparse co-occurrence graph — the centrality weighting a crawl-scale
    * curation pipeline runs on its HOST graph (Common Crawl publishes
    * exactly this: harmonic/PageRank centrality over the domain graph,
    * consumed as a quality prior when sampling). Same determinism design
    * as the TextRank gate ([[llm.Ranking]]): ranks in integer micro-units
    * (start 1,000,000; `150000 + (850·incoming) div 1000` per round) with
    * floor division everywhere, so ten iterations are bit-identical
    * cross-engine — no float drift, no convergence epsilon. Undirected
    * graph = symmetric directed edges; out-weight = degree.
    *
    * Scale shape: T fixed iterations of (edge join + node-keyed
    * aggregate), each pinned — cost is T × corpus-linear, state is one
    * rank row per vertex, no driver materialization. Output is the
    * top-50 by (rank, id) — a TakeOrderedAndProject, the shape a quality
    * prior is actually consumed in.
    *
    * The oracle replays every iteration as an unrolled CTE generated
    * from the SAME [[PrIters]] constant.
    */
  def pagerankQ(spark: SparkSession, dir: String): DataFrame =
    pagerankFrom(edgesAt(spark, dir, 45))

  /** One undirected PageRank iteration over the pinned RAW edges and a
    * degree-carrying rank frame `prev = (node, out_w, r)` (r18,
    * VERDICT r17 #2 "fold the degree into the pinned rank frame",
    * guide §2.3/§2.4). Two structural changes vs the r15 form, both
    * result-identical:
    *  - the per-edge contribution `c = r div out_w` is computed
    *    MAP-SIDE on the rank frame before the edge join, so the edges
    *    cross their per-iteration exchange as bare (w1, w2) pairs —
    *    the loop-invariant weighted-edge pin (edges × degree, a third
    *    more bytes on the biggest frame in the loop) is gone;
    *  - the domain-preserving LEFT join against the node frame is
    *    replaced by a STATIC zero-contribution row per node UNIONED
    *    into the contribution stream (carrying the static out_w
    *    forward), so ONE hash aggregate keyed by node yields the next
    *    rank frame. sum(c) over {edge contributions + one 0} ≡ the old
    *    coalesce(sum, 0), exactly. The zero stream reads the PINNED
    *    initial frame, not `prev` — out_w is loop-invariant and the
    *    undirected form needs nothing else from the previous rank
    *    there — so `prev` keeps exactly ONE consumer and lazy
    *    between-pin chains stay LINEAR (a second prev consumer measured
    *    4.2s vs 2.6s at sf0.1: each unpinned level re-derived per
    *    consumer).
    * Exchanges per iteration: 4 → 3 (edges by w1, rank projection by
    * w1, aggregate by node — see
    * plans/r18/graph_pagerank_iter_{before,after}.txt). The rank-side
    * SHUFFLE_HASH pin stays: every frame here is vertex/edge-scale,
    * never broadcastable at 100 TB (the r14 m² weak-scaling hazard).
    */
  private[ops] def prStep(u: DataFrame, zeros: DataFrame,
                          prev: DataFrame): DataFrame = {
    import u.sparkSession.implicits._
    val edgeC = u
      .join(prev.select($"node".as("w1"), expr("r div out_w").as("c"))
        .hint("SHUFFLE_HASH"), "w1")
      .select($"w2".as("node"), $"c", lit(null).cast("long").as("ow"))
    edgeC.unionByName(zeros)
      .groupBy($"node")
      .agg(sum($"c").as("incoming"), max($"ow").as("out_w"))
      .select($"node", $"out_w",
        (lit(150000L) + expr("(850 * incoming) div 1000")).as("r"))
  }

  /** [[pagerankQ]] over any undirected `(a, b)` edge frame — exposed
    * (like [[pagerankDirectedFrom]]) so the weak-scaling probe can
    * drive it with replicated disjoint graphs (VERDICT r13 #6).
    */
  private[ops] def pagerankFrom(e: DataFrame, cadence: Int = 5): DataFrame = {
    import e.sparkSession.implicits._
    val u = e.select($"a".as("w1"), $"b".as("w2"))
      .union(e.select($"b".as("w1"), $"a".as("w2")))
      .transform(graft.state.Materialize.pin(_, Policy.Always))
    // the loop-resident pins below (degree and rank frames) take the
    // residency the edge pin's measured bytes choose (VERDICT r15 #3)
    val loop = Policy.loop(u)
    // r18 (VERDICT r17 #2): the degree now lives on the RANK frame, not
    // the edges — r0 IS the degree aggregate of the pinned edges (the
    // symmetrized union gives every vertex out_w ≥ 1, so the groupBy is
    // also the node domain), replacing BOTH loop-invariant pins of the
    // r15 shape (weighted edges uw, node domain) with one vertex-sized
    // pin. u itself is the loop edge frame now (2 columns instead of
    // uw's 3) and stays resident for the loop's lifetime.
    val r0 = u.groupBy($"w1")
      .agg(count(lit(1)).as("out_w"))
      .select($"w1".as("node"), $"out_w", lit(1000000L).as("r"))
      .transform(graft.state.Materialize.pin(_, loop))
    // the static zero-contribution stream (see prStep): a projection of
    // the r0 PIN, so r0 stays resident for the loop's lifetime (like u)
    val zeros = r0.select($"node", lit(0L).as("c"), $"out_w".as("ow"))
    def step(prev: DataFrame): DataFrame = prStep(u, zeros, prev)
    var r = r0
    // five iterations per pin (r11, measured 3.6s -> 3.0s at sf0.1): the
    // chain is pure lazy join+agg — nothing inside an iteration forces
    // evaluation, so a deeper lineage between pins just widens one job,
    // and each pin otherwise costs a whole scheduled job at this graph
    // size. The DIRECTED form cannot do this (see pagerankDirectedFrom:
    // its per-iteration dangling-mass broadcast evaluates eagerly, so an
    // unpinned prev-chain re-executes once per remaining iteration —
    // measured 3.7s -> 6.4s at cadence 5). Results are bit-identical at
    // any cadence (law-tested in GraphSpec).
    require(cadence >= 1 && cadence <= PrIters,
      s"pagerankFrom: pin cadence must be in [1, $PrIters], got $cadence")
    // superseded rank pins are DEAD the moment the next pin lands (the
    // output consumes only the newest pinned frame; iterations between
    // pins are lazy and execute during the new pin's materialization) —
    // release each as it is superseded (r15), bounding resident rank
    // state to ONE vertex-sized frame regardless of iteration count,
    // the same engineered release chain as starComponents' round pins
    // r0 is NOT in the release ring: the static zero stream reads it
    // every iteration (loop-invariant, vertex-sized — the same
    // residency class as u)
    var prevPin: Option[DataFrame] = None
    for (i <- 1 to PrIters) {
      r = step(r)
      if (i % cadence == 0) {
        r = r.transform(graft.state.Materialize.pin(_, loop))
        prevPin.foreach(graft.state.Materialize.releasePinned)
        prevPin = Some(r)
      }
    }
    r.select($"node", $"r").orderBy($"r".desc, $"node").limit(50)
  }

  /** DIRECTED PageRank with dangling-mass redistribution and a
    * convergence-residual column — the two pieces a crawl host-graph
    * centrality prior actually needs beyond [[pagerankQ]]'s undirected
    * form (VERDICT r8 #8): real host graphs are directed (who links
    * whom), a large fraction of hosts have NO out-links (crawl
    * frontier leaves; their rank would leak out of the system every
    * iteration unless redistributed), and a consumer wants to see how
    * settled the ranks are at the fixed iteration budget.
    *
    * Graph: the co-occurrence projection ORIENTED low→high part key —
    * every component's maximal vertices become genuine dangling nodes
    * (489 of 1,274 at sf0.01), so the redistribution term is exercised
    * by real structure, not a synthetic patch.
    *
    * Same cross-engine determinism design as [[pagerankQ]]: integer
    * micro-units, floor division everywhere. Per iteration:
    * `r' = 150000 + (850 · (incoming + D div N)) div 1000` where
    * `incoming = Σ r_u div out_u` over in-neighbors and `D = Σ r_u`
    * over dangling nodes (the standard dangling-mass uniform
    * redistribution, kept exactly replayable by flooring the per-node
    * share). The residual column is `|r_T − r_{T−1}|` per node — the
    * convergence diagnostic (a production job iterates until
    * `Σ residual` crosses a threshold; the gate pins T = [[PrIters]]
    * for determinism and EXPOSES the residual instead).
    *
    * Scale shape: T × (edge join + node aggregate) like the undirected
    * form, plus one conditional scan-aggregate of the rank frame (the
    * dangling flag is resolved once into a carried column) feeding a
    * broadcast 1-row dangling-mass frame per iteration — nothing new
    * shuffles. The
    * oracle replays every iteration (and the dangling scalar) as an
    * unrolled CTE from the same [[PrIters]] constant.
    */
  def pagerankDirectedQ(spark: SparkSession, dir: String): DataFrame =
    pagerankDirectedFrom(edgesAt(spark, dir, 45))

  /** The out-degree is loop-invariant, so resolve it ONCE into a column
    * carried on every rank frame (r11 flag form; r18 carries the degree
    * itself — VERDICT r17 #2): the dangling test is `out_w = 0`, and
    * the per-iteration edge join no longer needs degree-weighted edges
    * at all (see [[prDirStep]]).
    */
  private[ops] def prDirNodesFlagged(nodes: DataFrame,
                                     outw: DataFrame): DataFrame = {
    import nodes.sparkSession.implicits._
    nodes
      .join(outw.select($"w1".as("node"), $"out_w").hint("SHUFFLE_HASH"),
            Seq("node"), "left")
      .select($"node", coalesce($"out_w", lit(0L)).as("out_w"))
  }

  /** One directed PageRank iteration over the pinned RAW edges and a
    * degree-carrying rank frame `prev = (node, out_w, r[, r_prev])` —
    * the directed twin of [[prStep]]'s r18 fold (VERDICT r17 #2):
    * contributions are computed map-side on the rank frame (dangling
    * nodes filtered BEFORE the division — out_w = 0 never reaches the
    * ANSI div), edges cross their per-iteration exchange as bare
    * (w1, w2) pairs, and the former domain-preserving LEFT join is a
    * map-side zero row per node unioned into the contribution stream
    * (carrying out_w and the previous rank forward — max() over the
    * group picks them off the single zero row; edge rows carry null).
    * sum(c) over {edge contributions + one 0} ≡ the old
    * coalesce(sum, 0) exactly, so the rank arithmetic is bit-identical.
    * The 1-row dangling-mass `share` stays the ONE legitimate broadcast
    * in the family (a scalar crossed in).
    */
  private[ops] def prDirStep(ed: DataFrame, n: Long,
                             prev: DataFrame): DataFrame = {
    import ed.sparkSession.implicits._
    val edgeC = ed
      .join(prev.where($"out_w" > 0L)
        .select($"node".as("w1"), expr("r div out_w").as("c"))
        .hint("SHUFFLE_HASH"), "w1")
      .select($"w2".as("node"), $"c",
        lit(null).cast("long").as("ow"), lit(null).cast("long").as("rp"))
    val zero = prev.select($"node", lit(0L).as("c"),
      $"out_w".as("ow"), $"r".as("rp"))
    val share = prev
      .agg(coalesce(sum(when($"out_w" === 0L, $"r")), lit(0L)).as("dm"))
      .select(expr(s"dm div ${n}L").as("ds"))
    edgeC.unionByName(zero)
      .groupBy($"node")
      .agg(sum($"c").as("incoming"), max($"ow").as("out_w"),
           max($"rp").as("r_prev"))
      .crossJoin(broadcast(share))
      .select($"node", $"out_w",
        (lit(150000L) +
         expr("(850 * (incoming + ds)) div 1000")).as("r"),
        $"r_prev")
  }

  /** [[pagerankDirectedQ]] over any directed `(a, b)` edge frame —
    * exposed so the GraphSpec law can drive it with hand-built graphs
    * against a driver-side integer replica.
    */
  private[ops] def pagerankDirectedFrom(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val ed = e.select($"a".as("w1"), $"b".as("w2"))
      .transform(graft.state.Materialize.pin(_, Policy.Always))
    // loop residency from the edge pin's measured bytes (VERDICT r15 #3)
    val loop = Policy.loop(ed)
    val outw = ed.groupBy($"w1").agg(count(lit(1)).as("out_w"))
    val nodes = ed.select($"w1".as("node"))
      .union(ed.select($"w2".as("node"))).distinct()
      .transform(graft.state.Materialize.pin(_, loop))
    val n = nodes.count()
    // ANSI mode (Spark 4 default) makes the dangling share's `dm div n`
    // a runtime DivideByZero on an empty graph — fail at the API edge
    // with the actual problem instead (r15). Release the two pins
    // already created before throwing (ADVICE r15: the throw path
    // skipped the release discipline — a retrying caller under
    // materialize=reliable accrued orphan checkpoint files per attempt)
    if (n == 0) {
      graft.state.Materialize.releasePinned(nodes)
      graft.state.Materialize.releasePinned(ed)
    }
    require(n > 0,
      "pagerankDirected: empty edge frame (no vertices) — PageRank over " +
      "an empty graph is undefined; filter upstream or skip the call")
    // r18 (VERDICT r17 #2): the degree lives on the rank frame, so the
    // loop's edge side is the RAW pinned (w1, w2) frame — the r11
    // loop-invariant weighted-edge pin (|E| rows × 3 columns resident
    // for the loop's lifetime, re-exchanged every iteration) is gone;
    // ed stays resident instead (2 columns). nodes is dead once nodesF
    // materializes (outw is consumed inside that one pin).
    val nodesF = prDirNodesFlagged(nodes, outw)
      .transform(graft.state.Materialize.pin(_, loop))
    graft.state.Materialize.releasePinned(nodes)
    def step(prev: DataFrame): DataFrame = prDirStep(ed, n, prev)
    var r = nodesF.withColumn("r", lit(1000000L))
    // cadence 2, NOT the undirected form's 5: each iteration's dangling-
    // mass broadcast evaluates `prev` EAGERLY, so every un-pinned
    // iteration between pins is re-executed once per later iteration —
    // cadence 5 measured 3.7s -> 6.4s at sf0.1 from exactly that
    // quadratic recompute; cadence 2 bounds the re-executed chain to one
    // iteration.
    // ONE resident rank pin (r16, VERDICT r15 #6): the step carries the
    // previous rank as an `r_prev` column, so the residual output reads
    // only the newest pin — release each superseded pin as the next
    // lands, exactly the undirected form's chain. nodesF is dead the
    // moment the FIRST pin materializes (only step 1 consumes it).
    var prevPin: Option[DataFrame] = None
    for (i <- 1 to PrIters) {
      r = step(r)
      if (i % 2 == 0) {
        r = r.transform(graft.state.Materialize.pin(_, loop))
        prevPin.foreach(graft.state.Materialize.releasePinned)
        prevPin = Some(r)
        if (i == 2) graft.state.Materialize.releasePinned(nodesF)
      }
    }
    r.select($"node", $"r", abs($"r" - $"r_prev").as("residual"))
      .orderBy($"r".desc, $"node").limit(50)
  }

  /** One PageRank iteration over the loop state [[pagerankFrom]] and
    * [[pagerankDirectedFrom]] build, keyed by the names `graft.Plans
    * capture` accepts. The loops run eagerly (pin cadence), so a plan dump
    * of the gate shows only the final pin scan; the per-iteration plan,
    * where the exchanges live, is this step's.
    */
  private[graft] val iterationPlans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank_iter" -> { (spark, dir) =>
      import spark.implicits._
      val pin = graft.state.Materialize.pin(_: DataFrame, Policy.Always)
      val e = edgesAt(spark, dir, 45)
      val u = e.select($"a".as("w1"), $"b".as("w2"))
        .union(e.select($"b".as("w1"), $"a".as("w2"))).transform(pin)
      val r0 = u.groupBy($"w1")
        .agg(count(lit(1)).as("out_w"))
        .select($"w1".as("node"), $"out_w", lit(1000000L).as("r"))
        .transform(pin)
      prStep(u, r0.select($"node", lit(0L).as("c"), $"out_w".as("ow")), r0)
    },
    "graph_pagerank_directed_iter" -> { (spark, dir) =>
      import spark.implicits._
      val pin = graft.state.Materialize.pin(_: DataFrame, Policy.Always)
      val ed = edgesAt(spark, dir, 45).select($"a".as("w1"), $"b".as("w2"))
        .transform(pin)
      val outw = ed.groupBy($"w1").agg(count(lit(1)).as("out_w"))
      val nodes = ed.select($"w1".as("node"))
        .union(ed.select($"w2".as("node"))).distinct().transform(pin)
      val n = nodes.count()
      val nodesF = prDirNodesFlagged(nodes, outw).transform(pin)
      prDirStep(ed, n, nodesF.withColumn("r", lit(1000000L)).transform(pin))
    })

  /** K-hop ego-network census (K = 8) from the graph's minimum vertex —
    * the neighborhood-size profile feature engineering extracts per
    * entity (how many vertices are reachable within 1, 2, … hops). Exact
    * breadth-first frontier expansion: each round joins the CURRENT
    * frontier (never the full visited set) against the adjacency list,
    * anti-joins the visited set, and pins the result — K bounded rounds
    * by construction (the fixture giant's eccentricity is ≥ 40, so an
    * unbounded BFS would be a 40-round driver loop; the K-hop profile is
    * the bounded question a feature pipeline actually asks; components
    * as a whole are [[componentsQ]]'s O(log d) job).
    *
    * The oracle replays shortest-hop distances with a recursive CTE
    * capped at the same K — two independent BFS implementations must
    * agree level-for-level.
    */
  def khopQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = 8
    val e = edgesAt(spark, dir, 45)
    val u = e.select($"a".as("v"), $"b".as("w"))
      .union(e.select($"b".as("v"), $"a".as("w")))
      .transform(graft.state.Materialize.pin(_, Policy.Always))
    // loop residency from the adjacency pin's bytes: the K level pins
    // accumulate for the walk's lifetime (the visited union reads all)
    val loop = Policy.loop(u)
    val src = e.agg(min($"a")).head().getLong(0) // one-row bounded probe
    var visited = Seq((src, 0L)).toDF("v", "lvl")
      .transform(graft.state.Materialize.pin(_, loop))
    var frontier = visited
    for (lvl <- 1 to K) {
      val nxt = khopExpand(u, visited, frontier, lvl)
        .transform(graft.state.Materialize.pin(_, loop))
      // visited is a union of ALREADY-pinned level frames — re-pinning
      // it each round re-materialized the cumulative set K times (~2×K
      // eager jobs for a K-hop walk); the lazy union over the level pins
      // serves the anti-join at the same cost (r11)
      visited = visited.unionByName(nxt)
      frontier = nxt
    }
    visited.groupBy($"lvl")
      .agg(count(lit(1)).as("n_vertices"), min($"v").as("first_vertex"))
      .orderBy($"lvl")
  }

  /** One BFS frontier expansion — split out (r15) for the PlanSpec
    * posture pin. The visited set is corpus-scale by hop K on a real
    * ego-net — SHUFFLE_HASH keeps the anti-join off the broadcast path
    * (r14); the frontier ⋈ adjacency join is left UNPINNED on purpose:
    * a small frontier against the full adjacency list is exactly where
    * a broadcast is right, and AQE sizes it per level.
    */
  private[ops] def khopExpand(u: DataFrame, visited: DataFrame,
                              frontier: DataFrame, lvl: Int): DataFrame = {
    import u.sparkSession.implicits._
    frontier.join(u, Seq("v"))
      .select($"w".as("v")).distinct()
      .join(visited.hint("SHUFFLE_HASH"), Seq("v"), "left_anti")
      .withColumn("lvl", lit(lvl.toLong))
  }

  /** Triangle count via DEGREE-ORIENTED wedge closing. Orienting every
    * edge from its lower-(degree, id) endpoint to the higher bounds each
    * vertex's out-degree by O(√m) regardless of how skewed the raw degree
    * distribution is, so the wedge join's fanout is O(m^1.5) spread evenly
    * across keys — the hub vertex that would explode a naive
    * neighbor-pair enumeration at 100 TB becomes a SINK (out-degree small)
    * instead of a wedge center. Each triangle is counted exactly once
    * because orientation by a total order makes the triangle a DAG with
    * one unique source. The oracle counts the same triangles with the
    * plain id-ordered 3-way self-join (the count is orientation-
    * invariant), so the gate proves the optimized form equals the
    * textbook form.
    */
  def trianglesQ(spark: SparkSession, dir: String): DataFrame =
    triangleSummary(spark, edges(spark, dir))

  /** Vertex/edge/triangle counts of an undirected graph given as distinct
    * `(a, b)` edge rows with `a < b`. Separated from the fixture wiring so
    * the orientation-invariance law is testable on handcrafted graphs.
    */
  def triangleSummary(spark: SparkSession, eRaw: DataFrame): DataFrame = {
    import spark.implicits._
    val (e, deg, oriented) = degreeOriented(spark, eRaw)
    val tri = wedgeClose(oriented)
    val nv = deg.agg(count(lit(1)).as("n_vertices"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nt = tri.agg(count(lit(1)).as("n_triangles"))
    nv.crossJoin(ne).crossJoin(nt)
  }

  /** Wedge build + closing semi-join over the (degree,id)-oriented edge
    * list — split out (r15) for the PlanSpec posture pin.
    * SHUFFLE_HASH-pin every side that scales with the CORPUS (r14): the
    * wedge and closing joins build against the full oriented edge list,
    * and AQE happily broadcasts it while the graph sits under the
    * threshold — per-task build cost then grows with the graph and the
    * r14 weak-scaling probe measured the resulting m² cpu (3.2 -> 18.6
    * cpu_sec/MB over 4 -> 64 disjoint replicas). The pinned shape
    * shuffles on the join key instead: per-task build = one partition
    * of the edges, bounded by parallelism, the same posture as the LSH
    * pair joins. Orientation keeps the per-key fanout O(√m), so the
    * shuffle join's skew exposure is already bounded by construction.
    */
  private[ops] def wedgeClose(oriented: DataFrame): DataFrame = {
    import oriented.sparkSession.implicits._
    oriented.as("e1")
      .join(oriented.as("e2").hint("SHUFFLE_HASH"),
            $"e1.src" === $"e2.src" && $"e1.kdst" < $"e2.kdst")
      .select($"e1.dst".as("v"), $"e2.dst".as("w"))
      .join(oriented.as("e3").hint("SHUFFLE_HASH"),
            $"v" === $"e3.src" && $"w" === $"e3.dst", "left_semi")
  }

  /** Shared degree + (degree,id)-oriented edge build for the triangle
    * family — the summary's wedge join and the scale census must measure
    * the SAME orientation or the census predicts a different join.
    *
    * The edge list feeds degree counting, the orientation joins, and the
    * edge census; the oriented list feeds all THREE wedge-join sides.
    * The static plan re-derives each from the raw pair self-join per
    * consumer (49 exchanges, zero ReusedExchange nodes); checkpointing
    * both pins the materialize-once shape a 100 TB triangle job needs
    * rather than relying on AQE's runtime exchange reuse to find it
    * (measured neutral at sf0.1 — AQE was recovering it — but reuse
    * across an AQE re-plan boundary is not guaranteed at scale).
    */
  private def degreeOriented(spark: SparkSession, eRaw: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val e = eRaw.transform(graft.state.Materialize.pin(_, Policy.Always))
    val deg = e.select($"a".as("v")).union(e.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    // loop residency (VERDICT r15 #3): the oriented list is edge-sized
    // and feeds all three wedge-join sides
    val oriented =
      graft.state.Materialize.pin(orientByDegree(e, deg), Policy.loop(e))
    (e, deg, oriented)
  }

  /** The (degree,id) orientation joins — split out (r15) for the
    * PlanSpec posture pin. The degree side is VERTEX-sized
    * (corpus-scale) — same never-broadcast-a-corpus-side pin as the
    * wedge join ([[wedgeClose]]).
    */
  private[ops] def orientByDegree(e: DataFrame, deg: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    // total order k(v) = (degree, id); both branches build the SAME field
    // names so the when/otherwise struct types unify
    val ka = struct($"da".as("d"), $"a".as("i"))
    val kb = struct($"db".as("d"), $"b".as("i"))
    e.join(deg.select($"v".as("a"), $"deg".as("da")).hint("SHUFFLE_HASH"), "a")
      .join(deg.select($"v".as("b"), $"deg".as("db")).hint("SHUFFLE_HASH"), "b")
      .select(
        when(ka < kb, $"a").otherwise($"b").as("src"),
        when(ka < kb, kb).otherwise(ka).as("kdst"))
      .withColumn("dst", $"kdst.i")
  }

  /** Degree/wedge census of the oriented triangle build — the scale
    * telemetry behind the ScaleProbe `triangles` section (VERDICT r11
    * #3). The wedge join's fanout is EXACTLY `Σ_src C(out_deg, 2)` over
    * the (degree,id)-oriented list — counted here from the out-degree
    * census WITHOUT building the join — next to the naive neighbor-pair
    * bound `Σ_v C(deg, 2)` a hub vertex explodes. One row:
    * `max_raw_deg` (the hub the generator planted), `max_out_deg` (what
    * the orientation reduced it to — bounded by ~√(2m) because a vertex
    * keeps an out-edge only toward HIGHER-degree endpoints),
    * `n_wedges` (the oriented join's exact row count), and
    * `naive_pair_bound` (what a per-neighbor-pair enumeration would
    * build). Orientation holds at scale iff n_wedges tracks m^1.5 while
    * naive_pair_bound grows with the hub's square.
    */
  def triangleWedgeCensus(spark: SparkSession, eRaw: DataFrame): DataFrame = {
    import spark.implicits._
    val (_, deg, oriented) = degreeOriented(spark, eRaw)
    // coalesce to zeros on an empty edge frame (max/sum over zero rows
    // yield nulls; sibling triangleSummary's counts yield 0s — callers'
    // head().getLong must not NPE on a degenerate graph)
    val rawSide = deg.agg(
      coalesce(max($"deg"), lit(0L)).as("max_raw_deg"),
      coalesce(expr("sum(deg * (deg - 1) DIV 2)"), lit(0L))
        .as("naive_pair_bound"))
    val outSide = oriented.groupBy($"src").agg(count(lit(1)).as("d"))
      .agg(coalesce(max($"d"), lit(0L)).as("max_out_deg"),
           coalesce(expr("sum(d * (d - 1) DIV 2)"), lit(0L)).as("n_wedges"))
    rawSide.crossJoin(outSide)
      .select($"max_raw_deg", $"max_out_deg", $"n_wedges", $"naive_pair_bound")
  }

  /** Recursive CTE hierarchy walk through the `spark.sql` ENTRY PATH —
    * Spark 4's `WITH RECURSIVE` (one of the last classic SQL surfaces
    * Spark lacked; DuckDB shares the standard spelling). The hierarchy is
    * derived decimal-digit containment over `part` (parent = key DIV 10 —
    * a forest of fan-out-10 trees), and the walk accumulates every
    * (node, ancestor, depth) edge of the transitive closure, reduced to a
    * per-depth census.
    *
    * Scale shape: each recursion level is ONE distributed self-free step
    * (previous level + integer arithmetic — no growing join), the
    * frontier SHRINKS by 10× per level, and depth is log₁₀(maxkey), so
    * the loop count is data-logarithmic. This is the declarative twin of
    * the pointer-doubling loop in [[llm.Dedup.dedupClusters]] — linear
    * chains there need doubling; bounded-depth hierarchies are exactly
    * what engine-level recursion handles well.
    */
  def recursiveAncestors(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(spark, dir)
    spark.sql(
      """WITH RECURSIVE anc(node, anc, depth) AS (
        |  SELECT p_partkey, p_partkey DIV 10, 1 FROM part WHERE p_partkey >= 10
        |  UNION ALL
        |  SELECT node, anc DIV 10, depth + 1 FROM anc WHERE anc >= 10
        |)
        |SELECT depth, COUNT(*) AS n_links, SUM(node) AS sum_node,
        |  SUM(anc) AS sum_anc, MIN(anc) AS min_anc, MAX(anc) AS max_anc
        |FROM anc GROUP BY depth ORDER BY depth""".stripMargin)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles"  -> (trianglesQ _),
    "graph_components" -> (componentsQ _),
    "graph_khop"       -> (khopQ _),
    "graph_pagerank"   -> (pagerankQ _),
    "graph_pagerank_directed" -> (pagerankDirectedQ _),
    "sql_recursive_cte" -> (recursiveAncestors _)
  )

  /** Shared edge CTE text for the iterative-gate oracles (q > 45). */
  private val edgeCte45: String =
    """pairs AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s
      |          FROM lineitem WHERE l_quantity > 45),
      |e AS (SELECT DISTINCT p1.s AS a, p2.s AS b
      |      FROM pairs p1 JOIN pairs p2 ON p1.o = p2.o AND p1.s < p2.s),
      |u AS (SELECT a AS v, b AS w FROM e UNION SELECT b, a FROM e)"""
      .stripMargin

  /** The PageRank oracle replays every iteration as an unrolled CTE
    * chain generated from the SAME [[PrIters]] constant — identical
    * integer micro-unit arithmetic, floor division round for round.
    */
  private val pagerankOracle: String = {
    val base =
      s"""WITH $edgeCte45,
        |ed AS (SELECT v AS w1, w AS w2 FROM u),
        |outw AS (SELECT w1, COUNT(*)::BIGINT AS out_w FROM ed GROUP BY w1),
        |nodes AS (SELECT DISTINCT w1 AS node FROM ed),
        |r0 AS (SELECT node, 1000000::BIGINT AS r FROM nodes)""".stripMargin
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |    (150000 + (850 * COALESCE(s.incoming, 0)) // 1000)::BIGINT AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.w2 AS node, SUM(p.r // o.out_w)::BIGINT AS incoming
         |    FROM ed e JOIN outw o ON e.w1 = o.w1
         |    JOIN r${k - 1} p ON e.w1 = p.node
         |    GROUP BY e.w2) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters\nSELECT node, r FROM r$PrIters ORDER BY r DESC, node LIMIT 50"
  }

  /** Unrolled-CTE twin of [[pagerankDirectedQ]]: directed low→high
    * edges, per-iteration dangling-mass scalar, identical floor
    * arithmetic, residual from the last two iterations.
    */
  private val pagerankDirectedOracle: String = {
    val base =
      s"""WITH $edgeCte45,
        |ed AS MATERIALIZED (SELECT a AS w1, b AS w2 FROM e),
        |outw AS MATERIALIZED (
        |  SELECT w1, COUNT(*)::BIGINT AS out_w FROM ed GROUP BY w1),
        |nodes AS MATERIALIZED (SELECT DISTINCT v FROM
        |  (SELECT w1 AS v FROM ed UNION SELECT w2 FROM ed)),
        |nn AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS n FROM nodes),
        |dang AS MATERIALIZED (SELECT nd.v AS node FROM nodes nd
        |         LEFT JOIN outw o ON nd.v = o.w1 WHERE o.w1 IS NULL),
        |r0 AS MATERIALIZED (SELECT v AS node, 1000000::BIGINT AS r FROM nodes)"""
        .stripMargin
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT nd.v AS node,
         |    (150000 + (850 * (COALESCE(s.incoming, 0) + d.ds)) // 1000)::BIGINT AS r
         |  FROM nodes nd
         |  LEFT JOIN (
         |    SELECT e2.w2 AS node, SUM(p.r // o.out_w)::BIGINT AS incoming
         |    FROM ed e2 JOIN outw o ON e2.w1 = o.w1
         |    JOIN r${k - 1} p ON e2.w1 = p.node
         |    GROUP BY e2.w2) s ON nd.v = s.node
         |  CROSS JOIN (
         |    SELECT (COALESCE(SUM(p.r), 0) // (SELECT n FROM nn))::BIGINT AS ds
         |    FROM dang dg JOIN r${k - 1} p ON dg.node = p.node) d)"""
        .stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT a.node, a.r, abs(a.r - b.r)::BIGINT AS residual
       |FROM r$PrIters a JOIN r${PrIters - 1} b ON a.node = b.node
       |ORDER BY a.r DESC, a.node LIMIT 50""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "graph_pagerank" -> pagerankOracle,
    "graph_pagerank_directed" -> pagerankDirectedOracle,
    // independent method: recursive-CTE min-label reachability must
    // resolve the identical component census
    "graph_components" ->
      s"""WITH $edgeCte45,
        |verts AS (SELECT DISTINCT v FROM u),
        |r AS (
        |  WITH RECURSIVE r(v, lab) AS (
        |    SELECT v, v FROM verts
        |    UNION
        |    SELECT u.w, r.lab FROM r JOIN u ON r.v = u.v WHERE r.lab < u.w
        |  ) SELECT v, MIN(lab) AS lab FROM r GROUP BY v)
        |SELECT lab AS component, COUNT(*)::BIGINT AS n_vertices,
        |  MAX(v) AS max_vertex
        |FROM r GROUP BY lab ORDER BY component""".stripMargin,
    // independent BFS: recursive-CTE shortest-hop capped at the same K
    "graph_khop" ->
      s"""WITH $edgeCte45,
        |src AS (SELECT MIN(a) AS s FROM e),
        |r AS (
        |  WITH RECURSIVE bfs(v, lvl) AS (
        |    SELECT s, 0 FROM src
        |    UNION
        |    SELECT u.w, bfs.lvl + 1 FROM bfs JOIN u ON bfs.v = u.v
        |    WHERE bfs.lvl < 8
        |  ) SELECT v, MIN(lvl) AS lvl FROM bfs GROUP BY v)
        |SELECT lvl::BIGINT AS lvl, COUNT(*)::BIGINT AS n_vertices,
        |  MIN(v) AS first_vertex
        |FROM r GROUP BY lvl ORDER BY lvl""".stripMargin,
    // DuckDB's integer division is `//` where Spark's is DIV; the
    // depth literal starts INT32 in both and stays INT32 through +1
    "sql_recursive_cte" ->
      """WITH RECURSIVE anc(node, anc, depth) AS (
        |  SELECT p_partkey, p_partkey // 10, 1 FROM part WHERE p_partkey >= 10
        |  UNION ALL
        |  SELECT node, anc // 10, depth + 1 FROM anc WHERE anc >= 10
        |)
        |SELECT depth, COUNT(*) AS n_links, SUM(node)::BIGINT AS sum_node,
        |  SUM(anc)::BIGINT AS sum_anc, MIN(anc) AS min_anc, MAX(anc) AS max_anc
        |FROM anc GROUP BY depth ORDER BY depth""".stripMargin,
    "graph_triangles" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS s
        |  FROM lineitem WHERE l_quantity > 25),
        |edges AS (
        |  SELECT DISTINCT p1.s AS a, p2.s AS b
        |  FROM pairs p1 JOIN pairs p2 ON p1.o = p2.o AND p1.s < p2.s),
        |verts AS (SELECT a AS v FROM edges UNION SELECT b FROM edges)
        |SELECT
        |  (SELECT COUNT(*) FROM verts) AS n_vertices,
        |  (SELECT COUNT(*) FROM edges) AS n_edges,
        |  (SELECT COUNT(*) FROM edges e1
        |     JOIN edges e2 ON e2.a = e1.b
        |     JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin
  )
}
