package graft.ops

import graft.SparkSpec

/** Structural laws for the degree-oriented triangle counter: the
  * orientation must count each triangle exactly once, independent of the
  * degree distribution — verified against graphs with KNOWN counts and
  * against the naive id-ordered 3-way self-join.
  */
class GraphSpec extends SparkSpec {

  private def edgeDf(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    // normalize to a < b, dedup — the contract triangleSummary assumes
    es.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .distinct.toDF("a", "b")
  }

  private def naiveTriangles(es: Seq[(Long, Long)]): Long = {
    val e = es.map { case (x, y) => (math.min(x, y), math.max(x, y)) }.distinct.toSet
    val vs = e.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    (for {
      i <- vs; j <- vs if i < j && e((i, j))
      k <- vs if j < k && e((j, k)) && e((i, k))
    } yield 1).size.toLong
  }

  private def count(es: Seq[(Long, Long)]): (Long, Long, Long) = {
    val r = Graph.triangleSummary(spark, edgeDf(es)).head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("K4: 4 vertices, 6 edges, 4 triangles") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(count(k4) === ((4L, 6L, 4L)))
  }

  test("triangle-free path graph counts zero") {
    assert(count(Seq((1L, 2L), (2L, 3L), (3L, 4L)))._3 === 0L)
  }

  test("hub-and-spoke star with one closing rim edge: exactly 1 triangle (skew shape)") {
    // vertex 0 is a hub of degree 9 — the shape degree orientation exists
    // for: the hub must not become a wedge center
    val star = (1L to 9L).map(i => (0L, i)) :+ (1L, 2L)
    assert(count(star) === ((10L, 10L, 1L)))
  }

  test("matches the naive enumeration on a pseudo-random graph") {
    // deterministic LCG so the test is reproducible
    var s = 12345L
    def nxt(n: Long): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; s % n }
    val es = Seq.fill(120)((nxt(25), nxt(25))).filter { case (x, y) => x != y }
    assert(count(es)._3 === naiveTriangles(es))
  }

  test("triangleWedgeCensus matches a driver-side replica of the " +
       "(degree,id) orientation — wedges, out-degree max, naive bound " +
       "(the scale probe's telemetry must predict the join it measures)") {
    var s = 777L
    def nxt(n: Long): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; s % n }
    // hub-skewed: half the edges touch vertex 0
    val es = (Seq.fill(60)((0L, 1 + nxt(24))) ++
              Seq.fill(60)((1 + nxt(24), 1 + nxt(24))))
      .filter { case (x, y) => x != y }
      .map { case (x, y) => (math.min(x, y), math.max(x, y)) }.distinct
    val deg = es.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (v, o) => v -> o.size.toLong }
    // orient each edge toward the larger (degree, id) key
    val keyOrd = Ordering.Tuple2[Long, Long]
    val outDeg = es.groupBy { case (x, y) =>
      if (keyOrd.lt((deg(x), x), (deg(y), y))) x else y
    }.map { case (src, o) => src -> o.size.toLong }
    val expWedges = outDeg.values.map(d => d * (d - 1) / 2).sum
    val expNaive  = deg.values.map(d => d * (d - 1) / 2).sum
    val r = Graph.triangleWedgeCensus(spark, edgeDf(es)).head
    assert(r.getLong(0) === deg.values.max, "max_raw_deg")
    assert(r.getLong(1) === outDeg.values.max, "max_out_deg")
    assert(r.getLong(2) === expWedges, "n_wedges")
    assert(r.getLong(3) === expNaive, "naive_pair_bound")
  }

  test("starComponents: adversarial long chain, cycle, star and forest " +
       "all match a driver-side union-find (the chain is the shape that " +
       "bound the retired min-label propagation to its diameter)") {
    import spark.implicits._
    def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    // ids shuffled so the chain's minimum sits mid-chain, not at an end
    val rnd = new scala.util.Random(42)
    val ids = rnd.shuffle((1L to 2000L).toVector)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    val cycle = (3000L to 3040L).map(i => (i, if (i == 3040L) 3000L else i + 1))
    val star = (4001L to 4050L).map(i => (4000L, i))
    val graphs = Seq(chain, cycle, star, chain ++ cycle ++ star)
    // BOTH paths must agree with the reference: the bounded driver-local
    // union-find fast path (default) AND the distributed star
    // contraction (forced by zeroing the local-edge bound) — the
    // TextRank fast-path/fallback equality contract
    for (localMax <- Seq("200000", "0")) {
      spark.conf.set("spark.graft.cc.localEdgeMax", localMax)
      try graphs.foreach { es =>
        val expected = unionFind(es)
        val got = graft.ops.llm.Dedup
          .starComponents(es.toDF("d1", "d2"))
          .as[(Long, Long)].collect().toMap
        assert(got === expected, s"localEdgeMax=$localMax")
      } finally spark.conf.unset("spark.graft.cc.localEdgeMax")
    }
  }

  test("starComponents: self-loops are inert and a self-loop-ONLY vertex " +
       "is outside the pair graph, identically on both paths (ADVICE r9: " +
       "the coverage denominator must come from the filtered edge frame)") {
    import spark.implicits._
    // (7,7) decorates a real vertex; (99,99) is a vertex with no non-self
    // edge — it must be dropped by BOTH the local union-find fast path
    // and the distributed contraction (whose require() previously counted
    // it and tripped)
    val es = Seq((1L, 2L), (2L, 3L), (7L, 8L), (7L, 7L), (99L, 99L))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    for (localMax <- Seq("200000", "0")) {
      spark.conf.set("spark.graft.cc.localEdgeMax", localMax)
      try {
        val got = graft.ops.llm.Dedup
          .starComponents(es.toDF("d1", "d2"))
          .as[(Long, Long)].collect().toMap
        assert(got === expected, s"localEdgeMax=$localMax")
      } finally spark.conf.unset("spark.graft.cc.localEdgeMax")
    }
  }

  test("starComponents: a malformed localEdgeMax fails naming the key " +
       "and the value, not a bare NumberFormatException") {
    import spark.implicits._
    val e = withConf("spark.graft.cc.localEdgeMax" -> "lots") {
      intercept[IllegalArgumentException] {
        graft.ops.llm.Dedup.starComponents(Seq((1L, 2L)).toDF("d1", "d2"))
      }
    }
    assert(e.getMessage.contains("spark.graft.cc.localEdgeMax"), e.getMessage)
    assert(e.getMessage.contains("lots"), e.getMessage)
  }

  test("directed PageRank with dangling mass matches a driver-side " +
       "integer replica exactly (ranks AND residuals), and the dangling " +
       "redistribution term provably changes the answer") {
    import spark.implicits._
    // chain into a hub with two dangling sinks: 1→2, 1→3, 2→4, 3→4
    // (4 is dangling), plus isolated-pair 5→6 (6 dangling)
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (5L, 6L))
    def replica(edges: Seq[(Long, Long)], iters: Int)
        : (Map[Long, Long], Map[Long, Long]) = {
      val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val n = nodes.length.toLong
      val out = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      var r = nodes.map(_ -> 1000000L).toMap
      var prev = r
      for (_ <- 1 to iters) {
        prev = r
        val d = nodes.filterNot(out.contains).map(r).sum
        val inc = edges.groupBy(_._2).view.mapValues(
          _.map { case (u, _) => r(u) / out(u) }.sum).toMap
        r = nodes.map(v =>
          v -> (150000L + (850L * (inc.getOrElse(v, 0L) + d / n)) / 1000L)).toMap
      }
      (r, r.map { case (k, v) => k -> math.abs(v - prev(k)) })
    }
    val (expR, expRes) = replica(es, 10)
    val got = Graph.pagerankDirectedFrom(es.toDF("a", "b"))
      .as[(Long, Long, Long)].collect()
    assert(got.map(r => r._1 -> r._2).toMap === expR)
    assert(got.map(r => r._1 -> r._3).toMap === expRes)
    // sanity: zeroing the dangling term changes node 1's rank (it has no
    // in-edges, so WITHOUT redistribution it would pin at the 150000
    // floor) — the term is load-bearing, not decorative
    assert(expR(1L) > 150000L)
  }

  test("pagerankFrom is bit-identical at every pin cadence (the " +
       "cadence changes WHEN lineage is truncated, never the integer " +
       "arithmetic) and rejects cadence 0") {
    import spark.implicits._
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
                 (5L, 4L), (6L, 1L))
    def at(c: Int): Seq[(Long, Long)] =
      Graph.pagerankFrom(es.toDF("a", "b"), cadence = c)
        .as[(Long, Long)].collect().toSeq.sorted
    val Seq(c1, c2, c5) = Seq(1, 2, 5).map(at)
    assert(c1 === c5 && c2 === c5 && c5.nonEmpty)
    val e = intercept[IllegalArgumentException] { at(0) }
    assert(e.getMessage.contains("cadence"))
  }

  test("the graph family is bit-identical across pin modes — local, " +
       "reliable, and the r16 auto loop-mode escape (VERDICT r15 #3: " +
       "spark.graft.iterative.reliablePinBytes=1 upgrades the loops' " +
       "pins to checkpoint files with the session mode still local); " +
       "only residency changes, never the arithmetic") {
    import spark.implicits._
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
                 (5L, 4L), (6L, 1L))
    def under[T](confs: (String, String)*)(body: => T): T = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val modes: Seq[Seq[(String, String)]] = Seq(
      Seq.empty, // local default (tiny frame stays under the threshold)
      Seq(graft.state.Materialize.ModeKey -> "reliable"),
      Seq(graft.state.Materialize.AutoReliableBytesKey -> "1"))
    val undir = modes.map(m => under(m: _*)(
      Graph.pagerankFrom(es.toDF("a", "b"))
        .as[(Long, Long)].collect().toSeq.sorted))
    assert(undir.distinct.size === 1 && undir.head.nonEmpty, s"undir: $undir")
    val dir = modes.map(m => under(m: _*)(
      Graph.pagerankDirectedFrom(es.toDF("a", "b"))
        .as[(Long, Long, Long)].collect().toSeq.sorted))
    assert(dir.distinct.size === 1 && dir.head.nonEmpty, s"dir: $dir")
    val tri = modes.map(m => under(m: _*)(count(es)))
    assert(tri.distinct.size === 1, s"tri: $tri")
    // distributed star contraction (localEdgeMax=0 forces it) through
    // the same three modes
    val cc = modes.map(m => under(
        (m :+ ("spark.graft.cc.localEdgeMax" -> "0")): _*)(
      graft.ops.llm.Dedup.starComponents(es.toDF("d1", "d2"))
        .as[(Long, Long)].collect().toSeq.sorted))
    assert(cc.distinct.size === 1 && cc.head.nonEmpty, s"cc: $cc")
  }

  test("pagerankDirectedFrom fails loudly on an empty edge frame (ANSI " +
       "mode would otherwise surface it as a DivideByZero in the " +
       "dangling share)") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      Graph.pagerankDirectedFrom(
        Seq.empty[(Long, Long)].toDF("a", "b"))
    }
    assert(e.getMessage.contains("empty edge frame"))
    // ADVICE r15: the throw path must release the pins it already
    // created (edge + node frames), or a retrying caller under
    // materialize=reliable accrues orphan checkpoint files per attempt.
    // unpersist is async (blocking=false) — poll briefly.
    def leaked() = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (leaked().nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked().isEmpty,
      s"empty-graph throw leaked pins: RDD ids ${leaked().toSeq.sorted}")
  }

  test("dedupClusters matches GraphX ConnectedComponents on the fixture " +
       "near-dup graph (independent engine cross-check)") {
    // GraphX CC converges to the minimum vertex id per component — the
    // same representative our min-label propagation selects, so the two
    // must agree EXACTLY on both membership and representative.
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val ours = graft.ops.llm.Dedup.dedupClusters(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(ours.nonEmpty, "fixture produced no near-dup clusters")
    val edges = graft.ops.llm.Dedup.nearDupPairs(spark, dir)
      .select($"d1", $"d2").as[(Long, Long)].rdd
    val cc = org.apache.spark.graphx.lib.ConnectedComponents
      .run(org.apache.spark.graphx.Graph.fromEdgeTuples(edges, 0))
      .vertices.collect().toMap
    assert(ours.keySet === cc.keySet)
    ours.foreach { case (doc, rep) => assert(cc(doc) === rep, s"doc $doc") }
  }
}
