package graft.ops.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.QueryPack
import graft.state.Materialize.Policy

/** Similarity search over the `embeddings` fixture (SURVEY.md §2 C38):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * (sign-LSH) bucketed variant as the sublinear scale path.
  *
  * Cross-engine determinism (the whole pack hash-matches DuckDB):
  *  - Every cosine is computed as an explicit LEFT-TO-RIGHT double fold —
  *    Spark `aggregate(zip_with(a, b, *), 0.0, +)` ≡ DuckDB
  *    `list_reduce(list_transform(range(1,65), k -> a[k]*b[k]), +)` —
  *    because (0.0 + x) = x exactly, both engines perform the identical
  *    IEEE-754 operation sequence, so similarity values are bit-identical
  *    and need no rounding or tolerance.
  *  - The LSH hyperplanes are not random at all: component (t, b, d) is
  *    md5-derived (`hex60(md5("t_b_d")) / 2^59 − 1 ∈ [−1, 1)`), so both
  *    engines build the SAME planes, the SAME buckets, and the SAME
  *    candidate sets — the oracle replays the full LSH pipeline in SQL.
  *
  * Scale notes (100 TB posture): the top-k query broadcasts the (small)
  * query set against the corpus — one pass over the vectors, per-partition
  * top-k via the rank window, no corpus self-join. The LSH variant's
  * candidate join shuffles on (table, bucket); candidate verification cost
  * is |candidates|, not |corpus|² — the point of the structure. At real
  * scale the bucket map is built once and reused across query batches.
  */
object Similarity extends QueryPack {

  private val Tables_ = 8  // LSH tables
  private val Bits    = 8  // hyperplanes (bits) per table
  private val Dim     = 64

  /** The dot product is the native codegen'd
    * [[graft.functions.DotProduct]] expression (`graft_dot`): a strict
    * left-to-right accumulation — the SAME IEEE-754 addition chain as
    * DuckDB's `list_reduce` (since 0.0 + x₀ = x₀ exactly), so similarity
    * values are bit-identical across engines. Alternatives measured: the
    * `aggregate(zip_with(…))` fold allocates a 64-element array per row
    * (~10µs/pair); an unrolled 64-term SQL sum falls out of whole-stage
    * codegen and is 3× slower still.
    */
  private[llm] def dotFold(a: String, b: String): String = s"graft_dot($a, $b)"

  /** Normalized corpus: vec_id, v (64 doubles), nrm. Registers the
    * engine's native functions on the session (idempotent).
    */
  private[llm] def corpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    Tables.embeddings(spark, dir)
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
  }

  private val dotExpr = dotFold("vq", "vc")

  /** C38 brute-force exact cosine top-k: for each query vector (vec_id <
    * 10), the 5 nearest corpus vectors by cosine, ties broken by id.
    */
  def annCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = corpus(spark, dir)
    val q = n.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("vq"), $"nrm".as("nq"))
    val c = n.select($"vec_id".as("n_id"), $"v".as("vc"), $"nrm".as("nc"))
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    c.join(broadcast(q), $"n_id" =!= $"q_id")
      .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 5)
      .select($"q_id", $"rk", $"n_id", $"sim")
      .orderBy($"q_id", $"rk")
  }

  /** C38 annotate-top-k over ANY `(vec_id, v, nrm)` corpus — the YAML
    * `ann_topk` processor core: each vector's k most-similar OTHER
    * vectors within its own IVF cell. Candidates come from the SAME
    * cell-shuffle pair engine the dedup gates verify
    * ([[Dedup.embeddingPairs]], sameCellOnly — candidate volume
    * O(n²/K) spread over K cells, never the full n² brute force; the
    * standard IVF recall trade: a cross-cell neighbor is missed); the
    * annotation is one symmetric union + rank window + sorted collect.
    * Output: `(vec_id, topk: array<struct<rk, n_id, sim>>)` with rk
    * 1..k by sim desc, ties to the lowest n_id — the array order is
    * deterministic (sorted by rk), so downstream exact compares hold.
    * Vectors with no same-cell neighbor ≥ thr don't appear; callers
    * left-join and coalesce to the empty array.
    *
    * `nprobe >= 2` (VERDICT r12 #1) widens each row's QUERY side to its
    * top-nprobe cells by centroid dot via the directed
    * [[Dedup.embeddingProbeEdges]] engine — the annotate form of
    * [[annIvfMultiProbe]]'s recall fix (probe order and cosines
    * bit-identical to that gate), still exactly one flatMapGroups
    * reduce. nprobe = 1 keeps the symmetric pair engine untouched (the
    * two are law-tested equal at 1).
    */
  private[graft] def annTopKWithin(corpus: DataFrame, k: Int,
                                   thr: Double, nprobe: Int = 1): DataFrame = {
    import corpus.sparkSession.implicits._
    val sym = if (nprobe >= 2)
      Dedup.embeddingProbeEdges(corpus, thr, nprobe)
        .select($"q_id".as("vec_id"), $"n_id", $"cos_sim")
    else {
      val pairs = Dedup.embeddingPairs(corpus, thr, sameCellOnly = true)
      // symmetrize via ONE explode, not a self-union: union references the
      // pair frame twice, and ReuseExchange dedups only the shuffle write —
      // the O(n²/K) pairwise-cosine reduce inside embeddingPairs would
      // execute twice (self-review r12)
      pairs.select(explode(array(
          struct($"i".as("vec_id"), $"j".as("n_id"), $"cos_sim"),
          struct($"j".as("vec_id"), $"i".as("n_id"), $"cos_sim"))).as("p"))
        .select($"p.vec_id".as("vec_id"), $"p.n_id".as("n_id"),
                $"p.cos_sim".as("cos_sim"))
    }
    val w = Window.partitionBy($"vec_id").orderBy($"cos_sim".desc, $"n_id")
    sym.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= k)
      .groupBy($"vec_id")
      .agg(sort_array(collect_list(
        struct($"rk", $"n_id", $"cos_sim".as("sim")))).as("topk"))
  }

  /** Contrastive HARD-NEGATIVE mining — the label-constrained form of
    * [[annCosineTopK]] and the pair-construction step of embedding-model
    * training (DPR/SimCSE-style): for each query vector, the top-5 most
    * cosine-similar vectors whose LABEL DIFFERS from the query's (the
    * hard negatives — near in embedding space, wrong by supervision),
    * plus the best same-label similarity (`pos_best`) and the margin
    * `pos_best − sim` — the quantity a contrastive loss actually
    * optimizes, and the mining threshold a training pipeline filters on
    * (smallest margin = hardest negative; a NEGATIVE margin flags a
    * negative ranked above every positive, the label-noise signal).
    *
    * Same determinism machinery as the ANN family: `graft_dot`
    * left-to-right fold for sim (bit-identical to DuckDB's
    * `list_reduce`), ties broken by id, `max` for pos_best
    * (order-independent), margin a single IEEE subtraction of two
    * deterministic doubles. A query whose label has no other member
    * yields null pos_best/margin in BOTH engines (left join).
    *
    * Scale shape: the gate is the exact brute-force form (10 broadcast
    * queries × corpus scan — the oracle's replayable shape); at corpus
    * scale the label filter composes unchanged with the IVF candidate
    * pruning of [[annIvf]]/[[annIvfMultiProbe]] (mine within the
    * probed cells only — the standard recall trade), because the
    * constraint is a per-row predicate on the candidate stream, not a
    * new join.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    hardNegativesFrom(Tables.embeddings(spark, dir)
      .select($"vec_id", $"label",
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))")))
  }

  /** [[hardNegatives]] over any (vec_id, label, v, nrm) frame — the
    * ScaleProbe entry.
    */
  private[llm] def hardNegativesFrom(n: DataFrame): DataFrame = {
    import n.sparkSession.implicits._
    val q = n.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
              $"v".as("vq"), $"nrm".as("nq"))
    val c = n.select($"vec_id".as("n_id"), $"label".as("n_label"),
                     $"v".as("vc"), $"nrm".as("nc"))
    val sims = c.join(broadcast(q), $"n_id" =!= $"q_id")
      .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    val negs = sims.where($"n_label" =!= $"q_label")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 5)
    val posBest = sims.where($"n_label" === $"q_label")
      .groupBy($"q_id").agg(max($"sim").as("pos_best"))
    negs.join(posBest, Seq("q_id"), "left_outer")
      .select($"q_id", $"rk", $"n_id", $"n_label".cast("long").as("n_label"),
              $"sim", $"pos_best", ($"pos_best" - $"sim").as("margin"))
      .orderBy($"q_id", $"rk")
  }

  /** C38 scale path: sign-LSH bucketing (8 tables × 8 md5-derived
    * hyperplanes) → candidate set per query → exact re-rank of candidates
    * only. Output per query: candidate-set size, best candidate similarity,
    * and whether the true nearest neighbor was among the candidates (the
    * recall@1 signal — the oracle replays the identical LSH, so the gate
    * checks the pipeline, not a lucky recall).
    */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = corpus(spark, dir)
    // Deterministic hyperplanes: one row per (table, bit) with a 64-dim
    // weight vector derived from md5 — reproducible in any engine.
    val planes = spark.range(Tables_.toLong * Bits).select(
      expr(s"cast(id div $Bits as int)").as("t"),
      expr(s"cast(id % $Bits as int)").as("b"),
      expr(s"""transform(sequence(0, 63), d ->
           cast(${CrossHash.hex60(
             s"""concat(cast(id div $Bits as string), '_',
                        cast(id % $Bits as string), '_', cast(d as string))""")} as double)
           / 576460752303423488.0 - 1.0)""").as("w"))
    // Bucket id per (vector, table): 8 sign bits packed into a long.
    // Pinned (r17): buckets feeds BOTH the query and candidate sides of
    // the banding join — unpinned, the sign-bit tower (Tables·Bits = 16
    // 64-dim dots per corpus vector) ran twice per query.
    val buckets = graft.state.Materialize.pin(n.crossJoin(broadcast(planes))
      .withColumn("bitval", when(
        expr(dotFold("v", "w")) >= 0,
        expr("shiftleft(1L, b)")).otherwise(0L))
      .groupBy($"vec_id", $"t")
      .agg(sum($"bitval").as("bucket")), Policy.IfLarge)
    val qb = buckets.filter($"vec_id" < 10).select($"vec_id".as("q_id"), $"t", $"bucket")
    val cand = qb
      .join(buckets.select($"vec_id".as("c_id"), $"t", $"bucket"), Seq("t", "bucket"))
      .filter($"c_id" =!= $"q_id")
      .select($"q_id", $"c_id").distinct()
    // Exact re-rank over candidates only.
    val sims = cand
      .join(n.select($"vec_id".as("q_id"), $"v".as("vq"), $"nrm".as("nq")), Seq("q_id"))
      .join(n.select($"vec_id".as("c_id"), $"v".as("vc"), $"nrm".as("nc")), Seq("c_id"))
      .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_cand"), max($"sim").as("best_cand_sim"))
    // Ground truth NN per query (brute force over the small query set).
    val q = n.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("vq"), $"nrm".as("nq"))
    val nn = n.select($"vec_id".as("c_id"), $"v".as("vc"), $"nrm".as("nc"))
      .join(broadcast(q), $"c_id" =!= $"q_id")
      .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
      .groupBy($"q_id").agg(max($"sim").as("nn_sim"))
    nn.join(sims, Seq("q_id"), "left_outer")
      .select($"q_id",
        coalesce($"n_cand", lit(0L)).as("n_cand"),
        coalesce($"best_cand_sim", lit(-2.0)).as("best_cand_sim"),
        (coalesce($"best_cand_sim", lit(-2.0)) === $"nn_sim").as("found_nn"))
      .orderBy($"q_id")
  }

  /** C38 IVF scale path: restrict each query's search to its coarse-
    * quantizer cell ([[Dedup.withIvfCell]]) and take the top-3 neighbors
    * within it — the production single-probe IVF search. The oracle
    * REPLAYS the identical quantizer and restriction in SQL, so the gate
    * checks the pipeline deterministically (with near-orthogonal random
    * fixture vectors, recall vs brute force is a property of the data,
    * not of the implementation — same stance as [[annLshBuckets]]).
    *
    * Scale shape: the corpus shuffles once on cell id; each query probes
    * ONE cell, so the candidate join is |queries| × cell-size, never
    * |corpus|². More probes (nearest-P cells) widen recall without
    * changing this plumbing.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Dedup.withIvfCell(corpus(spark, dir))
    val q = cells.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("vq"), $"nrm".as("nq"), $"cell")
    val c = cells.select($"vec_id".as("n_id"), $"v".as("vc"), $"nrm".as("nc"), $"cell")
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    c.join(broadcast(q), Seq("cell"))
      .filter($"n_id" =!= $"q_id")
      .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"n_id", $"sim")
      .orderBy($"q_id", $"rk")
  }

  /** Per-label embedding centroids (class prototypes / cluster means —
    * the aggregation behind k-means steps, label prototypes, and
    * centroid-based retrieval). Physical form: posexplode to
    * (label, dim, value) then ONE hash aggregate on (label, dim) with
    * decimal-exact accumulation — mergeable partials, no vector buffering,
    * dimension count bounds the explosion factor. Emitting per-dimension
    * rows (not an array column) keeps the gate sortable.
    */
  def centroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg(count(lit(1)).as("n"), graft.Det.davg($"x".cast("double")).as("c"))
      .filter($"pos" < 8) // 8 dims × labels keeps the gate output compact
      .orderBy($"label", $"pos")
  }

  /** One full Lloyd (k-means) refinement over the embedding corpus:
    * assign each vector to its nearest [[Dedup.withIvfCell]] seed cell,
    * recompute each cell's centroid as the per-dimension mean, then
    * REASSIGN every vector against the refined centroids — the iterative
    * clustering step behind semantic dedup / IVF index training. The gate
    * output is the refined cluster census plus the movement count (how
    * many vectors changed cells — proof an actual Lloyd step ran, not a
    * re-labeling) and one centroid coordinate.
    *
    * Scale: assignment is a K-row broadcast against a linear scan;
    * the update is one explode + a (cell, dim)-keyed hash aggregate with
    * map-side partials (key space K×dim, independent of corpus size);
    * reassignment is the same broadcast pattern with the learned
    * centroids. Iterating T times multiplies cost by T, not by data —
    * the loop never returns data to the driver.
    *
    * Determinism: means are decimal-exact ([[graft.Det]], the
    * llm_centroids-proven path); dots are [[graft.functions.DotProduct]]
    * left-folds, bit-identical to DuckDB's list_reduce; the argmax is a
    * row_number over (dot DESC, cell) — totally ordered.
    */
  def kmeansRefine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells0 = Dedup.withIvfCell(corpus(spark, dir))
      .select($"vec_id", $"v", $"cell".as("c0"))
    kmeansCensus(lloydStep(cells0, "c0"))
  }

  /** One Lloyd step over `(vec_id, v, <prevCol>)`: centroid update
    * (decimal-exact per-dim means) + broadcast reassignment. The step
    * input is PINNED (r17): it feeds both halves, and composed
    * iterations otherwise re-derive every predecessor per consumer
    * (2^T blowup). The pin is a distributed materialization — no data
    * ever returns to the driver; iterations compose at linear cost,
    * the Graph loop-pin posture. Returns
    * `(vec_id, v, <prevCol>, cell, m0)`.
    */
  private def lloydStep(cells0: DataFrame, prevCol: String): DataFrame = {
    import cells0.sparkSession.implicits._
    // Pin the step input: it feeds BOTH the centroid update and the
    // reassignment side below, and under composition (kmeansTwoStep)
    // each unpinned step re-derives its predecessor per consumer — the
    // r17 plan capture showed the cell-assignment subtree ×4. Pinning
    // makes T composed iterations cost T× one step (the Graph loop-pin
    // pattern); the materialization is distributed (localCheckpoint) —
    // the loop still never returns data to the driver.
    val cells = graft.state.Materialize.pin(cells0, Policy.IfLarge)
    val cent = cells
      .select(col(prevCol).as("cell"), posexplode($"v").as(Seq("d", "x")))
      .groupBy($"cell", $"d")
      .agg(graft.Det.davg($"x").as("m"))
      .groupBy($"cell")
      .agg(collect_list(struct($"d", $"m")).as("dm"))
      .select($"cell", expr("transform(array_sort(dm), s -> s.m)").as("carr"))
    val w = Window.partitionBy($"vec_id").orderBy($"dot".desc, $"cell")
    cells.select($"vec_id", $"v", col(prevCol))
      .crossJoin(broadcast(cent))
      .withColumn("dot", call_function("graft_dot", $"v", $"carr"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"vec_id", $"v", col(prevCol),
              $"cell", element_at($"carr", 1).as("m0"))
  }

  /** Refined-cluster census over a [[lloydStep]] output: sizes, id range,
    * movement count vs the step's previous assignment, one coordinate.
    */
  private def kmeansCensus(stepped: DataFrame): DataFrame = {
    import stepped.sparkSession.implicits._
    val prev = stepped.columns.filter(c =>
      !Set("vec_id", "v", "cell", "m0").contains(c)).head
    stepped
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_vecs"),
           sum(when(col(prev) =!= $"cell", 1L).otherwise(0L)).as("n_moved"),
           min($"vec_id").as("first_vec"), max($"vec_id").as("last_vec"),
           min($"m0").as("m_dim0"))
      .orderBy($"cell")
  }

  /** TWO composed Lloyd iterations (each step pins its input, so the
    * second costs one step, not a re-derivation of the first): the
    * second step's movement census must shrink as clustering converges
    * — the signal an IVF-index training job watches.
    */
  def kmeansTwoStep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells0 = Dedup.withIvfCell(corpus(spark, dir))
      .select($"vec_id", $"v", $"cell".as("c0"))
    val step1 = lloydStep(cells0, "c0")
      .select($"vec_id", $"v", $"cell".as("c1"))
    kmeansCensus(lloydStep(step1, "c1"))
  }

  // ---- Product quantization (PQ) — the ANN memory-scale path ----------
  //
  // LSH shrinks the CANDIDATE SET; IVF shrinks the SEARCH REGION; PQ
  // shrinks the VECTORS: each 64-dim float vector is stored as PqM=8
  // one-byte-ish codes (one per 8-dim subspace), and queries score
  // against codes via a per-query lookup table (asymmetric distance
  // computation, ADC) without ever touching raw corpus vectors — the
  // FAISS-style IVF+PQ posture for 100 TB embedding search, where raw
  // vectors (512 B/row) cannot live in executor memory but codes
  // (8 B/row) can. Jégou et al., "Product Quantization for Nearest
  // Neighbor Search", TPAMI 2011.
  //
  // Determinism (the gates hash-match DuckDB): seed codebooks are
  // md5-derived ([[CrossHash.hex60]], the llm_ann_lsh hyperplane
  // pattern); the one Lloyd refinement uses decimal-exact per-dimension
  // means ([[graft.Det]], the llm_kmeans-proven path); every squared-L2
  // distance is `graft_dot(diff, diff)` over a `zip_with` difference —
  // the same strict left fold as DuckDB's no-init `list_reduce` (0.0+x₀
  // = x₀ exactly); argmins are row_number over (d2 ASC, code ASC); the
  // per-query ADC sum folds sub-distances in subspace order via
  // collect_list + array_sort, never a float hash-aggregate.

  private val PqM  = 8 // subspaces
  private val PqSd = Dim / PqM // dims per subspace
  private val PqKs = 4 // codes per subspace codebook

  /** Subvector view: one row per (vec_id, sub) with the 8-dim slice.
    * The subspace split is free column arithmetic — no shuffle. `keep`
    * names row-level columns to carry through (e.g. the IVF `cell`) so
    * downstream composition never needs a join back to the corpus.
    */
  private def pqParts(n: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    import n.sparkSession.implicits._
    val kept = keep.map(col)
    n.select($"vec_id" +: kept :+
        explode(expr(s"sequence(0, ${PqM - 1})")).as("sub") :+ $"v": _*)
      .select($"vec_id" +: kept :+ $"sub" :+
        expr(s"slice(v, sub * $PqSd + 1, $PqSd)").as("sv"): _*)
  }

  /** Deterministic seed codebooks: PqM × PqKs entries, component
    * (sub, code, d) md5-derived into [−1, 1) exactly like the LSH
    * hyperplanes — both engines build the SAME seeds.
    */
  private def pqSeeds(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(PqM.toLong * PqKs).select(
      expr(s"cast(id div $PqKs as int)").as("sub"),
      expr(s"cast(id % $PqKs as int)").as("code"),
      expr(s"""transform(sequence(0, ${PqSd - 1}), d ->
           cast(${CrossHash.hex60(
             s"""concat('pq_', cast(id div $PqKs as string), '_',
                        cast(id % $PqKs as string), '_', cast(d as string))""")}
             as double)
           / 576460752303423488.0 - 1.0)""").as("w"))
  }

  /** Squared L2 between two same-length arrays as the bit-identical
    * cross-engine fold: difference via zip_with, then the native
    * [[graft.functions.DotProduct]] left fold of its squares.
    */
  private def pqD2(df: DataFrame, a: String, b: String, out: String): DataFrame =
    df.withColumn("_dd", expr(s"zip_with($a, $b, (x, y) -> x - y)"))
      .withColumn(out, call_function("graft_dot", col("_dd"), col("_dd")))
      .drop("_dd")

  /** Train (one Lloyd refinement over md5 seeds) + encode: returns
    * (book, enc) where book = (sub, code, carr) refined codebooks and
    * enc = (vec_id, sub, c0, code, m0) — c0 the seed assignment, code
    * the refined one (c0 ≠ code rows prove a real training step ran).
    *
    * Scale shape: codebooks are K×M×Sd values (a few KB) — broadcast
    * both ways; assignment is a per-partition scan with a (vec, sub)-
    * local argmin window; the codebook update is ONE (sub, code, d)-
    * keyed hash aggregate with map-side decimal partials (key space
    * M·Ks·Sd, independent of corpus size). Nothing driver-side, no
    * corpus shuffle except the posexplode aggregate — the same shapes
    * as [[lloydStep]], ×M independent subproblems.
    */
  private[llm] def pqModel(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    pqModelFrom(corpus(spark, dir))

  /** [[pqModel]] over any (vec_id, v) corpus — also the `ScaleProbe`
    * entry.
    */
  private[llm] def pqModelFrom(n: DataFrame, keep: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val spark = n.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val kept = keep.map(col)
    val parts = pqParts(n, keep)
    val byPos = Window.partitionBy($"vec_id", $"sub").orderBy($"d2".asc, $"code")
    // The seed assignment fans out into BOTH the codebook update and the
    // re-encode (and, in the ADC gates, the plans above it run twice more
    // for the query table) — materialize it once, the winnowPairs lesson:
    // without this Catalyst re-derives the explode + argmin-window subtree
    // per consumer, and lineage truncation lets AQE plan the downstream
    // joins from observed sizes.
    val assign0 = pqD2(parts.join(broadcast(pqSeeds(spark)), Seq("sub")), "sv", "w", "d2")
      .withColumn("rn", row_number().over(byPos)).where($"rn" === 1)
      .select($"vec_id" +: kept :+ $"sub" :+ $"sv" :+ $"code".as("c0"): _*)
      .transform(graft.state.Materialize.pin(_, Policy.Always))
    // book is EXACTLY M·Ks = 32 rows by operator definition (the
    // codebook's size is a constant of the quantizer, independent of
    // corpus scale) but has TWO consumers (the re-encode here and the
    // ADC query table) — lazily shared, each consumer re-ran the full
    // codebook-update aggregate over the corpus-sized assign0 pin.
    // Bounded driver probe (the selectDfCap / BPE-argmax / TextRank
    // precedent): collect the 32 rows once and rebuild them as a local
    // relation — one aggregate pass, no materialization barrier, and
    // the broadcast builds from literals instead of a scan job. (A pin
    // here measured +0.4–0.6s of pure job overhead on the ADC gates.)
    val book = assign0
      .select($"sub", $"c0", posexplode($"sv").as(Seq("d", "x")))
      .groupBy($"sub", $"c0", $"d")
      .agg(graft.Det.davg($"x").as("m"))
      .groupBy($"sub", $"c0")
      .agg(collect_list(struct($"d", $"m")).as("dm"))
      .select($"sub", $"c0".as("code"),
        expr("transform(array_sort(dm), s -> s.m)").as("carr"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .toDF("sub", "code", "carr")
    val enc = pqD2(assign0.join(broadcast(book), Seq("sub")), "sv", "carr", "d2")
      .withColumn("rn", row_number().over(byPos)).where($"rn" === 1)
      .select($"vec_id" +: kept :+ $"sub" :+ $"c0" :+ $"code" :+
        element_at($"carr", 1).as("m0"): _*)
    (book, enc)
  }

  /** PQ training census gate: per (sub, code) — members, how many
    * vectors the refinement moved off their seed code (the proof a real
    * Lloyd step ran), id range, first refined-centroid coordinate.
    */
  def pqTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, enc) = pqModel(spark, dir)
    enc.groupBy($"sub", $"code")
      .agg(count(lit(1)).as("n_vecs"),
           sum(when($"c0" =!= $"code", 1L).otherwise(0L)).as("n_moved"),
           min($"vec_id").as("first_vec"), max($"vec_id").as("last_vec"),
           min($"m0").as("m_dim0"))
      .orderBy($"sub", $"code")
  }

  /** PQ asymmetric-distance (ADC) top-k gate: each query (vec_id < 10)
    * precomputes its M×Ks table of exact subspace distances to every
    * codebook entry, then every corpus vector's approximate distance is
    * the table-lookup sum over its M codes — top-3 by (distance, id).
    *
    * Scale shape — the reason PQ exists: query time touches ONLY the
    * code frame (M small ints per corpus row; the raw vectors appear
    * nowhere in the scoring plan) plus a broadcast |Q|·M·Ks lookup
    * table; scoring is one scan + one (q, vec)-keyed aggregate of
    * exactly M rows per pair. Composes with [[annIvf]]: restrict the
    * scan to the query's IVF cell and the same plan runs on 1/cells of
    * the codes.
    */
  def pqAdc(spark: SparkSession, dir: String): DataFrame =
    pqAdcFrom(corpus(spark, dir))

  /** [[pqAdc]] over any (vec_id, v) corpus — also the `ScaleProbe`
    * entry.
    */
  private[llm] def pqAdcFrom(n: DataFrame): DataFrame = {
    val spark = n.sparkSession
    import spark.implicits._
    val (book, enc) = pqModelFrom(n)
    val qd = pqD2(
        pqParts(n.filter($"vec_id" < 10))
          .withColumnRenamed("vec_id", "q_id")
          .join(broadcast(book), Seq("sub")),
        "sv", "carr", "dsub")
      .select($"q_id", $"sub", $"code", $"dsub")
    val byAdc = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id")
    enc.select($"vec_id".as("n_id"), $"sub", $"code")
      .join(broadcast(qd), Seq("sub", "code"))
      .where($"n_id" =!= $"q_id")
      .groupBy($"q_id", $"n_id")
      .agg(collect_list(struct($"sub", $"dsub")).as("sd"))
      .select($"q_id", $"n_id",
        expr("""aggregate(transform(array_sort(sd), s -> s.dsub),
                cast(0 as double), (acc, x) -> acc + x)""").as("adc"))
      .withColumn("rk", row_number().over(byAdc).cast("long"))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"n_id", $"adc")
      .orderBy($"q_id", $"rk")
  }

  /** IVF + PQ composed — the full FAISS index architecture in one plan:
    * the coarse quantizer ([[Dedup.withIvfCell]]) restricts each query's
    * scan to its cell's inverted list, and PQ codes + the broadcast ADC
    * table score the survivors. Per query the work is
    * (cell-size) · M table lookups over 8-byte codes — at 100 TB this is
    * the difference between scanning 100 TB of floats and ~1/cells of a
    * few-hundred-GB code table. The candidate restriction is the join key
    * itself ((sub, code, cell) against the query's cell) — no post-filter.
    */
  def pqIvfAdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The IVF cell is column arithmetic over the vector ([[Dedup
    // .withIvfCell]] — argmax against literal centroids), so it rides
    // the PQ pipeline as a carried column: NO join back to the corpus
    // anywhere (an id-keyed cells join here would tempt the optimizer
    // into broadcasting a corpus-derived frame — the exact anti-pattern
    // this operator exists to avoid at 100 TB).
    val n = Dedup.withIvfCell(corpus(spark, dir))
    val (book, enc) = pqModelFrom(n, keep = Seq("cell"))
    val qd = pqD2(
        pqParts(n.filter($"vec_id" < 10), keep = Seq("cell"))
          .withColumnRenamed("vec_id", "q_id")
          .join(broadcast(book), Seq("sub")),
        "sv", "carr", "dsub")
      .select($"q_id", $"sub", $"code", $"cell", $"dsub")
    val byAdc = Window.partitionBy($"q_id").orderBy($"adc".asc, $"n_id")
    enc.select($"vec_id".as("n_id"), $"sub", $"code", $"cell")
      .join(broadcast(qd), Seq("sub", "code", "cell"))
      .where($"n_id" =!= $"q_id")
      .groupBy($"q_id", $"n_id")
      .agg(collect_list(struct($"sub", $"dsub")).as("sd"))
      .select($"q_id", $"n_id",
        expr("""aggregate(transform(array_sort(sd), s -> s.dsub),
                cast(0 as double), (acc, x) -> acc + x)""").as("adc"))
      .withColumn("rk", row_number().over(byAdc).cast("long"))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"n_id", $"adc")
      .orderBy($"q_id", $"rk")
  }

  // ---- Scalar quantization (SQ8) ---------------------------------------
  //
  // The other half of the production quantization toolbox next to PQ:
  // keep every dimension but store it as ONE byte — train = per-dim
  // min/max over the corpus, encode = linear bucketing into 0..255,
  // search = asymmetric distance (exact query floats against the
  // dequantized corpus). No codebook training at all, 4× fewer corpus
  // bytes than float32 — and at 100 TB the corpus-side scan I/O is what
  // dominates ANN cost, so the cut is linear in exactly the term that
  // matters. Codes stay DOUBLE-typed 0..255 integers throughout: the
  // byte cast is storage representation; the arithmetic (sub → ×255 →
  // ÷range → floor, dequant at bucket midpoints) is what the oracle
  // replays operation-for-operation, so results are bit-identical
  // cross-engine like the rest of the pack.

  /** Per-dim range model: (d, vmin, vmax) — ONE posexplode aggregate
    * with map-side partials, key space = Dim, corpus-independent (the
    * same broadcast-sized-by-construction argument as the classifier's
    * profile).
    */
  private[llm] def sq8Model(c: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    c.select(posexplode($"v").as(Seq("d", "x")))
      .groupBy($"d").agg(min($"x").as("vmin"), max($"x").as("vmax"))
  }

  /** The model as one broadcastable row of dim-ordered arrays: mn[Dim]
    * (per-dim minimum) and rg[Dim] (range). */
  private[llm] def sq8Params(c: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    sq8Model(c)
      .agg(collect_list(struct($"d", $"vmin", $"vmax")).as("dm"))
      .select(
        expr("transform(array_sort(dm), s -> s.vmin)").as("mn"),
        expr("transform(array_sort(dm), s -> s.vmax - s.vmin)").as("rg"))
  }

  /** vec_id, code[Dim] (plus the mn/rg model columns riding along):
    * linear-bucket every corpus vector against the broadcast range
    * model. Map-only against a one-row broadcast — the corpus never
    * shuffles to encode. A constant dimension (rg = 0) encodes to 0 by
    * the guard, identically in both engines, instead of the NaN a raw
    * division would produce.
    */
  private[llm] def sq8Encode(c: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    c.crossJoin(broadcast(sq8Params(c)))
      .withColumn("t", expr("zip_with(v, mn, (x, m) -> x - m)"))
      .withColumn("code", expr(
        """zip_with(t, rg, (u, r) -> CASE WHEN r = 0 THEN cast(0 as double)
           ELSE least(cast(255 as double), floor(u * 255.0D / r)) END)"""))
  }

  /** SQ8 training census gate: per dimension, the fitted range and how
    * many corpus values land on the extreme codes 0 and 255 (the
    * saturation profile a production pipeline monitors to decide when
    * outlier-trimmed ranges are needed). Two corpus passes by
    * construction — fit ranges, then encode — the same train-then-apply
    * shape as [[Classify]].
    */
  def sq8Train(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, dir)
    val census = sq8Encode(c)
      .select(posexplode($"code").as(Seq("d", "cd")))
      .groupBy($"d")
      .agg(count(when($"cd" === 0.0, 1)).as("n_lo"),
           count(when($"cd" === 255.0, 1)).as("n_hi"))
    sq8Model(c).join(census, Seq("d"))
      .select($"d", $"vmin", $"vmax", $"n_lo", $"n_hi")
      .orderBy($"d")
  }

  /** SQ8 asymmetric top-k gate: queries (vec_id < 10) keep their exact
    * doubles, the corpus is dequantized at bucket midpoints
    * (mn + (code + ½)·rg/255), squared L2 via the bit-identical
    * [[graft.functions.DotProduct]] fold, top-3 per query by (d2, id).
    *
    * Scale shape: one corpus scan against two broadcasts (the one-row
    * range model and the 10-row query table), a per-query top-k window —
    * no corpus shuffle anywhere before the K-row heads.
    */
  def sq8TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, dir)
    val dec = sq8Encode(c)
      .withColumn("u", expr(
        "zip_with(code, rg, (cd, r) -> (cd + 0.5D) * (r / 255.0D))"))
      .withColumn("xhat", expr("zip_with(u, mn, (w, m) -> m + w)"))
      .select($"vec_id".as("n_id"), $"xhat")
    val q = c.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("vq"))
    val w = Window.partitionBy($"q_id").orderBy($"d2".asc, $"n_id")
    pqD2(dec.join(broadcast(q), $"n_id" =!= $"q_id"), "vq", "xhat", "d2")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"n_id", $"d2")
      .orderBy($"q_id", $"rk")
  }

  /** Binary-quantization top-k — the 1-bit compression tier below SQ8:
    * each 64-dim vector becomes ONE 64-bit word (bit d = v[d] ≥ μ[d],
    * the per-dim decimal-exact corpus mean as threshold), a 64×
    * compression that turns candidate generation into XOR + popcount —
    * the kernel modern vector stores run before any float touches the
    * hot path. Per query: Hamming-distance prescreen to 16 candidates
    * (bit_count(qcode ^ code), integer-exact), then exact cosine rerank
    * of the 16 to the final top-3. Output carries BOTH distances so the
    * gate verifies prescreen and rerank.
    *
    * Scale shape: thresholds are a Dim-row decimal aggregate collected
    * to one broadcast array; encoding is a map-side pass (8 bytes out
    * per vector — the corpus index is 1/64th the raw size); the Hamming
    * screen is a 10-row broadcast against the code scan with a per-query
    * WindowGroupLimit head; only |Q|×16 rows ever see full vectors
    * again. The corpus never self-joins and never shuffles raw vectors.
    */
  def bqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, dir)
    val mu = c.select(posexplode($"v").as(Seq("d", "x")))
      .groupBy($"d").agg(graft.Det.davg($"x").as("m"))
      .groupBy().agg(collect_list(struct($"d", $"m")).as("dm"))
      .select(expr("transform(array_sort(dm), s -> s.m)").as("mu"))
    // two 32-bit words, not one 64-bit: bit 63 through a signed shift
    // behaves differently across engines (overflow checks), and the
    // split costs nothing — hamming adds the two popcounts
    def word(lo: Int): String =
      s"""aggregate(sequence($lo, ${lo + 31}), 0L, (acc, d) ->
         |  acc + if(element_at(v, d + 1) >= element_at(mu, d + 1),
         |           shiftleft(1L, d - $lo), 0L))""".stripMargin
    val coded = c.crossJoin(broadcast(mu))
      .withColumn("code_lo", expr(word(0)))
      .withColumn("code_hi", expr(word(32)))
    val q = coded.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("vq"), $"nrm".as("nq"),
              $"code_lo".as("q_lo"), $"code_hi".as("q_hi"))
    val wH = Window.partitionBy($"q_id").orderBy($"ham".asc, $"n_id")
    val cand = coded
      .select($"vec_id".as("n_id"), $"v".as("vc"), $"nrm".as("nc"),
              $"code_lo", $"code_hi")
      .join(broadcast(q), $"n_id" =!= $"q_id")
      .withColumn("ham", expr(
        "cast(bit_count(code_lo ^ q_lo) + bit_count(code_hi ^ q_hi) as bigint)"))
      .withColumn("hrk", row_number().over(wH))
      .filter($"hrk" <= 16)
    val wS = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    cand
      .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
      .withColumn("rk", row_number().over(wS).cast("long"))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"n_id", $"ham", $"sim")
      .orderBy($"q_id", $"rk")
  }

  // ---- Random projection (Johnson–Lindenstrauss) -----------------------
  //
  // The dimensionality-reduction step big embedding pipelines run BEFORE
  // clustering/indexing: k = O(log n / ε²) projected dimensions preserve
  // all pairwise distances within (1 ± ε), so k-means / IVF / candidate
  // re-ranking run on k/Dim of the bytes (64 → 16 here = 4× less vector
  // I/O and memory at 100 TB) and only the final re-rank touches full
  // vectors. Entries are ±1 (Achlioptas 2003's database-friendly JL —
  // no Gaussians), md5-derived so both engines build the SAME matrix.

  private val RpK = 16 // projected dimensions

  /** Deterministic ±1 projection matrix: RpK rows (j, w[Dim]). */
  private def rpPlanes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(RpK.toLong).select(
      $"id".cast("int").as("j"),
      expr(s"""transform(sequence(0, ${Dim - 1}), d ->
           CASE WHEN ${CrossHash.hex60(
             "concat('rp_', cast(id as string), '_', cast(d as string))")} % 2 = 0
             THEN cast(1 as double) ELSE cast(-1 as double) END)""").as("w"))
  }

  /** vec_id, p: every corpus vector's RpK-dim projection y_j = ⟨v, w_j⟩.
    * One pass against the broadcast K×Dim matrix + one vec_id-keyed
    * collect — the projection is computed ONCE and every downstream
    * consumer reads the small frame.
    */
  private[llm] def rpProject(spark: SparkSession, dir: String): DataFrame =
    rpProjectFrom(corpus(spark, dir))

  private[llm] def rpProjectFrom(c: DataFrame): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    c.crossJoin(broadcast(rpPlanes(spark)))
      .withColumn("y", expr(dotFold("v", "w")))
      .groupBy($"vec_id")
      .agg(collect_list(struct($"j", $"y")).as("jy"))
      .select($"vec_id", expr("transform(array_sort(jy), s -> s.y)").as("p"))
  }

  /** JL top-k gate: per query (vec_id < 10), the 3 nearest corpus
    * vectors by squared L2 in the 16-dim PROJECTED space (exact fold,
    * ties by id — deterministic, so the oracle replays it bit-identically).
    * RpSpec pins the JL guarantee itself — E[‖p(a)−p(b)‖²] = k·‖a−b‖²,
    * measured across all query pairs — plus an independent JVM replay of
    * the projection. (Top-1 recall is the wrong spec for the SYNTHETIC
    * fixture: iid vectors are near-equidistant in 64-dim, so k = 16
    * cannot resolve top-1 margins there — production picks k from the
    * log(n)/ε² trade-off and re-ranks survivors at full dimension.)
    */
  def rpTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // conditionally pinned (r18, from the census sweep): proj feeds both
    // the query and corpus sides, and the projection (16 dots/vector) is
    // a full corpus pass per consumer above the threshold — the ann_lsh
    // r17 treatment, with the r18 size gate
    val proj = graft.state.Materialize.pin(rpProject(spark, dir), Policy.IfLarge)
    val q = proj.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"p".as("pq"))
    val w = Window.partitionBy($"q_id").orderBy($"d2p".asc, $"n_id")
    pqD2(proj.select($"vec_id".as("n_id"), $"p".as("pc"))
        .join(broadcast(q), $"n_id" =!= $"q_id"), "pq", "pc", "d2p")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"n_id", $"d2p")
      .orderBy($"q_id", $"rk")
  }

  /** k-means over the JL-PROJECTED corpus — the composition that
    * justifies [[rpProject]] at scale: every Lloyd iteration (the
    * dominant cost of IVF/quantizer training — T passes over ALL
    * vectors) moves 16-dim arrays instead of 64-dim, 4× less scan and
    * shuffle I/O, and only the final index build touches full vectors.
    * Init is random-partition seeding (hash-mod of the stable id —
    * classical, and replayable in any engine); then ONE declarative
    * [[lloydStep]] runs entirely in projected space, reusing the exact
    * machinery of [[kmeansRefine]] — same plan shape, 1/4 the bytes.
    */
  def rpKmeans(spark: SparkSession, dir: String): DataFrame =
    rpKmeansFrom(corpus(spark, dir))

  private[llm] def rpKmeansFrom(c: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    val cells0 = rpProjectFrom(c).select(
      $"vec_id", $"p".as("v"),
      expr(s"cast(${CrossHash.hex60(
        "concat('rpkm_', cast(vec_id as string))")} % 4 as int)").as("c0"))
    kmeansCensus(lloydStep(cells0, "c0"))
  }

  /** Matryoshka-style truncation evaluation: recall@10 of prefix-dim
    * cosine search (dims 8/16/32) against the full-64-dim ranking — the
    * measurement behind serving embeddings at reduced dimension (MRL
    * trains nested prefixes to make exactly this viable; the evaluation
    * is the same whether or not the encoder was MRL-trained, and pairs
    * with the [[rpTopK]] JL path as the two dimension-reduction options).
    *
    * One corpus pass: every (candidate, query) row explodes ×4 over the
    * dim ladder, similarity over `slice(v, 1, dim)` with prefix norms,
    * per-(query, dim) top-10 by rank window, overlap join against the
    * dim-64 picks. Integer recall (ppm) — no float comparison anywhere
    * the engines could disagree on (the dot chain is the bit-identical
    * [[dotFold]]).
    *
    * Scale: |queries| is broadcast; the corpus is scanned once and
    * nothing self-joins — identical posture to [[annCosineTopK]], ×4 for
    * the ladder.
    */
  def mrlRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = corpus(spark, dir)
    val q = n.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"v".as("vq"))
    val c = n.select($"vec_id".as("n_id"), $"v".as("vc"))
    val w = Window.partitionBy($"q_id", $"dim").orderBy($"sim".desc, $"n_id")
    val picks = c.join(broadcast(q), $"n_id" =!= $"q_id")
      .select($"q_id", $"n_id", $"vq", $"vc",
        explode(expr("array(8, 16, 32, 64)")).as("dim"))
      .select($"q_id", $"n_id", $"dim",
        expr("""graft_dot(slice(vq, 1, dim), slice(vc, 1, dim))
               / (sqrt(graft_dot(slice(vq, 1, dim), slice(vq, 1, dim)))
                  * sqrt(graft_dot(slice(vc, 1, dim), slice(vc, 1, dim))))""")
          .as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 10)
      .select($"q_id", $"dim", $"n_id")
    val full = picks.filter($"dim" === 64)
      .select($"q_id", $"n_id", lit(1L).as("hit"))
    picks.filter($"dim" =!= 64)
      .join(full, Seq("q_id", "n_id"), "left")
      .groupBy($"q_id", $"dim")
      .agg(sum(coalesce($"hit", lit(0L))).as("n_overlap"))
      .select($"q_id", $"dim".cast("long").as("dim"), $"n_overlap",
        expr("(1000000 * n_overlap) div 10").as("recall_ppm"))
      .orderBy($"q_id", $"dim")
  }

  /** C38 IVF multi-probe: each query searches its TOP-2 cells by centroid
    * dot instead of only the argmax cell — the standard recall fix for
    * single-probe IVF ([[annIvf]]): a query near a cell boundary has its
    * true neighbors split across both sides, and probing the runner-up
    * cell recovers them for ~2× candidate cost. Same plumbing: corpus
    * shuffles once on cell id, the (tiny) query set explodes ×2 over its
    * probe cells and broadcasts, candidates = Σ probed-cell sizes — never
    * |corpus|². Output adds `n_cand` so the probe-breadth cost is visible
    * next to the ranks. The oracle replays the identical probe selection
    * (dot DESC, cell ASC rank ≤ 2), so candidate sets — and therefore
    * ranks — are bit-identical.
    */
  def annIvfMultiProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // K resolved ONCE from the full corpus and threaded to BOTH sides:
    // the probe frame is a query SUBSET, so letting it resolve its own
    // K would disagree with the corpus side's quantizer
    val k = Dedup.ivfCellsFor(corpus(spark, dir))
    val cells = Dedup.withIvfCell(corpus(spark, dir), k)
    val wProbe = Window.partitionBy($"q_id").orderBy($"dot".desc, $"probe_cell")
    val probes = Dedup.withIvfDots(
        corpus(spark, dir).filter($"vec_id" < 10), k)
      .select($"vec_id".as("q_id"), $"v".as("vq"), $"nrm".as("nq"),
        explode(expr(s"""transform(sequence(0, ${k - 1}), c ->
          struct(c AS probe_cell,
                 element_at(array(${(0 until k)
                   .map(c => s"_ivf_d$c").mkString(", ")}), c + 1) AS dot))"""))
          .as("p"))
      .select($"q_id", $"vq", $"nq", $"p.probe_cell".as("probe_cell"), $"p.dot".as("dot"))
      .withColumn("prn", row_number().over(wProbe))
      .filter($"prn" <= 2)
      .select($"q_id", $"vq", $"nq", $"probe_cell")
    val c = cells.select($"vec_id".as("n_id"), $"v".as("vc"), $"nrm".as("nc"), $"cell")
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    val wCnt = Window.partitionBy($"q_id")
    c.join(broadcast(probes), $"cell" === $"probe_cell" && $"n_id" =!= $"q_id")
      .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
      .withColumn("n_cand", count(lit(1)).over(wCnt))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"q_id", $"rk", $"n_id", $"sim", $"n_cand")
      .orderBy($"q_id", $"rk")
  }

  /** C38 multi-probe ANN ANNOTATE — the corpus-wide form of
    * [[annIvfMultiProbe]] and the gate behind the YAML `ann_topk`
    * processor's `nprobe` knob (VERDICT r12 #1): EVERY vector is a
    * query probing its top-2 cells, candidates are the probed cells'
    * residents, top-3 by (sim DESC, n_id) — one directed
    * [[Dedup.embeddingProbeEdges]] pass, exploded back to rows so the
    * oracle can replay it. No similarity floor (−∞, like the oracle's
    * un-filtered candidate rank), so the gate checks the full ranking,
    * not a threshold artifact. The oracle rebuilds the md5 quantizer,
    * the probe selection (dot DESC, cell ASC, rank ≤ 2), and the
    * left-to-right dot chain in SQL — candidate sets, sims, and ranks
    * are bit-identical.
    */
  def annAnnotateMultiProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    annTopKWithin(corpus(spark, dir), k = 3,
        thr = Double.NegativeInfinity, nprobe = 2)
      .select($"vec_id", explode($"topk").as("t"))
      .select($"vec_id", $"t.rk".as("rk"), $"t.n_id".as("n_id"),
              $"t.sim".as("sim"))
      .orderBy($"vec_id", $"rk")
  }

  /** Recall@k instrumentation of the production IVF approximate search
    * (VERDICT r9 #7): the same probe-selection and candidate plumbing as
    * [[annIvf]] / [[annIvfMultiProbe]], parameterized by probe breadth,
    * scored against the brute-force top-k as ground truth. Per query
    * emits (n_cand, n_hit of the true top-k found); the ScaleProbe
    * section aggregates to mean recall@k at 1× and 10× corpus — the
    * scale where cell occupancy (and therefore the single-probe recall
    * floor) actually shifts. Ties broken by (sim DESC, n_id) on BOTH
    * paths, so recall is deterministic even on a duplicated corpus.
    * `nprobe = IvfCells` degenerates to exhaustive search — its
    * recall-1.0 row is the section's self-check.
    */
  private[llm] def ivfRecallProbe(n: DataFrame, k: Int, nprobe: Int,
                                  nQ: Int = 16): DataFrame = {
    import n.sparkSession.implicits._
    // same single-resolution discipline as annIvfMultiProbe: the query
    // base is a subset of n, so K comes from the full corpus only
    val k = Dedup.ivfCellsFor(n)
    val cells = Dedup.withIvfCell(n, k)
    val qBase = n.filter($"vec_id" < nQ)
    val wProbe = Window.partitionBy($"q_id").orderBy($"dot".desc, $"probe_cell")
    val probes = Dedup.withIvfDots(qBase, k)
      .select($"vec_id".as("q_id"), $"v".as("vq"), $"nrm".as("nq"),
        explode(expr(s"""transform(sequence(0, ${k - 1}), c ->
          struct(c AS probe_cell,
                 element_at(array(${(0 until k)
                   .map(c => s"_ivf_d$c").mkString(", ")}), c + 1) AS dot))"""))
          .as("p"))
      .select($"q_id", $"vq", $"nq", $"p.probe_cell".as("probe_cell"),
        $"p.dot".as("dot"))
      .withColumn("prn", row_number().over(wProbe))
      .filter($"prn" <= nprobe)
      .select($"q_id", $"vq", $"nq", $"probe_cell")
    val c = cells.select($"vec_id".as("n_id"), $"v".as("vc"), $"nrm".as("nc"),
      $"cell")
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    val wCnt = Window.partitionBy($"q_id")
    val approx = c
      .join(broadcast(probes), $"cell" === $"probe_cell" && $"n_id" =!= $"q_id")
      .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
      .withColumn("n_cand", count(lit(1)).over(wCnt))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"q_id", $"n_id", $"n_cand")
    val brute = n.select($"vec_id".as("n_id"), $"v".as("vc"), $"nrm".as("nc"))
      .join(broadcast(qBase.select($"vec_id".as("q_id"), $"v".as("vq"),
        $"nrm".as("nq"))), $"n_id" =!= $"q_id")
      .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"q_id", $"n_id")
    approx.join(brute.withColumn("hit", lit(1L)), Seq("q_id", "n_id"), "left")
      .groupBy($"q_id")
      .agg(max($"n_cand").as("n_cand"),
           sum(coalesce($"hit", lit(0L))).as("n_hit"))
  }

  /** Diversified top-k rerank — the single-pass (order-free) form of
    * maximal marginal relevance: every candidate's score is penalized by
    * λ × its max similarity to any HIGHER-base-ranked candidate, then the
    * list re-ranks on the adjusted score. True greedy MMR re-computes the
    * penalty against the evolving selected set (inherently sequential);
    * penalizing against the fixed base ranking instead makes the whole
    * rerank two window functions over a bounded candidate frame — fully
    * parallel, deterministic, and the standard serving-side compromise.
    * Near-duplicate results (sim→1 to a better-ranked hit) drop below
    * distinct ones, which is the point of diversification.
    *
    * Scale: candidate generation is the [[annCosineTopK]] corpus pass;
    * everything after operates on |queries| × 20 rows (pairwise ≤ 400 per
    * query) — serving-side costs, never corpus-sized.
    */
  def diversifyTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = corpus(spark, dir)
    val q = n.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"v".as("vq"), $"nrm".as("nq"))
    val c = n.select($"vec_id".as("n_id"), $"v".as("vc"), $"nrm".as("nc"))
    val wBase = Window.partitionBy($"q_id").orderBy($"sim".desc, $"n_id")
    // the candidate frame is consumed three times below (both penalty
    // sides + the final rerank) — pin it so the corpus pass (broadcast
    // query set × corpus scan) runs ONCE, not per consumer; the pinned
    // frame is |queries|×20 rows
    val cand = graft.state.Materialize.pin(
      c.join(broadcast(q), $"n_id" =!= $"q_id")
        .withColumn("sim", expr(dotExpr) / ($"nq" * $"nc"))
        .withColumn("base_rk", row_number().over(wBase))
        .filter($"base_rk" <= 20)
        .select($"q_id", $"n_id", $"vc", $"nc", $"sim", $"base_rk"),
      Policy.Always)
    // pairwise over the bounded candidate frame: penalty(j) =
    // max sim(i, j) over candidates i ranked above j
    val hi = cand.select($"q_id", $"n_id".as("h_id"), $"vc".as("vh"),
      $"nc".as("nh"), $"base_rk".as("h_rk"))
    val pen = cand.join(hi, Seq("q_id"))
      .filter($"h_rk" < $"base_rk")
      .withColumn("psim",
        expr("graft_dot(vc, vh)") / ($"nc" * $"nh"))
      .groupBy($"q_id", $"n_id").agg(max($"psim").as("penalty"))
    val wAdj = Window.partitionBy($"q_id").orderBy($"adj".desc, $"n_id")
    cand.join(pen, Seq("q_id", "n_id"), "left")
      .withColumn("adj", $"sim" - lit(0.5) * coalesce($"penalty", lit(0.0)))
      .withColumn("rk", row_number().over(wAdj).cast("long"))
      .filter($"rk" <= 10)
      .select($"q_id", $"rk", $"n_id", $"base_rk".cast("long").as("base_rk"),
        $"adj")
      .orderBy($"q_id", $"rk")
  }

  /** INCREMENTAL index add — extend a trained IVF index with a new batch
    * of vectors WITHOUT retraining or touching the indexed corpus: the
    * production "daily embedding delta" path, where re-clustering 100 TB
    * for a 0.1% arrival batch would be absurd. The index side (vec_id %
    * 10 ≠ 0 as the stand-in for "already indexed") trains centroids with
    * one decimal-exact Lloyd update from the coarse-quantizer seeds; the
    * arrival batch (vec_id % 10 = 0) is then assigned against those
    * FROZEN centroids by broadcast argmax. Output: per-cell census of
    * old size, added count, added id range, and centroid dim-0 (the
    * proof the assignment ran against the trained — not seed —
    * centroids).
    *
    * Scale shape: the only corpus-sized work is the one (cell, dim)-keyed
    * training aggregate (in production the centroid frame already exists
    * — here it's replayed for determinism); the batch path is a K×dim
    * broadcast against a linear scan of the ARRIVALS only. Cell drift
    * under distribution shift is the operational caveat — the
    * [[kmeansRefine]] movement census is the signal that schedules a
    * retrain.
    */
  def ivfAdd(spark: SparkSession, dir: String): DataFrame =
    ivfAddFrom(corpus(spark, dir))

  /** [[ivfAdd]] over any (vec_id, v) corpus — the probe entry. */
  private[graft] def ivfAddFrom(c: DataFrame): DataFrame = {
    import c.sparkSession.implicits._
    val all = Dedup.withIvfCell(c)
      .select($"vec_id", $"v", $"cell".as("c0"))
    val old = all.filter($"vec_id" % 10 =!= 0)
    val batch = all.filter($"vec_id" % 10 === 0)
    val cent = old
      .select($"c0".as("cell"), posexplode($"v").as(Seq("d", "x")))
      .groupBy($"cell", $"d")
      .agg(graft.Det.davg($"x").as("m"))
      .groupBy($"cell")
      .agg(collect_list(struct($"d", $"m")).as("dm"))
      .select($"cell", expr("transform(array_sort(dm), s -> s.m)").as("carr"))
    val w = Window.partitionBy($"vec_id").orderBy($"dot".desc, $"cell")
    val assigned = batch.select($"vec_id", $"v")
      .crossJoin(broadcast(cent))
      .withColumn("dot", call_function("graft_dot", $"v", $"carr"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"vec_id", $"cell")
    val oldCensus = old.groupBy($"c0".as("cell"))
      .agg(count(lit(1)).as("n_old"))
    val addCensus = assigned.groupBy($"cell")
      .agg(count(lit(1)).as("n_added"),
           min($"vec_id").as("first_added"), max($"vec_id").as("last_added"))
    cent.select($"cell", element_at($"carr", 1).as("m_dim0"))
      .join(oldCensus, Seq("cell"))
      .join(addCensus, Seq("cell"), "left_outer")
      .select($"cell", $"n_old",
              coalesce($"n_added", lit(0L)).as("n_added"),
              $"first_added", $"last_added", $"m_dim0")
      .orderBy($"cell")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_ivf_add"         -> (ivfAdd _),
    "llm_bq_topk"         -> (bqTopK _),
    "llm_diversify_topk"  -> (diversifyTopK _),
    "llm_ann_ivf_mp"      -> (annIvfMultiProbe _),
    "llm_ann_annotate_mp" -> (annAnnotateMultiProbe _),
    "llm_mrl_recall"      -> (mrlRecall _),
    "llm_ann_cosine_topk" -> (annCosineTopK _),
    "llm_hard_negatives"  -> (hardNegatives _),
    "llm_rp_topk"         -> (rpTopK _),
    "llm_rp_kmeans"       -> (rpKmeans _),
    "llm_ann_lsh"         -> (annLshBuckets _),
    "llm_ann_ivf"         -> (annIvf _),
    "llm_centroids"       -> (centroids _),
    "llm_kmeans"          -> (kmeansRefine _),
    "llm_kmeans2"         -> (kmeansTwoStep _),
    "llm_pq_train"        -> (pqTrain _),
    "llm_pq_adc"          -> (pqAdc _),
    "llm_pq_ivf_adc"      -> (pqIvfAdc _),
    "llm_sq8_train"       -> (sq8Train _),
    "llm_sq8_topk"        -> (sq8TopK _)
  )

  def oracle: Map[String, String] = Map(
    // identical base ranking, identical pairwise penalties over the
    // bounded candidate frame, identical (adj DESC, n_id) final order
    "llm_diversify_topk" ->
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |      FROM v0),
        |q AS (SELECT vec_id AS q_id, v AS vq, nrm AS nq FROM n WHERE vec_id < 5),
        |s AS (SELECT q_id, c.vec_id AS n_id, c.v AS vc, c.nrm AS nc,
        |        list_reduce(list_transform(range(1, 65), k -> vq[k] * c.v[k]),
        |                    (x, y) -> x + y) / (nq * c.nrm) AS sim
        |      FROM q JOIN n c ON c.vec_id <> q.q_id),
        |cand AS (SELECT q_id, n_id, vc, nc, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS base_rk
        |  FROM s QUALIFY base_rk <= 20),
        |pen AS (SELECT a.q_id, a.n_id,
        |    MAX(list_reduce(list_transform(range(1, 65), k -> a.vc[k] * b.vc[k]),
        |                    (x, y) -> x + y) / (a.nc * b.nc)) AS penalty
        |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND b.base_rk < a.base_rk
        |  GROUP BY a.q_id, a.n_id),
        |adj AS (SELECT c.q_id, c.n_id, c.base_rk,
        |    c.sim - 0.5 * COALESCE(p.penalty, 0.0) AS adj
        |  FROM cand c LEFT JOIN pen p ON c.q_id = p.q_id AND c.n_id = p.n_id)
        |SELECT q_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY adj DESC, n_id)::BIGINT AS rk,
        |  n_id, base_rk::BIGINT AS base_rk, adj
        |FROM adj QUALIFY rk <= 10 ORDER BY q_id, rk""".stripMargin,
    // identical quantizer replay + identical probe selection (centroid
    // dot DESC, cell ASC, rank <= 2) => identical candidate sets & ranks
    "llm_ann_ivf_mp" ->
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |      FROM v0),
        |cent AS (SELECT c, list_transform(range(0, 64), d ->
        |    ('0x' || substr(md5('ivf_' || c::VARCHAR || '_' || d::VARCHAR), 1, 15))::BIGINT::DOUBLE
        |    / 576460752303423488.0 - 1.0) AS w
        |  FROM range(0, 4) t(c)),
        |dots AS (SELECT vec_id, c,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * w[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM n, cent),
        |cl AS (SELECT vec_id, c AS cell FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
        |    FROM dots) WHERE rn = 1),
        |nc AS (SELECT n.vec_id, n.v, n.nrm, cl.cell FROM n JOIN cl USING (vec_id)),
        |qp AS (SELECT vec_id AS q_id, c AS probe_cell FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
        |    FROM dots WHERE vec_id < 10) WHERE rn <= 2),
        |qv AS (SELECT vec_id AS q_id, v AS vq, nrm AS nq FROM n WHERE vec_id < 10),
        |s AS (SELECT qp.q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(1, 65), k -> q.vq[k] * c.v[k]),
        |                    (x, y) -> x + y) / (q.nq * c.nrm) AS sim
        |      FROM qp JOIN qv q USING (q_id)
        |      JOIN nc c ON c.cell = qp.probe_cell AND c.vec_id <> qp.q_id),
        |cnt AS (SELECT q_id, COUNT(*)::BIGINT AS n_cand FROM s GROUP BY 1),
        |r AS (SELECT q_id, n_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id)::BIGINT AS rk
        |      FROM s)
        |SELECT q_id, rk, n_id, sim, n_cand
        |FROM r JOIN cnt USING (q_id) WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,
    // the annotate form: EVERY vector queries its top-2 probe cells —
    // identical quantizer replay, probe selection, dot chain, and
    // (sim DESC, n_id) rank as llm_ann_ivf_mp, rank <= 3 per vector
    "llm_ann_annotate_mp" ->
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |      FROM v0),
        |cent AS (SELECT c, list_transform(range(0, 64), d ->
        |    ('0x' || substr(md5('ivf_' || c::VARCHAR || '_' || d::VARCHAR), 1, 15))::BIGINT::DOUBLE
        |    / 576460752303423488.0 - 1.0) AS w
        |  FROM range(0, 4) t(c)),
        |dots AS (SELECT vec_id, c,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * w[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM n, cent),
        |cl AS (SELECT vec_id, c AS cell FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
        |    FROM dots) WHERE rn = 1),
        |nc AS (SELECT n.vec_id, n.v, n.nrm, cl.cell FROM n JOIN cl USING (vec_id)),
        |qp AS (SELECT vec_id AS q_id, c AS probe_cell FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
        |    FROM dots) WHERE rn <= 2),
        |s AS (SELECT qp.q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(1, 65), k -> q.v[k] * c.v[k]),
        |                    (x, y) -> x + y) / (q.nrm * c.nrm) AS sim
        |      FROM qp JOIN n q ON q.vec_id = qp.q_id
        |      JOIN nc c ON c.cell = qp.probe_cell AND c.vec_id <> qp.q_id)
        |SELECT q_id AS vec_id, rk, n_id, sim FROM (
        |  SELECT q_id, n_id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id)::BIGINT AS rk
        |  FROM s) WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,
    // same prefix-dim ladder, same bit-identical dot chain, same
    // (sim DESC, n_id) total order, integer recall
    "llm_mrl_recall" ->
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS vq FROM v0 WHERE vec_id < 10),
        |e AS (SELECT q_id, c.vec_id AS n_id, dim, vq, c.v AS vc
        |      FROM q JOIN v0 c ON c.vec_id <> q.q_id
        |      CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS dim)),
        |s AS (SELECT q_id, n_id, dim,
        |        list_reduce(list_transform(range(1, dim + 1), k -> vq[k] * vc[k]),
        |                    (x, y) -> x + y)
        |        / (sqrt(list_reduce(list_transform(range(1, dim + 1), k -> vq[k] * vq[k]),
        |                            (x, y) -> x + y))
        |           * sqrt(list_reduce(list_transform(range(1, dim + 1), k -> vc[k] * vc[k]),
        |                              (x, y) -> x + y))) AS sim
        |      FROM e),
        |picks AS (SELECT q_id, dim, n_id FROM (
        |    SELECT q_id, dim, n_id,
        |      row_number() OVER (PARTITION BY q_id, dim ORDER BY sim DESC, n_id) AS rk
        |    FROM s) WHERE rk <= 10),
        |fl AS (SELECT q_id, n_id, 1 AS hit FROM picks WHERE dim = 64)
        |SELECT p.q_id, p.dim::BIGINT AS dim,
        |  SUM(COALESCE(hit, 0))::BIGINT AS n_overlap,
        |  ((1000000 * SUM(COALESCE(hit, 0))) // 10)::BIGINT AS recall_ppm
        |FROM picks p LEFT JOIN fl ON p.q_id = fl.q_id AND p.n_id = fl.n_id
        |WHERE p.dim <> 64
        |GROUP BY p.q_id, p.dim ORDER BY p.q_id, p.dim""".stripMargin,
    "llm_rp_topk" ->
      s"""$rpProjSql,
        |d AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_reduce(list_transform(range(1, 17),
        |                  k -> (q.p[k] - c.p[k]) * (q.p[k] - c.p[k])),
        |                (a, b) -> a + b) AS d2p
        |  FROM p q JOIN p c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
        |r AS (SELECT q_id, n_id, d2p,
        |        row_number() OVER (PARTITION BY q_id ORDER BY d2p, n_id) AS rk
        |      FROM d)
        |SELECT q_id, rk, n_id, d2p FROM r WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin,
    "llm_rp_kmeans" ->
      s"""$rpProjSql,
        |cl0 AS (SELECT vec_id,
        |    (('0x' || substr(md5('rpkm_' || vec_id::VARCHAR), 1, 15))::BIGINT
        |      % 4)::INT AS c0
        |  FROM p),
        |ex AS (SELECT c.c0, CAST(generate_subscripts(q.p, 1) - 1 AS INT) AS d,
        |         unnest(q.p) AS x
        |       FROM p q JOIN cl0 c USING (vec_id)),
        |bm AS (SELECT c0 AS cell, d, ${graft.Det.sqlAvg("x")} AS m
        |       FROM ex GROUP BY 1, 2),
        |book AS (SELECT cell, list(m ORDER BY d) AS carr FROM bm GROUP BY cell),
        |asg AS (SELECT q.vec_id, c.c0, b.cell, b.carr[1] AS m0,
        |          row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |            list_reduce(list_transform(range(1, 17),
        |                          k -> q.p[k] * b.carr[k]),
        |                        (a, x) -> a + x) DESC, b.cell) AS rn
        |        FROM p q JOIN cl0 c USING (vec_id), book b)
        |SELECT cell, COUNT(*) AS n_vecs,
        |  SUM(CASE WHEN c0 <> cell THEN 1 ELSE 0 END)::BIGINT AS n_moved,
        |  MIN(vec_id) AS first_vec, MAX(vec_id) AS last_vec,
        |  MIN(m0) AS m_dim0
        |FROM asg WHERE rn = 1 GROUP BY cell ORDER BY cell""".stripMargin,
    // generate_subscripts is 1-based and unnests in lockstep with
    // unnest() in the same SELECT; Spark's posexplode is 0-based
    "llm_centroids" ->
      s"""WITH e AS (
        |  SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings)
        |SELECT label, pos, COUNT(*) AS n, ${graft.Det.sqlAvg("x")} AS c
        |FROM e WHERE pos < 8
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    // identical decimal-exact per-dim mean thresholds, identical two-word
    // sign codes, identical Hamming prescreen (ham ASC, n_id) to 16 and
    // exact-cosine rerank (sim DESC, n_id) to 3
    "llm_bq_topk" ->
      s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |      FROM v0),
        |ex AS (SELECT generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x FROM v0),
        |md AS (SELECT d, ${graft.Det.sqlAvg("x")} AS m FROM ex GROUP BY d),
        |muT AS (SELECT list(m ORDER BY d) AS mu FROM md),
        |coded AS (SELECT vec_id, v, nrm,
        |    list_reduce(list_transform(range(0, 32), d ->
        |      CASE WHEN v[d + 1] >= mu[d + 1]
        |           THEN (1::BIGINT << d) ELSE 0::BIGINT END),
        |      (a, b) -> a + b) AS code_lo,
        |    list_reduce(list_transform(range(32, 64), d ->
        |      CASE WHEN v[d + 1] >= mu[d + 1]
        |           THEN (1::BIGINT << (d - 32)) ELSE 0::BIGINT END),
        |      (a, b) -> a + b) AS code_hi
        |  FROM n, muT),
        |q AS (SELECT vec_id AS q_id, v AS vq, nrm AS nq,
        |        code_lo AS q_lo, code_hi AS q_hi
        |      FROM coded WHERE vec_id < 10),
        |h AS (SELECT q_id, vq, nq, c.vec_id AS n_id, c.v AS vc, c.nrm AS nc,
        |        (bit_count(xor(c.code_lo, q_lo))
        |         + bit_count(xor(c.code_hi, q_hi)))::BIGINT AS ham
        |      FROM coded c JOIN q ON c.vec_id <> q.q_id),
        |cand AS (SELECT q_id, vq, nq, n_id, vc, nc, ham FROM (
        |    SELECT q_id, vq, nq, n_id, vc, nc, ham,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ham ASC, n_id) AS hrk
        |    FROM h) WHERE hrk <= 16),
        |s AS (SELECT q_id, n_id, ham,
        |        list_reduce(list_transform(range(1, 65), k -> vq[k] * vc[k]),
        |                    (a, b) -> a + b) / (nq * nc) AS sim
        |      FROM cand)
        |SELECT q_id, rk, n_id, ham, sim FROM (
        |  SELECT q_id, n_id, ham, sim,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY sim DESC, n_id)::BIGINT AS rk
        |  FROM s) WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin,
    // identical seed-cell assignment and decimal-exact centroid training
    // restricted to the index side, identical frozen-centroid argmax
    // (dot DESC, cell) over the arrival batch only
    "llm_ivf_add" ->
      s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |cent0 AS (SELECT c, list_transform(range(0, 64), d ->
        |    ('0x' || substr(md5('ivf_' || c::VARCHAR || '_' || d::VARCHAR), 1, 15))::BIGINT::DOUBLE
        |    / 576460752303423488.0 - 1.0) AS w
        |  FROM range(0, 4) t(c)),
        |d0 AS (SELECT vec_id, c,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * w[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM v0, cent0),
        |cells0 AS (SELECT vec_id, c::INT AS c0 FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
        |    FROM d0) WHERE rn = 1),
        |old AS (SELECT vec_id, c0 FROM cells0 WHERE vec_id % 10 <> 0),
        |ex AS (SELECT c0, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x
        |       FROM v0 JOIN old USING (vec_id)),
        |m1 AS (SELECT c0 AS cell, d, ${graft.Det.sqlAvg("x")} AS m
        |       FROM ex GROUP BY 1, 2),
        |cent1 AS (SELECT cell, list(m ORDER BY d) AS carr FROM m1 GROUP BY cell),
        |d1 AS (SELECT vec_id, cell,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * carr[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM v0, cent1 WHERE vec_id % 10 = 0),
        |added AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
        |    FROM d1) WHERE rn = 1),
        |oc AS (SELECT c0 AS cell, COUNT(*)::BIGINT AS n_old FROM old GROUP BY 1),
        |ac AS (SELECT cell, COUNT(*)::BIGINT AS n_added,
        |         MIN(vec_id) AS first_added, MAX(vec_id) AS last_added
        |       FROM added GROUP BY cell)
        |SELECT cent1.cell, n_old,
        |  COALESCE(n_added, 0)::BIGINT AS n_added, first_added, last_added,
        |  carr[1] AS m_dim0
        |FROM cent1 JOIN oc USING (cell) LEFT JOIN ac USING (cell)
        |ORDER BY cent1.cell""".stripMargin,
    "llm_kmeans" ->
      s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |cent0 AS (SELECT c, list_transform(range(0, 64), d ->
        |    ('0x' || substr(md5('ivf_' || c::VARCHAR || '_' || d::VARCHAR), 1, 15))::BIGINT::DOUBLE
        |    / 576460752303423488.0 - 1.0) AS w
        |  FROM range(0, 4) t(c)),
        |d0 AS (SELECT vec_id, c,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * w[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM v0, cent0),
        |cells0 AS (SELECT vec_id, c::INT AS c0 FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
        |    FROM d0) WHERE rn = 1),
        |ex AS (SELECT c0, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x
        |       FROM v0 JOIN cells0 USING (vec_id)),
        |m1 AS (SELECT c0 AS cell, d, ${graft.Det.sqlAvg("x")} AS m
        |       FROM ex GROUP BY 1, 2),
        |cent1 AS (SELECT cell, list(m ORDER BY d) AS carr FROM m1 GROUP BY cell),
        |d1 AS (SELECT vec_id, cell, carr,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * carr[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM v0, cent1),
        |cells1 AS (SELECT vec_id, cell, carr[1] AS m0 FROM (
        |    SELECT vec_id, cell, carr,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
        |    FROM d1) WHERE rn = 1)
        |SELECT cell, COUNT(*) AS n_vecs,
        |  SUM(CASE WHEN c0 <> cell THEN 1 ELSE 0 END)::BIGINT AS n_moved,
        |  MIN(vec_id) AS first_vec, MAX(vec_id) AS last_vec,
        |  MIN(m0) AS m_dim0
        |FROM cells1 JOIN cells0 USING (vec_id)
        |GROUP BY cell ORDER BY cell""".stripMargin,
    "llm_kmeans2" ->
      s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |cent0 AS (SELECT c, list_transform(range(0, 64), d ->
        |    ('0x' || substr(md5('ivf_' || c::VARCHAR || '_' || d::VARCHAR), 1, 15))::BIGINT::DOUBLE
        |    / 576460752303423488.0 - 1.0) AS w
        |  FROM range(0, 4) t(c)),
        |d0 AS (SELECT vec_id, c,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * w[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM v0, cent0),
        |cells0 AS (SELECT vec_id, c::INT AS c0 FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
        |    FROM d0) WHERE rn = 1),
        |ex1 AS (SELECT c0, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x
        |        FROM v0 JOIN cells0 USING (vec_id)),
        |m1 AS (SELECT c0 AS cell, d, ${graft.Det.sqlAvg("x")} AS m
        |       FROM ex1 GROUP BY 1, 2),
        |cent1 AS (SELECT cell, list(m ORDER BY d) AS carr FROM m1 GROUP BY cell),
        |d1 AS (SELECT vec_id, cell,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * carr[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM v0, cent1),
        |cells1 AS (SELECT vec_id, cell AS c1 FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
        |    FROM d1) WHERE rn = 1),
        |ex2 AS (SELECT c1, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS x
        |        FROM v0 JOIN cells1 USING (vec_id)),
        |m2 AS (SELECT c1 AS cell, d, ${graft.Det.sqlAvg("x")} AS m
        |       FROM ex2 GROUP BY 1, 2),
        |cent2 AS (SELECT cell, list(m ORDER BY d) AS carr FROM m2 GROUP BY cell),
        |d2 AS (SELECT vec_id, cell, carr,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * carr[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM v0, cent2),
        |cells2 AS (SELECT vec_id, cell, carr[1] AS m0 FROM (
        |    SELECT vec_id, cell, carr,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
        |    FROM d2) WHERE rn = 1)
        |SELECT cell, COUNT(*) AS n_vecs,
        |  SUM(CASE WHEN c1 <> cell THEN 1 ELSE 0 END)::BIGINT AS n_moved,
        |  MIN(vec_id) AS first_vec, MAX(vec_id) AS last_vec,
        |  MIN(m0) AS m_dim0
        |FROM cells2 JOIN cells1 USING (vec_id)
        |GROUP BY cell ORDER BY cell""".stripMargin,
    "llm_ann_ivf" ->
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |      FROM v0),
        |cent AS (SELECT c, list_transform(range(0, 64), d ->
        |    ('0x' || substr(md5('ivf_' || c::VARCHAR || '_' || d::VARCHAR), 1, 15))::BIGINT::DOUBLE
        |    / 576460752303423488.0 - 1.0) AS w
        |  FROM range(0, 4) t(c)),
        |dots AS (SELECT vec_id, c,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * w[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM n, cent),
        |cl AS (SELECT vec_id, c AS cell FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
        |    FROM dots) WHERE rn = 1),
        |nc AS (SELECT n.vec_id, n.v, n.nrm, cl.cell FROM n JOIN cl USING (vec_id)),
        |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(1, 65), k -> q.v[k] * c.v[k]),
        |                    (x, y) -> x + y) / (q.nrm * c.nrm) AS sim
        |      FROM nc q JOIN nc c ON q.cell = c.cell AND c.vec_id <> q.vec_id
        |      WHERE q.vec_id < 10),
        |r AS (SELECT q_id, n_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
        |      FROM s)
        |SELECT q_id, rk, n_id, sim FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,
    "llm_ann_cosine_topk" ->
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |      FROM v0),
        |q AS (SELECT * FROM n WHERE vec_id < 10),
        |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |        list_reduce(list_transform(range(1, 65), k -> q.v[k] * c.v[k]),
        |                    (x, y) -> x + y) / (q.nrm * c.nrm) AS sim
        |      FROM q JOIN n c ON c.vec_id <> q.vec_id),
        |r AS (SELECT q_id, n_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
        |      FROM s)
        |SELECT q_id, rk, n_id, sim FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
    // identical sim fold and tie order as the ANN oracle, plus the label
    // constraint on the negative stream and a max() positive margin
    "llm_hard_negatives" ->
      """WITH v0 AS (SELECT vec_id, label,
        |              list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |n AS (SELECT vec_id, label, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |      FROM v0),
        |q AS (SELECT * FROM n WHERE vec_id < 10),
        |s AS (SELECT q.vec_id AS q_id, q.label AS q_label,
        |        c.vec_id AS n_id, c.label AS n_label,
        |        list_reduce(list_transform(range(1, 65), k -> q.v[k] * c.v[k]),
        |                    (x, y) -> x + y) / (q.nrm * c.nrm) AS sim
        |      FROM q JOIN n c ON c.vec_id <> q.vec_id),
        |neg AS (SELECT q_id, n_id, n_label, sim,
        |          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
        |        FROM s WHERE n_label <> q_label),
        |p AS (SELECT q_id, max(sim) AS pos_best
        |      FROM s WHERE n_label = q_label GROUP BY q_id)
        |SELECT neg.q_id, neg.rk, neg.n_id, neg.n_label::BIGINT AS n_label,
        |  neg.sim, p.pos_best, p.pos_best - neg.sim AS margin
        |FROM neg LEFT JOIN p ON neg.q_id = p.q_id
        |WHERE neg.rk <= 5 ORDER BY neg.q_id, neg.rk""".stripMargin,
    "llm_ann_lsh" ->
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |            FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |      FROM v0),
        |tb AS (SELECT tt.t, bb.b FROM range(0, 8) tt(t), range(0, 8) bb(b)),
        |hp AS (SELECT t, b, list_transform(range(0, 64), d ->
        |         ('0x' || substr(md5(t::VARCHAR || '_' || b::VARCHAR || '_' || d::VARCHAR),
        |                         1, 15))::BIGINT::DOUBLE
        |         / 576460752303423488.0 - 1.0) AS w
        |       FROM tb),
        |bits AS (SELECT n.vec_id, hp.t,
        |    CASE WHEN list_reduce(list_transform(range(1, 65), k -> n.v[k] * hp.w[k]),
        |                          (x, y) -> x + y) >= 0
        |         THEN (1::BIGINT << hp.b) ELSE 0::BIGINT END AS bv
        |  FROM n, hp),
        |bk AS (SELECT vec_id, t, SUM(bv)::BIGINT AS bucket FROM bits GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
        |         FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
        |                            AND c.vec_id <> q.vec_id
        |         WHERE q.vec_id < 10),
        |sims AS (SELECT cand.q_id,
        |    list_reduce(list_transform(range(1, 65), k -> a.v[k] * b.v[k]),
        |                (x, y) -> x + y) / (a.nrm * b.nrm) AS sim
        |  FROM cand JOIN n a ON a.vec_id = cand.q_id
        |            JOIN n b ON b.vec_id = cand.c_id),
        |best AS (SELECT q_id, COUNT(*) AS n_cand, MAX(sim) AS best_cand_sim
        |         FROM sims GROUP BY 1),
        |nn AS (SELECT q.vec_id AS q_id,
        |         MAX(list_reduce(list_transform(range(1, 65), k -> q.v[k] * c.v[k]),
        |                         (x, y) -> x + y) / (q.nrm * c.nrm)) AS nn_sim
        |       FROM n q JOIN n c ON c.vec_id <> q.vec_id
        |       WHERE q.vec_id < 10 GROUP BY 1)
        |SELECT nn.q_id AS q_id, COALESCE(best.n_cand, 0) AS n_cand,
        |  COALESCE(best.best_cand_sim, -2.0) AS best_cand_sim,
        |  COALESCE(best.best_cand_sim, -2.0) = nn.nn_sim AS found_nn
        |FROM nn LEFT JOIN best ON nn.q_id = best.q_id
        |ORDER BY nn.q_id""".stripMargin,
    "llm_pq_train" ->
      s"""$pqModelSql
        |SELECT sub, code, COUNT(*) AS n_vecs,
        |  SUM(CASE WHEN c0 <> code THEN 1 ELSE 0 END)::BIGINT AS n_moved,
        |  MIN(vec_id) AS first_vec, MAX(vec_id) AS last_vec,
        |  MIN(m0) AS m_dim0
        |FROM enc GROUP BY sub, code ORDER BY sub, code""".stripMargin,
    "llm_pq_adc" ->
      s"""$pqModelSql,
        |qd AS (SELECT p.vec_id AS q_id, p.sub, b.code,
        |    list_reduce(list_transform(range(1, 9),
        |                  k -> (p.sv[k] - b.carr[k]) * (p.sv[k] - b.carr[k])),
        |                (acc, x) -> acc + x) AS dsub
        |  FROM parts p JOIN book b USING (sub) WHERE p.vec_id < 10),
        |pr AS (SELECT qd.q_id, e.vec_id AS n_id, qd.sub, qd.dsub
        |       FROM enc e JOIN qd ON e.sub = qd.sub AND e.code = qd.code
        |       WHERE e.vec_id <> qd.q_id),
        |ad AS (SELECT q_id, n_id,
        |         list_reduce(list(dsub ORDER BY sub), (acc, x) -> acc + x) AS adc
        |       FROM pr GROUP BY q_id, n_id),
        |rr AS (SELECT q_id, n_id, adc,
        |         row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rk
        |       FROM ad)
        |SELECT q_id, rk, n_id, adc FROM rr WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin,
    "llm_pq_ivf_adc" ->
      s"""$pqModelSql,
        |icent AS (SELECT c, list_transform(range(0, 64), d ->
        |    ('0x' || substr(md5('ivf_' || c::VARCHAR || '_' || d::VARCHAR),
        |                    1, 15))::BIGINT::DOUBLE
        |    / 576460752303423488.0 - 1.0) AS w
        |  FROM range(0, 4) t(c)),
        |idots AS (SELECT vec_id, c,
        |    list_reduce(list_transform(range(1, 65), k -> v[k] * w[k]),
        |                (a, b) -> a + b) AS dot
        |  FROM v0, icent),
        |cl AS (SELECT vec_id, CAST(c AS INT) AS cell FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rn
        |    FROM idots) WHERE rn = 1),
        |qd AS (SELECT p.vec_id AS q_id, p.sub, b.code, qc.cell,
        |    list_reduce(list_transform(range(1, 9),
        |                  k -> (p.sv[k] - b.carr[k]) * (p.sv[k] - b.carr[k])),
        |                (acc, x) -> acc + x) AS dsub
        |  FROM parts p JOIN book b USING (sub)
        |       JOIN cl qc ON qc.vec_id = p.vec_id
        |  WHERE p.vec_id < 10),
        |pr AS (SELECT qd.q_id, e.vec_id AS n_id, qd.sub, qd.dsub
        |       FROM enc e JOIN cl ec ON ec.vec_id = e.vec_id
        |       JOIN qd ON e.sub = qd.sub AND e.code = qd.code
        |              AND ec.cell = qd.cell
        |       WHERE e.vec_id <> qd.q_id),
        |ad AS (SELECT q_id, n_id,
        |         list_reduce(list(dsub ORDER BY sub), (acc, x) -> acc + x) AS adc
        |       FROM pr GROUP BY q_id, n_id),
        |rr AS (SELECT q_id, n_id, adc,
        |         row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rk
        |       FROM ad)
        |SELECT q_id, rk, n_id, adc FROM rr WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin,
    "llm_sq8_train" ->
      s"""$sq8Sql,
        |cd AS (SELECT CAST(generate_subscripts(code, 1) - 1 AS INT) AS d,
        |         unnest(code) AS cd FROM enc),
        |cs AS (SELECT d, COUNT(CASE WHEN cd = 0.0 THEN 1 END) AS n_lo,
        |         COUNT(CASE WHEN cd = 255.0 THEN 1 END) AS n_hi
        |       FROM cd GROUP BY d)
        |SELECT mm.d, vmin, vmax, n_lo, n_hi FROM mm JOIN cs USING (d)
        |ORDER BY d""".stripMargin,
    "llm_sq8_topk" ->
      s"""$sq8Sql,
        |dec AS (SELECT vec_id AS n_id,
        |    list_transform(range(1, 65),
        |      k -> mn[k] + (code[k] + 0.5) * (rg[k] / 255.0)) AS xhat
        |  FROM enc, pr),
        |dd AS (SELECT q.vec_id AS q_id, c.n_id,
        |    list_reduce(list_transform(range(1, 65),
        |      k -> (q.v[k] - c.xhat[k]) * (q.v[k] - c.xhat[k])),
        |      (a, b) -> a + b) AS d2
        |  FROM e q JOIN dec c ON c.n_id <> q.vec_id WHERE q.vec_id < 10),
        |r AS (SELECT q_id, n_id, d2,
        |        row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rk
        |      FROM dd)
        |SELECT q_id, rk, n_id, d2 FROM r WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin
  )

  /** Shared oracle CTE chain replaying [[rpProject]] in DuckDB: the ±1
    * md5 matrix, the per-(vector, j) left-fold dot, and the ordered
    * 16-dim projection array. Ends with the `p` CTE (vec_id, p).
    */
  /** Shared SQ8 oracle prelude: fit per-dim ranges, encode every
    * vector — operation-for-operation the [[sq8Encode]] arithmetic
    * (sub → ×255 → ÷range → floor, clamp, rg = 0 guard), so codes are
    * bit-identical doubles in both engines.
    */
  private val sq8Sql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |           FROM embeddings),
      |ex AS (SELECT vec_id, CAST(generate_subscripts(v, 1) - 1 AS INT) AS d,
      |         unnest(v) AS x FROM e),
      |mm AS (SELECT d, MIN(x) AS vmin, MAX(x) AS vmax FROM ex GROUP BY d),
      |pr AS (SELECT list(vmin ORDER BY d) AS mn,
      |         list(vmax - vmin ORDER BY d) AS rg FROM mm),
      |enc AS (SELECT vec_id,
      |    list_transform(range(1, 65), k -> CASE WHEN rg[k] = 0 THEN 0.0
      |      ELSE least(255.0, floor((v[k] - mn[k]) * 255.0 / rg[k])) END) AS code
      |  FROM e, pr)""".stripMargin

  private val rpProjSql: String =
    """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |            FROM embeddings),
      |pl AS (SELECT CAST(j AS INT) AS j, list_transform(range(0, 64), d ->
      |    CASE WHEN ('0x' || substr(md5('rp_' || j::VARCHAR || '_' ||
      |                                  d::VARCHAR), 1, 15))::BIGINT % 2 = 0
      |      THEN 1.0 ELSE -1.0 END) AS w
      |  FROM range(0, 16) t(j)),
      |py AS (SELECT vec_id, j,
      |    list_reduce(list_transform(range(1, 65), k -> v[k] * w[k]),
      |                (a, b) -> a + b) AS y
      |  FROM v0, pl),
      |p AS (SELECT vec_id, list(y ORDER BY j) AS p FROM py GROUP BY vec_id)""".stripMargin

  /** Shared oracle CTE chain replaying [[pqModel]] in DuckDB: subvector
    * split, md5 seed codebooks, seed assignment, decimal-mean refinement,
    * re-encode. Ends with the `enc` CTE (vec_id, sub, c0, code, m0); the
    * `book` CTE (sub, code, carr) stays visible for ADC's lookup table.
    */
  private val pqModelSql: String =
    s"""WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |            FROM embeddings),
      |parts AS (SELECT vec_id, CAST(s.sub AS INT) AS sub,
      |    list_slice(v, s.sub * 8 + 1, s.sub * 8 + 8) AS sv
      |  FROM v0, range(0, 8) s(sub)),
      |seeds AS (SELECT CAST(m.sub AS INT) AS sub, CAST(c.code AS INT) AS code,
      |    list_transform(range(0, 8), d ->
      |      ('0x' || substr(md5('pq_' || m.sub::VARCHAR || '_' ||
      |                          c.code::VARCHAR || '_' || d::VARCHAR),
      |                      1, 15))::BIGINT::DOUBLE
      |      / 576460752303423488.0 - 1.0) AS w
      |  FROM range(0, 8) m(sub), range(0, 4) c(code)),
      |a0d AS (SELECT vec_id, sub, sv, code,
      |    list_reduce(list_transform(range(1, 9),
      |                  k -> (sv[k] - w[k]) * (sv[k] - w[k])),
      |                (acc, x) -> acc + x) AS d2
      |  FROM parts JOIN seeds USING (sub)),
      |a0 AS (SELECT vec_id, sub, sv, code AS c0 FROM (
      |    SELECT vec_id, sub, sv, code,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |    FROM a0d) WHERE rn = 1),
      |ex AS (SELECT sub, c0,
      |         CAST(generate_subscripts(sv, 1) - 1 AS INT) AS d, unnest(sv) AS x
      |       FROM a0),
      |bm AS (SELECT sub, c0 AS code, d, ${graft.Det.sqlAvg("x")} AS m
      |       FROM ex GROUP BY 1, 2, 3),
      |book AS (SELECT sub, code, list(m ORDER BY d) AS carr
      |         FROM bm GROUP BY sub, code),
      |red AS (SELECT vec_id, sub, c0, code, carr,
      |    list_reduce(list_transform(range(1, 9),
      |                  k -> (sv[k] - carr[k]) * (sv[k] - carr[k])),
      |                (acc, x) -> acc + x) AS d2
      |  FROM a0 JOIN book USING (sub)),
      |enc AS (SELECT vec_id, sub, c0, code, carr[1] AS m0 FROM (
      |    SELECT vec_id, sub, c0, code, carr,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |    FROM red) WHERE rn = 1)""".stripMargin
}
