package graft.ops.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.QueryPack
import graft.state.Materialize.Policy

/** Relevance ranking and language-model statistics over the `documents`
  * corpus — the retrieval/statistics half of a training-data pipeline
  * (score documents for mixture selection, rank terms for vocabulary and
  * index construction, estimate n-gram statistics for perplexity-style
  * quality filters).
  *
  * Cross-engine exactness discipline: every floating-point value emitted
  * here is produced by single correctly-rounded IEEE-754 ops (+ − × ÷)
  * over exactly-representable integer inputs, in an identical operand
  * order on both engines — no transcendentals (`ln` differs by ulps
  * between libm implementations, so the classic log-idf is replaced by
  * rational idf forms that rank the same way and replay bit-identically).
  */
object Ranking extends QueryPack {

  /** BM25 probe terms — high-frequency members of the fixture vocabulary. */
  private val bm25Terms = Seq("join", "hash", "row")
  private val k1 = "1.2"
  private val b  = "0.75"

  private def toks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
  }

  /** llm_tfidf — top-3 terms per document by tf × idf with linear idf
    * N/df (rarity weighting; one division + one multiplication, both
    * correctly rounded → bit-identical across engines). The term/document
    * matrix is two shuffles (tf by (doc,term), df by term); df and N are
    * tiny aggregates broadcast back, so the corpus streams once however
    * large it is.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame =
    tfidfFrom(Tables.documents(spark, dir))

  private[llm] def tfidfFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t  = docs.select($"doc_id", explode(split($"text", " ")).as("w"))
    // Pinned (r17): tf feeds both the score join and the df derivation —
    // and df itself no longer re-tokenizes the corpus: countDistinct(doc)
    // per term over the token stream IS the per-term row count of the
    // (doc, term) frame, so one tokenize pass serves both statistics.
    val tf = graft.state.Materialize.pin(
      t.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf")), Policy.IfLarge)
    val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    val n  = docs.agg(count(lit(1)).as("n_docs"))
    val rn = Window.partitionBy($"doc_id").orderBy($"score".desc, $"w")
    tf.join(broadcast(df), "w").crossJoin(broadcast(n))
      .withColumn("score",
        expr("CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))"))
      .withColumn("rn", row_number().over(rn).cast("long"))
      .where($"rn" <= 3)
      .select($"doc_id", $"w", $"tf", $"df", $"score", $"rn")
      .orderBy($"doc_id", $"rn")
  }

  /** Shared BM25 per-(doc, term) score expression — written once and
    * rendered into BOTH engines' SQL so the operand order is textually
    * identical. Rational idf (N − df + ½)/(df + ½) replaces log-idf.
    */
  private def bm25Score(dl: String): String =
    s"((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))" +
      s" * ((CAST(tf AS DOUBLE) * ($k1 + 1.0)) / " +
      s"(CAST(tf AS DOUBLE) + $k1 * ((1.0 - $b) + $b * (CAST($dl AS DOUBLE) / avgdl))))"

  /** llm_bm25 — rank the corpus against a fixed term query. Document
    * length normalization uses avgdl = Σdl / N (exact integer sum < 2^53
    * → the double division is a single rounding on both engines). The
    * per-term scores are summed in a FIXED order (one conditional-max per
    * term, added left-to-right), then global top-20 via TakeOrderedAndProject.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bm25Agg(spark, dir)
      .orderBy($"score".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"score")
  }

  /** The full BM25-scored frame (doc_id, score) over every document
    * containing ≥ 1 query term — shared by [[bm25]] (top-20 gate) and
    * [[rrfFusion]] (lexical leg).
    */
  private def bm25Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("dl"))
    val t  = toks(spark, dir).where($"w".isin(bm25Terms: _*))
    // Pinned (r17, the tfidf device): df = per-term row count of the
    // (doc, term) frame — one tokenize pass instead of two; the pinned
    // frame is query-term-bounded (tiny).
    val tf = graft.state.Materialize.pin(
      t.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf")), Policy.IfLarge)
    val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    val n  = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"), sum(size(split($"text", " ")).cast("long")).as("sum_dl"))
      .withColumn("avgdl", expr("CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
    val scored = docs.join(tf, "doc_id")
      .join(broadcast(df), "w").crossJoin(broadcast(n))
      .withColumn("s", expr(bm25Score("dl")))
    val terms = bm25Terms.map(w =>
      coalesce(max(when($"w" === w, $"s")), lit(0.0)))
    scored.groupBy($"doc_id")
      .agg(terms.reduceLeft(_ + _).as("score"))
  }

  /** llm_rrf_fusion — reciprocal rank fusion (Cormack et al. 2009) of
    * two retrieval legs over the same corpus: the lexical BM25 ranking
    * and the additive quality-score ranking ([[TextStats.qualityScore]]),
    * fused as Σ 1/(60 + rank) over the lists that contain the document —
    * the standard hybrid-retrieval combiner (lexical ⊕ dense, relevance
    * ⊕ quality) in RAG and curation pipelines, which needs no score
    * calibration because only RANKS cross system boundaries.
    *
    * Scale shape: RRF is defined over each system's top-K OUTPUT, so
    * both legs end in orderBy+limit (TakeOrderedAndProject — per-
    * partition top-K then a K-row driver merge, never a global sort),
    * the rank windows run on K-row frames, and the fusion join is K×K
    * tiny regardless of corpus size. The expensive part stays inside
    * each retriever, where it already scales (BM25: two token-keyed
    * aggregates; quality: a pure map).
    *
    * Determinism: ranks are integers (row_number over (score DESC,
    * doc_id)); each 1/(60+r) is a single IEEE division and the two legs
    * are added in fixed lexical-then-quality order — bit-identical in
    * any engine.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 60
    val wLex = Window.orderBy($"score".desc, $"doc_id")
    val lex = bm25Agg(spark, dir)
      .orderBy($"score".desc, $"doc_id").limit(k)
      .withColumn("r_lex", row_number().over(wLex).cast("long"))
      .select($"doc_id", $"r_lex")
    val wQ = Window.orderBy($"qs".desc, $"doc_id")
    val qual = TextStats.qualityScore(spark, dir)
      .select($"doc_id", $"score".as("qs"))
      .orderBy($"qs".desc, $"doc_id").limit(k)
      .withColumn("r_q", row_number().over(wQ).cast("long"))
      .select($"doc_id", $"r_q")
    lex.join(qual, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        when($"r_lex".isNull, 0.0)
          .otherwise(lit(1.0) / (lit(60.0) + $"r_lex")) +
        when($"r_q".isNull, 0.0)
          .otherwise(lit(1.0) / (lit(60.0) + $"r_q")))
      .select($"doc_id",
        coalesce($"r_lex", lit(0L)).as("r_lex"),
        coalesce($"r_q", lit(0L)).as("r_q"),
        $"rrf")
      .orderBy($"rrf".desc, $"doc_id")
      .limit(10)
  }

  /** llm_bigram_lm — bigram counts and conditional next-token probability
    * P(w2|w1) = c(w1,w2)/c(w1·), top-3 continuations per head token.
    * Pure integer counting plus one exact division; the bigram explode is
    * linear in corpus size and the aggregate is two shuffles on small key
    * spaces (vocab², vocab).
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.documents(spark, dir)
      .select(split($"text", " ").as("t"))
      .where(size($"t") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("p"))
      .select($"p.w1", $"p.w2")
    // r18 (committed scan census): c1(w1) = Σ_w2 c2(w1, w2) — the
    // context count is the row-sum of the bigram counts, so ONE
    // tokenize+explode pass serves both statistics (the c1 groupBy
    // previously re-derived the whole corpus bigram stream). c2 then
    // has two consumers (the c1 roll-up and the score join) →
    // conditional pin; the frame is bigram-type-bounded, far below the
    // token stream it summarizes.
    val c2 = graft.state.Materialize.pin(
      big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2")), Policy.IfLarge)
    val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
    val rn = Window.partitionBy($"w1").orderBy($"c2".desc, $"w2")
    c2.join(broadcast(c1), "w1")
      .withColumn("p", expr("CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)"))
      .withColumn("rn", row_number().over(rn).cast("long"))
      .where($"rn" <= 3)
      .select($"w1", $"w2", $"c2", $"c1", $"p", $"rn")
      .orderBy($"w1", $"rn")
  }

  private val PrIters = 10

  /** llm_textrank — TextRank keyword scoring: fixed-point weighted
    * PageRank (damping 0.85, 10 iterations) over the word-transition
    * graph whose edges are bigram counts. All arithmetic is integer
    * micro-units with floor division, so every iteration is exactly
    * replayable by the oracle's unrolled SQL (floats would drift across
    * engines after 10 iterations of reordered summation).
    *
    * Scale shape: each iteration is edges ⋈ ranks on the source node +
    * one aggregate by destination — the standard distributed PageRank
    * step, linear in |edges| per iteration with no driver-side state.
    * (At fixture scale the graph is the 31-word vocabulary; the plan
    * shape is what scales, and the iterative-join pattern is shared with
    * llm_dedup_clusters' label propagation.)
    */
  /** Word-graph edges exceeding this count iterate distributed; below it
    * the graph is broadcast-sized and iterates in driver memory. A vocab
    * transition graph is |vocab|² at worst — far under this for any real
    * tokenizer vocabulary; the corpus-sized work (tokenize + bigram count)
    * is ALWAYS distributed either way.
    */
  private val MaxLocalEdges = 200000

  /** The weighted word-transition graph: one distributed pass over the
    * corpus (tokenize → bigram explode → count). */
  private[llm] def bigramEdges(spark: SparkSession, dir: String): DataFrame =
    bigramEdgesFrom(Tables.documents(spark, dir))

  private[llm] def bigramEdgesFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(split($"text", " ").as("t"))
      .where(size($"t") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("p"))
      .select($"p.w1", $"p.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
  }

  def textrank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = bigramEdges(spark, dir)
    // bounded probe: never collects more than the cap + 1 rows
    val sample = edges.limit(MaxLocalEdges + 1).collect()
    if (sample.length <= MaxLocalEdges) {
      // Graph fits the broadcast budget: one distributed aggregation pass
      // over the corpus (above), then the 10 fixed-point iterations run in
      // driver memory — integer math identical to the distributed form, so
      // the oracle can't tell which path produced the result. Avoids 10
      // sequential tiny-job round trips (measured 3.4s → ~0.3s at sf0.1).
      val es = sample.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val outw = es.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
      var rank = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to PrIters) {
        val incoming = scala.collection.mutable.Map.empty[String, Long]
        es.foreach { case (w1, w2, c2) =>
          val c = rank(w1) * c2 / outw(w1)
          incoming.update(w2, incoming.getOrElse(w2, 0L) + c)
        }
        rank = nodes.map(n =>
          n -> (150000L + 850L * incoming.getOrElse(n, 0L) / 1000L)).toMap
      }
      rank.toSeq.toDF("node", "r").orderBy($"r".desc, $"node")
    } else textrankDistributed(spark, edges)
  }

  /** Scale path: edges ⋈ ranks per iteration — the standard distributed
    * PageRank step, linear in |edges| per iteration. localCheckpoint
    * truncates lineage so iteration k doesn't re-execute 1..k−1.
    * RankingSpec pins that this produces EXACTLY the local path's ranks
    * (same integer ops, different execution substrate).
    */
  private[llm] def textrankDistributed(spark: SparkSession,
                                       edges: DataFrame): DataFrame = {
    import spark.implicits._
    val ed   = edges.cache()
    val outw = ed.groupBy($"w1").agg(sum($"c2").as("out_w"))
    val nodes = ed.select($"w1".as("node"))
      .union(ed.select($"w2".as("node"))).distinct().cache()
    var r = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to PrIters) {
      val contrib = ed.join(outw, "w1")
        .join(r.withColumnRenamed("node", "w1"), "w1")
        .select($"w2".as("node"), expr("(r * c2) div out_w").as("c"))
        .groupBy($"node").agg(sum($"c").as("incoming"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select($"node",
          (lit(150000L) + expr("(850 * coalesce(incoming, 0L)) div 1000")).as("r"))
        .transform(graft.state.Materialize.pin(_, Policy.Always))
    }
    r.orderBy($"r".desc, $"node")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_tfidf"     -> (tfidf _),
    "llm_bm25"      -> (bm25 _),
    "llm_bigram_lm" -> (bigramLm _),
    "llm_textrank"  -> (textrank _),
    "llm_rrf_fusion" -> (rrfFusion _)
  )

  private val termList = bm25Terms.map(w => s"'$w'").mkString(", ")

  /** The oracle replays every fixed-point PageRank iteration as an
    * unrolled CTE chain — generated from the same PrIters constant, so
    * the two engines cannot disagree on iteration count.
    */
  private val textrankOracle: String = {
    val base =
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT t, generate_subscripts(t, 1) AS i FROM toks),
        |big AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx WHERE i < len(t)),
        |edges AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
        |outw AS (SELECT w1, SUM(c2)::BIGINT AS out_w FROM edges GROUP BY w1),
        |nodes AS (SELECT w1 AS node FROM edges UNION SELECT w2 FROM edges),
        |r0 AS (SELECT node, 1000000::BIGINT AS r FROM nodes)""".stripMargin
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |    (150000 + (850 * COALESCE(s.incoming, 0)) // 1000)::BIGINT AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.w2 AS node, SUM((p.r * e.c2) // o.out_w)::BIGINT AS incoming
         |    FROM edges e JOIN outw o ON e.w1 = o.w1 JOIN r${k - 1} p ON e.w1 = p.node
         |    GROUP BY e.w2) s ON n.node = s.node)""".stripMargin
    }
    base + ",\n" + iters.mkString(",\n") +
      s"\nSELECT node, r FROM r$PrIters ORDER BY r DESC, node"
  }

  def oracle: Map[String, String] = Map(
    "llm_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM t GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY w),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT doc_id, w, tf, df,
        |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
        |  FROM tf JOIN df USING (w) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY doc_id ORDER BY score DESC, w) AS rn FROM s)
        |SELECT doc_id, w, tf, df, score, rn
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "llm_bm25" ->
      s"""WITH docs AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl FROM documents),
         |t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |q AS (SELECT doc_id, w FROM t WHERE w IN ($termList)),
         |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM q GROUP BY doc_id, w),
         |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM q GROUP BY w),
         |n AS (
         |  SELECT COUNT(*) AS n_docs,
         |    SUM(len(string_split(text, ' ')))::BIGINT AS sum_dl FROM documents),
         |n2 AS (SELECT n_docs, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM n),
         |scored AS (
         |  SELECT d.doc_id, tf.w, ${bm25Score("d.dl")} AS s
         |  FROM docs d JOIN tf ON d.doc_id = tf.doc_id
         |  JOIN df ON tf.w = df.w CROSS JOIN n2),
         |agg AS (
         |  SELECT doc_id,
         |    ${bm25Terms.map(w => s"COALESCE(MAX(CASE WHEN w = '$w' THEN s END), 0.0)")
                        .mkString(" + ")} AS score
         |  FROM scored GROUP BY doc_id)
         |SELECT doc_id, score FROM agg
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "llm_rrf_fusion" ->
      s"""WITH docs AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl FROM documents),
         |t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |q AS (SELECT doc_id, w FROM t WHERE w IN ($termList)),
         |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM q GROUP BY doc_id, w),
         |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM q GROUP BY w),
         |n AS (
         |  SELECT COUNT(*) AS n_docs,
         |    SUM(len(string_split(text, ' ')))::BIGINT AS sum_dl FROM documents),
         |n2 AS (SELECT n_docs, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM n),
         |scored AS (
         |  SELECT d.doc_id, tf.w, ${bm25Score("d.dl")} AS s
         |  FROM docs d JOIN tf ON d.doc_id = tf.doc_id
         |  JOIN df ON tf.w = df.w CROSS JOIN n2),
         |agg AS (
         |  SELECT doc_id,
         |    ${bm25Terms.map(w => s"COALESCE(MAX(CASE WHEN w = '$w' THEN s END), 0.0)")
                        .mkString(" + ")} AS score
         |  FROM scored GROUP BY doc_id),
         |lexk AS (SELECT doc_id, score FROM agg ORDER BY score DESC, doc_id LIMIT 60),
         |lex AS (SELECT doc_id,
         |          row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
         |        FROM lexk),
         |qsc AS (SELECT doc_id,
         |  (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END
         |   + CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END
         |   + CASE WHEN len(list_distinct(string_split(text, ' '))) * 2
         |              >= len(string_split(text, ' ')) THEN 1 ELSE 0 END
         |   + CASE WHEN len(list_filter(string_split(text, ' '),
         |                               w -> w = 'the' OR w = 'a')) * 5
         |              <= len(string_split(text, ' ')) THEN 1 ELSE 0 END)::INT AS qs
         |  FROM documents),
         |qk AS (SELECT doc_id, qs FROM qsc ORDER BY qs DESC, doc_id LIMIT 60),
         |qr AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY qs DESC, doc_id) AS r_q
         |       FROM qk),
         |f AS (SELECT COALESCE(lex.doc_id, qr.doc_id) AS doc_id,
         |        COALESCE(lex.r_lex, 0)::BIGINT AS r_lex,
         |        COALESCE(qr.r_q, 0)::BIGINT AS r_q,
         |        (CASE WHEN lex.r_lex IS NULL THEN 0.0
         |              ELSE 1.0 / (60.0 + lex.r_lex) END
         |         + CASE WHEN qr.r_q IS NULL THEN 0.0
         |                ELSE 1.0 / (60.0 + qr.r_q) END) AS rrf
         |      FROM lex FULL JOIN qr ON lex.doc_id = qr.doc_id)
         |SELECT doc_id, r_lex, r_q, rrf FROM f
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "llm_bigram_lm" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |idx AS (SELECT t, generate_subscripts(t, 1) AS i FROM toks),
        |big AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx WHERE i < len(t)),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
        |j AS (
        |  SELECT c2.w1, c2.w2, c2.c2, c1.c1,
        |    CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS p
        |  FROM c2 JOIN c1 ON c2.w1 = c1.w1),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY w1 ORDER BY c2 DESC, w2) AS rn FROM j)
        |SELECT w1, w2, c2, c1, p, rn
        |FROM r WHERE rn <= 3 ORDER BY w1, rn""".stripMargin,
    "llm_textrank" -> textrankOracle
  )
}
