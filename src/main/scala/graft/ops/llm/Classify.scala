package graft.ops.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.QueryPack
import graft.state.Materialize.Policy

/** Trained document classification for LLM data curation (round-2
  * mandate: text analysis / quality scoring as first-class pipeline
  * operators). Production curation pipelines score every crawl document
  * with a *trained* lightweight classifier (fastText-style linear model
  * over token counts — CCNet, GPT-3's WebText-vs-crawl filter, FineWeb's
  * edu scorer); this pack implements that batch-train / batch-apply
  * architecture as two declarative passes over the `documents` fixture:
  *
  *   1. TRAIN [[nbcProfile]] — fit multinomial class profiles (per-class
  *      token counts) on the training split: one explode + one
  *      vocabulary-bounded aggregate.
  *   2. APPLY [[nbcConfusion]] — score the held-out split against the
  *      profiles and emit the (actual × predicted) confusion matrix, the
  *      standard evaluation artifact for a curation classifier.
  *
  * The classifier is the integer form of multinomial scoring: evidence
  * for class c on document d is Σ_w tf_d(w)·cnt_c(w) — an exact integer
  * dot product between the document's token counts and the class
  * profile — normalized by the class's total token mass with a SINGLE
  * correctly-rounded IEEE division (repo determinism discipline: libm
  * `ln` is not correctly rounded and may differ between engines, so the
  * usual log-likelihood form is deliberately avoided; integer
  * cross-products + one division are bit-identical in Spark and DuckDB).
  * Argmax ties break on class name ascending, totally ordered in both
  * engines.
  *
  * Scale shape (100 TB posture): training is explode + hash-aggregate on
  * (class, token) — map-side partial aggregation, one shuffle, output
  * bounded by |classes|·|vocabulary|, NOT corpus size. The fitted profile
  * is therefore broadcast-sized by construction (the same reason fastText
  * models fit in memory), and apply is a broadcast join + per-document
  * aggregate: one shuffle on doc_id, nothing global. The train/holdout
  * split is a pure deterministic predicate on doc_id (mod 5), so both
  * splits prune at the scan.
  */
object Classify extends QueryPack {

  /** Deterministic 80/20 split: doc_id ≡ 4 (mod 5) is held out. */
  private val HoldoutMod = 5
  private val HoldoutRem = 4

  /** Per-(class, token) counts over the TRAINING split only — the fitted
    * multinomial profile, shared by both gates.
    */
  private def trainCounts(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.filter($"doc_id" % HoldoutMod =!= HoldoutRem)
      .select($"lang", explode(split($"text", " ")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("cnt"))
  }

  /** TRAIN gate: the fitted class profiles — per-(lang, token) counts
    * plus each class's total token mass (the normalizer the apply side
    * divides by). The window runs over the already-aggregated
    * vocabulary-sized frame, not the corpus.
    */
  def nbcProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainCounts(Tables.documents(spark, dir))
      .withColumn("lang_tot", sum($"cnt").over(Window.partitionBy($"lang")))
      .orderBy($"lang", $"w")
  }

  /** APPLY gate: score the held-out 20% against the trained profiles and
    * aggregate into the (actual lang × predicted lang) confusion matrix.
    * Documents whose tokens all fall outside the trained vocabulary
    * (impossible on this fixture, latent on real data) predict 'und' via
    * the left join, mirroring [[TextStats.langId]]'s convention.
    */
  def nbcConfusion(spark: SparkSession, dir: String): DataFrame =
    nbcConfusionFrom(Tables.documents(spark, dir))

  /** Composable form over any (doc_id, text, lang) frame — the seam the
    * 10× scale probe drives (ScaleProbe convention).
    */
  def nbcConfusionFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // Pinned (r17) when the optimizer estimate crosses the adaptive
    // threshold (r18, VERDICT r17 #3): prof has two consumers (the
    // broadcast score join and the class-mass normalizer) — unpinned,
    // the train-split tokenize + vocabulary aggregate tower runs once
    // per consumer, which below the threshold is cheaper than the pin
    // barrier and above it is a duplicated corpus pass.
    val prof = graft.state.Materialize.pin(
      trainCounts(docs).select($"lang".as("plang"), $"w", $"cnt"), Policy.IfLarge)
    val tot  = prof.groupBy($"plang").agg(sum($"cnt").as("tot"))
    val test = docs.filter($"doc_id" % HoldoutMod === HoldoutRem)
    val ev = test
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .join(broadcast(prof), Seq("w"))
      .groupBy($"doc_id", $"plang").agg(sum($"cnt").as("evidence"))
    // evidence/tot: two exact longs, one IEEE division — identical in
    // both engines; ties break on class name.
    val wArg = Window.partitionBy($"doc_id")
      .orderBy(($"evidence".cast("double") / $"tot").desc, $"plang")
    val pred = ev.join(broadcast(tot), Seq("plang"))
      .withColumn("rn", row_number().over(wArg))
      .filter($"rn" === 1).select($"doc_id", $"plang")
    test.join(pred, Seq("doc_id"), "left_outer")
      .select($"lang", coalesce($"plang", lit("und")).as("predicted"))
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"predicted")
  }

  /** Calibration gate: the reliability diagram for the trained
    * classifier on the held-out split — fixed-width confidence bins
    * (floor(conf·500), capped at 499 — width 1/500 rather than the
    * textbook 1/10 because the synthetic fixture's shared vocabulary
    * compresses confidences into a ~0.01-wide band; the mechanics are
    * identical at any width) with per-bin document and correct counts
    * plus the confidence range. Confidence is the winner's share
    * of the total normalized evidence, folded over classes in plang
    * order (collect + sorted-array fold — the deterministic-sum
    * discipline; a float hash-aggregate would be partitioning-dependent).
    * This is the artifact that decides what confidence threshold a
    * curation filter can act on.
    *
    * Scale shape: everything is keyed by doc_id (scoring aggregate,
    * winner window, class fold) against the broadcast model; bins are
    * FIXED-WIDTH, not quantiles, precisely so no global-order window
    * appears — the bin id is per-row arithmetic and the final aggregate
    * has ≤500 keys.
    */
  def nbcCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // Pinned (r17) when the optimizer estimate crosses the adaptive
    // threshold (r18, VERDICT r17 #3): prof has two consumers (the
    // broadcast score join and the class-mass normalizer) — unpinned,
    // the train-split tokenize + vocabulary aggregate tower runs once
    // per consumer, which below the threshold is cheaper than the pin
    // barrier and above it is a duplicated corpus pass.
    val prof = graft.state.Materialize.pin(
      trainCounts(docs).select($"lang".as("plang"), $"w", $"cnt"), Policy.IfLarge)
    val tot  = prof.groupBy($"plang").agg(sum($"cnt").as("tot"))
    val test = docs.filter($"doc_id" % HoldoutMod === HoldoutRem)
    // Pinned above the adaptive threshold (r17 pin, r18 conditional):
    // sc feeds BOTH the winner window and the class-sum fold —
    // unpinned, the holdout tokenize + score tower runs twice.
    val sc = graft.state.Materialize.pin(test
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .join(broadcast(prof), Seq("w"))
      .groupBy($"doc_id", $"plang").agg(sum($"cnt").as("evidence"))
      .join(broadcast(tot), Seq("plang"))
      .withColumn("s", $"evidence".cast("double") / $"tot"), Policy.IfLarge)
    val win = sc.withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"s".desc, $"plang")))
      .filter($"rn" === 1)
      .select($"doc_id", $"plang".as("win"), $"s".as("smax"))
    val ssum = sc.groupBy($"doc_id")
      .agg(collect_list(struct($"plang", $"s")).as("ps"))
      .select($"doc_id", expr(
        """aggregate(transform(array_sort(ps), p -> p.s),
           cast(0 as double), (acc, x) -> acc + x)""").as("ssum"))
    win.join(ssum, Seq("doc_id"))
      .withColumn("conf", $"smax" / $"ssum")
      .join(test.select($"doc_id", $"lang"), Seq("doc_id"))
      .withColumn("bin", least(floor($"conf" * 500.0), lit(499L)))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
           sum(when($"win" === $"lang", 1L).otherwise(0L)).as("n_correct"),
           min($"conf").as("conf_lo"), max($"conf").as("conf_hi"))
      .orderBy($"bin")
  }

  /** Threshold-sweep gate: the ROC/PR operating table for the binary
    * curation decision the classifier actually serves ("keep if
    * P(en) ≥ t") — for every occupied score bin, the confusion counts
    * and integer-ppm precision/recall of the filter "accept when the
    * en-confidence lands in this bin or higher". This is the artifact
    * that picks the production threshold: FineWeb-style pipelines sweep
    * exactly this table and choose the knee.
    *
    * Scale shape: per-doc scoring is the calibration plan (broadcast
    * model, doc_id-keyed aggregates); the sweep NEVER sorts the corpus —
    * scores collapse into ≤500 fixed-width bins first (one small
    * aggregate), and the cumulative confusion counts are windows over
    * that ≤500-row bin frame (the unpartitioned window is bounded by
    * construction, not by data). en-evidence needs no fold: `sc` has one
    * row per (doc, class), so MAX(CASE) picks the single value
    * deterministically.
    */
  def nbcRoc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // Pinned (r17) when the optimizer estimate crosses the adaptive
    // threshold (r18, VERDICT r17 #3): prof has two consumers (the
    // broadcast score join and the class-mass normalizer) — unpinned,
    // the train-split tokenize + vocabulary aggregate tower runs once
    // per consumer, which below the threshold is cheaper than the pin
    // barrier and above it is a duplicated corpus pass.
    val prof = graft.state.Materialize.pin(
      trainCounts(docs).select($"lang".as("plang"), $"w", $"cnt"), Policy.IfLarge)
    val tot  = prof.groupBy($"plang").agg(sum($"cnt").as("tot"))
    val test = docs.filter($"doc_id" % HoldoutMod === HoldoutRem)
    val sc = test
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .join(broadcast(prof), Seq("w"))
      .groupBy($"doc_id", $"plang").agg(sum($"cnt").as("evidence"))
      .join(broadcast(tot), Seq("plang"))
      .withColumn("s", $"evidence".cast("double") / $"tot")
    val agg = sc.groupBy($"doc_id")
      .agg(collect_list(struct($"plang", $"s")).as("ps"),
           max(when($"plang" === "en", $"s")).as("sen"))
      .select($"doc_id", $"sen", expr(
        """aggregate(transform(array_sort(ps), p -> p.s),
           cast(0 as double), (acc, x) -> acc + x)""").as("ssum"))
    val binned = test.select($"doc_id", $"lang")
      .join(agg, Seq("doc_id"), "left_outer")
      .withColumn("score", coalesce($"sen" / $"ssum", lit(0.0)))
      .withColumn("bin", least(floor($"score" * 500.0), lit(499L)))
      .groupBy($"bin")
      .agg(sum(($"lang" === "en").cast("long")).as("pos"),
           sum(($"lang" =!= "en").cast("long")).as("neg"))
    val desc = Window.orderBy($"bin".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy($"bin".desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .withColumn("tp", sum($"pos").over(desc))
      .withColumn("fp", sum($"neg").over(desc))
      .withColumn("fn", sum($"pos").over(all) - $"tp")
      .withColumn("tn", sum($"neg").over(all) - $"fp")
      .select($"bin", $"tp", $"fp", $"fn", $"tn",
        expr("(1000000 * tp) div (tp + fp)").as("precision_ppm"),
        expr("(1000000 * tp) div (tp + fn)").as("recall_ppm"))
      .orderBy($"bin")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_nbc_profile"     -> (nbcProfile _),
    "llm_nbc_confusion"   -> (nbcConfusion _),
    "llm_nbc_calibration" -> (nbcCalibration _),
    "llm_nbc_roc"         -> (nbcRoc _)
  )

  def oracle: Map[String, String] = Map(
    "llm_nbc_roc" ->
      """WITH train AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id % 5 <> 4),
        |cnt AS (SELECT lang AS plang, w, COUNT(*) AS cnt
        |        FROM train GROUP BY 1, 2),
        |tot AS (SELECT plang, SUM(cnt)::BIGINT AS tot FROM cnt GROUP BY 1),
        |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 4),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test),
        |ev AS (SELECT t.doc_id, c.plang, SUM(c.cnt)::BIGINT AS evidence
        |       FROM toks t JOIN cnt c USING (w) GROUP BY 1, 2),
        |sc AS (SELECT ev.doc_id, ev.plang,
        |         ev.evidence::DOUBLE / tt.tot::DOUBLE AS s
        |       FROM ev JOIN tot tt USING (plang)),
        |sm AS (SELECT doc_id,
        |         list_reduce(list(s ORDER BY plang), (a, b) -> a + b) AS ssum,
        |         MAX(CASE WHEN plang = 'en' THEN s END) AS sen
        |       FROM sc GROUP BY doc_id),
        |bs AS (SELECT t.lang, COALESCE(s.sen / s.ssum, 0.0) AS score
        |       FROM test t LEFT JOIN sm s USING (doc_id)),
        |bn AS (SELECT LEAST(floor(score * 500.0), 499.0)::BIGINT AS bin,
        |         COUNT(CASE WHEN lang = 'en' THEN 1 END)::BIGINT AS pos,
        |         COUNT(CASE WHEN lang <> 'en' THEN 1 END)::BIGINT AS neg
        |       FROM bs GROUP BY 1),
        |cum AS (SELECT bin,
        |  SUM(pos) OVER (ORDER BY bin DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp,
        |  SUM(neg) OVER (ORDER BY bin DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS fp,
        |  (SUM(pos) OVER ())::BIGINT AS ap, (SUM(neg) OVER ())::BIGINT AS an
        |  FROM bn)
        |SELECT bin, tp, fp, (ap - tp) AS fn, (an - fp) AS tn,
        |  ((1000000 * tp) // (tp + fp))::BIGINT AS precision_ppm,
        |  ((1000000 * tp) // (tp + ap - tp))::BIGINT AS recall_ppm
        |FROM cum ORDER BY bin""".stripMargin,
    "llm_nbc_profile" ->
      """WITH train AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id % 5 <> 4),
        |cnt AS (SELECT lang, w, COUNT(*) AS cnt FROM train GROUP BY 1, 2)
        |SELECT lang, w, cnt,
        |  (SUM(cnt) OVER (PARTITION BY lang))::BIGINT AS lang_tot
        |FROM cnt ORDER BY lang, w""".stripMargin,
    "llm_nbc_calibration" ->
      """WITH train AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id % 5 <> 4),
        |cnt AS (SELECT lang AS plang, w, COUNT(*) AS cnt
        |        FROM train GROUP BY 1, 2),
        |tot AS (SELECT plang, SUM(cnt)::BIGINT AS tot FROM cnt GROUP BY 1),
        |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 4),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test),
        |ev AS (SELECT t.doc_id, c.plang, SUM(c.cnt)::BIGINT AS evidence
        |       FROM toks t JOIN cnt c USING (w) GROUP BY 1, 2),
        |sc AS (SELECT ev.doc_id, ev.plang,
        |         ev.evidence::DOUBLE / tt.tot::DOUBLE AS s
        |       FROM ev JOIN tot tt USING (plang)),
        |win AS (SELECT doc_id, plang AS win, s AS smax FROM (
        |          SELECT doc_id, plang, s, row_number() OVER (
        |            PARTITION BY doc_id ORDER BY s DESC, plang) AS rn
        |          FROM sc) WHERE rn = 1),
        |sm AS (SELECT doc_id,
        |         list_reduce(list(s ORDER BY plang), (a, b) -> a + b) AS ssum
        |       FROM sc GROUP BY doc_id),
        |bn AS (SELECT t.lang, w.win, w.smax / s.ssum AS conf
        |       FROM win w JOIN sm s USING (doc_id)
        |       JOIN test t USING (doc_id))
        |SELECT LEAST(floor(conf * 500.0), 499.0)::BIGINT AS bin,
        |  COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN win = lang THEN 1 END) AS n_correct,
        |  MIN(conf) AS conf_lo, MAX(conf) AS conf_hi
        |FROM bn GROUP BY 1 ORDER BY bin""".stripMargin,
    "llm_nbc_confusion" ->
      """WITH train AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id % 5 <> 4),
        |cnt AS (SELECT lang AS plang, w, COUNT(*) AS cnt
        |        FROM train GROUP BY 1, 2),
        |tot AS (SELECT plang, SUM(cnt)::BIGINT AS tot FROM cnt GROUP BY 1),
        |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 4),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test),
        |ev AS (SELECT t.doc_id, c.plang, SUM(c.cnt)::BIGINT AS evidence
        |       FROM toks t JOIN cnt c USING (w) GROUP BY 1, 2),
        |sc AS (SELECT ev.doc_id, ev.plang,
        |         row_number() OVER (PARTITION BY ev.doc_id
        |           ORDER BY ev.evidence::DOUBLE / tt.tot::DOUBLE DESC,
        |                    ev.plang) AS rn
        |       FROM ev JOIN tot tt USING (plang)),
        |p1 AS (SELECT doc_id, plang FROM sc WHERE rn = 1)
        |SELECT d.lang, COALESCE(p1.plang, 'und') AS predicted,
        |  COUNT(*) AS n_docs
        |FROM test d LEFT JOIN p1 USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
