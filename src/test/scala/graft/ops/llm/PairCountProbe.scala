package graft.ops.llm

import org.apache.spark.sql.functions._

/** Candidate-pair telemetry for the text-pair joins (VERDICT r6 item 4):
  * every pair-generating operator here bounds its join fanout with a
  * document-frequency / bucket structure, so the *predicted* fanout
  * Σ C(group_size, 2) over the join key's group sizes is computable with
  * one cheap aggregate — no join executed. When a fixture regeneration
  * changes the corpus's duplicate structure, these counts say whether a
  * bench-time shift is content-driven (fanout moved) or environmental
  * (fanout flat), and whether the df caps still bound the hot keys.
  *
  *   sbt "runMain graft.ops.llm.PairCountProbe [sfDir]"
  *
  * Reference numbers for the current fixture generation are recorded in
  * COVERAGE.md §"Scale evidence".
  */
object PairCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // fanout = Σ C(df, 2) over per-key group sizes: the exact number of
    // (d1, d2) candidate rows the inverted-index self-join will emit
    // (before d1<d2 halving), computed from one aggregate over the key.
    def fanout(df: org.apache.spark.sql.DataFrame, key: Seq[String]): (Long, Long, Long) = {
      val g = df.groupBy(key.map(col): _*).agg(count(lit(1)).as("df"))
      // integral div — `/` would return double
      val r = g.agg(count(lit(1)).as("keys"), max($"df").as("max_df"),
                    sum(expr("df * (df - 1) div 2")).as("fanout"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // n-gram Jaccard (llm_jaccard_ngram): word 4-grams, df cap 64
    val sh4 = Dedup.shingles(spark, sfDir, 4, distinct = true)
    val (preKeys, preMax, preFan) = fanout(sh4, Seq("s"))
    val kept4 = sh4.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"s")))
      .filter($"df" <= Dedup.JaccardDfCap).drop("df")
    val (k4, kMax, kFan) = fanout(kept4, Seq("s"))
    println(f"[pair-probe] jaccard4 shingle_keys=$preKeys%-8d max_df=$preMax%-6d fanout_uncapped=$preFan%-10d kept_keys=$k4%-8d max_df_capped=$kMax%-4d fanout_capped=$kFan%-9d final=${Dedup.jaccardNgram(spark, sfDir).count()}")

    // MinHash LSH (llm_dedup_minhash / clusters / survivors): 32 bands
    val sh3 = Dedup.shingles(spark, sfDir, 3, distinct = false)
    val buckets = Dedup.minhashBuckets(sh3)
    val (bKeys, bMax, bFan) = fanout(buckets, Seq("band", "bucket"))
    val verified = Dedup.nearDupPairs(spark, sfDir).count()
    println(f"[pair-probe] minhash  buckets=$bKeys%-8d max_bucket=$bMax%-6d fanout=$bFan%-10d verified_pairs=$verified")

    // Winnow pairs (llm_winnow_pairs): fingerprint inverted index, df ≤ 50
    val sel = TextStats.winnowSelected(
      graft.Tables.documents(spark, sfDir).select($"doc_id", $"text"))
      .localCheckpoint()
    val (wKeys, wMax, wFan) = fanout(sel, Seq("wmin"))
    val keptW = sel.join(
      sel.groupBy($"wmin").agg(count(lit(1)).as("df")).where($"df" <= 50)
        .select($"wmin"), Seq("wmin"))
    val (wk, wkMax, wkFan) = fanout(keptW, Seq("wmin"))
    println(f"[pair-probe] winnow   fp_keys=$wKeys%-8d max_df=$wMax%-6d fanout_uncapped=$wFan%-10d kept_keys=$wk%-8d max_df_capped=$wkMax%-4d fanout_capped=$wkFan%-9d final=${TextStats.winnowPairs(spark, sfDir).count()}")

    // Census-driven cap selection (Dedup.selectDfCap): what the auto rule
    // would choose for this corpus, and the fanout it admits — the
    // telemetry a deployment reads to sanity-check the pinned gate caps
    // (50/64) against the self-tuned ones after a fixture/corpus shift.
    def autoLine(tag: String, idx: org.apache.spark.sql.DataFrame,
                 key: String, pinned: Long): Unit = {
      val cap = Dedup.selectDfCap(idx, col(key))
      val sizes = idx.groupBy(col(key)).agg(count(lit(1)).as("df"))
      val admitted = sizes.where($"df" <= cap)
        .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)))
        .head().getLong(0)
      val rows = idx.count()
      println(f"[pair-probe] autocap  $tag%-8s pinned=$pinned%-4d auto=$cap%-6d fanout_admitted=$admitted%-10d budget=${32L * rows}")
    }
    autoLine("jaccard4", sh4, "s", Dedup.JaccardDfCap)
    autoLine("winnow", sel, "wmin", 50L)

    // SimHash banding join (llm_dedup_simhash): key = (block j, byte
    // value bv) — ≤ 4×256 buckets by construction. The skew census
    // (VERDICT r17 #5): max vs median bucket size decides whether the
    // banding join needs salting / AQE skew handling at scale (AQE's
    // skew split cannot divide a single hot KEY, only oversized
    // partitions, so a pathological bucket would need salting in the
    // operator itself).
    val sig = Dedup.simhashSignatures(spark, sfDir)
    val blk = sig.select($"doc_id", $"sh32",
        explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("bv", expr("shiftright(sh32, cast(8 * j as int)) & 255"))
    val bs = blk.groupBy($"j", $"bv").agg(count(lit(1)).as("n"))
    val stats = bs.agg(count(lit(1)).as("buckets"), max($"n").as("max_n"),
        expr("percentile(n, 0.5)").as("med_n"),
        sum(expr("n * (n - 1) div 2")).as("fanout")).collect()(0)
    println(f"[pair-probe] simhash  buckets=${stats.getLong(0)}%-8d " +
      f"max_bucket=${stats.getLong(1)}%-6d median_bucket=${stats.getDouble(2)}%-8.1f " +
      f"fanout=${stats.getLong(3)}%-10d " +
      f"final=${Dedup.dedupSimhash(spark, sfDir).count()}")
    spark.stop()
  }
}
