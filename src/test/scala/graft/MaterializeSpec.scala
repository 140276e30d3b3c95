package graft

import graft.state.Materialize
import graft.state.Materialize.Policy

/** `spark.graft.materialize=reliable` must be a pure execution-strategy
  * switch: every pipeline that pins intermediates (winnow pairs, MinHash
  * connected components, suffix-array rounds, TextRank) returns
  * bit-identical results under reliable checkpointing, it just stores
  * the pinned data in the checkpoint dir instead of executor block
  * storage (the 100 TB posture — VERDICT r6 item 8).
  */
class MaterializeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("reliable checkpoint mode matches local mode on pinned pipelines") {
    val qs = SparkEntry.queries
    // one per pin-heavy family: fingerprint reuse, CC iteration loop,
    // prefix-doubling rounds, PageRank iterations. The memo layer is
    // cleared before EACH mode's run: a cache hit would hand the
    // reliable run the local run's pinned frame and the comparison
    // would be vacuous (the r11 winnow/span memoization made the
    // un-cleared form exactly that).
    Seq("llm_winnow_pairs", "llm_dedup_clusters", "llm_suffix_array",
        "llm_textrank").foreach { name =>
      Materialize.clearSessionCaches()
      val local    = canon(qs(name)(spark, dir))
      Materialize.clearSessionCaches()
      val reliable = withConf(Materialize.ModeKey -> "reliable")(canon(qs(name)(spark, dir)))
      assert(local.nonEmpty, s"$name: empty result")
      assert(reliable == local, s"$name: reliable mode drifts from local")
    }
  }

  test("releasePinned releases EXACTLY its own pin: the pinned frame's " +
       "blocks leave persistent storage on release, a concurrently " +
       "pinned frame's blocks survive, and releasing again is safe " +
       "with other pins live (self-review r13 pass 5 — a " +
       "keyset-diff release would have swept the bystander)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a bystander pin created in the same window
    val bystander = Materialize.pin(
      spark.range(1000).select($"id", ($"id" * 2).as("x")), Policy.Always)
    val scoped = Materialize.pin(
      spark.range(5000).select($"id", ($"id" % 7).as("y")), Policy.Always)
    def release(): Unit = Materialize.releasePinned(scoped)
    assert(scoped.count() === 5000L)
    val pinnedIds = sc.getPersistentRDDs.keySet -- before
    assert(pinnedIds.size >= 2, "both pins must be registered")
    release()
    val after = sc.getPersistentRDDs.keySet -- before
    assert(after.size === pinnedIds.size - 1,
      s"release must drop exactly one pin (before=$pinnedIds after=$after)")
    // the bystander still answers from its (lineage-truncated) blocks
    assert(bystander.count() === 1000L)
    // releasing twice is a safe no-op
    release()
    assert(bystander.count() === 1000L)
  }

  test("releasePinned under reliable mode deletes the checkpoint files " +
       "(ContextCleaner does not; a per-micro-batch caller " +
       "would grow shared storage without bound)") {
    import spark.implicits._
    withConf(Materialize.ModeKey -> "reliable") {
      val scoped = Materialize.pin(spark.range(100).select($"id"), Policy.Always)
      assert(scoped.count() === 100L)
      val ckptDir = spark.sparkContext.getCheckpointDir.get
      def ckptFiles(): Long =
        java.nio.file.Files.walk(java.nio.file.Paths.get(
            new java.net.URI(ckptDir).getPath match {
              case "" | null => ckptDir.stripPrefix("file:")
              case p => p
            }))
          .filter(java.nio.file.Files.isRegularFile(_)).count()
      val withPin = ckptFiles()
      assert(withPin > 0, "reliable pin must have written checkpoint files")
      Materialize.releasePinned(scoped)
      assert(ckptFiles() < withPin,
        "release must delete the pin's checkpoint files")
    }
  }

  test("withConf puts an unset spark.graft.materialize back to unset, not " +
       "to an explicit local (which vetoes the loop-pin autopilot and " +
       "changes the memo key for every suite after it)") {
    val prior = spark.conf.getOption(Materialize.ModeKey)
    spark.conf.unset(Materialize.ModeKey)
    try {
      withConf(Materialize.ModeKey -> "reliable") {
        assert(spark.conf.get(Materialize.ModeKey) === "reliable")
      }
      assert(spark.conf.getOption(Materialize.ModeKey) === None)
    } finally prior.foreach(spark.conf.set(Materialize.ModeKey, _))
  }

  test("unknown materialize mode fails fast") {
    // a memo-cache hit would serve the already-pinned frame and never
    // reach the mode dispatch — force the MISS
    Materialize.clearSessionCaches()
    val e = withConf(Materialize.ModeKey -> "spill-to-floppy") {
      intercept[IllegalArgumentException](
        SparkEntry.queries("llm_winnow_pairs")(spark, dir).collect())
    }
    assert(e.getMessage.contains("spark.graft.materialize"))
  }

  test("Policy.IfLarge pins both regimes identically (r18, VERDICT r17 #3): " +
       "results equal whether the tower pins or re-derives, the pin " +
       "engages above the threshold and skips below it") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1000).select(
      (col("id") % 7).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
    def isPinned(out: org.apache.spark.sql.DataFrame): Boolean =
      out.queryExecution.optimizedPlan.toString.contains("LogicalRDD") ||
        out.queryExecution.analyzed.toString.contains("LogicalRDD")
    def withThr[A](v: String)(f: => A): A =
      withConf(Materialize.AdaptivePinBytesKey -> v)(f)
    // far-above threshold: the tiny frame is returned UNPINNED
    val skipped = withThr((1L << 40).toString)(Materialize.pin(df, Policy.IfLarge))
    assert(!isPinned(skipped), "sub-threshold tower must skip the pin")
    // 1-byte threshold: every frame pins
    val pinned = withThr("1")(Materialize.pin(df, Policy.IfLarge))
    assert(isPinned(pinned), "above-threshold tower must pin")
    // <= 0 disables the gate: unconditional pin
    val forced = withThr("0")(Materialize.pin(df, Policy.IfLarge))
    assert(isPinned(forced), "thr <= 0 must pin unconditionally")
    // both regimes are result-identical
    assert(canon(skipped) == canon(pinned))
    // a malformed threshold names its key
    val err = withThr("lots") {
      intercept[IllegalArgumentException](Materialize.pin(df, Policy.IfLarge))
    }
    assert(err.getMessage.contains(Materialize.AdaptivePinBytesKey))
    // and a production gate is result-identical under both regimes
    // (nbc_confusion carries the conditional prof pin)
    val q = SparkEntry.queries("llm_nbc_confusion")
    val below = withThr((1L << 40).toString)(canon(q(spark, dir)))
    val above = withThr("1")(canon(q(spark, dir)))
    assert(below.nonEmpty && below == above,
      "llm_nbc_confusion drifts between pin regimes")
  }
}
