package perfbench

import scala.util.control.NonFatal

/** Self-tests of the benchmark's own logic. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on any failure.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case NonFatal(e) => failures += 1; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    val data = args(0)

    test("tail percentile needs ten samples beyond it") {
      val hundred = (1 to 100).map(i => (i.toDouble, i.toLong))
      check(Stats.tail(hundred, 0.9).contains(90.0), "p90 of 100 samples is supported")
      check(Stats.tail(hundred.take(99), 0.9).isEmpty, "p90 of 99 samples leaves 9 beyond")
      // 1000 samples in 50 correlated groups: only 5 groups lie beyond p90
      val grouped = (0 until 1000).map(i => (i.toDouble, (i / 20).toLong))
      check(Stats.tail(grouped, 0.9).isEmpty, "groups, not samples, count")
      check(Stats.highestTail(grouped).contains(0.75 -> 749.0), "falls back to p75")
      check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even-count median")
    }

    val vocab = IndexedSeq("alpha", "beta", "gamma", "delta", "epsilon")
    val cfg = Generator.Default
    def files(seed: Long) =
      Generator.episode(seed, 1, vocab, cfg).map(t => Generator.render(t, 1000L))

    test("same seed gives byte-identical generator output and expected set") {
      check(files(7) == files(7), "rendered files differ")
      val a = Generator.expected(Generator.episode(7, 1, vocab, cfg), cfg)
      val b = Generator.expected(Generator.episode(7, 1, vocab, cfg), cfg)
      check(a == b && a.nonEmpty, "expected sets differ")
      check(files(7) != files(8), "another seed gives the same output")
    }

    test("generator plants exact repeats, NFD twins and short texts") {
      val docs = Generator.episode(7, 1, vocab, cfg).flatten
      val texts = docs.map(_.text)
      check(texts.distinct.size < texts.size, "no exact repeats")
      val twins = texts.filter(t => Generator.nfc(t) != t)
      check(twins.nonEmpty && twins.forall(t => texts.contains(Generator.nfc(t))), "no NFD twins")
      check(texts.exists(t => !Generator.passes(t, cfg)), "no text fails the quality filter")
    }

    test("sink check rejects a duplicated, a missing and an unexpected row") {
      val expected = Set("a", "b", "c")
      check(SinkCheck(expected, Seq("a", "b", "c")).failed == 0, "clean sink flagged")
      check(SinkCheck(expected, Seq("a", "b", "c", "b")).duplicated == 1, "duplicate missed")
      check(SinkCheck(expected, Seq("a", "b")).missing == 1, "missing row missed")
      check(SinkCheck(expected, Seq("a", "b", "c", "x")).unexpected == 1, "unexpected row missed")
    }

    test("fingerprint check rejects a planted wrong fingerprint") {
      val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val q = "q6_forecast_revenue"
        val got = Batch.readFingerprint(Batch.fingerprintFrame(
          graft.SparkEntry.queries(q)(spark, data)).collect()(0))
        val recorded = Main.readFingerprints(
          java.nio.file.Paths.get(data).getParent.getParent.resolve("fingerprints.json"))
        check(Batch.agrees(recorded, q, Some(got)), s"recorded fingerprint of $q does not match")
        val planted = recorded.updated(q, got.copy(xor = got.xor ^ 1L))
        check(!Batch.agrees(planted, q, Some(got)), "wrong xor accepted")
        check(!Batch.agrees(recorded.updated(q, got.copy(rows = got.rows + 1)), q, Some(got)),
          "wrong row count accepted")
        check(!Batch.agrees(recorded, q, None), "failed query accepted")
      } finally spark.stop()
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
