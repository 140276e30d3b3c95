package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver parses Bench's JSON out of the LAST 2000 chars of sbt
  * output; `Bench.compactLine` exists to always fit that window. These
  * tests pin the contract without a SparkSession.
  */
class BenchSpec extends AnyFunSuite {

  private val many: Seq[(String, Double)] =
    (1 to 120).map(i => f"query_with_a_long_name_$i%03d" -> (i * 0.037))

  test("compact line fits the budget even with far more queries than today") {
    val line = Bench.compactLine(many, many.map(_._2).sum, "/root/testdata/sf0.1")
    assert(line.length <= 1800, s"len=${line.length}")
    assert(line.startsWith("{\"metric\":\"total\""))
    assert(line.endsWith("\"sf\":0.1}"))
  }

  test("a full-round-sized result set emits the FULL vector positionally " +
       "(sorted names + qsig) within the budget, and snapshotQueries " +
       "round-trips it exactly (VERDICT r12 #3: the name->time map is " +
       "~5.8k chars at 251 queries and can never fit the 1800-char " +
       "scrape window)") {
    // 251 realistic-length names, realistic time spread
    val full = (1 to 251).map(i =>
      f"llm_realistic_query_name_$i%03d" -> (i * 0.041 % 7.3))
    val line = Bench.compactLine(full, full.map(_._2).sum,
      "/root/testdata/sf0.1",
      env = """"env":{"load_start":0.41,"load_end":0.52,"contended":false,""" +
        """"steal_cpu_s":0.03,"reps":3},"baseline_s":142.01,"baseline_round":10""")
    assert(line.length <= 1800, s"len=${line.length}")
    assert(line.contains("\"queries_key\":\"sorted_names\""))
    assert(line.contains("\"qsig\":\""))
    // decode as a driver-shaped snapshot: every one of the 251 entries
    // comes back under its right name at 2-decimal precision
    val snapshot = s"""{"parsed":$line}"""
    val names = full.map(_._1).sorted
    val (decoded, note) = Bench.snapshotQueries(snapshot, names)
    assert(note.isEmpty, "full positional decode must carry no degraded-decode note")
    assert(decoded.size === 251)
    full.foreach { case (k, v) =>
      assert(decoded(k) === math.round(v * 100) / 100.0, k)
    }
    // a decoder whose query set DIFFERS must refuse the positional zip
    // (mislabeling every entry is worse than decoding nothing) and fall
    // back to the snapshot's named `top` object — the slowest entries,
    // comparable across any two rounds
    val drifted = ("new_query_name" +: names.tail).sorted
    val (fallback, fnote) = Bench.snapshotQueries(snapshot, drifted)
    assert(fallback.nonEmpty && fallback.size < 251)
    assert(fnote.exists(_.contains("UNDECODABLE")),
      "top-N fallback must carry the loud degraded-decode note")
    val slowest = full.sortBy(-_._2).take(fallback.size).map(_._1).toSet
    assert(fallback.keySet === slowest,
      "fallback must carry the SLOWEST queries, name-keyed")
    fallback.foreach { case (k, v) =>
      assert(v === math.round(full.toMap.apply(k) * 100) / 100.0, k)
    }
  }

  test("snapshotQueries reads the object form; a snapshot without " +
       "decodable queries decodes empty with a degraded-decode note") {
    val obj = """{"parsed":{"queries":{"q_a":1.5,"q_b":0.25}}}"""
    assert(Bench.snapshotQueries(obj, Seq("q_a", "q_b"))._1 ===
      Map("q_a" -> 1.5, "q_b" -> 0.25))
    val direct = """{"queries":{"q_a":2.5}}"""
    assert(Bench.snapshotQueries(direct, Seq("q_a"))._1 === Map("q_a" -> 2.5))
    // a scrape-failed snapshot: BENCH_REGRESS.md must still say why
    // nothing was compared
    val (got, note) = Bench.snapshotQueries(
      """{"parsed":null,"tail":"\"q_c\":3.25,\"q_d\":0.75}"}""", Seq("q_c"))
    assert(got.isEmpty)
    assert(note.exists(_.contains("UNCHECKED")),
      s"an empty decode must carry a degraded-decode note, got $note")
  }

  test("truncated last-resort view keeps the slowest queries and reports " +
       "the omission (forced by an absurdly small budget)") {
    val line = Bench.compactLine(many, many.map(_._2).sum,
      "/root/testdata/sf0.1", budget = 300)
    // slowest entry must survive truncation; fastest must be the one dropped
    assert(line.length <= 300, s"len=${line.length}")
    assert(line.contains("query_with_a_long_name_120"))
    assert(!line.contains("\"query_with_a_long_name_001\""))
    assert(line.contains("\"queries_omitted\":"))
  }

  test("small result sets render completely, no omission marker") {
    val line = Bench.compactLine(
      Seq("q1" -> 1.23456, "q2" -> 0.5), 1.73456, "/root/testdata/sf0.01")
    assert(line ===
      """{"metric":"total","value":1.73,"unit":"sec","queries":{"q1":1.23,"q2":0.5},"sf":0.01}""")
  }

  test("non-sf dir falls back to quoting the path") {
    val line = Bench.compactLine(Seq("q1" -> 1.0), 1.0, "/some/dir")
    assert(line.endsWith("\"sf\":\"/some/dir\"}"))
  }

  test("fallback path is JSON-escaped (quotes and backslashes)") {
    val line = Bench.compactLine(Seq("q1" -> 1.0), 1.0, """/weird"dir\path""")
    assert(line.endsWith("\"sf\":\"/weird\\\"dir\\\\path\"}"), line)
  }

  // --- baseline picker (VERDICT r11 #1: the regress guard must skip
  // contended snapshots instead of diffing the newest unconditionally) ---

  private def snap(contended: Option[Boolean],
                   loads: Option[(Double, Double)] = None): String = {
    val env = (contended, loads) match {
      case (Some(c), _) =>
        s""""env":{"load_start":0.5,"load_end":1.0,"contended":$c,"reps":3}"""
      case (None, Some((ls, le))) => // pre-r11 shape: loads, no flag
        s""""env":{"load_start":$ls,"load_end":$le,"reps":3}"""
      case _ => "\"env\":{}"
    }
    s"""{"parsed":{"metric":"total","value":100.0,$env,"queries":{"q1":1.0}}}"""
  }

  private def withDir(files: Map[String, String])(
      f: java.nio.file.Path => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("benchspec")
    try {
      files.foreach { case (name, body) =>
        java.nio.file.Files.writeString(dir.resolve(name), body)
      }
      f(dir)
    } finally {
      files.keys.foreach(n =>
        java.nio.file.Files.deleteIfExists(dir.resolve(n)))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("picker skips a contended newest snapshot for the older clean one") {
    withDir(Map(
      "BENCH_r11.json" -> snap(Some(true)),
      "BENCH_r10.json" -> snap(Some(false)))) { dir =>
      val pick = Bench.pickBaseline(dir).get
      assert(pick.round === 10)
      assert(pick.cleanCertified)
      assert(pick.path.getFileName.toString === "BENCH_r10.json")
    }
  }

  test("picker prefers the clean-adopted artifact within the same round") {
    withDir(Map(
      "BENCH_r11.json"       -> snap(Some(true)),
      "BENCH_clean_r11.json" -> snap(Some(false)),
      "BENCH_r10.json"       -> snap(Some(false)))) { dir =>
      val pick = Bench.pickBaseline(dir).get
      assert(pick.round === 11)
      assert(pick.cleanCertified)
      assert(pick.path.getFileName.toString === "BENCH_clean_r11.json")
    }
  }

  test("all-contended falls back to the newest, flagged uncertified") {
    withDir(Map(
      "BENCH_r11.json" -> snap(Some(true)),
      "BENCH_r10.json" -> snap(None, Some((1.74, 2.35))))) { dir =>
      val pick = Bench.pickBaseline(dir).get
      assert(pick.round === 11)
      assert(!pick.cleanCertified)
    }
  }

  test("all-contended fallback prefers the newest PARSEABLE snapshot " +
       "over a corrupt newer one (a truncated file would make the " +
       "guard's own read throw and skip the report entirely)") {
    withDir(Map(
      "BENCH_r12.json" -> "{\"parsed\": trunca",
      "BENCH_r11.json" -> snap(Some(true)))) { dir =>
      val pick = Bench.pickBaseline(dir).get
      assert(pick.round === 11)
      assert(!pick.cleanCertified)
    }
  }

  test("snapshotContended reads the explicit flag; a snapshot without " +
       "one is not certifiable") {
    assert(Bench.snapshotContended(snap(Some(true))) === Some(true))
    assert(Bench.snapshotContended(snap(Some(false))) === Some(false))
    // unflagged (pre-r11 loads only, or a scrape-failed tail): None
    assert(Bench.snapshotContended(snap(None, Some((0.2, 1.0)))) === None)
    assert(Bench.snapshotContended(
      """{"parsed":null,"tail":"...\"contended\":true,..."}""") === None)
    assert(Bench.snapshotContended("""{"parsed":null,"tail":"junk"}""") === None)
    assert(Bench.snapshotContended("not json at all") === None)
  }

  // --- the one regression rule, and `regress` mode ---

  test("verdict: a query that ran before and vanished or failed now is broken") {
    val v = Bench.verdict(Map("q_gone" -> 2.0, "q_fail" -> 0.7, "q_ok" -> 1.0,
                              "q_never" -> -1.0),
                          Map("q_fail" -> -1.0, "q_ok" -> 1.0, "q_never" -> -1.0))
    assert(v.broken === Seq("q_fail", "q_gone"))
    assert(v.comparable === 1 && v.failed)
  }

  test("verdict: exactly 1.5x is regressed, also where a double division " +
       "reads the tie as 1.4999999999999998") {
    assert(0.6 / 0.4 < 1.5)
    val v = Bench.verdict(Map("q_a" -> 0.4, "q_b" -> 2.0, "q_c" -> 2.0),
                          Map("q_a" -> 0.6, "q_b" -> 3.0, "q_c" -> 2.99))
    assert(v.regressed.toSet === Set("q_a", "q_b"))
    assert(v.broken.isEmpty && v.failed)
  }

  test("verdict: a pair with both times under the 0.5s floor gets no verdict") {
    val v = Bench.verdict(Map("q_fast" -> 0.1, "q_was_fast" -> 0.49),
                          Map("q_fast" -> 0.45, "q_was_fast" -> 0.01))
    assert(v.regressed.isEmpty && v.improved.isEmpty && !v.failed)
    assert(v.comparable === 2 && v.belowFloor === 2)
  }

  test("verdict: an improvement is reported and does not fail the guard") {
    val v = Bench.verdict(Map("q_a" -> 3.0, "q_b" -> 1.0),
                          Map("q_a" -> 1.0, "q_b" -> 1.1))
    assert(v.improved === Seq("q_a"))
    assert(v.regressed.isEmpty && !v.failed)
  }

  /** `Bench.regress` on two snapshot files in a fresh directory, with its
    * stdout captured: (exit status, printed report). */
  private def regressRun(prior: String, current: String): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream
    var rc = -1
    withDir(Map("BENCH_r40.json" -> prior, "BENCH.json" -> current)) { dir =>
      rc = Console.withOut(new java.io.PrintStream(out, true, "UTF-8"))(
        Bench.regress(dir.resolve("BENCH_r40.json"), dir.resolve("BENCH.json")))
      assert(!java.nio.file.Files.exists(dir.resolve("BENCH_REGRESS.md")))
    }
    (rc, out.toString("UTF-8"))
  }

  test("regress mode: exit 1 on a broken or regressed query, 0 on a clean " +
       "pair, and no BENCH_REGRESS.md written") {
    val report = java.nio.file.Paths.get("BENCH_REGRESS.md")
    def stamp = if (java.nio.file.Files.exists(report))
      Some(java.nio.file.Files.getLastModifiedTime(report)) else None
    val before = stamp
    def run(qs: String) = s"""{"queries":{$qs}}"""
    val prior = """{"parsed":{"env":{"contended":false},""" +
      """"queries":{"q_a":1.0,"q_b":2.0}}}"""
    val (broken, brokenOut) = regressRun(prior, run(""""q_a":1.0"""))
    assert(broken === 1)
    assert(brokenOut.contains("Broken (ran before, failed or missing now): q_b"))
    assert(brokenOut.contains(
      "[bench-regress] vs BENCH_r40.json (r40): 1 comparable, 1 broken"), brokenOut)
    val (slow, slowOut) = regressRun(prior, run(""""q_a":1.5,"q_b":2.0"""))
    assert(slow === 1)
    assert(slowOut.contains("| q_a | 1.00 | 1.50 | 1.50x |"), slowOut)
    val (clean, cleanOut) = regressRun(prior, run(""""q_a":0.5,"q_b":2.1"""))
    assert(clean === 0)
    assert(cleanOut.contains("| q_a | 1.00 | 0.50 | 0.50x |"), cleanOut)
    assert(!cleanOut.contains("CONTENDED"), "the prior certifies clean")
    assert(stamp === before, "regress mode must not write BENCH_REGRESS.md")
  }

  test("main rejects any argument list but none or `regress <a> <b>`, " +
       "before it builds a session") {
    Seq(Array("anything"), Array("regress", "BENCH.json"),
        Array("regress", "a.json", "b.json", "c.json")).foreach { args =>
      val e = intercept[IllegalArgumentException](Bench.main(args))
      assert(e.getMessage.startsWith("usage: graft.Bench"), args.mkString(" "))
    }
  }
}
