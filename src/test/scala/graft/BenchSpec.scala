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

  test("the positional vector decodes through a committed " +
       "CORRECTNESS_r{N}.json name list when the CURRENT query set has " +
       "drifted (the file records each round's exact set, so the sig " +
       "validates the zip even across rounds)") {
    val full = (1 to 40).map(i => f"q_name_$i%02d" -> (i * 0.11))
    val line = Bench.compactLine(full, full.map(_._2).sum,
      "/root/testdata/sf0.1",
      // force the positional form despite the small set: tiny budget
      // still above the positional render, below the full object
      budget = 700)
    assert(line.contains("\"queries\":["), line)
    val snapshot = s"""{"parsed":$line}"""
    val names = full.map(_._1).sorted
    val drifted = ("zz_new_gate" +: names).sorted
    val correctness = names.map(n => s""""$n":{"rows_match":true}""")
      .mkString("{", ",", "}")
    withDir(Map("CORRECTNESS_r99.json" -> correctness)) { dir =>
      val (decoded, note) = Bench.snapshotQueries(snapshot, drifted, dir)
      assert(note.isEmpty, "CORRECTNESS-list decode is full, not degraded")
      assert(decoded.size === 40)
      full.foreach { case (k, v) =>
        assert(decoded(k) === math.round(v * 100) / 100.0, k)
      }
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
}
