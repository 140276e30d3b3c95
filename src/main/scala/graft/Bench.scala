package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import java.nio.file.{Files, Paths}
import graft.ops.llm.{Dedup, SuffixIndex}
import graft.state.Materialize

/** Per-round benchmark: times every declared query at the SF the driver
  * points at (sf0.1 by default) and emits one JSON line (stdout + file).
  */
object Bench {

  /** The recorded baseline the ≤2× gate divides by. Bump ONLY when a
    * judge re-records the baseline.
    *
    * Round-10 re-record, judge-authorized (VERDICT r9 #3): the round-5
    * denominator (100.46s / 221 queries) was recorded on ~2× faster
    * iron — proven by r9's controlled A/B (the exact r5 tree rebuilt on
    * today's host reproduces today's times) — so the gate had come to
    * measure the host, not the code. New baseline: the round-10
    * clean-host full sweep, **142.01s over 251 queries at sf0.1,
    * local[32], load_start 0.10** (BENCH_r10 pre-record run; regression
    * guard vs r9 on the 66-query comparable set: 0 broken, 0 regressed
    * ≥1.5×, 5 improved ≥1.5×). The r5 value stays in COVERAGE's
    * baseline history; cross-round ratios before r10 keep their
    * published r5-denominated values.
    *
    * Round-17 re-record, judge-authorized (VERDICT r13 #2 / r14 #1 /
    * r15 #1 / r16 #4 — standing authorization "if a certified-clean run
    * lands ... re-record the baseline in its OWN commit"): after twenty-
    * plus consecutive steal-contaminated official attempts across
    * r14–r16, round 17 landed the epoch's FIRST certified-clean run —
    * all three triggers green (load_start 0.27, load_end 2.56, steal
    * 0.110 cores) — at **161.06s over 252 queries** on the r16-verdict
    * tree (BENCH_clean_r17.json). The companion quiet-window run 15 min
    * earlier read 149.95s at steal 0.035 cores (BENCH_steal035_r17.json;
    * formally flagged only by load_start 3.39 — the tail of this
    * session's own sbt compile, not interference), bracketing the same
    * ±7% window-to-window epoch variance r12 documented. The regression
    * guard vs BENCH_clean_r13 on the certified run: 0 broken, median
    * per-query ratio 1.017 — the epoch drift vs r13 is flat, so the
    * 161.06/142.01 = 1.13× residual vs the r10 iron is real host
    * slowdown, not code. The CERTIFIED run is recorded (not the faster
    * flagged one) — the codified three-trigger rule decides, not
    * whichever number flatters the round.
    */
  private val BaselineSeconds = 161.06
  private val BaselineRound = 17

  /** Force FULL evaluation of every output column. Timing `count()` lets
    * Catalyst prune the projected expressions, so map-only queries (scalar
    * packs, window projections) would never execute the work being timed;
    * hashing every column into an aggregate makes the measured plan the
    * real one. Map-typed columns are serialized first (Spark forbids
    * hashing MapType directly).
    */
  private def force(df: DataFrame): Unit = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _          => col(f.name)
      }
    }
    // bit_xor, not sum: ANSI mode (Spark 4 default) throws on long overflow,
    // and summing 64-bit hashes overflows almost immediately.
    df.select(xxhash64(cols.toSeq: _*).as("h")).agg(bit_xor(col("h"))).collect()
    ()
  }

  /** 1-minute loadavg from /proc — recorded at run start/end so a reader
    * of BENCH.json can tell host contention from a genuine regression
    * without re-running (VERDICT r4 #2: a 78× per-query anomaly was only
    * diagnosable by reproduction because run conditions weren't logged).
    */
  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** MemAvailable from /proc/meminfo, in MiB (-1 if unreadable). */
  private def memAvailMb(): Long =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get("/proc/meminfo")).asScala
        .find(_.startsWith("MemAvailable:"))
        .map(_.split("\\s+")(1).toLong / 1024)
        .getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  /** Cumulative hypervisor-steal ticks: field 8 (0-based, after the
    * "cpu" label) of /proc/stat's aggregate `cpu` line — the DIRECT
    * measurement of the contamination mechanism loadavg can only proxy
    * (VERDICT r11 #2: both discarded r11 sweeps were diagnosed by
    * /proc/stat steal deltas, ~990 stolen CPU-s, yet the artifact
    * recorded only loadavg). -1 if unreadable (non-Linux, masked /proc).
    */
  private[graft] def stealTicks(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8 && f(0) == "cpu") f(8).toLong else -1L
    } catch { case _: Throwable => -1L }

  /** CONTENDED-RUN rule, one place (threshold provenance: COVERAGE.md
    * "bench contention thresholds"). Governance: threshold changes land
    * in their OWN commit, never alongside a run they reclassify
    * (precedent a36404f, where the 4.0→4.5 load_end move and the run it
    * re-flagged shared a commit and the derived field had to be
    * hand-recomputed).
    *  - load_start ≥ 1.5: host busy before we began (clean starts run
    *    0.1–0.9).
    *  - load_end ≥ 4.5: something ELSE ramped mid-run — our own clean
    *    tail measures 1.8–4.1 (4.1 on the FASTEST r11 run, which a 4.0
    *    cut false-positived); both observed contaminations ended ≥ 5.4.
    *  - steal ≥ 0.25 cores avg: direct hypervisor-steal measurement;
    *    clean runs measure ~0 steal/s, the contaminated sweeps burst to
    *    multiple stolen cores. PROVISIONAL (r12-introduced, calibrated
    *    on the r11 forensics only) — the raw steal_cpu_s is in the
    *    artifact so the cut can be recalibrated against accumulated
    *    clean/contaminated samples.
    */
  private val LoadStartCut  = 1.5
  private val LoadEndCut    = 4.5
  private val StealCoresCut = 0.25
  private val ContendedRule =
    s"load_start>=$LoadStartCut|load_end>=$LoadEndCut|steal_cores_avg>=$StealCoresCut"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (load0, mem0, steal0) = (loadAvg(), memAvailMb(), stealTicks())
    val wall0 = System.nanoTime()
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Log.setLevel(org.apache.logging.log4j.Level.INFO)
    // Warmup: run the flagship once so the first timed query doesn't absorb
    // JVM/codegen/parquet-reader initialization (VERDICT r1 noted the first
    // query's time was mostly warmup).
    try force(SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
    catch { case _: Throwable => () }
    // Median of n≥3 reps per query (VERDICT r2 #4: single-shot times swung
    // up to 2.7× run-to-run from JVM/cleanup interference). Rep 1 also
    // absorbs any one-time per-query setup (codegen compile, fixture
    // render) that the median then excludes.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // Optional comma-separated query filter for focused tuning runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = selected.map { case (name, fn) =>
      // Per-query debris sweep (VERDICT r4 #2: without it, inherited
      // storage pressure caused the r4 llm_winnow_pairs 78×
      // official-vs-isolated anomaly).
      Materialize.sweepDebris(spark)
      val times = (1 to reps).flatMap { _ =>
        // Drain the async cleanup backlog (shuffle files, broadcasts) from
        // prior queries before timing: 60 queries in one JVM otherwise
        // interfere — measured up to 5× phantom slowdowns on late queries.
        System.gc()
        Thread.sleep(100)
        val t0 = System.nanoTime()
        try { force(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      val med =
        if (times.isEmpty) -1.0
        else {
          val s = times.sorted
          // true median: average the two middles on an even sample count
          // (lower-middle alone would report the MINIMUM for n = 2)
          if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        }
      name -> med
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val (load1, mem1, steal1) = (loadAvg(), memAvailMb(), stealTicks())
    val wallS = (System.nanoTime() - wall0) / 1e9
    // steal ticks are USER_HZ (100/s on every mainstream Linux build —
    // the kernel ABI exposes /proc/stat in fixed 100 Hz jiffies
    // regardless of CONFIG_HZ); cumulative across all CPUs, so the
    // delta over the run IS stolen cpu-seconds
    val stealCpuS  = if (steal0 >= 0 && steal1 >= 0) (steal1 - steal0) / 100.0 else -1.0
    val stealCores = if (stealCpuS >= 0 && wallS > 0) stealCpuS / wallS else -1.0
    // Self-annotate contention (VERDICT r10 #6 + r11 #2): snapshots are
    // only comparable on a quiet host; a loaded driver run previously
    // produced phantom >=1.5x "regressions" a reader had to debunk by
    // hand. The rule (and its provenance) lives at the *Cut constants
    // above; the raw trigger values AND which trigger fired are emitted
    // alongside the boolean (ADVICE r11) so a threshold recalibration
    // can re-derive the flag from the artifact instead of hand-editing.
    val triggers = Seq(
      (load0 >= LoadStartCut,
        f"load_start $load0%.2f >= $LoadStartCut"),
      (load1 >= LoadEndCut,
        f"load_end $load1%.2f >= $LoadEndCut"),
      (stealCores >= StealCoresCut,
        f"steal $stealCpuS%.0f cpu-s = $stealCores%.2f cores avg >= $StealCoresCut")
    ).collect { case (true, msg) => msg }
    val contended = triggers.nonEmpty
    val contendReason = triggers.mkString("; ")
    // the COMPACT twin line (stdout, 1800-char budget) carries a slim
    // env — the r12 trigger/rule/steal-avg/mem fields would displace
    // ~5 more query entries from the 1800-char stdout scrape window
    // (self-review r12 pass 4); BENCH.json keeps the full env
    val envSlim =
      s""""env":{"load_start":$load0,"load_end":$load1,""" +
      s""""contended":$contended,"steal_cpu_s":$stealCpuS,"reps":$reps},""" +
      s""""baseline_s":$BaselineSeconds,"baseline_round":$BaselineRound"""
    val env = s""""env":{"load_start":$load0,"load_end":$load1,"contended":$contended,""" +
      s""""contended_trigger":"${contendReason}","contended_rule":"$ContendedRule",""" +
      s""""steal_cpu_s":$stealCpuS,"steal_cores_avg":$stealCores,"reps":$reps,""" +
      s""""mem_avail_start_mb":$mem0,"mem_avail_end_mb":$mem1,""" +
      // the one-time cold SuffixIndex build the medians exclude (rep 1
      // absorbs it) — published in the artifact so the accounting is
      // machine-readable (−1 when no suffix gate ran this sweep)
      s""""suffix_index_cold_s":${Materialize.coldBuilds(SuffixIndex.MemoName).maxSeconds},""" +
      // same accounting for the r11 memoized span frame shared by the
      // two substring gates
      s""""span_frame_cold_s":${Materialize.coldBuilds(Dedup.SpanMemoName).maxSeconds}},""" +
      // the ≤2× perf gate's denominator, pinned IN the artifact so a
      // loaded-host run overwriting BENCH.json can't silently shift it:
      // the recorded round-5 full-sweep snapshot (221 queries, sf0.1,
      // load_start 2.01). Compare like-for-like on the queries both
      // rounds declare; r6's 177.67s contaminated snapshot is NOT the
      // baseline (ADVICE r7).
      s""""baseline_s":$BaselineSeconds,"baseline_round":$BaselineRound"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",$env,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Also persist to a file: the driver's stdout scrape of sbt output is
    // fragile (BENCH_r01.json recorded parsed:null). NEVER on a filtered
    // run — a SPARK_GRAFT_BENCH_ONLY tuning run would otherwise clobber
    // the full round snapshot with a partial one.
    if (only.isEmpty) {
      try Files.writeString(Paths.get("BENCH.json"), line + "\n")
      catch { case _: Throwable => () }
      // automatic per-query regression guard vs the latest committed
      // BENCH_r{N}.json (VERDICT r9 #8: run it in the round flow, not by
      // hand) — writes BENCH_REGRESS.md and prints one loud line
      try regressGuard(results.toMap, contended, contendReason)
      catch { case e: Throwable =>
        System.err.println(s"[bench-regress] guard failed: ${e.getMessage}")
      }
    }
    // The driver captures only the LAST 2000 chars of output and parses the
    // JSON out of that window; every round so far recorded parsed:null
    // because (a) sbt's logger prefixed the line with "[info] " (fixed via
    // run/outputStrategy := StdoutOutput in build.sbt) and (b) at 79+
    // queries the full-precision line outgrew the window. So finish with a
    // compact twin — same top-level schema but a SLIM env (no
    // trigger/rule/steal-avg/mem fields — those live only in
    // BENCH.json) and 2-decimal values — sized to fit the
    // window with the trailing "[success] ..." sbt line accounted for.
    // Slowest queries are kept first if the full map still doesn't fit.
    println(compactLine(results, total, sfDir, env = envSlim))
    spark.stop()
  }

  /** A chosen regression baseline: `cleanCertified` = the snapshot is
    * certified non-contended (explicit `contended: false`); false means
    * every candidate was contended or unflagged and the newest was used
    * under protest.
    */
  private[graft] final case class BaselinePick(
      round: Int, path: java.nio.file.Path, cleanCertified: Boolean)

  /** Was this committed snapshot's run contended? Reads the explicit
    * `contended` flag (r11+) from parsed.env or the top-level env. None =
    * no flag (pre-r11 snapshots, r01–r04 scrape failures) — not
    * certifiable as clean.
    */
  private[graft] def snapshotContended(json: String): Option[Boolean] = {
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      catch { case _: Throwable => return None }
    val env = Option(node).flatMap(n => Option(n.get("parsed")))
      .flatMap(p => Option(p.get("env"))).filter(_.isObject)
      .orElse(Option(node).flatMap(n => Option(n.get("env"))))
    env.filter(_.isObject).flatMap(e => Option(e.get("contended")))
      .filter(_.isBoolean).map(_.asBoolean())
  }

  /** Newest CLEAN baseline snapshot in `dir` (VERDICT r11 #1: the guard
    * previously diffed against the newest `BENCH_r{N}.json`
    * unconditionally — and r11's is self-flagged contended, ~20%
    * inflated, so r12 would have seen phantom improvements and masked
    * regressions up to ~1.8×). Candidates are `BENCH_r{N}.json` (driver
    * snapshots) and `BENCH_clean_r{N}.json` (clean-host runs adopted by
    * commit when the driver's own run was contended); within a round the
    * clean artifact wins, across rounds newest-certified-clean wins.
    * Falls back to the newest candidate (flagged `cleanCertified=false`)
    * only when NO candidate certifies clean.
    */
  private[graft] def pickBaseline(dir: java.nio.file.Path): Option[BaselinePick] = {
    val pat = raw"BENCH_(clean_)?r(\d+)\.json".r
    import scala.jdk.CollectionConverters._
    var cands = List.empty[(Int, Boolean, java.nio.file.Path)]
    // close the directory stream (ADVICE r10: Files.list leaks the fd
    // when only its iterator is consumed)
    val listing = java.nio.file.Files.list(dir)
    try listing.iterator().asScala.foreach { p =>
      p.getFileName.toString match {
        case pat(cleanTag, n) => cands ::= ((n.toInt, cleanTag != null, p))
        case _ => ()
      }
    } finally listing.close()
    val ordered = cands.sortBy { case (r, cleanFile, _) => (-r, !cleanFile) }
    def certify(p: java.nio.file.Path): Option[Boolean] =
      snapshotContended(
        try Files.readString(p) catch { case _: Throwable => "" })
    val certified = ordered.map { case (r, _, p) => (r, p, certify(p)) }
    certified.collectFirst {
      case (r, p, Some(false)) => BaselinePick(r, p, cleanCertified = true)
    }.orElse(
      // all-contended fallback: prefer the newest snapshot that at least
      // PARSED (a corrupt/truncated newest file would make regressGuard's
      // own read throw and skip the report entirely, when an older
      // readable candidate could still produce the under-protest diff)
      certified.collectFirst {
        case (r, p, Some(_)) => BaselinePick(r, p, cleanCertified = false)
      }
    ).orElse(certified.headOption.map { case (r, p, _) =>
      BaselinePick(r, p, cleanCertified = false)
    })
  }

  /** Per-query times out of a committed snapshot (factored from
    * [[regressGuard]] so the decode is unit-testable):
    *  - the driver's BENCH_r{N}.json wraps the bench line under
    *    "parsed"; BENCH.json / BENCH_clean_r{N}.json carry it directly;
    *  - "queries" as the full name→time OBJECT (committed artifacts,
    *    small scraped runs);
    *  - "queries" as the POSITIONAL array (the r13 compact twin —
    *    values by sorted query name): decoded by zipping a name list
    *    that the snapshot's `qsig` VALIDATES ([[namesSig]]) — tried
    *    against `currentNames` first, then against the name list of
    *    every committed `CORRECTNESS_r{N}.json` in `dir` (the file
    *    that records each round's exact query set). The query set
    *    changes between rounds, and zipping a mismatched list would
    *    silently mislabel every entry (undecodable-but-honest beats
    *    wrong) — when no list validates, the snapshot's `top` object
    *    (the slowest few, always name-keyed) is the comparable set;
    *  - no decodable "queries" (the r01–r03 scrape failures): empty.
    *
    * Returns the decoded map plus an optional DEGRADED-DECODE note: a
    * positional vector that fell back to the `top` object silently
    * shrinks the comparable set from ~251 to ≤24, and a
    * BENCH_REGRESS.md reading "24 comparable, 0 regressed" must say
    * WHY it is small or a regression in the other ~227 hides behind a
    * clean-looking report (self-review r13 pass 3 — the no-silent-caps
    * rule); an empty decode says so the same way.
    */
  private[graft] def snapshotQueries(json: String, currentNames: Seq[String],
                                     dir: java.nio.file.Path = Paths.get("."))
      : (Map[String, Double], Option[String]) = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    val parsed = node.get("parsed")
    val holder =
      if (parsed != null && parsed.isObject) parsed else node
    val qs = holder.get("queries")
    if (qs != null && qs.isObject)
      (qs.fieldNames().asScala.map(k => k -> qs.get(k).asDouble()).toMap, None)
    else if (qs != null && qs.isArray) {
      val sig = Option(holder.get("qsig")).map(_.asText("")).getOrElse("")
      def tryNames(names: Seq[String]): Option[Map[String, Double]] =
        if (qs.size == names.size && sig == namesSig(names))
          Some(names.zipWithIndex
            .map { case (n, i) => n -> qs.get(i).asDouble() }.toMap)
        else None
      def fromCorrectness: Option[Map[String, Double]] = {
        val listing =
          try java.nio.file.Files.list(dir)
          catch { case _: Throwable => return None }
        val pat = raw"CORRECTNESS_r(\d+)\.json".r
        val files =
          try listing.iterator().asScala.flatMap { p =>
            p.getFileName.toString match {
              case pat(n) => Some((n.toInt, p))
              case _      => None
            }
          }.toList
          finally listing.close()
        // newest ROUND first — by the extracted number, not the file
        // name (lexicographic puts r9 before r13; the sig keeps any
        // order correct, but the newest round is the likely match)
        files.sortBy(-_._1).view.flatMap { case (_, p) =>
          try tryNames(mapper.readTree(Files.readString(p))
            .fieldNames().asScala.toSeq.sorted)
          catch { case _: Throwable => None }
        }.headOption
      }
      def fromTop: (Map[String, Double], Option[String]) = {
        val top = holder.get("top")
        val m =
          if (top != null && top.isObject)
            top.fieldNames().asScala.map(k => k -> top.get(k).asDouble()).toMap
          else Map.empty[String, Double]
        (m, Some(s"baseline positional vector (${qs.size} entries, " +
          s"qsig $sig) UNDECODABLE — query set drifted and no committed " +
          s"CORRECTNESS_r{N}.json name list matched; compared only the " +
          s"${m.size} slowest named entries"))
      }
      tryNames(currentNames).orElse(fromCorrectness).map((_, None))
        .getOrElse(fromTop)
    } else (Map.empty, Some("baseline snapshot has no decodable queries " +
      "(scrape-failed run): nothing compared, regressions UNCHECKED"))
  }

  /** Compare this run's medians against the newest committed CLEAN
    * baseline snapshot (factor-1.5 alarm, mirroring
    * `tools/bench_regress.py`), write the `BENCH_REGRESS.md` artifact,
    * and print a one-line verdict. Broken = ran before, failed now;
    * regressed = ≥1.5× slower on the comparable set.
    */
  private def regressGuard(current: Map[String, Double], contended: Boolean,
                           contendReason: String): Unit = {
    pickBaseline(Paths.get(".")).foreach { case BaselinePick(round, path, cleanBase) =>
      val (old, decodeNote) =
        snapshotQueries(Files.readString(path), current.keySet.toSeq.sorted)
      val shared = old.keySet.intersect(current.keySet)
        .filter(k => old(k) > 0 && current(k) >= 0)
      val broken = old.keySet.intersect(current.keySet)
        .filter(k => old(k) > 0 && current(k) < 0).toSeq.sorted
      // minimum-time floor for VERDICTS (mirrors tools/bench_regress.py
      // --min-sec): sub-0.5s times are noise at this harness's
      // resolution, and a scraped positional baseline is additionally
      // 2-decimal QUANTIZED — old 0.073s encodes as 0.07, so a true
      // 1.41x move on a fast query would read 1.51x from rounding alone
      // (self-review r13 pass 2); at 0.5s the quantization error is ≤1%
      val floored = shared.filter(k => math.max(old(k), current(k)) >= 0.5)
      val regressed = floored.filter(k => current(k) / old(k) >= 1.5)
        .toSeq.sortBy(k => -current(k) / old(k))
      val improved = floored.filter(k => old(k) / current(k) >= 1.5)
        .toSeq.sortBy(k => -old(k) / current(k))
      def row(k: String) = f"| $k | ${old(k)}%.2f | ${current(k)}%.2f | ${current(k) / old(k)}%.2fx |"
      val md = new StringBuilder
      val suspect = if (contended) " — CONTENDED HOST" else ""
      // name the baseline ROUND AND FILE (VERDICT r11 #1): a reader must
      // see which snapshot the ratios divide by, and whether it was
      // certified clean or a contended last resort
      val baseName = path.getFileName.toString
      val baseKind =
        if (cleanBase) "certified clean"
        else "CONTENDED — no clean candidate existed; ratios inflated"
      md ++= s"# BENCH_REGRESS — this run vs $baseName (round $round baseline, $baseKind; factor 1.5)$suspect\n\n"
      decodeNote.foreach(n => md ++= s"**DEGRADED BASELINE DECODE**: $n — " +
        "a small comparable set below is a DECODE limitation, not a " +
        "small run; regressions outside it are unchecked.\n\n")
      if (!cleanBase)
        md ++= "**CONTENDED BASELINE**: no committed snapshot certified " +
          "clean (each was flagged contended, or carried no contended " +
          "flag to certify), so the newest usable one was " +
          "taken under protest — 'improved' rows below may be phantom " +
          "(the baseline was slow, not the code fast) and real " +
          "regressions may hide.\n\n"
      if (contended)
        // name the ACTUAL trigger: a load_end-triggered flag previously
        // printed the load_start explanation, sending a reader to debunk
        // the wrong condition
        md ++= f"**CONTENDED RUN ($contendReason)**: times are " +
          "not comparable to a clean-host snapshot; any 'regressed' rows below " +
          "are SUSPECT-HOST, not code verdicts (VERDICT r10 #6 — a load-1.74 " +
          "driver run flagged two phantom regressions the clean run contradicted).\n\n"
      // disclose the verdict floor (self-review r13 pass 4 — the same
      // silent-cap class as the decode note): "251 comparable, 0
      // regressed" must not read as "all 251 checked at 1.5x" when
      // most sat under the 0.5s floor
      val belowFloor = shared.size - floored.size
      md ++= s"Comparable queries: ${shared.size} "
      md ++= s"($belowFloor below the 0.5s verdict floor — " +
        s"ratio verdicts cover the ${floored.size} at/above it); "
      md ++= s"broken: ${broken.size}; "
      md ++= s"regressed >=1.5x: ${regressed.size}; improved >=1.5x: ${improved.size}.\n\n"
      if (broken.nonEmpty)
        md ++= broken.mkString("Broken (ran before, failed now): ", ", ", "\n\n")
      if (regressed.nonEmpty) {
        val head = if (contended) "regressed (suspect-host)" else "regressed"
        md ++= s"| $head | old s | new s | factor |\n|---|---|---|---|\n"
        regressed.foreach(k => md ++= row(k) + "\n")
        md ++= "\n"
      }
      if (improved.nonEmpty) {
        md ++= "| improved | old s | new s | factor |\n|---|---|---|---|\n"
        improved.foreach(k => md ++= row(k) + "\n")
      }
      Files.writeString(Paths.get("BENCH_REGRESS.md"), md.toString)
      val flag = if (contended) " [CONTENDED: regressions suspect-host]" else ""
      val baseFlag = if (cleanBase) "" else " [CONTENDED BASELINE]"
      val decodeFlag = if (decodeNote.isDefined) " [DEGRADED DECODE]" else ""
      println(s"[bench-regress] vs $baseName (r$round$baseFlag)$decodeFlag: " +
        s"${shared.size} comparable, " +
        s"${broken.size} broken, ${regressed.size} regressed >=1.5x, " +
        s"${improved.size} improved >=1.5x -> BENCH_REGRESS.md$flag")
    }
  }

  /** Signature of a query-name list — written next to the positional
    * twin vector so a decoder can PROVE its own name list matches the
    * one the vector was encoded against (the query set changes between
    * rounds; zipping mismatched lists would silently mislabel every
    * time). md5 of the sorted names, first 8 hex chars.
    */
  private[graft] def namesSig(sortedNames: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(sortedNames.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 8)
  }

  /** Render the results as a JSON line guaranteed ≤ `budget` chars.
    *
    * Three forms, most informative that fits (VERDICT r12 #3: the
    * 1800-char scrape window used to truncate the name→time map to
    * ~65 of 251 entries — the full-name map is ~5.8k chars and can
    * NEVER fit, so compression of the map was a dead end):
    *  1. the full name→time object (small runs / focused sweeps);
    *  2. the FULL vector as a positional array — values in seconds
    *     (2 decimals) ordered by SORTED query name, self-described by
    *     `"queries_key":"sorted_names"` and the [[namesSig]] signature
    *     `"qsig"` a decoder validates against its own name list
    *     (~1.3k chars at 251 queries — the whole vector survives the
    *     scrape);
    *  3. last resort (absurd query counts): the old slowest-first
    *     truncated object with `queries_omitted`.
    */
  private[graft] def compactLine(results: Seq[(String, Double)], total: Double,
                                 sfDir: String, budget: Int = 1800,
                                 env: String = ""): String = {
    def r2(v: Double) = math.round(v * 100) / 100.0
    val sf = raw".*sf([0-9.]+)/?$$".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse(
        // JSON-escape the fallback path: an unescaped quote/backslash
        // would make the line unparseable — the exact failure this
        // function exists to prevent
        "\"" + sfDir.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
    val envPart = if (env.nonEmpty) env + "," else ""
    def render(entries: Seq[(String, Double)], omitted: Int): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + r2(v) }
        .mkString("{", ",", "}")
      val omit = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${r2(total)},"unit":"sec",$envPart"queries":$qs$omit,"sf":$sf}"""
    }
    def renderPositional(): String = {
      val sorted = results.sortBy(_._1)
      val qs = sorted.map(e => r2(e._2)).mkString("[", ",", "]")
      def withTop(topN: Int): String = {
        // the slowest N as a NAMED object, filling whatever budget the
        // vector leaves: the cross-round fallback for a decoder whose
        // query set has drifted since this snapshot (a new gate lands
        // every round, and a drifted set makes the positional zip
        // unverifiable) — named entries compare across any two rounds
        val top = results.sortBy(-_._2).take(topN).sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + r2(v) }
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${r2(total)},"unit":"sec",$envPart""" +
          s""""queries_key":"sorted_names","qsig":"${namesSig(sorted.map(_._1))}",""" +
          s""""top":$top,"queries":$qs,"sf":$sf}"""
      }
      (24 to 0 by -1).view.map(withTop).find(_.length <= budget)
        .getOrElse(withTop(0))
    }
    val all = render(results, 0)
    if (all.length <= budget) all
    else {
      val positional = renderPositional()
      if (positional.length <= budget) positional
      else {
        // keep the slowest (the ones worth reading in a truncated view);
        // full precision for every query is in BENCH.json regardless
        val bySlow = results.sortBy(-_._2)
        val keep = (results.size to 1 by -1).view
          .map(n => render(bySlow.take(n).sortBy(_._1), results.size - n))
          .find(_.length <= budget)
        keep.getOrElse(render(Seq.empty, results.size))
      }
    }
  }
}
