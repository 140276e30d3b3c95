package graft.ops.llm

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Measured-scale probe for the embedding cell-shuffle dedup: multiplies
  * the sf0.1 embeddings corpus N× (shifted ids — same vector population,
  * so pair density is preserved) and times [[Dedup.embeddingPairs]]. The
  * quantity of interest is the SHAPE: work grows as pairs (n²) split
  * across K² bounded cell-pair groups, executor memory per group stays
  * O(2·corpus/K), and the driver never materializes vectors. Numbers are
  * recorded in COVERAGE.md §"Scale evidence".
  *
  *   sbt "runMain graft.ops.llm.ScaleProbe [mult] [sfDir]"
  *
  * `SPARK_GRAFT_PROBE_ONLY=para,cdc,...` restricts the run to the named
  * sections (tags as printed) — how the ≈linear families are probed at
  * mult=100 without paying the quadratic sections' 100× cost.
  */
object ScaleProbe {
  /** Replica id-offset used by EVERY corpus-multiplication helper AND
    * re-derived arithmetically by the weak-suffix decorrelation
    * (`doc_id div ReplicaStride` selects the vowel permutation) — one
    * constant, or the translate() replica index silently stops tracking
    * the replica number and the ladder reverts to the correlated
    * duplicated input (self-review r13 pass 3). Safe while every
    * fixture's base ids stay below it (max doc_id 4999 at sf0.1).
    */
  private val ReplicaStride = 1000000L

  /** Largest replica count the weak-scaling ladder reaches. The suffix
    * row's vowel-perm decorrelation must have at least this many distinct
    * permutations or replicas silently share one (advisor r13). */
  private val WeakLadderMax = 64

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_MATERIALIZE=reliable flips every Materialize.pin in
    // the probed operators to checkpoint() (files, not resident blocks)
    // — the VERDICT r14 #2 experiment lever: if a weak-row residual
    // vanishes under reliable pins, resident-block memory pressure is
    // the attributed mechanism.
    sys.env.get("SPARK_GRAFT_MATERIALIZE")
      .foreach(m => spark.conf.set(graft.state.Materialize.ModeKey, m))
    // SPARK_GRAFT_CONF="k=v;k=v" — generic session-conf passthrough for
    // probe diagnostics (r15: re-testing the pagerank pin-cadence
    // rule-out under the new per-rung steal covariate; the r14 rule-out
    // was measured without one)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF: malformed entry '$kv' — expected k=v;k=v")
      }
    })
    import spark.implicits._
    // Optional comma-separated section filter (SPARK_GRAFT_PROBE_ONLY):
    // mult=100 is only feasible for the ≈linear families — the
    // quadratic-by-construction sections (pairs: n² pair density;
    // winnow-pairs-auto: Σdf² fanout budget; suffix-array-global:
    // corpus-wide tie groups) would run for hours at 100×. The filter
    // selects sections by their printed tag; warmups of skipped
    // sections are skipped with them.
    val onlySections = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Debris sweep (the Bench between-queries contract): pinned
    // (localCheckpoint) frames from earlier sections/sub-steps otherwise
    // occupy block storage and contaminate later timings — measured:
    // suffix-array-global at 10× read 179s with the winnow-pairs
    // section's 2+ GiB of pins resident vs 88s swept.
    def sweepDebris(): Unit = graft.state.Materialize.sweepDebris(spark)
    def probeMults(name: String, warmup: => Any): Seq[Int] =
      if (onlySections.forall(_.contains(name))) {
        sweepDebris()
        warmup; Seq(1, mult).distinct
      } else Seq.empty
    // EVERY corpusM-style helper relies on `id + i*ReplicaStride` being
    // collision-free and the weak-suffix decorrelation re-derives the
    // replica index as `id div ReplicaStride` — both need ids in
    // [0, stride): a NEGATIVE id wraps into the previous replica's
    // index space (e.g. -5 + stride div stride = 0, reusing replica 0's
    // vowel perm AND colliding with a legal base id), and an id at the
    // stride collides outright. One guard for every section, on both
    // id-keyed fixtures, instead of trusting fixture regeneration
    // (self-review r13 passes 5+6); two tiny agg jobs per probe run.
    def requireIdsInStride(df: org.apache.spark.sql.DataFrame,
                           idCol: String, what: String): Unit = {
      val r = df.agg(min(col(idCol)), max(col(idCol))).head()
      // min/max of an EMPTY frame are SQL nulls; getAs[Number].longValue
      // would NPE with no diagnostic (advisor r13) — name the real problem.
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"$what fixture is empty: no $idCol values to replicate")
      val (lo, hi) = (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)
      require(lo >= 0 && hi < ReplicaStride,
        s"$what ids [$lo, $hi] outside [0, $ReplicaStride): replica id " +
        "spaces would collide and the vowel-perm decorrelation would " +
        "silently break")
    }
    val base = Similarity.corpus(spark, sfDir).select($"vec_id", $"v", $"nrm")
    requireIdsInStride(base, "vec_id", s"$sfDir embeddings")
    def timed(m: Int): (Long, Double) = {
      val corpus = (0 until m)
        .map(i => base.select(($"vec_id" + lit(i * ReplicaStride)).as("vec_id"), $"v", $"nrm"))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val nPairs = Dedup.embeddingPairs(corpus, thr = 0.45).count()
      (nPairs, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("pairs", timed(1)).foreach { m =>
      val (pairs, sec) = timed(m)
      val n = 2000L * m
      println(f"[scale-probe] mult=$m%-3d corpus=$n%-6d pairs>=thr=$pairs%-8d time=$sec%.2fs")
    }

    // Paragraph dedup at multiplied corpus: every copy beyond the first
    // is 100% segment-duplicate, so the probe exercises the worst case —
    // hot segment values whose window groups grow linearly with the
    // multiplier (the "viral paragraph" skew case from the Scaladoc).
    val docs = graft.Tables.documents(spark, sfDir).select($"doc_id", $"text")
    requireIdsInStride(docs, "doc_id", s"$sfDir documents")
    def timedPara(m: Int): (Long, Double) = {
      val corpus = (0 until m)
        .map(i => docs.select(($"doc_id" + lit(i * ReplicaStride)).as("doc_id"), $"text"))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val kept = Dedup.paraDedupFrom(corpus)
        .agg(sum($"n_kept")).as[Long].collect().head
      (kept, (System.nanoTime() - t0) / 1e9)
    }
    val nDocs = docs.count()
    probeMults("para", timedPara(1)).foreach { m =>
      val (kept, sec) = timedPara(m)
      println(f"[scale-probe] para mult=$m%-3d docs=${nDocs * m}%-7d segs_kept=$kept%-8d time=$sec%.2fs")
    }

    // Ranking pipelines at multiplied corpus: tf-idf (two shuffles over
    // the token stream) and TextRank (corpus pass + iterate). Both should
    // scale ≈linearly — the aggregates' key spaces (vocab, vocab²) do not
    // grow with the multiplier.
    def corpusM(m: Int) = (0 until m)
      .map(i => docs.select(($"doc_id" + lit(i * ReplicaStride)).as("doc_id"), $"text"))
      .reduce(_ union _)
    def timedRank(m: Int): (Long, Double, Double) = {
      val c = corpusM(m)
      val t0 = System.nanoTime()
      val nTf = Ranking.tfidfFrom(c).count()
      val t1 = System.nanoTime()
      Ranking.textrankDistributed(spark, Ranking.bigramEdgesFrom(c)).count()
      val t2 = System.nanoTime()
      (nTf, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    probeMults("rank", timedRank(1)).foreach { m =>
      val (nTf, tfSec, trSec) = timedRank(m)
      println(f"[scale-probe] rank mult=$m%-3d tfidf_rows=$nTf%-7d tfidf=$tfSec%.2fs textrank_dist=$trSec%.2fs")
    }

    // Curation pack at multiplied corpus. Boilerplate is the stress case:
    // multiplying the corpus turns EVERY segment into cross-document
    // boilerplate (df = mult), so its seg-partitioned windows hit maximum
    // duplication. BPE's round cost is vocab-bound — the probe shows the
    // merge loop is ~flat as the corpus multiplies (only the first
    // word-count pass grows).
    val docsL = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"lang")
    def corpusL(m: Int) = (0 until m)
      .map(i => docsL.select(($"doc_id" + lit(i * ReplicaStride)).as("doc_id"),
                             $"text", $"lang"))
      .reduce(_ union _)
    def timedCuration(m: Int): (Double, Double, Double, Double) = {
      val c = corpusL(m)
      val t0 = System.nanoTime()
      Curation.chunkingFrom(c).count()
      val t1 = System.nanoTime()
      Curation.boilerplateFrom(c).count()
      val t2 = System.nanoTime()
      Curation.perplexityFrom(c).count()
      val t3 = System.nanoTime()
      Curation.bpeMergesFrom(c).count()
      val t4 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9)
    }
    probeMults("curation", timedCuration(1)).foreach { m =>
      val (chk, boil, ppl, bpe) = timedCuration(m)
      println(f"[scale-probe] curation mult=$m%-3d chunking=$chk%.2fs boilerplate=$boil%.2fs perplexity=$ppl%.2fs bpe=$bpe%.2fs")
    }

    // Trigram backoff at multiplied corpus: the pair stream is linear and
    // every count table is vocab-bounded, so time should scale with the
    // corpus, not the model.
    def timedTrigram(m: Int): Double = {
      val c = corpusL(m)
      val t0 = System.nanoTime()
      Curation.trigramBackoffFrom(c).count()
      (System.nanoTime() - t0) / 1e9
    }
    probeMults("trigram", timedTrigram(1)).foreach { m =>
      println(f"[scale-probe] trigram mult=$m%-3d time=${timedTrigram(m)}%.2fs")
    }

    // Winnowing (the bench's hottest query) at multiplied corpus: one md5
    // per char position + a per-doc window — must scale with corpus
    // BYTES, nothing else.
    def timedWinnow(m: Int): Double = {
      val c = corpusL(m).select($"doc_id", $"text")
      val t0 = System.nanoTime()
      // force EVERY output column (count() would let Catalyst prune the
      // fingerprint work being measured — the Bench lesson)
      TextStats.winnowFrom(c)
        .agg(sum($"n_fps"), sum(length($"fp_head"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    probeMults("winnow", timedWinnow(1)).foreach { m =>
      println(f"[scale-probe] winnow mult=$m%-3d time=${timedWinnow(m)}%.2fs")
    }

    // Winnow PAIR JOIN at multiplied corpus — the adversarial case for
    // any inverted-index self-join: duplicating the corpus multiplies
    // every fingerprint's document frequency by m, so hot fingerprints
    // cross the df≤50 cap and fall OUT of the index — the cap converts
    // what would be m²-growing join fanout into bounded work by
    // construction. Pair counts legitimately differ across multipliers
    // (the cap is part of the operator's definition); the quantity of
    // interest is that TIME stays near-linear in corpus bytes.
    // peak per-task execution memory (shuffle/agg/join buffers) — the
    // executor-memory axis of the probe: bounded per-task peaks are what
    // let the same plan run on real executors at 100 TB
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val p = m.peakExecutionMemory
          var cur = peakTaskMem.get()
          while (p > cur && !peakTaskMem.compareAndSet(cur, p))
            cur = peakTaskMem.get()
        }
      }
    })
    // The AUTO (census-driven selectDfCap) form is the one probed: the
    // multiplied corpus is the adversarial df shift — every duplicated
    // doc multiplies each fingerprint's document frequency by the
    // multiplier, so a hand-pinned cap either over-prunes or lets the
    // pair fanout grow ×mult² — while the census rule must keep total
    // fanout ≤ pairBudgetPerRow × index rows with NO constant edited.
    def timedWinnowPairs(m: Int): (Long, Double, Long) = {
      val c = corpusL(m).select($"doc_id", $"text")
      peakTaskMem.set(0)
      val t0 = System.nanoTime()
      val n = TextStats.winnowPairsAutoFrom(c).count()
      (n, (System.nanoTime() - t0) / 1e9, peakTaskMem.get())
    }
    probeMults("winnow-pairs-auto", timedWinnowPairs(1)).foreach { m =>
      val (n, s, mem) = timedWinnowPairs(m)
      println(f"[scale-probe] winnow-pairs-auto mult=$m%-3d pairs=$n%-8d time=$s%.2fs peak_task_mem=${mem / (1 << 20)}%dMiB")
    }

    // Substring-span detection at multiplied corpus — the WORST case by
    // construction: every duplicated doc has an identical twin, so EVERY
    // position's gram is cross-doc duplicated and the hit set is the
    // entire position table (real corpora are ~10% hits). Time must stay
    // near-linear and per-task peaks flat: the gram window groups grow
    // with the multiplier but min/max windows buffer nothing.
    def timedSpans(m: Int): (Long, Double, Long) = {
      val c = corpusL(m).select($"doc_id", $"text")
      peakTaskMem.set(0)
      val t0 = System.nanoTime()
      val n = Dedup.substringSpansFrom(c).count()
      (n, (System.nanoTime() - t0) / 1e9, peakTaskMem.get())
    }
    probeMults("substr-spans", timedSpans(1)).foreach { m =>
      val (n, s, mem) = timedSpans(m)
      println(f"[scale-probe] substr-spans mult=$m%-3d docs_hit=$n%-8d time=$s%.2fs peak_task_mem=${mem / (1 << 20)}%dMiB")
    }

    // WEAK-SCALING probe (VERDICT r10 #1): the 100× strong-scaling rows
    // push 100× the data through a FIXED thread count, so a >linear wall
    // ratio (winnow read 111× at 100×) is compatible with two very
    // different explanations — thread saturation + per-task spill (a
    // deployment fixes it by adding executors) or a real algorithmic
    // superlinearity (nothing fixes it). This section separates them by
    // MEASUREMENT: hold PER-TASK input constant — data ×m, input splits
    // ×m, shuffle partitions ×m — and track aggregate task seconds per
    // input MB. If the operator is linear per partition, Σ(task time)
    // grows exactly with the data and task-sec/MB stays flat (±30%)
    // across the ladder; a real superlinearity would grow it. Wall clock
    // is reported but NOT the verdict — on a 16-thread host the m=16 rung
    // legitimately queues 16 waves. AQE partition coalescing is disabled
    // for the section so the ×m split ladder actually reaches execution
    // (it would otherwise re-merge the scaled partitions to target size
    // and silently restore strong scaling).
    val wsTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
    val wsCpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    val wsTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val wsSpill = new java.util.concurrent.atomic.AtomicLong(0)
    val wsGcMs = new java.util.concurrent.atomic.AtomicLong(0)
    // listener + corpus-bytes job only when a weak section is actually
    // selected (a SPARK_GRAFT_PROBE_ONLY run of other sections would
    // otherwise pay a full corpus scan and funnel EVERY later section's
    // tasks through these atomics for data nobody reads), and removed
    // again right after the weak sections so it doesn't outlive them
    // the reusable weak-scaling harness (VERDICT r11 #8): adding an
    // operator = one tag here + one weakScale(...) line below
    val weakTags = Seq("weak-winnow", "weak-spans", "weak-tfidf",
      "weak-suffix", "weak-pagerank", "weak-pagerank-dir",
      "weak-triangles", "weak-ann-mp2", "weak-ann-mp4",
      "weak-ann-indep-mp2", "weak-ann-indep-mp4",
      "weak-ann-kheld-mp2", "weak-ann-kheld-mp4",
      "weak-winnow-indep", "weak-spans-indep", "weak-tfidf-indep")
    val weakEnabled = weakTags
      .exists(n => onlySections.forall(_.contains(n)))
    val wsListener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          wsTaskMs.addAndGet(m.executorRunTime)
          wsCpuNs.addAndGet(m.executorCpuTime)
          wsTasks.incrementAndGet()
          wsSpill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          wsGcMs.addAndGet(m.jvmGCTime)
        }
      }
    }
    if (weakEnabled) spark.sparkContext.addSparkListener(wsListener)
    val docBytes =
      if (weakEnabled) docs.agg(sum(octet_length($"text"))).as[Long].collect().head
      else 0L
    // mkInput: replica builder for the rung (defaults to the document
    // corpus); baseMb: ONE replica's logical payload MB — the verdict
    // column divides by m × baseMb, so flatness is per-unit-of-input
    // regardless of what the input is (docs, edges, vectors)
    def weakScale(tag: String, run: org.apache.spark.sql.DataFrame => Unit,
                  control: Boolean = false,
                  mkInput: Int => org.apache.spark.sql.DataFrame = corpusM,
                  baseMb: => Double = docBytes.toDouble / (1 << 20)): Unit = {
      // parts = m pins per-task input at the FULL base corpus (~1.4 MB of
      // text ⇒ ~1.4M position rows per task at sf0.1 — big enough that
      // per-task work dwarfs scheduling); rungs below 16 under-fill the
      // host's threads, which is irrelevant to the verdict metric
      // (aggregate task seconds per MB, thread-count-independent)
      // SPARK_GRAFT_WEAK_RUNGS="m:parts,m:parts,..." overrides the
      // ladder for diagnostics (e.g. "64:16" decouples replica count
      // from partition count to separate per-bucket shuffle overhead
      // from data-coupled growth — r14 pagerank investigation)
      val ladder = sys.env.get("SPARK_GRAFT_WEAK_RUNGS") match {
        case Some(spec) => spec.split(",").toSeq.map { r =>
          // loud on a malformed rung: the bare destructure aborted the
          // whole probe with an opaque MatchError naming neither the env
          // var nor the expected shape (ADVICE r14)
          r.split(":") match {
            case Array(m, p) => (m.toInt, p.toInt, "custom")
            case _ => throw new IllegalArgumentException(
              s"SPARK_GRAFT_WEAK_RUNGS: malformed rung '$r' in '$spec' — " +
              "expected a comma list of m:parts pairs, e.g. 4:4,64:16")
          }
        }
        case None => Seq(4, 16, WeakLadderMax).map(m => (m, m, "weak"))
      }
      // control rung: the SAME data as a weak rung forced through ONE
      // partition — the strong-scaling saturated shape. Expected: spill
      // appears and task_sec/MB grows, demonstrating the mechanism the
      // 100× wall row was attributed to, with partition count the only
      // variable changed.
      val rungs = if (control) ladder :+ ((16, 1, "saturated-control")) else ladder
      val sections = probeMults(s"weak-$tag", ())
      if (sections.nonEmpty) {
        val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
        val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
        val prevCoalesce = spark.conf.get(coalesceKey, "true")
        try {
          spark.conf.set(coalesceKey, "false")
          // warmup (codegen + parquet reader init)
          run(mkInput(1).repartition(4))
          rungs.foreach { case (m, parts, kind) =>
            spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
            val c = mkInput(m).repartition(parts)
            wsTaskMs.set(0); wsCpuNs.set(0); wsTasks.set(0); wsSpill.set(0)
            wsGcMs.set(0)
            val steal0 = graft.Bench.stealTicks()
            val t0 = System.nanoTime()
            run(c)
            val wall = (System.nanoTime() - t0) / 1e9
            // per-rung hypervisor-steal covariate (r15): the r14 rung
            // readings varied 4.8–12.8 at m=64 with no recorded
            // environment signal — a memory-hungry stolen-from neighbor
            // inflates even on-cpu time (bandwidth stalls bill to the
            // thread), so every rung now carries its own steal reading
            // and a contaminated rung is self-describing instead of a
            // mystery. USER_HZ = 100 (Bench's documented assumption).
            // Read NEXT to the wall-clock stop, BEFORE the listener
            // drain sleep — steal accrued during the sleep is not part
            // of the measured run (ADVICE r15).
            val steal1 = graft.Bench.stealTicks()
            Thread.sleep(500) // listener bus drain
            val stealS =
              if (steal0 >= 0 && steal1 >= 0) (steal1 - steal0) / 100.0 else -1.0
            val stealCores = if (stealS >= 0 && wall > 0) stealS / wall else -1.0
            val mb = baseMb * m
            val taskSec = wsTaskMs.get() / 1e3
            val cpuSec = wsCpuNs.get() / 1e9
            // cpu_sec_per_mb is the VERDICT column: executorRunTime
            // inflates with co-scheduled-task contention (a rung running
            // 16 concurrent sorts charges allocation stalls and GC to
            // every task), while CPU time tracks the work itself
            println(f"[scale-probe] weak-$tag mult=$m%-3d parts=$parts%-4d " +
              f"per_task_mb=${mb / parts}%.1f tasks=${wsTasks.get()}%-5d " +
              f"wall=$wall%.1fs task_sec=$taskSec%.1f cpu_sec=$cpuSec%.1f " +
              f"cpu_sec_per_mb=${cpuSec / mb}%.3f " +
              f"spill_mb=${wsSpill.get() / (1 << 20)}%d " +
              f"gc_sec=${wsGcMs.get() / 1e3}%.1f " +
              f"steal_cpu_s=$stealS%.1f steal_cores=$stealCores%.2f kind=$kind")
          }
        } finally {
          spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
          spark.conf.set(coalesceKey, prevCoalesce)
        }
      }
    }
    weakScale("winnow", c =>
      TextStats.winnowFrom(c)
        .agg(sum($"n_fps"), sum(length($"fp_head"))).collect(),
      control = true)
    weakScale("spans", c => Dedup.substringSpansFrom(c).count())
    // tf-idf (VERDICT r11 #8 done-criterion): two token-keyed shuffles
    // whose key space (vocab) does not grow with the multiplier —
    // per-task cpu/MB should be flat when per-task input is held
    weakScale("tfidf", c => Ranking.tfidfFrom(c).count())
    // suffix-array family (VERDICT r12 #7): the prefix-doubling index
    // BUILD — per-doc position explosion, bucketed seed count-rank,
    // then group-local refinement rounds whose active set shrinks to
    // the tied residue. The build is action-driven per round (split
    // probe + emptiness check), so SuffixIndex.build IS the executed
    // unit; each rung sweeps its own sweepable pins (seed + per-round
    // frames would otherwise sit in block storage under the next rung —
    // the measured suffix-vs-winnow interference of round 9).
    //
    // The replicas are DECORRELATED by a per-replica vowel permutation
    // (translate is an alphabet bijection: equal substrings stay equal
    // WITHIN a replica, so each replica keeps the natural corpus's
    // exact tie structure, while cross-replica ties break at the first
    // vowel). Plain duplication — the fixture every other weak row
    // uses — is ADVERSARIAL here, not neutral: copy sets never freeze
    // (identical cross-doc suffixes are the never-splitting residue by
    // design) and tie-group width grows ∝ m, so ×m duplicated data is
    // a strictly HARDER input, not more of the same input. Measured on
    // the duplicated ladder before the salt (two runs, reproducible):
    // cpu_sec/MB 21.4/17.8 (×4) → 72.4/63.5 (×16) → 41.1/36.6 (×64) —
    // the 16-rung spike is the group-width blowup, the 64-rung partial
    // recovery is identical-key sort runs amortizing. That worst case
    // is recorded in COVERAGE; the weak-scaling verdict below is on
    // independent-content replicas, weak scaling's actual premise.
    // All 5! = 120 vowel permutations: a replica index ≥ the distinct-perm
    // count would silently SHARE a permutation with replica i-120, quietly
    // reintroducing the cross-replica tie groups the salt exists to remove
    // (advisor r13 — the old take(64) % 64 capped at the ladder max with no
    // headroom or disclosure). 120 covers the weak ladder's hard-coded max
    // rung (64); the require keeps the cap loud if a future ladder exceeds it.
    val vowelPermSeq = "aeiou".permutations.toSeq
    require(WeakLadderMax <= vowelPermSeq.size,
      s"weak-suffix decorrelation has ${vowelPermSeq.size} distinct vowel " +
      s"permutations but the weak ladder reaches $WeakLadderMax replicas: " +
      "replicas would share permutations and cross-replica ties would reappear")
    val vowelPerms = vowelPermSeq.map(p => s"'$p'").mkString(", ")
    weakScale("suffix", { c =>
      SuffixIndex.build(c.select($"doc_id",
        expr(s"""translate(text, 'aeiou', element_at(array($vowelPerms),
                 cast(doc_id div $ReplicaStride as int) % ${vowelPermSeq.size} + 1))""").as("text")))
      sweepDebris()
    })

    // INDEPENDENT-CONTENT text rungs (VERDICT r16 #7): the winnow /
    // spans / tfidf weak rows above run on plain id-shifted duplicated
    // replicas — an exact-tie density WORST CASE for pair-forming and
    // df-keyed work (duplication multiplies every fingerprint / k-gram
    // / token's frequency ×m, so df caps and tie groups see ×m dense
    // keys, not m independent populations). These rungs reuse the
    // suffix row's per-replica vowel-permutation alphabet bijection:
    // equal substrings stay equal WITHIN a replica (each replica keeps
    // the natural corpus's exact structure) while cross-replica
    // fingerprints / grams / tokens decorrelate at the first vowel —
    // weak scaling's actual premise. Flat readings here CONFIRM the
    // duplicated rows' flatness was not an artifact of the worst case;
    // replica 0 is the identity permutation, so the m=1 warmup input
    // is the natural corpus itself.
    def corpusMIndep(m: Int) = corpusM(m).select($"doc_id",
      expr(s"""translate(text, 'aeiou', element_at(array($vowelPerms),
               cast(doc_id div $ReplicaStride as int) % ${vowelPermSeq.size} + 1))""").as("text"))
    weakScale("winnow-indep", c =>
      TextStats.winnowFrom(c)
        .agg(sum($"n_fps"), sum(length($"fp_head"))).collect(),
      mkInput = corpusMIndep)
    weakScale("spans-indep", c => Dedup.substringSpansFrom(c).count(),
      mkInput = corpusMIndep)
    weakScale("tfidf-indep", c => Ranking.tfidfFrom(c).count(),
      mkInput = corpusMIndep)

    // graph family (VERDICT r13 #6 — three of the bench's top-five
    // gates): ×m DISJOINT copies of the sparse co-occurrence graph,
    // vertex ids offset by the replica stride. Disjoint components are
    // weak scaling's premise for global iterative graph work: PageRank's
    // T fixed iterations run identically inside every copy (the directed
    // form's dangling-mass redistribution is the one global coupling —
    // it divides by the m× vertex count, changing VALUES but not the
    // join/agg work shape), and degree-oriented triangle closing is
    // per-wedge. Payload MB = 16 bytes per edge row (two longs), so the
    // verdict column is cpu per logical edge volume. NOT included:
    // k-hop — a single-source BFS reaches only its own replica, so
    // replication adds dead data, not reachable work; its scale
    // evidence stays the r12 plan pins. The khop gate's frontier joins
    // are the componentsQ contraction's shape anyway.
    // minQty = 25 (the trianglesQ gate's own graph): 300k edges = 4.6 MB
    // per replica at sf0.1 — per-task volume comparable to the doc rows'
    // 1.4 MB, so the verdict column measures DATA work. The iterative
    // gates' sparser 45-cut graph (12k edges, 0.2 MB) drowned the
    // per-edge term in constant per-task overheads and the flatness
    // verdict was noise (measured: ±3x run-to-run at the same rung).
    lazy val graphBase = {
      val e = graft.ops.Graph.edgesAt(spark, sfDir, 25)
        .transform(graft.state.Materialize.pin(_,
          graft.state.Materialize.Policy.Retained))
      requireIdsInStride(e.select($"a".as("id")), "id", s"$sfDir graph a-side")
      requireIdsInStride(e.select($"b".as("id")), "id", s"$sfDir graph b-side")
      e
    }
    lazy val graphEdges = graphBase.count()
    def graphM(m: Int) = (0 until m)
      .map(i => graphBase.select(($"a" + lit(i * ReplicaStride)).as("a"),
                                 ($"b" + lit(i * ReplicaStride)).as("b")))
      .reduce(_ unionByName _)
    def graphMb = graphEdges.toDouble * 16 / (1 << 20)
    weakScale("pagerank",
      { c => graft.ops.Graph.pagerankFrom(c).count(); sweepDebris() },
      mkInput = graphM, baseMb = graphMb)
    weakScale("pagerank-dir",
      { c => graft.ops.Graph.pagerankDirectedFrom(c).count(); sweepDebris() },
      mkInput = graphM, baseMb = graphMb)
    weakScale("triangles",
      { c => graft.ops.Graph.triangleSummary(spark, c).count(); sweepDebris() },
      mkInput = graphM, baseMb = graphMb)
    // Multi-probe ANN at breadths nprobe ∈ {2, 4} (VERDICT r14 #6): the
    // scaladoc's nprobe× shuffle cost model, measured at multiplier
    // scale instead of asserted. CAVEAT (same class as the duplicated
    // suffix ladder): ×m id-shifted replicas duplicate the vector
    // POPULATION, so every IVF cell's membership grows ×m and the
    // within-cell candidate reduce is a WORST-CASE density input, not
    // weak scaling's independent-content premise — expect super-linear
    // per-MB growth on BOTH rows; the cost-model verdict is the
    // mp4/mp2 per-rung RATIO (breadth multiplies candidate volume;
    // model predicts ≲2× and sub-linear in probes from pair dedup).
    def embM(m: Int) = (0 until m)
      .map(i => base.select(($"vec_id" + lit(i * ReplicaStride)).as("vec_id"),
                            $"v", $"nrm"))
      .reduce(_ unionByName _)
    lazy val embMb =
      base.agg(sum(size($"v"))).as[Long].collect().head * 8.0 / (1 << 20)
    // force BOTH output columns through a hash (the Bench.force
    // discipline): a bare count() would let Catalyst prune the final
    // sort_array(collect_list(...)) out of the measured plan
    def annForce(df: org.apache.spark.sql.DataFrame): Unit = {
      df.select(xxhash64($"vec_id", $"topk").as("h"))
        .agg(bit_xor($"h")).collect(); ()
    }
    weakScale("ann-mp2",
      { c => annForce(Similarity.annTopKWithin(c, k = 3, thr = 0.45,
               nprobe = 2)); sweepDebris() },
      mkInput = embM, baseMb = embMb)
    weakScale("ann-mp4",
      { c => annForce(Similarity.annTopKWithin(c, k = 3, thr = 0.45,
               nprobe = 4)); sweepDebris() },
      mkInput = embM, baseMb = embMb)
    // INDEPENDENT-CONTENT ANN rungs (VERDICT r15 #7): the id-shifted
    // embM ladder duplicates the vector POPULATION, quadratically
    // densifying cells with exact-tie clusters — a deliberate worst
    // case. These rungs decorrelate each replica with a deterministic
    // per-(replica, dimension) SIGN pattern: a sign flip is an isometry,
    // so every replica keeps the natural corpus's exact internal
    // similarity structure (weak scaling's premise — m independent
    // populations that each look like the base), while cross-replica
    // dots collapse toward zero and cell membership is occupancy-driven
    // geometry, not duplication. Norms are untouched (|±x| = |x|), so
    // the precomputed nrm column stays valid. These rows run at the
    // K = 4 FLOOR (the gate quantizer), so per-cell occupancy grows ×m
    // by construction and per-MB cost grows ~m² — the measured
    // worst-case census (r16: nprobe=2 per-MB 0.78/2.22/12.28 at
    // m=4/16/64); the verdict metrics here are the mp4/mp2 breadth
    // ratio and the contrast against the occupancy-HELD rows below,
    // which run the production corpus-scaled K.
    def embMIndep(m: Int) = (0 until m)
      .map(i => base.select(
        ($"vec_id" + lit(i * ReplicaStride)).as("vec_id"),
        expr(s"transform(v, (x, j) -> case when pmod(hash($i, j), 2) = 0" +
             " then x else -x end)").as("v"),
        $"nrm"))
      .reduce(_ unionByName _)
    weakScale("ann-indep-mp2",
      { c => annForce(Similarity.annTopKWithin(c, k = 3, thr = 0.45,
               nprobe = 2)); sweepDebris() },
      mkInput = embMIndep, baseMb = embMb)
    weakScale("ann-indep-mp4",
      { c => annForce(Similarity.annTopKWithin(c, k = 3, thr = 0.45,
               nprobe = 4)); sweepDebris() },
      mkInput = embMIndep, baseMb = embMb)
    // OCCUPANCY-HELD independent-content rungs (VERDICT r16 #1 — the
    // done-criterion for the corpus-scaled quantizer): the same
    // sign-flip isometry replicas, but K scales with the corpus
    // (explicit spark.graft.ivf.cells = 4m — the production posture
    // the conf autopilot derives as K ≈ rows / targetCellRows), so
    // per-cell occupancy is HELD at the base corpus's across the
    // ladder. Cost model: the within-cell verify is O(nprobe·n²/K) =
    // O(nprobe·n·occ) — LINEAR in n at held occupancy — so cpu_sec/MB
    // should be flat to m=64 where the floor-K rows above measure ~m².
    // Known small residual: coarse assignment is O(n·K·dim) = O(m²)
    // total but <10% of the verify term at m=64 on this corpus (a
    // production deployment caps K near √n or goes hierarchical before
    // assignment dominates).
    def embMIndepKHeld(m: Int) = {
      // weakScale calls mkInput(m) immediately before the rung's timed
      // run(), so the conf set here is the K the engine resolves (it
      // also keys the pair-frame memo, so rungs never share a frame
      // built under a different quantizer); reset after the section
      spark.conf.set(Dedup.IvfCellsKey, (Dedup.IvfMinCells * m).toString)
      embMIndep(m)
    }
    try {
      weakScale("ann-kheld-mp2",
        { c => annForce(Similarity.annTopKWithin(c, k = 3, thr = 0.45,
                 nprobe = 2)); sweepDebris() },
        mkInput = embMIndepKHeld, baseMb = embMb)
      weakScale("ann-kheld-mp4",
        { c => annForce(Similarity.annTopKWithin(c, k = 3, thr = 0.45,
                 nprobe = 4)); sweepDebris() },
        mkInput = embMIndepKHeld, baseMb = embMb)
    } finally spark.conf.unset(Dedup.IvfCellsKey)
    if (weakEnabled) spark.sparkContext.removeSparkListener(wsListener)

    // End-to-end curation funnel at multiplied corpus: duplication makes
    // the exact-dedup stage maximally busy (every copy beyond the first
    // is a duplicate — content-hash window groups grow linearly with the
    // multiplier) while quality flags and sampling stay per-row. One
    // scan, one window, one aggregate at any multiplier.
    val docsF = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text", $"n_chars")
    def timedFunnel(m: Int): (Long, Double) = {
      val c = (0 until m)
        .map(i => docsF.select(($"doc_id" + lit(i * ReplicaStride)).as("doc_id"),
                               $"lang", $"text", $"n_chars"))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val sampled = Curation.curationFunnelFrom(c)
        .agg(sum($"n_sampled")).as[Long].collect().head
      (sampled, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("funnel", timedFunnel(1)).foreach { m =>
      val (n, s) = timedFunnel(m)
      println(f"[scale-probe] funnel mult=$m%-3d sampled=$n%-8d time=$s%.2fs")
    }

    // CDC chunking at multiplied corpus: per-position hashing is linear
    // in corpus BYTES and the dup census shuffles chunk rows on the
    // uniform md5 key — duplicating the corpus makes EVERY chunk
    // cross-doc duplicated (worst-case census), yet distinct-hash count
    // stays constant, so state/aggregate size is content-bound, not
    // corpus-bound.
    def timedCdc(m: Int): (Long, Long, Double) = {
      val c = corpusL(m).select($"doc_id", $"text")
      val t0 = System.nanoTime()
      val r = Dedup.cdcChunkRowsBatch(c)
        .agg(count(lit(1)), countDistinct($"h")).collect()(0)
      (r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
    }
    probeMults("cdc", timedCdc(1)).foreach { m =>
      val (n, d, s) = timedCdc(m)
      println(f"[scale-probe] cdc mult=$m%-3d chunks=$n%-8d distinct=$d%-8d time=$s%.2fs")
    }

    // STREAMING chunk-dedup at 10× the micro-batches/keys (VERDICT r10
    // #3 — the batch families all carry scale probes; this gives the
    // streaming twins one). The content-bound claim under test: state =
    // one row per DISTINCT chunk hash, so re-crawled content (10× the
    // batches, 10× the doc keys, same text population) must leave state
    // rows EXACTLY flat while per-batch wall stays level. Drives the
    // chunk-dedup processors (cdc_chunks → select_expr → dedup_exact on
    // the hash) through MemoryStream micro-batches against the noop
    // sink, reading state rows/bytes from the progress telemetry. The
    // driver-side doc collect is the bounded fixture corpus (~1.4 MB) —
    // a probe-harness convenience, not part of the operator under test.
    def streamChunkProbe(m: Int): (Int, Double, Double, Long, Long) = {
      implicit val ctx = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val in = MemoryStream[(Long, String)]
      import graft.config.Conf
      import graft.pipeline.{Pipeline, ProcessorRegistry}
      val chain = Seq(
        "cdc_chunks" -> Conf.empty,
        "select_expr" -> Conf(Map("exprs" ->
          List("doc_id", "j", "h", "cast(nb as bigint) as n_chars"))),
        "dedup_exact" -> Conf(Map("columns" -> List("h"))))
        .map { case (cls, params) => ProcessorRegistry.resolve(spark, cls, params) }
      val q = Pipeline.applyProcessors(in.toDF().toDF("doc_id", "text"), chain).get
        .writeStream.format("noop").outputMode("append").start()
      try {
        val all = docs.as[(Long, String)].collect()
        val slice = math.max(1, math.ceil(all.length / 10.0).toInt)
        val slices = all.grouped(slice).toSeq
        val walls = scala.collection.mutable.ArrayBuffer[Double]()
        for (copy <- 0 until m; s <- slices) {
          val t0 = System.nanoTime()
          // shifted ids = new crawl keys, same text = same chunk hashes
          in.addData(s.toSeq.map { case (id, t) => (id + copy * ReplicaStride, t) }: _*)
          q.processAllAvailable()
          walls += (System.nanoTime() - t0) / 1e9
        }
        val p = q.lastProgress
        val (rows, mem) =
          if (p != null && p.stateOperators.nonEmpty)
            (p.stateOperators(0).numRowsTotal,
             p.stateOperators(0).memoryUsedBytes)
          else (-1L, -1L)
        (walls.size, walls.sum / walls.size, walls.max, rows, mem)
      } finally q.stop()
    }
    // headOption: the ladder here is the fixed {1, 10} pair, not the
    // probe's strong-scaling mult list
    probeMults("stream-chunk-dedup", streamChunkProbe(1)).headOption.foreach { _ =>
      Seq(1, 10).foreach { m =>
        val (nb, mean, mx, rows, mem) = streamChunkProbe(m)
        println(f"[scale-probe] stream-chunk-dedup mult=$m%-3d batches=$nb%-4d " +
          f"mean_batch=$mean%.2fs max_batch=$mx%.2fs state_rows=$rows%-7d " +
          f"state_mb=${mem / (1 << 20)}%d")
      }
    }

    // PQ train + ADC at multiplied corpus: the codebook aggregate's key
    // space (M·Ks·Sd) is corpus-independent and scoring is one scan of
    // the code frame against a constant broadcast lookup table — time
    // should grow ≈linearly with the multiplier.
    def timedPq(m: Int): (Long, Double) = {
      val c = (0 until m)
        .map(i => base.select(($"vec_id" + lit(i * ReplicaStride)).as("vec_id"),
                              $"v", $"nrm"))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val rows = Similarity.pqAdcFrom(c).count()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("pq_adc", timedPq(1)).foreach { m =>
      val (rows, s) = timedPq(m)
      println(f"[scale-probe] pq_adc mult=$m%-3d corpus=${2000L * m}%-7d topk_rows=$rows%-5d time=$s%.2fs")
    }

    // JL projection + projected-space k-means at multiplied corpus: the
    // projection is one broadcast pass (K×Dim constant matrix) + one
    // vec-keyed collect, and the Lloyd step's aggregate key space
    // (cells × 16 dims) is corpus-independent — both should scale
    // ≈linearly with the multiplier.
    def timedRp(m: Int): (Long, Double) = {
      val c = (0 until m)
        .map(i => base.select(($"vec_id" + lit(i * ReplicaStride)).as("vec_id"),
                              $"v", $"nrm"))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val rows = Similarity.rpKmeansFrom(c)
        .agg(sum($"n_vecs")).as[Long].collect().head
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("rp_kmeans", timedRp(1)).foreach { m =>
      val (vecs, s) = timedRp(m)
      println(f"[scale-probe] rp_kmeans mult=$m%-3d corpus=${2000L * m}%-7d clustered=$vecs%-7d time=$s%.2fs")
    }

    // Trained classifier (train + held-out scoring) at multiplied
    // corpus: the fitted profile's key space is |classes|·|vocab| —
    // corpus-independent — so the model stays broadcast-sized at any
    // multiplier and total time tracks corpus bytes (train aggregate +
    // scoring scan), never model size.
    def timedNbc(m: Int): (Long, Double) = {
      val c = corpusL(m)
      val t0 = System.nanoTime()
      val n = Classify.nbcConfusionFrom(c)
        .agg(sum($"n_docs")).as[Long].collect().head
      (n, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("nbc", timedNbc(1)).foreach { m =>
      val (n, s) = timedNbc(m)
      println(f"[scale-probe] nbc mult=$m%-3d held_out=$n%-7d time=$s%.2fs")
    }

    // URL canonicalization dedup at multiplied corpus: map-only string
    // work + one hash aggregate — the multiplier grows rows AND distinct
    // canonical URLs linearly (shifted doc_ids → distinct pages), the
    // frontier-dedup steady state.
    val docsU = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"lang")
    def timedUrl(m: Int): (Long, Double) = {
      val c = (0 until m)
        .map(i => docsU.select(($"doc_id" + lit(i * ReplicaStride)).as("doc_id"),
                               $"source", $"lang"))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val n = Dedup.urlDedupFrom(c).count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("url-dedup", timedUrl(1)).foreach { m =>
      val (n, s) = timedUrl(m)
      println(f"[scale-probe] url-dedup mult=$m%-3d canonical=$n%-7d time=$s%.2fs")
    }

    // Suffix array at multiplied corpus: the round COUNT is fixed by
    // maxlen (log2), not corpus size, so total work is rows × rounds —
    // time should track the multiplier ≈linearly while the per-round
    // partitioning (doc_id) spreads every doc independently.
    def timedSa(m: Int): (Long, Double) = {
      val c = corpusM(m)
      val t0 = System.nanoTime()
      val n = TextStats.suffixRanks(c).count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("suffix-array", timedSa(1)).foreach { m =>
      val (n, s) = timedSa(m)
      println(f"[scale-probe] suffix-array mult=$m%-3d suffixes=$n%-8d time=$s%.2fs")
    }

    // Corpus-GLOBAL suffix array at multiplied corpus — the adversarial
    // case by construction: every duplicated doc is an identical twin,
    // so whole-document suffix groups tie across the multiplier and the
    // per-bucket dense_rank windows see maximum duplication. Round count
    // is still bounded by log4(maxlen) (ties never add rounds — the
    // fixed-point exit fires when nothing refines), so time must track
    // rows × rounds ≈ linearly in the multiplier; peak task memory must
    // stay bucket-bound (rows/buckets), not corpus-bound.
    def timedSaGlobal(m: Int): (Long, Double, Long) = {
      val c = corpusM(m)
      peakTaskMem.set(0)
      val t0 = System.nanoTime()
      val n = TextStats.suffixRanksGlobal(c).count()
      (n, (System.nanoTime() - t0) / 1e9, peakTaskMem.get())
    }
    probeMults("suffix-array-global", timedSaGlobal(1)).foreach { m =>
      val (n, s, mem) = timedSaGlobal(m)
      println(f"[scale-probe] suffix-array-global mult=$m%-3d suffixes=$n%-8d time=$s%.2fs peak_task_mem=${mem / (1 << 20)}%dMiB")
    }

    // Normalization tier (encoding repair + sentence segmentation +
    // Luhn scan) at multiplied corpus: all three are map-side passes
    // into tiny censuses — the probe confirms scan-bound linearity.
    def timedNorm(m: Int): (Long, Double) = {
      val c = corpusM(m)
      val t0 = System.nanoTime()
      val n = c.select(TextStats.repairEncoding($"text").as("t"))
        .select(expr("filter(split(t, '[.!?]+ '), x -> x <> '')").as("ss"))
        .agg(sum(size($"ss"))).as[Long].collect().head
      (n, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("normalize", timedNorm(1)).foreach { m =>
      val (n, s) = timedNorm(m)
      println(f"[scale-probe] normalize mult=$m%-3d sentences=$n%-8d time=$s%.2fs")
    }

    // Span corruption at multiplied corpus: explode + one doc-keyed
    // window + one doc-keyed aggregate, all per-document — time must
    // track rows ≈linearly (shifted doc_ids randomize the mask per copy,
    // so the masked fraction stays ~15% at every multiplier).
    def timedSpanCorrupt(m: Int): (Long, Double) = {
      val c = corpusM(m)
      val t0 = System.nanoTime()
      val masked = TextStats.spanCorruptFrom(c)
        .agg(sum($"n_masked")).as[Long].collect().head
      (masked, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("span-corrupt", timedSpanCorrupt(1)).foreach { m =>
      val (n, s) = timedSpanCorrupt(m)
      println(f"[scale-probe] span-corrupt mult=$m%-3d masked=$n%-8d time=$s%.2fs")
    }

    // Containment-ratio decontamination at multiplied corpus against
    // the FIXED benchmark gram set: the bench side broadcast is
    // constant-size, so time must track the corpus shingle stream
    // ≈linearly — the posture that matters when the corpus is 100 TB
    // and the eval suite is a few MB.
    val benchSet = Dedup.shinglesFrom(docs, 4, distinct = true)
      .filter($"doc_id" < 20).select($"s").distinct()
    def timedContamRatio(m: Int): (Long, Double) = {
      val c = corpusM(m)
      val t0 = System.nanoTime()
      val flagged = TextStats.contaminationRatioFrom(
          Dedup.shinglesFrom(c, 4, distinct = true), benchSet)
        .agg(sum(when($"flagged", 1L).otherwise(0L))).as[Long].collect().head
      (flagged, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("contam-ratio", timedContamRatio(1)).foreach { m =>
      val (n, s) = timedContamRatio(m)
      println(f"[scale-probe] contam-ratio mult=$m%-3d flagged=$n%-7d time=$s%.2fs")
    }

    // Code-switch detection at multiplied corpus: one scan, broadcast
    // profile left join, (doc, seg)-keyed argmax — linear by the same
    // argument as lang-id; the probe confirms no hidden corpus join.
    def timedCodeSwitch(m: Int): (Long, Double) = {
      val c = corpusM(m)
      val t0 = System.nanoTime()
      val n = TextStats.codeSwitchFrom(c)
        .agg(sum(when($"code_switched", 1L).otherwise(0L)))
        .as[Long].collect().head
      (n, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("code-switch", timedCodeSwitch(1)).foreach { m =>
      val (n, s) = timedCodeSwitch(m)
      println(f"[scale-probe] code-switch mult=$m%-3d switched=$n%-7d time=$s%.2fs")
    }

    // Incremental IVF add at multiplied corpus: training aggregate key
    // space (cells × dims) is corpus-independent and the arrival batch
    // assigns against a K-row broadcast — time tracks corpus ≈linearly,
    // and the 10% batch share keeps both sides growing together.
    def timedIvfAdd(m: Int): (Long, Double) = {
      val c = (0 until m)
        .map(i => base.select(($"vec_id" + lit(i * ReplicaStride)).as("vec_id"),
                              $"v", $"nrm"))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val added = Similarity.ivfAddFrom(c)
        .agg(sum($"n_added")).as[Long].collect().head
      (added, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("ivf-add", timedIvfAdd(1)).foreach { m =>
      val (n, s) = timedIvfAdd(m)
      println(f"[scale-probe] ivf-add mult=$m%-3d added=$n%-7d time=$s%.2fs")
    }

    // Hard-negative mining at multiplied corpus: fixed 10-query
    // broadcast × growing candidate stream, one window per query group —
    // time must track the corpus ≈linearly (the label predicate is
    // row-local; no new join appears as the corpus grows).
    def timedHardNeg(m: Int): (Long, Double) = {
      graft.functions.GraftFunctions.register(spark)
      val labeled = graft.Tables.embeddings(spark, sfDir)
        .select($"vec_id", $"label",
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      val c = (0 until m)
        .map(i => labeled.select(($"vec_id" + lit(i * ReplicaStride)).as("vec_id"),
                                 $"label", $"v", $"nrm"))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val nRows = Similarity.hardNegativesFrom(c).count()
      (nRows, (System.nanoTime() - t0) / 1e9)
    }
    probeMults("hard-negatives", timedHardNeg(1)).foreach { m =>
      val (n, s) = timedHardNeg(m)
      println(f"[scale-probe] hard-negatives mult=$m%-3d rows=$n%-5d time=$s%.2fs")
    }

    // Star-contraction components on the ADVERSARIAL topology by
    // construction: one single chain of L vertices with shuffled ids
    // (diameter = L−1 — the shape that bound the retired min-label
    // propagation to ~diameter hops; at 20k vertices it would have
    // needed ~20k hops). Kiveris-style alternating contraction must
    // finish in O(log² L) rounds, so the ×mult chain may add only a
    // ~constant number of rounds, and time must track edges ≈linearly.
    def timedChainCc(m: Int): (Long, Long, Double) = {
      val L = 2000 * m
      // vertex labels are a deterministic SCRAMBLE of the positions
      // (odd multiplier mod 2^31 is a bijection), so the component
      // minimum sits somewhere mid-chain — the worst case for label
      // propagation, irrelevant to contraction
      val byPos = spark.range(L).select($"id".as("pos"),
        pmod($"id" * 2654435761L, lit(1L << 31)).as("node"))
      val chain = byPos.as("x")
        .join(byPos.as("y"), col("x.pos") + 1 === col("y.pos"))
        .select(col("x.node").as("d1"), col("y.node").as("d2"))
      // force the DISTRIBUTED contraction — the probe measures the
      // 100 TB path, not the bounded driver-local fast path that would
      // otherwise absorb a 20k-edge graph
      spark.conf.set("spark.graft.cc.localEdgeMax", "0")
      try {
        val t0 = System.nanoTime()
        val labels = Dedup.starComponents(chain)
        val nComp = labels.select($"lab").distinct().count()
        (L.toLong, nComp, (System.nanoTime() - t0) / 1e9)
      } finally spark.conf.unset("spark.graft.cc.localEdgeMax")
    }
    probeMults("star-components-chain", timedChainCc(1)).foreach { m =>
      val (l, nc, s) = timedChainCc(m)
      println(f"[scale-probe] star-components-chain mult=$m%-3d vertices=$l%-7d components=$nc time=$s%.2fs")
    }

    // ANN recall under scale (VERDICT r9 #7): recall@10 of the
    // production IVF approximate search vs brute force, over an nprobe
    // sweep, at 1× and mult× corpus — the quantized gates are
    // exactness-gated against replayed arithmetic, but RECALL of the
    // approximate modes is a property of cell occupancy, which shifts
    // with corpus size; this is the artifact that tracks it. The
    // nprobe = IvfCells row degenerates to exhaustive search and must
    // read 1.000 — the section's self-check.
    def timedRecall(m: Int, nprobe: Int): (Double, Double, Double) = {
      val c = (0 until m)
        .map(i => base.select(($"vec_id" + lit(i * ReplicaStride)).as("vec_id"), $"v", $"nrm"))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val r = Similarity.ivfRecallProbe(c, k = 10, nprobe = nprobe)
        .agg(avg($"n_hit" / 10.0), avg($"n_cand")).head()
      (r.getDouble(0), r.getDouble(1), (System.nanoTime() - t0) / 1e9)
    }
    for (m <- probeMults("ivf-recall", timedRecall(1, 1));
         np <- Seq(1, 2, Dedup.IvfMinCells)) {
      val (rec, cand, s) = timedRecall(m, np)
      println(f"[scale-probe] ivf-recall mult=$m%-3d nprobe=$np recall@10=$rec%.3f mean_cand=$cand%.0f time=$s%.2fs")
    }

    // Directed PageRank at multiplied graph (the one graph-family gate
    // without a scale row): a deterministic low→high hashed-pair graph
    // (same oriented-DAG shape as the gate's co-occurrence projection —
    // maximal vertices are genuine dangling nodes) scaled in BOTH nodes
    // and edges. Cost model under test: T fixed iterations × (one edge
    // join + one node aggregate) over the hoisted degree-weighted edge
    // frame + one conditional scan-aggregate for the dangling mass —
    // time should grow ≈ linearly in edges, iterations constant.
    def timedPr(m: Int): (Long, Long, Double) = {
      val n = 4000L * m
      val e = spark.range(12000L * m).select(
          pmod($"id" * 2654435761L, lit(n)).as("a"),
          pmod($"id" * 7919L + 13L, lit(n)).as("b"))
        .where($"a" < $"b").distinct()
      // edge census OUTSIDE the timed window (and it pre-warms the
      // generated-graph plan): tuple elements evaluate left-to-right,
      // so an e.count() after the nanoTime read would bill a whole
      // extra distinct job to the pagerank row
      val ne = e.count()
      val t0 = System.nanoTime()
      val top = graft.ops.Graph.pagerankDirectedFrom(e)
        .agg(sum($"r"), count(lit(1))).head()
      (ne, top.getLong(1), (System.nanoTime() - t0) / 1e9)
    }
    probeMults("pagerank-directed", timedPr(1)).foreach { m =>
      val (ne, nTop, s) = timedPr(m)
      println(f"[scale-probe] pagerank-directed mult=$m%-3d edges=$ne%-8d top=$nTop time=$s%.2fs")
    }

    // graph_triangles (VERDICT r11 #3): the oriented wedge join bounds
    // work by Σ_src C(out_deg,2), but that bound is skew-sensitive — a
    // power-law hub could explode the wedge frame if orientation failed
    // to demote it. The generator PLANTS the hub: targets are drawn with
    // density ∝ t^(-2/3) (the u³ map), so vertex ~0 accumulates raw
    // degree ∝ m^(2/3) while sources stay uniform. Telemetry per rung:
    // max raw degree (the hub), max ORIENTED out-degree (what the
    // (degree,id) order reduced it to — the hub outranks every neighbor,
    // so its edges all point TOWARD it and its out-degree collapses),
    // n_wedges = the join's exact fanout counted from the out-degree
    // census, and the naive per-neighbor-pair bound Σ C(deg,2) the hub
    // explodes. Posture holds iff n_wedges stays near-linear in edges
    // (≤ m^1.5) while naive_pair_bound grows with the hub's square.
    def timedTri(m: Int): (Long, Long, Long, Long, Long, Long, Double) = {
      val n = 2000L * m
      // ... plus a consecutive-id path lattice (i, i+1), (i, i+2) that
      // plants ≈n real triangles, so the closure semi-join probes a
      // non-empty result at every rung (the skewed part alone closes
      // almost no wedge)
      val lattice = spark.range(n - 2).select($"id".as("x"), ($"id" + 1).as("y"))
        .union(spark.range(n - 2).select($"id".as("x"), ($"id" + 2).as("y")))
      val e = spark.range(6000L * m).select(
          pmod($"id" * 2654435761L, lit(n)).as("x"),
          (pow(pmod($"id" * 7919L + 13L, lit(n)).cast("double") / n, 3.0) * n)
            .cast("long").as("y"))
        .union(lattice)
        .where($"x" =!= $"y")
        .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
        .distinct()
      val ne = e.count()
      val cen = graft.ops.Graph.triangleWedgeCensus(spark, e).head()
      // the census ran its own degree+orientation build and pinned it;
      // sweep those blocks before the timed window so the summary's
      // fresh build isn't contending block storage with stale pins
      sweepDebris()
      val t0 = System.nanoTime()
      val row = graft.ops.Graph.triangleSummary(spark, e).head()
      val s = (System.nanoTime() - t0) / 1e9
      (ne, cen.getLong(0), cen.getLong(1), cen.getLong(2), cen.getLong(3),
        row.getLong(2), s)
    }
    probeMults("triangles", timedTri(1)).foreach { m =>
      val (ne, rawMax, outMax, wedges, naive, tri, s) = timedTri(m)
      println(f"[scale-probe] triangles mult=$m%-3d edges=$ne%-7d " +
        f"max_raw_deg=$rawMax%-5d max_out_deg=$outMax%-4d wedges=$wedges%-8d " +
        f"naive_pair_bound=$naive%-9d triangles=$tri%-7d time=$s%.2fs")
    }
    spark.stop()
  }
}
