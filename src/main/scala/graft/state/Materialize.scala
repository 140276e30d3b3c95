package graft.state

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncating materialization for iterative / multi-consumer
  * intermediates (winnow fingerprints, connected-components rounds,
  * suffix-array rounds, TextRank iterations).
  *
  * `localCheckpoint()` is the right default on a single node: eager, no
  * external storage, truncates lineage so AQE re-plans from observed
  * sizes. Its cost at cluster scale is that it pins the data to EXECUTOR
  * block storage — a corpus-sized intermediate occupies executor
  * memory/disk for the query's lifetime and is lost (query fails) on
  * executor decommission, which at 100 TB / 1000 executors is a
  * when-not-if event. `spark.graft.materialize=reliable` switches every
  * such site to `checkpoint()` against the configured
  * `spark.checkpoint.dir` (HDFS/object store on a real cluster), which
  * survives executor loss and frees block storage at the cost of one
  * write+read round trip.
  *
  * Mode is read per pin from the session conf, so one session can flip
  * it between queries (a loop policy reads it once, when it is built):
  *   - `local` (default) — `df.localCheckpoint()` (eager)
  *   - `reliable`        — `df.checkpoint()` (eager). If no checkpoint
  *     dir is set: on a `local`/`local[*]` master a per-JVM temp dir is
  *     installed so tests work out of the box; on any OTHER master the
  *     call fails fast — a driver-local temp dir would have every
  *     executor write checkpoint blocks to its own non-shared disk,
  *     silently defeating the executor-loss-survival purpose the mode
  *     exists for. A real deployment sets `spark.checkpoint.dir` to
  *     shared reliable storage (HDFS / object store) explicitly.
  */
object Materialize {

  val ModeKey = "spark.graft.materialize"

  private val log = graft.util.Log.logger("state.Materialize")

  /** WHEN [[pin]] materializes a frame, named at every call site. */
  sealed trait Policy
  object Policy {

    /** Pin unconditionally, in the session's mode. */
    case object Always extends Policy

    /** Pin iff Catalyst's size estimate crosses [[AdaptivePinBytesKey]];
      * otherwise return the frame unchanged, so each consumer re-derives
      * the (tiny) tower — cheaper than a pin barrier below the
      * threshold, result-identical always (the towers are
      * deterministic). Estimate-based, not measured: measuring requires
      * materializing, which IS the cost being avoided; a wrong estimate
      * can only cost performance (an over-estimate keeps the r17 pin —
      * the status quo; an under-estimate re-derives per consumer), never
      * correctness. Use for multi-consumer towers whose pin exists for
      * CORPUS-scale pass reduction; iterative loop pins (2^T blowup
      * without lineage truncation) must stay unconditional.
      */
    case object IfLarge extends Policy

    /** [[Always]], additionally marking the newly-persisted RDD ids as
      * retained, for SESSION-LIVED caches the debris sweep must spare.
      * The ids are diffed around the pin; a lock confines the diff
      * window so a concurrent Retained pin (e.g. parallel suites on a
      * shared context) cannot have its ids attributed here (ADVICE r9).
      * A concurrent plain pin inside the window is still possible and at
      * worst exempts one sweepable pin from one sweep — stopped-context
      * entries are purged on lookup either way.
      */
    case object Retained extends Policy

    /** An iterative loop's resident pins, in the mode [[loop]] chose. */
    final class Loop private[Materialize] (val mode: String) extends Policy

    /** Pin mode for an iterative loop's RESIDENT frames, chosen from the
      * loop's FIRST materialized pin (VERDICT r15 #3): r15 measured
      * `materialize=reliable` — the documented cluster mode — as the
      * FASTER shape once resident pinned state passes the single-JVM GC
      * cliff, but the mode was only reachable as a global deployment
      * flag. An explicitly configured session mode always wins —
      * including an EXPLICIT `local`, which vetoes the autopilot (set
      * vs unset is distinguished via `getOption`; an operator who sets
      * local to avoid object-store checkpoint writes must get local —
      * VERDICT r16 #2). Only when [[ModeKey]] is UNSET does the
      * autopilot engage: a first pin whose measured block bytes exceed
      * [[AutoReliableBytesKey]] (≤ 0 disables) upgrades the loop's
      * remaining pins to reliable checkpoint files. Results are
      * bit-identical across modes (law-tested); only residency changes.
      *
      * The mode is resolved ONCE, here, so the policy keeps it after
      * `firstPin` is released (starComponents releases its first edge
      * pin inside the loop; re-measuring then would read 0 bytes and
      * silently drop to local). Mixing modes within one query is sound:
      * both are eager materializations of the same plan.
      */
    def loop(firstPin: DataFrame): Loop = new Loop(loopResidency(firstPin))
  }

  /** Materialize `df` (lineage-truncated) under `policy`. */
  def pin(df: DataFrame, policy: Policy): DataFrame = policy match {
    case Policy.Always =>
      materialize(df, df.sparkSession.conf.get(ModeKey, "local"))
    case Policy.IfLarge =>
      val thr = longConf(df.sparkSession, AdaptivePinBytesKey,
        AdaptivePinBytesDefault, byteCount(AdaptivePinBytesDefault, "pins unconditionally"))
      lazy val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val large = thr <= 0 || est >= BigInt(thr)
      if (log.isDebugEnabled) log.debug(s"[materialize] IfLarge pin=$large: " +
        s"threshold $thr" + (if (thr > 0) s", estimate $est bytes" else ""))
      if (large) pin(df, Policy.Always) else df
    case Policy.Retained => retainLock.synchronized {
      val sc = df.sparkSession.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = pin(df, Policy.Always)
      (sc.getPersistentRDDs.keySet -- before).foreach(retained.put(_, sc))
      out
    }
    case l: Policy.Loop => materialize(df, l.mode)
  }

  /** RDD ids pinned on behalf of a SESSION-LIVED [[memo]] entry
    * (e.g. the shared [[graft.ops.llm.SuffixIndex]]): Bench's per-query debris sweep
    * unpersists every persistent RDD between queries, which would
    * destroy a lineage-truncated (localCheckpoint) cached frame — the
    * cache would then hand later queries dataframes whose blocks are
    * gone. The sweep consults this set and leaves retained ids alone.
    */
  private val retained =
    new ConcurrentHashMap[Int, org.apache.spark.SparkContext]()

  /** Ids are attributed to their owning context: RDD ids restart at 0 per
    * SparkContext, so a stale id surviving a context stop would exempt an
    * UNRELATED later pin from the sweep. Entries of stopped contexts are
    * purged on lookup (ADVICE r9).
    */
  def isRetained(rddId: Int): Boolean = retained.get(rddId) match {
    case null => false
    case sc if sc.isStopped => retained.remove(rddId); false
    case _ => true
  }

  /** The debris sweep between independent queries (Bench, Verify, the
    * scale probes): many queries in one JVM otherwise accumulate cached
    * plans and localCheckpoint blocks, and late queries inherit the
    * storage-memory pressure of every earlier one. Retained pins are
    * spared: they are lineage-truncated, so unpersisting them would not
    * free-and-recompute but break every later query holding the frame.
    */
  def sweepDebris(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => isRetained(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  private val retainLock = new Object

  /** Drop entries of a session-keyed map whose session's context has
    * stopped — cached frames' blocks died with the context, so handing
    * them out would serve dead blocks, and the entries otherwise leak
    * for the JVM's lifetime (ADVICE r9). Call before every lookup; CHM
    * iterators support concurrent removal.
    */
  def purgeStopped[K, V](cache: ConcurrentHashMap[K, V])(
      session: K => SparkSession): Unit = {
    val it = cache.keySet.iterator
    while (it.hasNext) if (session(it.next()).sparkContext.isStopped) it.remove()
  }

  /** The settings a memoized intermediate's plan and pins depend on: the
    * pin mode (unset differs from an explicit `local` — see
    * [[Policy.loop]]), both pin thresholds and the partition count.
    * Lazy: the threshold keys are defined further down this object.
    */
  private lazy val RegimeKeys = Seq(ModeKey, AdaptivePinBytesKey,
    AutoReliableBytesKey, "spark.sql.shuffle.partitions")

  private final case class MemoKey(spark: SparkSession, name: String,
                                   key: Any, regime: Seq[Option[String]])

  /** One memo entry; `value` is guarded by the holder's monitor. */
  private final class MemoSlot { var value: Option[Any] = None }

  private val memos = new ConcurrentHashMap[MemoKey, MemoSlot]()

  /** Live memo entries (stopped sessions' entries go on the next lookup). */
  private[graft] def memoEntries: Int = memos.size

  /** Cold builds of one memo name: how many ran, and the wall seconds
    * of the largest (−1 until one runs).
    */
  private[graft] final case class ColdBuilds(count: Int, maxSeconds: Double)

  private val cold = new ConcurrentHashMap[String, ColdBuilds]()

  private[graft] def coldBuilds(name: String): ColdBuilds =
    cold.getOrDefault(name, ColdBuilds(0, -1.0))

  /** A session-lived intermediate shared across gates (the suffix index,
    * the pair and span frames, the winnow selection, IVF corpus counts),
    * built once per (session, `name`, `key`, regime): every caller gets
    * the identical instance, and a frame built under one pin mode,
    * threshold or partition count is never served under another.
    * `build` receives [[Policy.Retained]]: the memo outlives the
    * building query, so the debris sweep must spare its pins.
    *
    * The build runs under a per-key holder, outside the map's bin lock:
    * builds nest (the embedding-pair build resolves its IVF count through
    * another memo), which `computeIfAbsent` on one map forbids. N
    * concurrent misses on one key still run exactly one build; a build
    * that throws caches nothing, so the next call rebuilds. Each cold
    * build logs one INFO line and lands in [[coldBuilds]].
    */
  def memo[V](spark: SparkSession, name: String, key: Any)(
      build: Policy => V): V = {
    purgeStopped(memos)(_.spark)
    val regime = RegimeKeys.map(spark.conf.getOption)
    val slot = memos.computeIfAbsent(
      MemoKey(spark, name, key, regime), _ => new MemoSlot)
    slot.synchronized {
      if (slot.value.isEmpty) {
        val t0 = System.nanoTime()
        slot.value = Some(build(Policy.Retained))
        val secs = (System.nanoTime() - t0) / 1e9
        cold.merge(name, ColdBuilds(1, secs), (a, b) =>
          ColdBuilds(a.count + b.count, math.max(a.maxSeconds, b.maxSeconds)))
        // a plan key prints as a tree: one line, bounded
        if (log.isInfoEnabled) log.info(f"[materialize] memo $name built " +
          f"in $secs%.3fs: key ${key.toString.replaceAll("\\s+", " ").take(160)}; " +
          "regime " + RegimeKeys.zip(regime).map { case (k, v) =>
            s"$k=${v.getOrElse("unset")}" }.mkString(", "))
      }
      slot.value.get.asInstanceOf[V]
    }
  }

  /** Reset the memo layer AND un-strand its pins, for tests that must
    * observe a MISS (the unknown-mode dispatch error, a real
    * reliable-vs-local re-derivation). The cleared entries' retained
    * RDD ids would otherwise stay exempt from the debris sweep forever
    * (the sweep skips retained ids BY DESIGN), so each clear +
    * re-derivation cycle would strictly grow executor block storage
    * until the context stops. The memo just dropped its only handles,
    * so the pins are unpersisted and un-retained here; a frame a caller
    * captured BEFORE the clear is invalidated (lineage-truncated, blocks
    * gone) — acceptable for this test-only reset API, and documented so
    * nobody promotes it to a public surface without revisiting that
    * contract.
    */
  private[graft] def clearSessionCaches(): Unit = {
    // Snapshot the retained ids BEFORE the clear, and sweep only the
    // snapshot: ids a racing Retained pin registers during/after the
    // clear are never swept, so a build finishing mid-reset keeps live
    // pins (its orphaned pins are collected by the NEXT reset — a
    // one-cycle leak, not a poison). Residual (documented) window: a
    // build that finished its Retained pin before the snapshot but
    // installs its value after the clear serves swept blocks —
    // impossible in this private API's sequential test usage, and the
    // reason it must not be promoted to a public surface as-is.
    val snapshot = retained.asScala.toList
    memos.clear()
    snapshot.foreach { case (id, sc) =>
      if (!sc.isStopped)
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
      retained.remove(id)
    }
  }

  /** Release a frame produced by [[pin]] whose every consumer has fully
    * materialized (a released localCheckpoint cannot recompute; safe in
    * a `finally` — failures between pin and release must not leak a
    * corpus-sized pin per retry). Walks the frame's OWN lineage to its
    * first persisted ancestors, unpersists them, and in reliable mode
    * deletes their checkpoint FILES — ContextCleaner does not
    * (`cleanCheckpoints` defaults false), so a per-micro-batch caller
    * would otherwise grow shared storage without bound. Lineage-scoped,
    * not a `getPersistentRDDs` keyset diff (self-review r13 pass 5): a
    * diff races every concurrent pin in the session and would
    * unpersist a foreign lineage-truncated frame. Iterative builders
    * like `starComponents` free SUPERSEDED round pins with it as soon
    * as the next round is pinned.
    */
  def releasePinned(df: DataFrame): Unit = {
    val sc = df.sparkSession.sparkContext
    if (!sc.isStopped) pinRoots(df).foreach { r =>
      if (isPersisted(r)) r.unpersist(blocking = false)
      r.getCheckpointFile.foreach { p =>
        // NonFatal only, and LOUD on failure: a silent swallow here
        // re-opens the unbounded checkpoint-file growth this release
        // exists to close (a permissions change on the object store
        // would otherwise "succeed" every batch while deleting
        // nothing), and eating an InterruptedException would lose the
        // thread's cancellation (self-review r13 pass 6)
        try {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(sc.hadoopConfiguration).delete(hp, true)
        } catch { case scala.util.control.NonFatal(e) =>
          log.warn(s"[materialize] pin release failed to delete " +
            s"checkpoint files at $p: $e — files LEAK until cleaned")
        }
      }
    }
  }

  private def isPersisted(r: RDD[_]): Boolean =
    r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE

  /** A pinned frame's pins: the first persisted (localCheckpoint) or
    * checkpointed (reliable) ancestors on its OWN lineage.
    */
  private def pinRoots(df: DataFrame): Seq[RDD[_]] = {
    def walk(r: RDD[_]): Seq[RDD[_]] =
      if (isPersisted(r) || r.getCheckpointFile.isDefined) Seq(r)
      else r.dependencies.flatMap(d => walk(d.rdd))
    walk(df.rdd)
  }

  /** Size threshold (bytes) for [[Policy.IfLarge]] — the conditional-pin
    * gate for sub-corpus multi-consumer towers (r18, VERDICT r17 #3).
    * Default 64 MiB of OPTIMIZER-ESTIMATED frame bytes: the r17 wave
    * pinned every multi-consumer tower unconditionally, which bought
    * the at-scale pass reduction but charged each sub-second gate a
    * ~0.2–0.3 s materialization barrier at sf0.1 (the documented
    * "local pin cost" rows: NBC ×4, kmeans ×2, heavy_hitters,
    * freq_items, rrf, lsh). Estimates for these towers sit in the
    * KB–MB range on the test fixtures and in the TB range on a real
    * corpus, so one threshold cleanly separates the regimes. ≤ 0
    * disables the gate (always pin).
    */
  val AdaptivePinBytesKey = "spark.graft.pin.minBytes"
  val AdaptivePinBytesDefault: Long = 64L << 20

  /** A pin in an explicit mode: eager either way, so the two modes
    * produce bit-identical frames (law-tested in GraphSpec).
    */
  private def materialize(df: DataFrame, mode: String): DataFrame = {
    val spark = df.sparkSession
    mode match {
      case "local" => df.localCheckpoint()
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          if (!sc.isLocal) throw new IllegalStateException(
            s"$ModeKey=reliable on master '${sc.master}' requires " +
            "spark.checkpoint.dir set to SHARED reliable storage " +
            "(HDFS/object store): a driver-local temp dir would leave " +
            "each executor's checkpoint blocks on its own non-shared " +
            "disk, defeating executor-loss survival.")
          sc.setCheckpointDir(
            java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
        }
        df.checkpoint()
      case other => throw new IllegalArgumentException(
        s"$ModeKey: unknown mode '$other' (supported: local, reliable)")
    }
  }

  /** ACTUAL resident bytes (memory + disk blocks) of a pinned frame:
    * walks the frame's own lineage to its first persisted ancestors
    * (exactly like [[releasePinned]]) and sums their block storage from
    * the context's storage listing. 0 for a reliable (checkpoint-file)
    * pin — its data lives in files, not block storage, which is the
    * point. Measured, not estimated: row-width guesses drift with
    * schema and encoding; the blocks a localCheckpoint just wrote are
    * the exact quantity the single-JVM GC cliff is driven by.
    */
  def pinnedBytes(df: DataFrame): Long = {
    val sc = df.sparkSession.sparkContext
    if (sc.isStopped) return 0L
    val ids = pinRoots(df).filter(isPersisted).map(_.id).toSet
    sc.getRDDStorageInfo.iterator
      .filter(info => ids.contains(info.id))
      .map(info => info.memSize + info.diskSize).sum
  }

  /** Threshold (bytes) above which an iterative loop's resident pins
    * auto-upgrade from local blocks to reliable checkpoint files — see
    * [[Policy.loop]]. Default 256 MiB of measured first-pin bytes: far
    * above any bench-gate graph (the sf0.1 co-occurrence edge pin is
    * ~10–20 MB) and far below the r15-measured single-JVM GC cliff
    * (the 64-replica PageRank edge pin, where local pins stalled
    * 153–680 s vs 95–97 s with reliable pins —
    * docs/cluster-posture.md). ≤ 0 disables the auto choice.
    */
  val AutoReliableBytesKey = "spark.graft.iterative.reliablePinBytes"
  val AutoReliableBytesDefault: Long = 256L << 20

  private def loopResidency(firstPin: DataFrame): String =
    firstPin.sparkSession.conf.getOption(ModeKey) match {
      case Some(configured) => configured
      case None =>
        val thr = longConf(firstPin.sparkSession, AutoReliableBytesKey,
          AutoReliableBytesDefault,
          byteCount(AutoReliableBytesDefault, "disables the reliable-pin autopilot"))
        val bytes = if (thr > 0) pinnedBytes(firstPin) else -1L
        if (thr > 0 && bytes >= thr) {
          // the upgrade must never convert a WORKING query into a hard
          // failure: on a non-local master with no checkpoint dir,
          // a reliable pin fails fast by design (a driver-local temp
          // dir would defeat executor-loss survival) — there the
          // autopilot stays local and says why, instead of failing a
          // query that plain local pins would have carried (r16
          // self-review)
          val sc = firstPin.sparkSession.sparkContext
          if (sc.getCheckpointDir.isEmpty && !sc.isLocal) {
            log.warn(s"[materialize] loop pins NOT upgraded " +
              s"despite first pin $bytes bytes >= threshold $thr: no " +
              "spark.checkpoint.dir on a cluster master — set one " +
              "(shared reliable storage) to enable the faster " +
              "checkpoint-file residency for corpus-scale loops")
            "local"
          } else {
            // once per upgrade: the probe/bench reader must be able to
            // tell WHICH residency the loop ran with (the two modes'
            // perf differs exactly in the regime this fires in)
            log.info(s"[materialize] loop pins upgraded to " +
              s"reliable: first pin $bytes bytes >= threshold $thr")
            "reliable"
          }
        } else {
          log.debug(s"[materialize] loop pins stay local: threshold $thr" +
            (if (thr > 0) s", first pin $bytes bytes" else ""))
          "local"
        }
    }

  /** A numeric `spark.graft.*` conf key, parsed LOUDLY: a malformed value
    * names its key, `expected` (the format and what the special values
    * mean) and the value, not a bare NumberFormatException mid-query.
    */
  private[graft] def longConf(spark: SparkSession, key: String, default: Long,
                              expected: String): Long = {
    val raw = spark.conf.get(key, default.toString)
    try raw.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$key: expected $expected, got '$raw'")
    }
  }

  private def byteCount(default: Long, nonPositive: String): String =
    s"a byte count (long, e.g. $default; <= 0 $nonPositive)"
}
