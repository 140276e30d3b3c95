package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Structured-Streaming operator library (SURVEY.md §2 C25–C32): the
  * streaming form of the engine's semantics, over any streaming DataFrame
  * (Kafka in production; MemoryStream / file streams in the offline test
  * twins — C4).
  *
  * State & scale posture: every helper keys its state by the group
  * columns, so state distributes across executors and is bounded by the
  * watermark (Spark evicts window/dedup state older than the watermark).
  * Checkpointing is THE state/restart story — exactly the reference's
  * model (…/state/offset_manager.py:13-21: Spark's checkpointLocation is
  * authoritative; the custom store is explicitly conceptual). At 100 TB
  * use the RocksDB state store provider; the plan shape is unchanged.
  */
object StreamOps {

  /** C25 watermark: tolerate `delay` of event-time disorder; drop later. */
  def withLateness(df: DataFrame, tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)

  /** C26 tumbling-window aggregate. */
  def tumbling(df: DataFrame, tsCol: String, delay: String, width: String,
               keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), width) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** C27 sliding-window aggregate (width > slide ⇒ overlapping windows). */
  def sliding(df: DataFrame, tsCol: String, delay: String, width: String,
              slide: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), width, slide) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** C28 session windows: gap-based, data-driven extent. */
  def session(df: DataFrame, tsCol: String, delay: String, gap: String,
              keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** C29 streaming dedup — the streaming form of B1's
    * exactly-one-per-key: state scoped by the watermark so it cannot grow
    * unboundedly.
    */
  def dedup(df: DataFrame, tsCol: String, delay: String,
            keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** C13 stream–stream join: both sides watermarked so Spark can bound
    * the join state and evict rows that can no longer match. The
    * condition MUST carry an event-time bound (e.g. `r.ts BETWEEN l.ts
    * AND l.ts + INTERVAL 10 MINUTES`) or state grows without limit —
    * that bound is what makes this join feasible on unbounded inputs.
    */
  def streamStreamJoin(left: DataFrame, leftTs: String, leftDelay: String,
                       right: DataFrame, rightTs: String, rightDelay: String,
                       cond: Column, joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, leftDelay)
      .join(right.withWatermark(rightTs, rightDelay), cond, joinType)

  /** Stream–static enrichment join: a stream joined to a batch dimension
    * table. Stateless — each micro-batch joins against the dim as of that
    * batch (the dim source is re-scanned per batch, so an updated dim
    * parquet is picked up without restarting the query). The dim side is
    * broadcast: no shuffle of the stream, which is the only layout that
    * works when the stream side is unbounded.
    */
  def streamStaticJoin(stream: DataFrame, dim: DataFrame,
                       cond: Column, joinType: String = "inner"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), cond, joinType)

  /** A keyed record for the typed-state helpers (the Kafka envelope's
    * key/offset/value triple).
    */
  final case class Keyed(key: String, off: Long, v: String)

  /** C30 arbitrary keyed state via flatMapGroupsWithState: the
    * latest-per-key (log-compaction, B1) view maintained incrementally —
    * emits the new latest for a key whenever it changes, exactly the
    * changelog a compacted Kafka topic would carry.
    */
  def latestPerKeyStateful(ds: Dataset[Keyed]): Dataset[Keyed] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Keyed, Keyed](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Keyed], state: GroupState[Keyed]) =>
          latestStep(rows, state.getOption, state.update)
      }
  }

  /** One latest-per-key step, shared by all three operators: the batch's
    * highest-offset row is emitted and stored only when it is newer than
    * the key's `prior` state.
    */
  private def latestStep(rows: Iterator[Keyed], prior: Option[Keyed],
                         store: Keyed => Unit): Iterator[Keyed] =
    if (!rows.hasNext) Iterator.empty
    else {
      val best = rows.maxBy(_.off)
      if (prior.forall(_.off < best.off)) {
        store(best)
        Iterator.single(best)
      } else Iterator.empty
    }

  /** The [[latestPerKeyStateful]] semantics on Spark 4's
    * `transformWithState` — the arbitrary-state API that supersedes
    * flatMapGroupsWithState: typed named state handles (value/list/map
    * per key), per-state TTL, timers, and schema evolution of state.
    * Runs on the RocksDB state store provider (required by the API —
    * which is also the store the 100 TB posture prescribes anyway).
    */
  class LatestPerKeyProcessor extends StatefulProcessor[String, Keyed, Keyed] {
    @transient private var latest: ValueState[Keyed] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[Keyed](
        "latest", Encoders.product[Keyed], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Keyed],
                                 timerValues: TimerValues): Iterator[Keyed] =
      latestStep(rows, Option.when(latest.exists())(latest.get()), latest.update)
  }

  /** C30 (Spark-4-native form): the same latest-per-key changelog via
    * `transformWithState`.
    */
  def latestPerKeyTws(ds: Dataset[Keyed]): Dataset[Keyed] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .transformWithState(new LatestPerKeyProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** [[LatestPerKeyProcessor]] with WAREHOUSE-SNAPSHOT BOOTSTRAP — the
    * Spark 4 initial-state API: a batch Dataset seeds each key's state
    * BEFORE the first micro-batch, so a migrated/restarted pipeline
    * resumes from the warehouse's latest-per-key truth instead of
    * re-emitting (or missing) history. `handleInitialState` runs once
    * per snapshot key; the per-batch logic is unchanged.
    */
  class LatestPerKeyBootstrapProcessor
      extends StatefulProcessorWithInitialState[String, Keyed, Keyed, Keyed] {
    @transient private var latest: ValueState[Keyed] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[Keyed](
        "latest", Encoders.product[Keyed], TTLConfig.NONE)
    override def handleInitialState(key: String, initialState: Keyed,
                                    timerValues: TimerValues): Unit =
      latest.update(initialState)
    override def handleInputRows(key: String, rows: Iterator[Keyed],
                                 timerValues: TimerValues): Iterator[Keyed] =
      latestStep(rows, Option.when(latest.exists())(latest.get()), latest.update)
  }

  /** [[latestPerKeyTws]] seeded from a batch snapshot (the kappa
    * bootstrap: warehouse state → streaming state, no replay).
    */
  def latestPerKeyTwsBootstrapped(ds: Dataset[Keyed],
                                  snapshot: Dataset[Keyed]): Dataset[Keyed] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .transformWithState(new LatestPerKeyBootstrapProcessor,
        TimeMode.None(), OutputMode.Update(),
        snapshot.groupByKey(_.key))
  }

  /** An event-timestamped keyed record for the timer-based helpers. */
  final case class Stamped(key: String, ts: java.sql.Timestamp)

  /** A closed session emitted by [[SessionTimerProcessor]]. */
  final case class SessionOut(key: String, n: Long)

  /** Timer-driven session close on `transformWithState` EVENT-TIME
    * timers: each key's state counts its events and keeps exactly one
    * registered timer at (last event time + gap); when the WATERMARK
    * passes that expiry the timer fires, the session summary is emitted,
    * and the key's state is cleared. This is the push-based alternative
    * to `session_window` aggregation: the operator decides WHEN to emit
    * (on inactivity), which is what alerting/session-TTL use cases need.
    *
    * Determinism: timers are driven by the watermark, not the wall
    * clock, so tests and replays produce identical emissions. State per
    * key is two longs + one timer — O(active keys), watermark-bounded.
    */
  class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[String, Stamped, SessionOut] {
    @transient private var cnt: ValueState[Long] = _
    @transient private var timerTs: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)
      timerTs = getHandle.getValueState[Long]("timerTs", Encoders.scalaLong,
        TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[Stamped],
                                 timerValues: TimerValues): Iterator[SessionOut] = {
      val batch = rows.toSeq
      if (batch.isEmpty) return Iterator.empty
      cnt.update((if (cnt.exists()) cnt.get() else 0L) + batch.size)
      val newExpiry = batch.map(_.ts.getTime).max + gapMs
      // exactly one live timer per key: extend, never duplicate
      if (timerTs.exists()) {
        val old = timerTs.get()
        if (newExpiry > old) {
          getHandle.deleteTimer(old)
          getHandle.registerTimer(newExpiry)
          timerTs.update(newExpiry)
        }
      } else {
        getHandle.registerTimer(newExpiry)
        timerTs.update(newExpiry)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      val n = if (cnt.exists()) cnt.get() else 0L
      cnt.clear()
      timerTs.clear()
      if (n > 0) Iterator.single(SessionOut(key, n)) else Iterator.empty
    }
  }

  /** A (user, kind) event for the MapState helper. */
  final case class TypedEvent(user: String, kind: String)

  /** A per-(user, kind) running count emitted on every change. */
  final case class KindCount(user: String, kind: String, n: Long)

  /** C30 MapState: per-key SUB-KEYED state (a map per user, one counter
    * per event kind). The point vs a flat (user, kind) grouping: all of
    * a user's counters live in ONE state row group, so a per-user
    * decision ("has this user done X and Y?") never needs a second
    * shuffle — the state layout matches the access pattern. With the
    * RocksDB provider each map entry is its own store key, so a hot
    * user's map streams instead of deserializing wholesale.
    */
  class PerKindCountProcessor
      extends StatefulProcessor[String, TypedEvent, KindCount] {
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[TypedEvent],
                                 timerValues: TimerValues): Iterator[KindCount] = {
      val byKind = rows.toSeq.groupBy(_.kind)
      byKind.toSeq.sortBy(_._1).map { case (kind, evs) =>
        val n = (if (counts.containsKey(kind)) counts.getValue(kind) else 0L) +
          evs.size
        counts.updateValue(kind, n)
        KindCount(key, kind, n)
      }.iterator
    }
  }

  /** C30: per-user per-kind running counts via MapState. */
  def kindCounts(ds: Dataset[TypedEvent]): Dataset[KindCount] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user)
      .transformWithState(new PerKindCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** The last-N window a [[RecentEventsProcessor]] emits per input batch. */
  final case class RecentOut(user: String, recent: String)

  /** C30 ListState: a bounded per-key ring buffer of the N most recent
    * event kinds — the "recent context" pattern (last N pages viewed,
    * last N errors) that powers streaming feature generation. ListState
    * appends are O(1) against RocksDB (no read-modify-write of the whole
    * list on append); the trim rewrites at most N entries.
    */
  class RecentEventsProcessor(maxN: Int)
      extends StatefulProcessor[String, TypedEvent, RecentOut] {
    @transient private var recent: ListState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[String](
        "recent", Encoders.STRING, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[TypedEvent],
                                 timerValues: TimerValues): Iterator[RecentOut] = {
      rows.foreach(e => recent.appendValue(e.kind))
      val all = recent.get().toArray
      val window = if (all.length > maxN) all.takeRight(maxN) else all
      // the trimmed window is already in hand: write it back without a
      // second full state read
      if (all.length > maxN) recent.put(window)
      Iterator.single(RecentOut(key, window.mkString(",")))
    }
  }

  /** C30: per-key last-N recent-event window via ListState. */
  def recentEvents(ds: Dataset[TypedEvent], maxN: Int): Dataset[RecentOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user)
      .transformWithState(new RecentEventsProcessor(maxN),
        TimeMode.None(), OutputMode.Update())
  }

  /** C30/C28 hybrid: inactivity-closed sessions via event-time timers. */
  def sessionizeWithTimers(ds: Dataset[Stamped], delay: String,
                           gapMs: Long): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", delay)
      .as[Stamped]
      .groupByKey(_.key)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
