package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryListener}

/** Streaming observability: a [[StreamingQueryListener]] that collects
  * per-batch progress (rows read, processing rate, batch duration and its
  * phases, state rows, state commit time and memory) for every query on
  * the session — the operational surface a production pipeline exports
  * to its metrics system. The reference logs lifecycle events through
  * its logger; on Spark the idiomatic form is the listener bus, which
  * sees EVERY query without instrumenting any.
  *
  * Scale note: listeners run on the driver's listener bus and receive
  * one event per micro-batch (not per row), so collection cost is
  * independent of data volume.
  */
object Metrics {

  /** One micro-batch's progress. `durationMs` is the whole trigger; the
    * `*Ms` phases are its breakdown (a phase the batch skipped is 0):
    * source offsets, batch resolution, planning, the offset-log write
    * ahead, the sink write, and the commit-log write. The state fields sum
    * over the query's stateful operators and, like Spark's own progress,
    * over their partitions: `stateCommitMs` is task time, not wall time.
    */
  final case class BatchProgress(
      queryName: String,
      batchId: Long,
      numInputRows: Long,
      processedRowsPerSecond: Double,
      durationMs: Long,
      stateRows: Long,
      latestOffsetMs: Long,
      getBatchMs: Long,
      queryPlanningMs: Long,
      walCommitMs: Long,
      addBatchMs: Long,
      commitOffsetsMs: Long,
      stateCommitMs: Long,
      stateMemoryBytes: Long)

  /** Attach a fresh collector to the session's stream listener bus.
    * Detach with [[SparkSession]]`.streams.removeListener(collector.listener)`.
    */
  def attach(spark: SparkSession): Collector = {
    val c = new Collector
    spark.streams.addListener(c.listener)
    c
  }

  /** Retention bound: the collector keeps the most recent N batch events
    * (a seconds-granularity trigger left attached for days would
    * otherwise grow driver memory without limit).
    */
  private val MaxRetained = 10000

  /** The bound is fixed for callers; tests size it down. */
  final class Collector private[streaming] (maxRetained: Int) {
    def this() = this(MaxRetained)

    private val q = new ConcurrentLinkedQueue[BatchProgress]()
    /** `q`'s length: `ConcurrentLinkedQueue.size` walks the whole queue. */
    private val retained = new AtomicInteger

    val listener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def ms(phase: String) = Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(0L)
        val ops = Option(p.stateOperators).getOrElse(Array.empty[StateOperatorProgress])
        q.add(BatchProgress(
          Option(p.name).getOrElse(""),
          p.batchId,
          p.numInputRows,
          p.processedRowsPerSecond,
          ms("triggerExecution"),
          ops.map(_.numRowsTotal).sum,
          ms("latestOffset"),
          ms("getBatch"),
          ms("queryPlanning"),
          ms("walCommit"),
          ms("addBatch"),
          ms("commitOffsets"),
          ops.map(_.commitTimeMs).sum,
          ops.map(_.memoryUsedBytes).sum))
        if (retained.incrementAndGet() > maxRetained && q.poll() != null)
          retained.decrementAndGet()
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    /** Everything collected so far, in arrival order. */
    def snapshot: Seq[BatchProgress] = q.iterator.asScala.toSeq
  }
}
