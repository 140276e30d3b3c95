package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `key` names the request it
  * belongs to (a query and pass, or an episode and micro-batch).
  */
final case class Span(id: Int, name: String, parent: Int, key: String,
                      startNs: Long, endNs: Long)

/** Spark work attributed to one span. */
final class Counts {
  var jobs, stages, tasks, shuffleWrite, shuffleRead, spill, input = 0L
  var runMs, cpuMs, gcMs = 0.0

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
  }

  def toMap: ListMap[String, Double] = ListMap(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "run_ms" -> runMs, "cpu_ms" -> cpuMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite.toDouble, "shuffle_read_bytes" -> shuffleRead.toDouble,
    "spill_bytes" -> spill.toDouble, "input_bytes" -> input.toDouble)
}

/** Spans kept in memory and written out once at the end of a traced run,
  * plus the listeners that attribute Spark jobs, stages and SQL executions
  * to the open span. A disabled tracer records nothing and registers no
  * listener, so untraced runs measure the program alone.
  *
  * Attribution uses a local property: jobs submitted while a span is open
  * on the benchmark thread carry its id, and the listener bus (which runs
  * asynchronously) files their stages under it. [[drain]] waits for the
  * bus before the counts are read.
  */
final class Tracer(val enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var spark: Option[SparkSession] = None

  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()
  private val sqlDurations = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())

  private def countsOf(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan.put(_, span))
      val c = countsOf(span)
      c.synchronized(c.jobs += 1)
      jobsStarted.incrementAndGet()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val m = info.taskMetrics
      if (info.failureReason.isEmpty && m != null) {
        val c = countsOf(stageSpan.getOrDefault(info.stageId, -1))
        c.synchronized {
          c.stages += 1
          c.tasks += info.numTasks
          c.runMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1e6
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private object SqlListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      sqlDurations.put(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Register the job and SQL listeners on the session that will be measured. */
  def attach(session: SparkSession): Unit = if (enabled) {
    session.sparkContext.addSparkListener(JobListener)
    session.listenerManager.register(SqlListener)
    spark = Some(session)
  }

  private def setProp(id: Option[Int]): Unit =
    spark.foreach(_.sparkContext.setLocalProperty(SpanProp, id.map(_.toString).orNull))

  private var nextId = 0
  private def newId(): Int = synchronized { nextId += 1; nextId - 1 }

  /** Time `body` as a span named `name`, child of the innermost open span. */
  def span[T](name: String, key: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      val start = System.nanoTime()
      stack = id :: stack
      setProp(Some(id))
      try body
      finally {
        stack = stack.tail
        setProp(stack.headOption)
        record(Span(id, name, parent, key, start, System.nanoTime()))
      }
    }

  /** Record an interval measured elsewhere (a stream batch rebuilt from its
    * progress report); returns its id for use as a parent.
    */
  def interval(name: String, parent: Int, key: String, startNs: Long, endNs: Long): Int =
    if (!enabled) -1
    else {
      val id = newId()
      record(Span(id, name, parent, key, startNs, endNs))
      id
    }

  private def record(s: Span): Unit = synchronized { spans += s }

  /** The id of the span that closed last. */
  def lastClosed: Int = synchronized(spans.last.id)

  /** The id of the innermost open span, or -1. */
  def current: Int = stack.headOption.getOrElse(-1)

  /** nanoTime equivalent of an epoch-millisecond instant. */
  def nanosOfEpochMs(ms: Double): Long = t0 + ((ms - epochMsAtStart) * 1e6).toLong
  private val epochMsAtStart = System.currentTimeMillis().toDouble

  /** Wait until the listener bus has delivered every job it started. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10_000_000_000L
    var stableSince = System.nanoTime()
    var last = -1L
    while (System.nanoTime() < deadline &&
           !(jobsEnded.get == jobsStarted.get && System.nanoTime() - stableSince > 200_000_000L)) {
      if (jobsEnded.get != last) { last = jobsEnded.get; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  def sqlDurationMs(qe: QueryExecution): Option[Double] =
    Option(sqlDurations.get(qe)).map(_.toLong / 1e6)

  /** Spark work of span `id` and all its descendants. */
  def countsUnder(id: Int): Counts = {
    val all = allSpans
    val out = new Counts
    def walk(s: Int): Unit = {
      Option(counts.get(s)).foreach(out += _)
      all.filter(_.parent == s).foreach(c => walk(c.id))
    }
    walk(id)
    out
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Spans of the cold first pass (key `<query>#0`) or first episode
    * (key `ep0`, `ep0/b<n>`): they run once per run and are left out of the
    * per-layer summaries.
    */
  def cold(s: Span): Boolean = s.key.endsWith("#0") || s.key.takeWhile(_ != '/') == "ep0"

  /** Self time per layer (span name), ms per warm pass: a span's duration
    * minus the part its children cover, summed over the warm spans of that
    * name.
    */
  def selfTimeMs(warmPasses: Int): ListMap[String, Double] = {
    val warm = allSpans.filterNot(cold)
    val childNs = warm.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    val byName = warm.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).max(0L)).sum /
        1e6 / warmPasses
    }
    ListMap(byName.toSeq.sortBy(_._1): _*)
  }

  /** Spark work filed directly under each layer (span name), per warm pass. */
  def workPerLayer(warmPasses: Int): ListMap[String, ListMap[String, Double]] = {
    val byName = allSpans.filterNot(cold).groupBy(_.name).map { case (n, ss) =>
      val c = new Counts
      ss.foreach(s => Option(counts.get(s.id)).foreach(c += _))
      n -> c.toMap.map { case (k, v) => k -> v / warmPasses }
    }
    ListMap(byName.toSeq.sortBy(_._1): _*)
  }

  def artifact(warmPasses: Int): ListMap[String, Any] = {
    val all = allSpans.sortBy(_.startNs)
    ListMap(
      "spans" -> all.map(s => ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "key" -> s.key, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)),
      "counts" -> counts.asScala.toSeq.sortBy(_._1).map { case (id, c) =>
        ListMap("span" -> id) ++ c.toMap },
      "self_ms" -> selfTimeMs(warmPasses),
      "work_per_layer" -> workPerLayer(warmPasses))
  }
}
