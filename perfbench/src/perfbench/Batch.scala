package perfbench

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-insensitive fingerprint of a query result: row count and the
  * bit_xor of xxhash64 over every column.
  */
final case class Fingerprint(rows: Long, xor: Long)

/** The batch workload: closed loop, one client, each pass runs every query
  * of the list once, in an order drawn from the seed.
  */
object Batch {

  /** Driver-iterated loop gates whose exchanges pay one map-side bucket per
    * configured shuffle partition: the longest-dup probe batches, BPE
    * merges, PageRank iterations and the SQ8 top-k. A full pass over more
    * of the loop gates does not fit one run's time budget on 4 cores.
    */
  val LlmLoops: Seq[String] = Seq(
    "llm_longest_dup_substring", "llm_bpe_encode", "graph_pagerank", "llm_sq8_topk")

  /** The warm-up query graft.Bench runs before timing. */
  val WarmUp = "q1_pricing_summary"

  /** Three, so that the median sets aside the first warm pass, in which the
    * JIT is still compiling.
    */
  val MinWarmPasses = 3

  def fingerprintFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    df.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)).as("rows"), bit_xor(col("h")).as("xor"))
  }

  def readFingerprint(r: Row): Fingerprint =
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))

  /** A query is correct when it ran and its fingerprint equals the recorded one. */
  def agrees(expected: Map[String, Fingerprint], query: String, got: Option[Fingerprint]): Boolean =
    got.isDefined && expected.get(query) == got

  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  /** graft.Bench's per-query debris sweep: drop cached plans and non-retained
    * pins of earlier queries, then let async cleanup drain.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => graft.state.Materialize.isRetained(id) }
      .values.foreach(_.unpersist(blocking = false))
    System.gc()
    Thread.sleep(100)
  }

  private val ExchangeLine = """(^|[\s:+*-])(Broadcast)?Exchange\s""".r

  def exchanges(planText: String): Int =
    planText.linesIterator.count(l => ExchangeLine.findFirstIn(l).isDefined)

  /** One execution of one query. The first warm pass also reads the live
    * heap after it; a traced execution also carries the ids of its query and
    * ops.build spans and its per-layer numbers.
    */
  final case class Exec(query: String, pass: Int, wallMs: Double, cpuS: Double,
                        got: Option[Fingerprint], ok: Boolean, error: Option[String],
                        heapMb: Option[Double], spans: Option[(Int, Int)],
                        layers: ListMap[String, Double])

  /** Run `queries`: one cold pass, then warm passes until `ctx.seconds` have
    * passed, at least [[MinWarmPasses]].
    */
  def run(ctx: Ctx, queries: Seq[String], partitions: Int): Result = {
    val setups = (1 to Ctx.Setups).map { _ =>
      Ctx.timeS {
        val spark = ctx.newSession(partitions)
        fingerprintFrame(graft.SparkEntry.queries(WarmUp)(spark, ctx.data)).collect()
      }
    }
    val spark = ctx.spark
    ctx.tracer.attach(spark)
    val fns = graft.SparkEntry.queries
    val expected = ctx.fingerprints

    def once(name: String, pass: Int): Exec = {
      sweep(spark)
      val key = s"$name#$pass"
      val sc = spark.sparkContext
      val pinsBefore = if (ctx.tracer.enabled) sc.getPersistentRDDs.keySet else Set.empty[Int]
      var layers = ListMap.empty[String, Double]
      var spans = Option.empty[(Int, Int)]
      val c0 = Proc.cpuSeconds()
      val t0 = System.nanoTime()
      val got = try {
        Right(if (!ctx.tracer.enabled) {
          readFingerprint(fingerprintFrame(fns(name)(spark, ctx.data)).collect()(0))
        } else ctx.tracer.span("query", key) {
          val q = ctx.tracer.current
          val b0 = System.nanoTime()
          val df = ctx.tracer.span("ops.build", key)(fns(name)(spark, ctx.data))
          spans = Some(q -> ctx.tracer.lastClosed)
          val b1 = System.nanoTime()
          val fdf = fingerprintFrame(df)
          ctx.tracer.span("plan", key)(fdf.queryExecution.executedPlan)
          val b2 = System.nanoTime()
          val row = ctx.tracer.span("exec", key)(fdf.collect()(0))
          val b3 = System.nanoTime()
          layers = ListMap("ops.build_ms" -> (b1 - b0) / 1e6, "plan.ms" -> (b2 - b1) / 1e6,
            "exec.ms" -> (b3 - b2) / 1e6,
            "plan.exchanges" -> exchanges(fdf.queryExecution.executedPlan.toString))
          ctx.pending += (key -> fdf.queryExecution)
          readFingerprint(row)
        })
      } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val cpuS = Proc.cpuSeconds() - c0
      if (ctx.tracer.enabled) {
        val fresh = sc.getPersistentRDDs.keySet -- pinsBefore
        val bytes = sc.getRDDStorageInfo.filter(i => fresh.contains(i.id))
          .map(i => i.memSize + i.diskSize).sum
        layers ++= ListMap("state.pins" -> fresh.size.toDouble,
          "state.pinned_bytes" -> bytes.toDouble)
      }
      // Pins and session caches of the query are still held here; the sweep
      // before the next query drops the non-retained ones. One warm pass
      // suffices, and keeps Spark's growing job history out of the reading.
      val heapMb = if (pass == 1) Some(Proc.liveHeapMb()) else None
      val fp = got.toOption
      Exec(name, pass, wallMs, cpuS, fp, agrees(expected, name, fp), got.left.toOption,
        heapMb, spans, layers)
    }

    def pass(p: Int): Seq[Exec] = order(queries, ctx.seed, p).map(once(_, p))

    val cold = pass(0)
    val warm = scala.collection.mutable.ArrayBuffer[Seq[Exec]]()
    val w0 = System.nanoTime()
    while (warm.size < MinWarmPasses || (System.nanoTime() - w0) / 1e9 < ctx.seconds)
      warm += pass(warm.size + 1)
    ctx.tracer.drain()

    val all = cold ++ warm.flatten
    val failed = all.filterNot(_.ok)
    val passWall = warm.map(_.map(_.wallMs).sum / 1e3).toSeq
    val e2e = ListMap(
      "setup_s" -> (Stats.median(setups) -> "s"),
      "pass_s" -> (Stats.median(passWall) -> "s"),
      "lat_p50_ms" -> (Stats.median(warm.flatten.groupBy(_.query).values
        .map(es => Stats.median(es.map(_.wallMs).toSeq)).toSeq) -> "ms"),
      "cpu_s" -> (Stats.median(warm.map(_.map(_.cpuS).sum).toSeq) -> "s"),
      "rss_peak_mb" -> (Proc.peakRssMb() -> "MiB"),
      "heap_live_mb" -> (warm.head.flatMap(_.heapMb).max -> "MiB"),
      "ok_frac" -> ((all.size - failed.size).toDouble / all.size -> "ratio"))

    val layerMetrics =
      if (!ctx.tracer.enabled) ListMap.empty[String, Double]
      else layerSummary(ctx, warm.toSeq, cold, passWall)

    val detail = ListMap(
      "queries" -> queries, "partitions" -> partitions, "passes" -> (1 + warm.size),
      "setup_s_samples" -> setups,
      "heap_live_mb_samples" -> ListMap(warm.head.map(e => e.query -> e.heapMb): _*),
      "first_pass_s" -> cold.map(_.wallMs).sum / 1e3,
      "pass_s_samples" -> passWall,
      "failures" -> failed.map(e => ListMap("query" -> e.query, "pass" -> e.pass,
        "got" -> e.got.map(f => ListMap("rows" -> f.rows, "xor" -> f.xor)),
        "expected" -> expected.get(e.query).map(f => ListMap("rows" -> f.rows, "xor" -> f.xor)),
        "error" -> e.error)),
      "executions" -> all.map(e => ListMap("query" -> e.query, "pass" -> e.pass,
        "wall_ms" -> e.wallMs, "cpu_s" -> e.cpuS, "ok" -> e.ok,
        "rows" -> e.got.map(_.rows), "xor" -> e.got.map(_.xor)) ++ perQuery(ctx, e)))
    Result(all.size, failed.size, warm.size, e2e, layerMetrics, detail)
  }

  /** Traced per-query numbers: spans of this execution and the Spark work
    * (jobs, stages, tasks, executor time, bytes) under them.
    */
  private def perQuery(ctx: Ctx, e: Exec): ListMap[String, Any] =
    e.spans.fold(ListMap.empty[String, Any]) { case (querySpan, buildSpan) =>
      val q = ctx.tracer.countsUnder(querySpan)
      val b = ctx.tracer.countsUnder(buildSpan)
      val qe = ctx.pending.get(s"${e.query}#${e.pass}")
      val phases = qe.map(_.tracker.phases.map { case (k, v) => k -> v.durationMs })
        .getOrElse(Map.empty)
      ListMap("layers" -> e.layers,
        "counts" -> q.toMap, "build_counts" -> b.toMap,
        "sql_ms" -> qe.flatMap(ctx.tracer.sqlDurationMs),
        "planning_phases_ms" -> ListMap(phases.toSeq.sortBy(_._1): _*))
    }

  private def layerSummary(ctx: Ctx, warm: Seq[Seq[Exec]], cold: Seq[Exec],
                           passWall: Seq[Double]): ListMap[String, Double] = {
    def perPass(f: Exec => Double): Double = Stats.median(warm.map(_.map(f).sum))
    def counts(e: Exec) = e.spans.fold(new Counts)(s => ctx.tracer.countsUnder(s._1))
    def build(e: Exec) = e.spans.fold(new Counts)(s => ctx.tracer.countsUnder(s._2))
    def layer(k: String)(e: Exec) = e.layers.getOrElse(k, 0.0)
    val cores = Proc.nproc
    ListMap(
      "ops.build_ms" -> perPass(layer("ops.build_ms")),
      "ops.build_jobs" -> perPass(build(_).jobs.toDouble),
      "plan.ms" -> perPass(layer("plan.ms")),
      "plan.exchanges" -> perPass(layer("plan.exchanges")),
      "exec.ms" -> perPass(layer("exec.ms")),
      "exec.stages" -> perPass(counts(_).stages.toDouble),
      "exec.tasks" -> perPass(counts(_).tasks.toDouble),
      "exec.cpu_ms" -> perPass(counts(_).cpuMs),
      "exec.run_ms" -> perPass(counts(_).runMs),
      "exec.gc_ms" -> perPass(counts(_).gcMs),
      "exec.core_util" -> perPass(counts(_).runMs) / (Stats.median(passWall) * 1e3 * cores),
      "exec.shuffle_write_bytes" -> perPass(counts(_).shuffleWrite.toDouble),
      "exec.shuffle_read_bytes" -> perPass(counts(_).shuffleRead.toDouble),
      "exec.spill_bytes" -> perPass(counts(_).spill.toDouble),
      "exec.input_bytes" -> perPass(counts(_).input.toDouble),
      "state.pins" -> perPass(layer("state.pins")),
      "state.pinned_bytes" -> perPass(layer("state.pinned_bytes")),
      "state.cold_build_s" -> (cold.map(_.wallMs).sum / 1e3 - Stats.median(passWall)))
  }
}
