package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.text.Normalizer
import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One generated input row. */
final case class Doc(docId: Long, tick: Int, text: String)

/** Deterministic content of the stream workload: the same seed and episode
  * give the same documents. Text is drawn from the fixture's `documents`
  * vocabulary plus a few precomposed accented words, with a fixed share of
  * exact repeats (within and across ticks), a share of NFD-decomposed twins
  * of earlier texts that only NFC normalization makes equal, and a share of
  * texts too short to pass the quality filter.
  */
object Generator {
  val Accented: Seq[String] =
    Seq("café", "naïve", "résumé", "façade", "über", "piñata", "Ångström", "coöperate")

  final case class Config(ticks: Int, rowsPerTick: Int, intervalMs: Int,
                          minTokens: Int, maxTokens: Int, maxWords: Int,
                          repeatShare: Double, nfdShare: Double, shortShare: Double,
                          accentShare: Double)

  /** 300 rows/s offered as one tick every 800 ms: well above the engine's
    * per-batch cost on 4 cores (about 450 ms, nearly all fixed overhead), so
    * each tick is its own micro-batch and the engine idles between ticks.
    * Closer to that cost, host noise tips the engine into merging ticks and
    * latency jumps from run to run.
    */
  val Default = Config(ticks = 12, rowsPerTick = 240, intervalMs = 800,
    minTokens = 4, maxTokens = 200, maxWords = 40, repeatShare = 0.2,
    nfdShare = 0.1, shortShare = 0.1, accentShare = 0.3)

  def episode(seed: Long, episode: Int, vocab: IndexedSeq[String],
              cfg: Config): IndexedSeq[IndexedSeq[Doc]] = {
    val rnd = new SplittableRandom(seed * 1000003L + episode)
    val seen = ArrayBuffer[String]()
    val accented = ArrayBuffer[String]()
    var nextId = episode.toLong * 10000000L
    def words(n: Int): String = {
      val w = Array.fill(n)(vocab(rnd.nextInt(vocab.size)))
      if (rnd.nextDouble() < cfg.accentShare)
        w(rnd.nextInt(n)) = Accented(rnd.nextInt(Accented.size))
      w.mkString(" ")
    }
    (0 until cfg.ticks).map { t =>
      (0 until cfg.rowsPerTick).map { _ =>
        val r = rnd.nextDouble()
        val text =
          if (r < cfg.repeatShare && seen.nonEmpty) seen(rnd.nextInt(seen.size))
          else if (r < cfg.repeatShare + cfg.nfdShare && accented.nonEmpty)
            Normalizer.normalize(accented(rnd.nextInt(accented.size)), Normalizer.Form.NFD)
          else {
            val n =
              if (rnd.nextDouble() < cfg.shortShare) 1 + rnd.nextInt(cfg.minTokens - 1)
              else cfg.minTokens + rnd.nextInt(cfg.maxWords - cfg.minTokens + 1)
            val s = words(n)
            seen += s
            if (Accented.exists(s.contains)) accented += s
            s
          }
        nextId += 1
        Doc(nextId, t, text)
      }
    }
  }

  /** One tick's file: JSON lines stamped with the tick's due time. */
  def render(docs: Seq[Doc], dueMs: Long): String =
    docs.map { d =>
      s"""{"doc_id":${d.docId},"tick":${d.tick},"due_ms":$dueMs,"text":${Json(d.text)}}"""
    }.mkString("", "\n", "\n")

  def nfc(s: String): String = Normalizer.normalize(s, Normalizer.Form.NFC)

  /** md5 hex of the NFC text: the sink's `content_hash`. */
  def contentHash(text: String): String =
    MessageDigest.getInstance("MD5").digest(nfc(text).getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The quality filter's rule: single-space tokens within [min, max]. */
  def passes(text: String, cfg: Config): Boolean = {
    val n = nfc(text).split(" ", -1).length
    n >= cfg.minTokens && n <= cfg.maxTokens
  }

  /** Distinct content hashes the sink must hold, each exactly once. */
  def expected(ticks: Seq[Seq[Doc]], cfg: Config): Set[String] =
    ticks.iterator.flatten.filter(d => passes(d.text, cfg)).map(d => contentHash(d.text)).toSet
}

/** Compares the sink's content hashes with the expected set. */
object SinkCheck {
  final case class Outcome(missing: Int, duplicated: Int, unexpected: Int) {
    def failed: Int = missing + duplicated + unexpected
  }

  def apply(expected: Set[String], got: Seq[String]): Outcome = {
    val counts = got.groupBy(identity).view.mapValues(_.size).toMap
    Outcome(
      missing = expected.count(h => !counts.contains(h)),
      duplicated = counts.iterator.filter(kv => expected(kv._1)).map(_._2 - 1).sum,
      unexpected = counts.iterator.filterNot(kv => expected(kv._1)).map(_._2).sum)
  }
}

/** The streaming workload: the config-driven curation pipeline fed by an
  * open-loop file generator, run as a sequence of episodes (fresh input,
  * checkpoint and sink each). The first episode runs cold and is reported
  * on its own; the rest are the measured passes.
  */
object Stream {
  val SchemaName = "perfbench_docs"
  /** Three, so that the median sets aside the first warm episode, in which
    * the JIT is still compiling.
    */
  val MinWarmEpisodes = 3
  /** Batch-id stride that keeps micro-batches of different episodes apart. */
  private val EpisodeStride = 1000000L

  final case class MicroBatch(id: Long, startMs: Double, durations: Map[String, Long],
                         inputRows: Long, stateRows: Long, stateMemory: Long, commitMs: Long) {
    def ms(k: String): Double = durations.getOrElse(k, 0L).toDouble
    def commitAtMs: Double = startMs + ms("triggerExecution")
  }

  final case class Episode(index: Int, batches: Seq[MicroBatch], cpuS: Double,
                           heapMb: Option[Double], buildMs: Double,
                           check: SinkCheck.Outcome, expected: Int, passedFilter: Int,
                           sinkRows: Int, sinkBytes: Long,
                           latencies: Seq[(Double, Long)], lateness: Seq[Double]) {
    def busyS: Double = batches.map(_.ms("triggerExecution")).sum / 1e3
  }

  private def schema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, tick INT, due_ms BIGINT, text STRING")

  def yaml(in: Path, out: Path, ckpt: Path, cfg: Generator.Config): String =
    s"""source:
       |  type: "json"
       |  config: {path: "$in", schema: "$SchemaName"}
       |processors:
       |  - {name: "Nfc", class: "nfc_normalize"}
       |  - {name: "Quality", class: "quality_filter",
       |     params: {min_tokens: "${cfg.minTokens}", max_tokens: "${cfg.maxTokens}"}}
       |  - {name: "Dedup", class: "dedup_exact"}
       |sink:
       |  type: "foreach_batch"
       |  config: {path: "$out", checkpoint_location: "$ckpt"}
       |""".stripMargin

  def vocabulary(spark: SparkSession, data: String): IndexedSeq[String] = {
    import spark.implicits._
    spark.read.parquet(s"$data/documents.parquet").select("text").as[String].collect()
      .iterator.flatMap(_.split(" ")).filter(_.nonEmpty).toSet.toIndexedSeq.sorted
  }

  private def parseMs(iso: String): Double = java.time.Instant.parse(iso).toEpochMilli.toDouble

  private def batchOf(p: StreamingQueryProgress): MicroBatch = {
    val st = p.stateOperators.headOption
    MicroBatch(p.batchId, parseMs(p.timestamp),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, st.map(_.numRowsTotal).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L))
  }

  /** Progress reports delivered to the listener bus (traced runs only). */
  private final class ProgressListener extends StreamingQueryListener {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def run(ctx: Ctx, cfg: Generator.Config = Generator.Default): Result = {
    val partitions = Proc.nproc
    var vocab = IndexedSeq.empty[String]
    val setups = (1 to Ctx.Setups).map { i =>
      Ctx.timeS {
        val spark = ctx.newSession(partitions,
          Map("spark.sql.streaming.numRecentProgressUpdates" -> "100000"))
        graft.schema.SchemaRegistry.register(SchemaName, schema, overwrite = true)
        vocab = vocabulary(spark, ctx.data)
        val d = ctx.work.resolve(s"setup$i")
        Files.createDirectories(d.resolve("in"))
        graft.pipeline.Pipeline.fromYamlString(spark,
          yaml(d.resolve("in"), d.resolve("out"), d.resolve("ckpt"), cfg), streaming = true).build()
      }
    }
    val spark = ctx.spark
    ctx.tracer.attach(spark)
    val listener = if (ctx.tracer.enabled) {
      val l = new ProgressListener
      spark.streams.addListener(l)
      Some(l)
    } else None

    val episodes = ArrayBuffer(episode(ctx, spark, 0, vocab, cfg, listener))
    val w0 = System.nanoTime()
    while (episodes.size < 1 + MinWarmEpisodes || (System.nanoTime() - w0) / 1e9 < ctx.seconds)
      episodes += episode(ctx, spark, episodes.size, vocab, cfg, listener)
    ctx.tracer.drain()

    val warm = episodes.drop(1).toSeq
    val warmBatches = warm.flatMap(_.batches)
    val attempted = episodes.map(_.expected).sum
    val failed = episodes.map(_.check.failed).sum
    val e2e = ListMap(
      "setup_s" -> (Stats.median(setups) -> "s"),
      "pass_s" -> (Stats.median(warm.map(_.busyS)) -> "s"),
      "lat_p50_ms" -> (Stats.median(warm.map(e => Stats.median(e.latencies.map(_._1)))) -> "ms"),
      "cpu_s" -> (Stats.median(warm.map(_.cpuS)) -> "s"),
      "rss_peak_mb" -> (Proc.peakRssMb() -> "MiB"),
      "heap_live_mb" -> (warm.head.heapMb.get -> "MiB"),
      "ok_frac" -> ((attempted - failed).toDouble / attempted -> "ratio"))

    def perBatch(k: String) = Stats.median(warmBatches.map(_.ms(k)))
    val latTail = Stats.highestTail(warm.flatMap(_.latencies))
    val layers = if (!ctx.tracer.enabled) ListMap.empty[String, Double] else ListMap(
      "state.store_rows" -> Stats.median(warm.map(_.batches.last.stateRows.toDouble)),
      "state.store_memory_bytes" -> Stats.median(warm.map(_.batches.last.stateMemory.toDouble)),
      "state.store_commit_ms" -> Stats.median(warmBatches.map(_.commitMs.toDouble)),
      "connect.latest_offset_ms" -> perBatch("latestOffset"),
      "connect.get_batch_ms" -> perBatch("getBatch"),
      "connect.add_batch_ms" -> perBatch("addBatch"),
      "connect.bytes_written" -> Stats.median(warm.map(_.sinkBytes.toDouble)),
      "pipeline.build_ms" -> Stats.median(warm.map(_.buildMs)),
      "streaming.batches" -> Stats.median(warm.map(_.batches.size.toDouble)),
      "streaming.rows_per_batch" -> Stats.median(warmBatches.map(_.inputRows.toDouble)),
      "streaming.plan_ms" -> perBatch("queryPlanning"),
      "streaming.wal_commit_ms" -> perBatch("walCommit"),
      "streaming.commit_offsets_ms" -> perBatch("commitOffsets"),
      "streaming.dedup_keep_frac" ->
        warm.map(_.sinkRows).sum.toDouble / warm.map(_.passedFilter).sum,
      "streaming.capacity_rows_per_s" ->
        warmBatches.map(_.inputRows).sum / (warmBatches.map(_.ms("triggerExecution")).sum / 1e3))

    val lateness = episodes.flatMap(_.lateness).toSeq
    val detail = ListMap(
      "config" -> cfg.toString, "partitions" -> partitions, "episodes" -> episodes.size,
      "setup_s_samples" -> setups,
      "first_pass_s" -> episodes.head.busyS,
      "pass_s_samples" -> warm.map(_.busyS),
      "lat_tail" -> latTail.map { case (q, v) => ListMap("quantile" -> q, "ms" -> v) },
      "warm_batches" -> warmBatches.size,
      "generator_lateness_ms" -> ListMap("max" -> lateness.max, "p50" -> Stats.median(lateness)),
      "episode_detail" -> episodes.map(e => ListMap(
        "episode" -> e.index, "busy_s" -> e.busyS, "cpu_s" -> e.cpuS,
        "pipeline_build_ms" -> e.buildMs, "expected" -> e.expected,
        "missing" -> e.check.missing, "duplicated" -> e.check.duplicated,
        "unexpected" -> e.check.unexpected, "sink_rows" -> e.sinkRows,
        "batches" -> e.batches.map(b => ListMap("batch" -> b.id, "rows" -> b.inputRows,
          "state_rows" -> b.stateRows, "state_commit_ms" -> b.commitMs,
          "duration_ms" -> ListMap(b.durations.toSeq.sortBy(_._1): _*))))))
    Result(attempted, failed, warm.size, e2e, layers, detail)
  }

  private def episode(ctx: Ctx, spark: SparkSession, index: Int, vocab: IndexedSeq[String],
                      cfg: Generator.Config, listener: Option[ProgressListener]): Episode =
    ctx.tracer.span("episode", s"ep$index") {
      val dir = ctx.work.resolve(s"ep$index")
      val (in, out, ckpt) = (dir.resolve("in"), dir.resolve("out"), dir.resolve("ckpt"))
      Files.createDirectories(in)
      val ticks = Generator.episode(ctx.seed, index, vocab, cfg)
      val expected = Generator.expected(ticks, cfg)
      val c0 = Proc.cpuSeconds()
      val b0 = System.nanoTime()
      val pipeline = ctx.tracer.span("pipeline.build", s"ep$index") {
        graft.pipeline.Pipeline.fromYamlString(spark, yaml(in, out, ckpt, cfg), streaming = true)
          .build()
      }
      val buildMs = (System.nanoTime() - b0) / 1e6
      val dueMs = ArrayBuffer[Long]()
      val writtenMs = ArrayBuffer[Long]()
      // The query thread inherits the span open when it starts, so its jobs
      // are filed under stream.run, the parent of the micro-batch spans.
      var runSpan = -1
      val query = ctx.tracer.span("stream.run", s"ep$index") {
        runSpan = ctx.tracer.current
        val q = pipeline.run(awaitTermination = false).get
        val gen = new Thread(() => {
          val start = System.currentTimeMillis() + cfg.intervalMs
          ticks.indices.foreach { t =>
            val due = start + t.toLong * cfg.intervalMs
            val wait = due - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            val name = f"tick-$t%05d.jsonl"
            val tmp = in.resolve("." + name)
            Files.writeString(tmp, Generator.render(ticks(t), due))
            Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
            dueMs += due
            writtenMs += System.currentTimeMillis()
          }
        }, "perfbench-generator")
        gen.start()
        gen.join()
        q.processAllAvailable()
        q
      }
      // The first warm episode reads the live heap while the query, and so
      // its dedup state, is still loaded; the collection is left out of cpu_s.
      val c1 = Proc.cpuSeconds()
      val heapMb = if (index == 1) Some(Proc.liveHeapMb()) else None
      val c2 = Proc.cpuSeconds()
      query.stop()
      val cpuS = Proc.cpuSeconds() - c0 - (c2 - c1)

      // A traced run reads progress from its listener, which the bus may
      // still be feeding: wait until it has every batch the engine reported.
      val engine = query.recentProgress.toSeq
      val progress = listener.fold(engine) { l =>
        def heard = l.progress.asScala.filter(_.id == query.id).toSeq
        val deadline = System.nanoTime() + 10_000_000_000L
        while (heard.map(_.batchId).toSet != engine.map(_.batchId).toSet &&
               System.nanoTime() < deadline) Thread.sleep(20)
        heard
      }
      val batches = progress.filter(_.numInputRows > 0).map(batchOf)
        .groupBy(_.id).values.map(_.head).toSeq.sortBy(_.id)
      batches.foreach { b =>
        val start = ctx.tracer.nanosOfEpochMs(b.startMs)
        val root = ctx.tracer.interval("batch", runSpan, s"ep$index/b${b.id}", start,
          start + (b.ms("triggerExecution") * 1e6).toLong)
        Seq("latestOffset" -> "connect.latest_offset", "walCommit" -> "streaming.wal_commit",
          "getBatch" -> "connect.get_batch", "queryPlanning" -> "streaming.plan",
          "addBatch" -> "connect.add_batch", "commitOffsets" -> "streaming.commit_offsets")
          .foldLeft(start) { case (t, (k, layer)) =>
            val end = t + (b.ms(k) * 1e6).toLong
            ctx.tracer.interval(layer, root, s"ep$index/b${b.id}", t, end)
            end
          }
      }

      val sink = spark.read.parquet(out.toString).select("content_hash", "tick", "batch_id")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2).toLong)).toSeq
      val check = SinkCheck(expected, sink.map(_._1))
      val commitAt = batches.map(b => b.id -> b.commitAtMs).toMap
      val batchOfTick = sink.map(r => r._2 -> r._3).toMap
      val latencies = ticks.indices.flatMap { t =>
        batchOfTick.get(t).flatMap(commitAt.get).toSeq.flatMap { c =>
          val group = index * EpisodeStride + batchOfTick(t)
          Seq.fill(ticks(t).size)((c - dueMs(t), group))
        }
      }
      val sinkBytes = scala.util.Using.resource(Files.walk(out)) { paths =>
        paths.iterator.asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .map(Files.size).sum
      }
      Episode(index, batches, cpuS, heapMb, buildMs, check, expected.size,
        ticks.iterator.flatten.count(d => Generator.passes(d.text, cfg)), sink.size, sinkBytes,
        latencies, writtenMs.indices.map(i => (writtenMs(i) - dueMs(i)).toDouble))
    }
}
