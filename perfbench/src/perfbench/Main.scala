package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** What a workload reports: operations attempted and failed, end-to-end
  * metrics (value, unit), per-layer metrics (traced runs), the number of
  * warm passes or episodes they summarise, and free-form detail for the run
  * artifact.
  */
final case class Result(attempted: Int, failed: Int, warmPasses: Int,
                        e2e: ListMap[String, (Double, String)],
                        layers: ListMap[String, Double],
                        detail: ListMap[String, Any])

/** Run-wide state: arguments, the tracer and the measured SparkSession. */
final class Ctx(val seed: Long, val seconds: Int, val data: String, val work: Path,
                val fingerprints: Map[String, Fingerprint], val tracer: Tracer) {
  var spark: SparkSession = _
  /** QueryExecutions of traced queries, read back after the listener bus drains. */
  val pending = scala.collection.mutable.Map[String, QueryExecution]()

  /** Stop the current session, if any, and build a new one with the
    * settings of graft.Bench's builder on local[nproc].
    */
  def newSession(partitions: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    if (spark != null) spark.stop()
    val b = SparkSession.builder()
      .master(s"local[${Proc.nproc}]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "220")
      .config("spark.memory.storageFraction", "0.5")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Ctx {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 5

  def timeS(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

object Main {

  /** Per-layer metrics and units, printed by every traced run; a layer a
    * workload does not touch reads 0.
    */
  val Layers: ListMap[String, String] = ListMap(
    "ops.build_ms" -> "ms", "ops.build_jobs" -> "count",
    "plan.ms" -> "ms", "plan.exchanges" -> "count",
    "exec.ms" -> "ms", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.cpu_ms" -> "ms", "exec.run_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.core_util" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.input_bytes" -> "bytes",
    "state.pins" -> "count", "state.pinned_bytes" -> "bytes", "state.cold_build_s" -> "s",
    "state.store_rows" -> "count", "state.store_memory_bytes" -> "bytes",
    "state.store_commit_ms" -> "ms",
    "connect.latest_offset_ms" -> "ms", "connect.get_batch_ms" -> "ms",
    "connect.add_batch_ms" -> "ms", "connect.bytes_written" -> "bytes",
    "pipeline.build_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.plan_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.dedup_keep_frac" -> "ratio",
    "streaming.capacity_rows_per_s" -> "rows/s")

  def readFingerprints(path: Path): Map[String, Fingerprint] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    node.fields.asScala.map { e =>
      e.getKey -> Fingerprint(e.getValue.get("rows").asLong, e.getValue.get("xor").asLong)
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val health = new Health(seed)
    val work = Paths.get("").toAbsolutePath.resolve("work")
    val ctx = new Ctx(seed, args("seconds").toInt, args("data"), work,
      readFingerprints(Paths.get(args("fingerprints"))), new Tracer(trace))
    val exit = try {
      val result = workload match {
        case "llm_loops" => Batch.run(ctx, Batch.LlmLoops, 32)
        case "stream_curation" => Stream.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val metrics =
        if (trace) Layers.map { case (k, unit) =>
          k -> ListMap("value" -> result.layers.getOrElse(k, 0.0), "unit" -> unit) }
        else result.e2e.map { case (k, (v, unit)) => k -> ListMap("value" -> v, "unit" -> unit) }
      val line = Json(ListMap("correct" -> (result.failed == 0), "attempted" -> result.attempted,
        "failed" -> result.failed, "metrics" -> metrics))
      val stamp = health.finish(result.detail.get("generator_lateness_ms")
        .map(v => ListMap[String, Any]("generator_lateness_ms" -> v)).getOrElse(ListMap.empty))
      val artifact = Paths.get(args("artifacts"))
        .resolve(s"$workload-s$seed-t${if (trace) 1 else 0}.json")
      Json.write(artifact, ListMap("workload" -> workload, "seed" -> seed, "traced" -> trace,
        "health" -> stamp,
        "e2e" -> result.e2e.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
        "layers" -> result.layers, "detail" -> result.detail) ++
        (if (trace) ListMap("trace" -> ctx.tracer.artifact(result.warmPasses)) else ListMap.empty))
      System.err.println(s"perfbench: health ${Json(stamp)}")
      System.err.println(s"perfbench: artifact $artifact")
      if (ctx.spark != null) ctx.spark.stop()
      println(line)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    System.exit(exit)
  }
}
