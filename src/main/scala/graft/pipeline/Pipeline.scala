package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.config.{PipelineConfig, YamlConfig}
import graft.connect.{Sinks, Sources}

/** Config-driven pipeline orchestrator (SURVEY.md §2 A11/A15, §3): YAML →
  * source → ordered processor fold → sink, re-expressing the reference's
  * `StreamingPipeline` (…/pipeline/streaming_pipeline.py:13-238) with the
  * same lifecycle and fail-fast behavior:
  *
  *  - `build()` resolves strictly source → processors → sink (:145-170),
  *    each component validating its own config on construction
  *  - `run()` folds the DataFrame through the processors; a `None` return
  *    short-circuits the whole pipeline (:195-200)
  *  - `run(awaitTermination = false)` hands back the live query for
  *    caller-managed lifecycles (:205-212)
  *  - `stop()` signals every active query on the session (:221-238)
  *
  * The fold is lazy end-to-end — no processor triggers an action — so
  * Catalyst optimizes ONE plan spanning the entire chain (§4): at any
  * scale the pipeline abstraction costs nothing over a hand-fused query.
  */
final class Pipeline(
    val spark: SparkSession,
    val config: PipelineConfig,
    streaming: Boolean = true) {

  private var sourceDf: Option[DataFrame] = None
  private var procs: Vector[Processor] = Vector.empty
  private var sinkReady = false

  /** Programmatic escape hatch (streaming_pipeline.py:93-101). */
  def addProcessor(p: Processor): this.type = { procs :+= p; this }

  def processors: Seq[Processor] = procs

  /** Resolve all components, fail-fast, in the reference's strict order.
    * Calling build() twice is an error (it would duplicate the processor
    * chain). Local checkpoint and sink I/O goes through
    * [[graft.io.LocalFs]].
    */
  def build(): this.type = {
    if (sourceDf.nonEmpty)
      throw new IllegalStateException("Pipeline is already built.")
    graft.io.LocalFs.install(spark)
    sourceDf = Some(Sources.create(spark, config.source, streaming))
    procs ++= config.processors.map(pc =>
      ProcessorRegistry.resolve(spark, pc.className, pc.params))
    // Sink config is validated at start/write time by the factory; probe
    // the type now — PER MODE — so an unsupported sink fails at build,
    // like the reference.
    val t = config.sink.componentType.toLowerCase
    if (!(if (streaming) Sinks.StreamTypes else Sinks.BatchTypes)(t))
      throw new IllegalArgumentException(s"Unsupported writer type: $t")
    sinkReady = true
    this
  }

  /** Fold the frame through the chain; `None` short-circuits (A11). */
  def transformed: Option[DataFrame] = {
    val src = sourceDf.getOrElse(throw new IllegalStateException(
      "Reader is not initialized. Cannot run pipeline. Did you call build()?"))
    Pipeline.applyProcessors(src, procs)
  }

  /** Run the pipeline. Streaming: returns the live query (and optionally
    * blocks on it). Batch: executes the write and returns None. A
    * short-circuited pipeline returns None without touching the sink.
    */
  def run(awaitTermination: Boolean = true): Option[StreamingQuery] = {
    if (!sinkReady) throw new IllegalStateException(
      "Writer is not initialized. Cannot run pipeline. Did you call build()?")
    transformed match {
      case None => None // a processor short-circuited the pipeline
      case Some(df) =>
        if (streaming) {
          val q = Sinks.startStream(df, config.sink)
          if (awaitTermination) { q.awaitTermination(); None } else Some(q)
        } else {
          Sinks.writeBatch(df, config.sink)
          None
        }
    }
  }

  /** A15: stop every active query on this session
    * (streaming_pipeline.py:221-238).
    */
  def stop(): Unit = spark.streams.active.foreach(_.stop())
}

object Pipeline {

  def fromYaml(spark: SparkSession, path: String, streaming: Boolean = true): Pipeline =
    new Pipeline(spark, YamlConfig.pipelineFromFile(path), streaming)

  def fromYamlString(spark: SparkSession, yaml: String, streaming: Boolean = true): Pipeline =
    new Pipeline(spark, YamlConfig.pipeline(YamlConfig.loadString(yaml)), streaming)

  /** The processor fold with None-short-circuit (A11) — exposed so query
    * packs can run reference-shaped chains inside the correctness gate.
    */
  def applyProcessors(df: DataFrame, processors: Seq[Processor]): Option[DataFrame] =
    processors.foldLeft(Option(df))((acc, p) => acc.flatMap(p.process))
}
