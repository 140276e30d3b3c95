package graft.apps

import graft.pipeline.Pipeline

/** The framework-driven job entrypoint — the twin of
  * /root/reference/apps/pyspark-stream-job/stream_job.py:9-80: build a
  * SparkSession, load the pipeline YAML given as the first argument,
  * build, run, await termination.
  *
  *   spark-submit --class graft.apps.StreamJob <jar> pipeline.yaml \
  *       [--batch] [--app app_config.yaml]
  *
  * `--batch` runs the same pipeline declaration in batch mode (the
  * offline twin — the Kafka connector jar is an add-on package even for
  * the reference, sample_stream_job.py:112-115). `--app` points at the
  * app-level YAML (the configs/app_config.yaml twin: app name, master,
  * optional framework log level) — session-wide settings, kept separate
  * from the per-pipeline declaration exactly as the reference keeps them.
  */
object StreamJob {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: StreamJob <pipeline.yaml> [--batch] [--app <app_config.yaml>]")
    val batch = args.contains("--batch")
    val appCfg = args.indexOf("--app") match {
      case -1 => graft.config.AppConfig("graft-stream-job", "local[*]", None)
      case i =>
        require(i + 1 < args.length, "--app requires a path argument")
        graft.config.YamlConfig.appFromFile(args(i + 1))
    }
    appCfg.logLevel.foreach(l =>
      graft.util.Log.setLevel(org.apache.logging.log4j.Level.valueOf(l)))
    val log = graft.util.Log.logger("apps.StreamJob")
    val spark = graft.Session.builder()
      .appName(appCfg.appName)
      // spark-submit injects the master; the app-config master (reference
      // app_config.yaml `spark_master`) is the direct-run default
      .master(sys.props.getOrElse("spark.master", appCfg.master))
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    log.info(s"starting pipeline from ${args(0)} (batch=$batch)")
    val pipeline = Pipeline.fromYaml(spark, args(0), streaming = !batch).build()
    try pipeline.run(awaitTermination = true)
    finally spark.stop()
  }
}

/** The standalone job with a batch pre-flight check — the twin of
  * sample_stream_job.py:11-128: verify the source is reachable with a
  * bounded read (`take(1)` forces the first action), then run the
  * streaming pipeline.
  */
object SampleStreamJob {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SampleStreamJob <pipeline.yaml>")
    val spark = graft.Session.builder()
      .appName("graft-sample-stream-job")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    val cfg = graft.config.YamlConfig.pipelineFromFile(args(0))
    // batch pre-flight (verify_kafka_connection twin): bounded read + take(1)
    val probe = graft.connect.Sources.create(spark, cfg.source, streaming = false)
    val first = probe.take(1)
    if (first.isEmpty)
      System.err.println("[preflight] source is reachable but currently empty")
    else
      System.err.println(s"[preflight] source ok; first row: ${first.head}")
    val pipeline = new Pipeline(spark, cfg, streaming = true).build()
    try pipeline.run(awaitTermination = true)
    finally spark.stop()
  }
}
