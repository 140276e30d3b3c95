package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import java.security.MessageDigest
import java.text.Normalizer

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.config.YamlConfig
import graft.connect.{Sinks, Sources}
import graft.pipeline.{Pipeline, ProcessorRegistry}
import graft.schema.SchemaRegistry

/** A checkpointed YAML pipeline on local files: no micro-batch starts an OS
  * process, and a checkpoint written by Hadoop's own local filesystem
  * resumes exactly-once under [[LocalFs.install]].
  */
class ForkFreeStreamSpec extends SparkSpec {

  private val SchemaName = "fork_free_docs"

  private def yaml(root: JPath): String =
    s"""source:
       |  type: "json"
       |  config: {path: "${root.resolve("in")}", schema: "$SchemaName"}
       |processors:
       |  - {name: "Nfc", class: "nfc_normalize"}
       |  - {name: "Dedup", class: "dedup_exact"}
       |sink:
       |  type: "foreach_batch"
       |  config: {path: "${root.resolve("out")}", checkpoint_location: "${root.resolve("ckpt")}"}
       |""".stripMargin

  private def workDir(): JPath = {
    SchemaRegistry.register(SchemaName,
      StructType.fromDDL("doc_id BIGINT, text STRING"), overwrite = true)
    val root = Files.createTempDirectory("fork_free")
    Files.createDirectories(root.resolve("in"))
    root
  }

  /** One input file, renamed into place so the source sees it whole. */
  private def tick(root: JPath, n: Int, texts: Seq[String]): Unit = {
    val body = texts.zipWithIndex.map { case (t, i) =>
      s"""{"doc_id":${n * 100 + i},"text":"$t"}"""
    }.mkString("", "\n", "\n")
    val tmp = Files.writeString(root.resolve(s"in/.tick-$n.json"), body)
    Files.move(tmp, root.resolve(s"in/tick-$n.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      body
      r.stop()
      val f = Files.createTempFile("process_start", ".jfr")
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
    } finally r.close()
  }

  private def commands(events: Seq[RecordedEvent]): String =
    events.map(_.getString("command")).mkString("; ")

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(Normalizer.normalize(s, Normalizer.Form.NFC).getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The sink's rows as (batch id, content hash). */
  private def sink(s: SparkSession, root: JPath): Seq[(Int, String)] =
    s.read.parquet(root.resolve("out").toString).select("batch_id", "content_hash")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq

  test("the recorder sees a process start") {
    val events = processStarts(new ProcessBuilder("true").start().waitFor())
    assert(events.size === 1, commands(events))
  }

  test("three checkpointed micro-batches of a YAML pipeline start no process") {
    val root = workDir()
    val s = spark.newSession()
    val q = Pipeline.fromYamlString(s, yaml(root)).build().run(awaitTermination = false).get
    val batches = Seq(
      Seq("alpha beta", "gamma delta", "alpha beta"),
      Seq("café au lait", "café au lait", "epsilon"),
      Seq("gamma delta", "zeta eta"),
      Seq("theta", "iota kappa"))
    try {
      // batch 0 loads whatever the first micro-batch loads once per JVM
      tick(root, 0, batches(0))
      q.processAllAvailable()
      val events = processStarts {
        for (n <- 1 to 3) { tick(root, n, batches(n)); q.processAllAvailable() }
      }
      assert(events.isEmpty, commands(events))
      assert(q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq ===
        Seq(0L, 1L, 2L, 3L))
    } finally q.stop()
    val rows = sink(s, root)
    assert(rows.map(_._2).sorted === batches.flatten.map(md5).distinct.sorted)
    assert(rows.map(_._1).toSet === Set(0, 1, 2, 3))
  }

  test("a checkpoint written without install resumes exactly once with it") {
    val root = workDir()
    val before = spark.newSession()
    assert(before.conf.getOption("fs.AbstractFileSystem.file.impl").isEmpty)
    // the pipeline's source, processors and sink, without Pipeline.build's install
    val cfg = YamlConfig.pipeline(YamlConfig.loadString(yaml(root)))
    val df = Pipeline.applyProcessors(Sources.create(before, cfg.source, true),
      cfg.processors.map(pc => ProcessorRegistry.resolve(before, pc.className, pc.params))).get
    val first = Seq(Seq("one two", "three four", "one two"), Seq("five", "café"))
    val forked = processStarts {
      val q1 = Sinks.startStream(df, cfg.sink)
      try first.indices.foreach { n => tick(root, n, first(n)); q1.processAllAvailable() }
      finally q1.stop()
    }
    // Hadoop's own local filesystem wrote this checkpoint: without the native
    // library it forks per rename
    if (!NativeCodeLoader.isNativeCodeLoaded) assert(forked.nonEmpty)

    val after = spark.newSession()
    val q2 = Pipeline.fromYamlString(after, yaml(root)).build().run(awaitTermination = false).get
    val second = Seq("three four", "café", "six seven")
    try {
      tick(root, 2, second)
      q2.processAllAvailable()
      val resumed = q2.recentProgress.filter(_.numInputRows > 0)
      assert(resumed.map(_.batchId).toSeq === Seq(2L))
      assert(resumed.map(_.numInputRows).sum === second.size.toLong)
    } finally q2.stop()

    val rows = sink(after, root)
    val all = (first.flatten ++ second).map(md5)
    assert(rows.map(_._2).sorted === all.distinct.sorted)
    assert(rows.filter(_._1 == 2).map(_._2) === Seq(md5("six seven")))
  }
}
