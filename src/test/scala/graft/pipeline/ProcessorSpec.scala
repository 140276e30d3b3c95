package graft.pipeline

import graft.SparkSpec
import graft.config.Conf
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Reproduces the reference's processor-level asserted scenarios:
  *  - golden uppercase table (…/processors/custom_processors.py:71-93)
  *  - the no-key warn path (:95-102)
  *  - NoOp identity (…/processors/base_processor.py:146)
  *  - the None-short-circuit fold contract
  *    (…/pipeline/streaming_pipeline.py:195-200)
  *  - registry + Class.forName dynamic loading (:103-143)
  */
class ProcessorSpec extends SparkSpec {

  import spark.implicits._

  test("uppercase golden table (custom_processors.py:86-93)") {
    val in = Seq(("key1", "hello world"), ("key2", "test message"),
                 ("key3", "PySpark Stream")).toDF("key", "value")
    val out = new UppercaseValueProcessor().process(in).get
      .as[(String, String)].collect().toSeq
    assert(out === Seq(("key1", "HELLO WORLD"), ("key2", "TEST MESSAGE"),
                       ("key3", "PYSPARK STREAM")))
  }

  test("uppercase without key column keeps value-only shape") {
    val in = Seq("another message", "testing value only").toDF("value")
    val out = new UppercaseValueProcessor().process(in).get
    assert(out.columns.toSeq === Seq("value"))
    assert(out.as[String].collect().toSeq ===
      Seq("ANOTHER MESSAGE", "TESTING VALUE ONLY"))
  }

  test("uppercase without value column passes through unchanged") {
    val in = Seq(1, 2, 3).toDF("n")
    val out = new UppercaseValueProcessor().process(in).get
    assert(out eq in) // same object: no-op path, no plan growth
  }

  test("NoOp identity (base_processor.py:146)") {
    val in = Seq(1, 2).toDF("n")
    assert(new NoOpProcessor().process(in).get eq in)
  }

  test("fold applies processors in order and fuses lazily") {
    val in = Seq((1L, "a"), (2L, "b")).toDF("key", "value")
    val out = Pipeline.applyProcessors(in, Seq(
      new NoOpProcessor(),
      new UppercaseValueProcessor(),
      new SelectExprProcessor(Conf(Map("exprs" -> List("value")))))).get
    assert(out.columns.toSeq === Seq("value"))
    assert(out.as[String].collect().sorted.toSeq === Seq("A", "B"))
  }

  test("None short-circuits the whole pipeline (streaming_pipeline.py:198-200)") {
    val in = Seq(1).toDF("n")
    var downstreamRan = false
    val spy = new Transform {
      def apply(df: org.apache.spark.sql.DataFrame) = { downstreamRan = true; df }
    }
    val guard = new RequireColumnProcessor(Conf(Map("column" -> "missing")))
    assert(Pipeline.applyProcessors(in, Seq(guard, spy)).isEmpty)
    assert(!downstreamRan)
  }

  test("registry resolves ids and reference-style class paths") {
    val p1 = ProcessorRegistry.resolve(spark, "uppercase", Conf.empty)
    assert(p1.isInstanceOf[UppercaseValueProcessor])
    val p2 = ProcessorRegistry.resolve(spark, "graft.pipeline.NoOpProcessor", Conf.empty)
    assert(p2.isInstanceOf[NoOpProcessor])
  }

  test("Class.forName fallback loads unregistered Processor classes") {
    val p = ProcessorRegistry.resolve(spark, classOf[ExternalTestProcessor].getName, Conf.empty)
    assert(p.name === "ExternalTestProcessor")
  }

  test("unknown class fails with the reference's import error shape") {
    val e = intercept[IllegalArgumentException] {
      ProcessorRegistry.resolve(spark, "no.such.Processor", Conf.empty)
    }
    assert(e.getMessage.contains("Error importing module for processor"))
  }

  test("non-Processor class is rejected (streaming_pipeline.py type guard)") {
    val e = intercept[IllegalArgumentException] {
      ProcessorRegistry.resolve(spark, "java.lang.String", Conf.empty)
    }
    assert(e.getMessage.contains("must be an instance of Processor"))
  }

  test("nfc_normalize + cdc_chunks + dedup_exact compose config-driven chunk dedup") {
    // decomposed é (e+U+0301) in doc 1; doc 2 precomposed twin — NFC
    // makes them byte-identical, so chunk dedup collapses the pair
    val in = Seq((1L, "café " + ("x" * 80)),
                 (2L, "café " + ("x" * 80))).toDF("doc_id", "text")
    val nfc = ProcessorRegistry.resolve(spark, "nfc_normalize", Conf.empty)
    val chunk = ProcessorRegistry.resolve(spark, "cdc_chunks", Conf.empty)
    val dedup = ProcessorRegistry.resolve(spark, "dedup_exact",
      Conf(Map("columns" -> List("h"))))
    val out = Seq(nfc, chunk, dedup).foldLeft(Option(in)) {
      (acc, p) => acc.flatMap(p.process)
    }.get
    assert(out.columns.contains("h") && out.columns.contains("chunk"))
    // identical post-NFC texts ⇒ every doc-2 chunk deduped away
    val n = out.count()
    val perDoc1 = graft.ops.llm.Dedup.cdcChunkRows(
      in.where($"doc_id" === 1L).selectExpr("doc_id", "graft_nfc(text) AS text"))
      .count()
    assert(n === perDoc1)
  }

  test("cdc_chunks honors text_column/id_column and rejects unknown params " +
       "(a configured knob with no effect is a config trap)") {
    val in = Seq((7L, "y" * 100)).toDF("id", "body")
    val p = ProcessorRegistry.resolve(spark, "cdc_chunks",
      Conf(Map("text_column" -> "body", "id_column" -> "id")))
    val out = p.process(in).get
    assert(out.columns.contains("h") && out.columns.contains("chunk"))
    assert(out.select("doc_id").distinct.as[Long].collect().toSeq == Seq(7L))
    val e = intercept[IllegalArgumentException] {
      ProcessorRegistry.resolve(spark, "cdc_chunks",
        Conf(Map("txt_column" -> "body")))
    }
    assert(e.getMessage.contains("unsupported params"))
    assert(e.getMessage.contains("txt_column"))
  }

  test("cdc_chunks declares its boundary schema and flags mid-character " +
       "cuts via chunk_valid_utf8 (ADVICE r10: the byte-semantics change " +
       "had widened the schema silently)") {
    // long CJK text: CDC cuts on the byte stream, so with 3-byte
    // characters ~2/3 of interior boundaries land mid-character —
    // deterministic for this fixed content
    val cjk = "训练数据质量决定模型最终效果与泛化能力上限" * 40
    val in = Seq((1L, cjk), (2L, "plain ascii " + ("x" * 200)))
      .toDF("doc_id", "text")
    val p = ProcessorRegistry.resolve(spark, "cdc_chunks", Conf.empty)
    val out = p.process(in).get
    assert(out.columns.toSeq ===
      Seq("doc_id", "j", "chunk", "nb", "h", "chunk_valid_utf8"),
      "pipeline-boundary schema contract")
    // nb stays trustworthy regardless of decodability: chunks tile the
    // exact byte stream
    val widths = out.groupBy($"doc_id").agg(sum($"nb").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(widths(1L) === cjk.getBytes("UTF-8").length.toLong)
    // the ASCII doc's chunks are all valid; the CJK doc has at least one
    // interior cut and this content produces a mid-character one
    val flags = out.select($"doc_id", $"chunk_valid_utf8")
      .as[(Long, Boolean)].collect()
    assert(flags.filter(_._1 == 2L).forall(_._2), "ASCII chunks all valid")
    assert(flags.exists(f => f._1 == 1L && !f._2),
      "expected a flagged mid-character cut on the CJK doc")
    // the flag is consistent with a real decodability check: re-encoding
    // a valid chunk reproduces its exact byte width
    val chk = out.where($"chunk_valid_utf8")
      .where(octet_length(encode($"chunk", "UTF-8")) =!= $"nb").count()
    assert(chk === 0L)
  }

  test("decontaminate drops exactly the benchmark-contained docs, passes " +
       "extra columns through, and requires benchmark_path") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val benchDir = tmpDir("decon-bench")
    bench.write.mode("overwrite").parquet(benchDir)
    // doc 1 = verbatim benchmark text (100% containment), doc 2 clean,
    // doc 3 too short to shingle (passes — nothing to leak)
    val in = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "keep-me"),
      (2L, "one two three four five six seven eight", "keep-me"),
      (3L, "too short", "keep-me")).toDF("doc_id", "text", "extra")
    val p = ProcessorRegistry.resolve(spark, "decontaminate",
      Conf(Map("benchmark_path" -> benchDir)))
    val out = p.process(in).get
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    assert(out.columns.contains("extra"))
    val e = intercept[IllegalArgumentException] {
      ProcessorRegistry.resolve(spark, "decontaminate", Conf.empty)
    }
    assert(e.getMessage.contains("benchmark_path"))
  }

  test("span_corrupt replaces the text column with the corrupted input, " +
       "appends the target, and the sentinel counts agree") {
    val in = Seq((1L, ("tok " * 60).trim, "en"))
      .toDF("doc_id", "text", "lang")
    val p = ProcessorRegistry.resolve(spark, "span_corrupt", Conf.empty)
    val out = p.process(in).get
    assert(out.columns.toSet ===
      Set("doc_id", "lang", "text", "target_text", "n_spans"))
    val row = out.head()
    val spans = row.getAs[Long]("n_spans")
    val inputSentinels =
      "<X\\d+>".r.findAllIn(row.getAs[String]("text")).length
    val targetSentinels =
      "<X\\d+>".r.findAllIn(row.getAs[String]("target_text")).length
    assert(inputSentinels === spans)
    assert(targetSentinels === spans)
  }

  test("span_corrupt passes null-text rows through (n_spans = 0) instead " +
       "of silently dropping them") {
    val in = Seq((1L, Option(("tok " * 60).trim), "en"),
                 (2L, Option.empty[String], "de"))
      .toDF("doc_id", "text", "lang")
    val p = ProcessorRegistry.resolve(spark, "span_corrupt", Conf.empty)
    val out = p.process(in).get
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    val nullRow = out.where($"doc_id" === 2L).head()
    assert(nullRow.getAs[String]("text") == null)
    assert(nullRow.getAs[Long]("n_spans") === 0L)
  }

  /** Minimal valid params for every registered id. */
  private val minimalParams: Map[String, Map[String, Any]] = Map(
    "noop" -> Map(), "uppercase" -> Map(),
    "require_column" -> Map("column" -> "value"),
    "select_expr" -> Map("exprs" -> List("value")),
    "dedup_exact" -> Map(), "token_stats" -> Map(), "quality_filter" -> Map(),
    "nfc_normalize" -> Map(), "cdc_chunks" -> Map(),
    "decontaminate" -> Map("benchmark_path" -> "bench.parquet"),
    "span_corrupt" -> Map(), "near_dedup" -> Map(), "pii_scrub" -> Map(),
    "lang_id" -> Map(), "quality_score" -> Map(), "gopher_filter" -> Map(),
    "sem_dedup" -> Map(), "sem_dedup_clusters" -> Map(), "ann_topk" -> Map())

  test("every registry id rejects an unknown param at resolve, naming the " +
       "id and the key") {
    assert(minimalParams.keySet === ProcessorRegistry.builtinIds)
    for ((id, params) <- minimalParams) {
      ProcessorRegistry.resolve(spark, id, Conf(params))
      val e = intercept[IllegalArgumentException] {
        ProcessorRegistry.resolve(spark, id, Conf(params + ("bogus_key" -> "x")))
      }
      for (part <- Seq(s"$id:", "bogus_key", "unsupported params"))
        assert(e.getMessage.contains(part), s"$id: ${e.getMessage}")
    }
  }

  test("a malformed param value fails at resolve, naming the id and the key") {
    val cases = Seq(
      ("quality_filter", "min_tokens", "abc"),
      ("decontaminate", "max_ppm", "x"),
      ("quality_score", "min_score", "high"),
      ("dedup_exact", "columns", "h"))
    for ((id, key, value) <- cases) {
      val e = intercept[IllegalArgumentException] {
        ProcessorRegistry.resolve(spark, id, Conf(minimalParams(id) + (key -> value)))
      }
      assert(e.getMessage.startsWith(s"$id: "), e.getMessage)
      assert(e.getMessage.contains(key) && e.getMessage.contains(value), e.getMessage)
    }
  }

  test("no params.m access or unsupported-params check in src/main outside " +
       "the registry") {
    // every processor reads its params through Conf's getters and
    // ProcessorRegistry.resolve is the one unknown-key check; comment
    // lines are skipped
    val copy = "params\\.m\\b|unsupported params".r
    def copies(p: java.nio.file.Path) = Files.readAllLines(p).asScala.exists { l =>
      val t = l.trim
      !t.startsWith("*") && !t.startsWith("/") && copy.findFirstIn(l).nonEmpty
    }
    val registry = Paths.get("src/main/scala/graft/pipeline/Processor.scala")
    assert(copies(registry))
    val files = Files.walk(Paths.get("src/main/scala"))
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != registry && copies(p))
        .map(_.toString).toList
      finally files.close()
    assert(offenders.isEmpty)
  }
}

/** Deliberately NOT registered — exercises the Class.forName path. */
class ExternalTestProcessor extends Transform {
  def apply(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
}
