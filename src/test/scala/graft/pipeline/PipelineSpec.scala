package graft.pipeline

import graft.SparkSpec
import graft.config.Conf
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end pipeline wiring: YAML → build → run against real file
  * sources/sinks (the offline twins of the reference's Kafka→Kafka path —
  * SURVEY.md §7: the Kafka jar is an add-on even in the reference). Covers
  * the build/run/stop lifecycle the reference exercises with mocks
  * (…/pipeline/streaming_pipeline.py:241-348) — with real execution.
  */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private def writeInput(): String = {
    val dir = tmpDir("pipe_in")
    Seq(("key1", "hello world"), ("key2", "test message"), ("key3", "PySpark Stream"))
      .toDF("key", "value").write.mode("overwrite").parquet(dir)
    dir
  }

  test("batch pipeline: parquet -> uppercase -> parquet, built from YAML") {
    val in = writeInput()
    val out = tmpDir("pipe_out")
    val yaml =
      s"""app_name: "BatchTwin"
         |source:
         |  type: "parquet"
         |  config: {path: "$in"}
         |processors:
         |  - name: "UppercaseValue"
         |    class: "graft.pipeline.UppercaseValueProcessor"
         |sink:
         |  type: "parquet"
         |  config: {path: "$out", mode: "overwrite"}
         |""".stripMargin
    val p = Pipeline.fromYamlString(spark, yaml, streaming = false).build()
    assert(p.processors.map(_.name) === Seq("UppercaseValueProcessor"))
    p.run()
    val rows = spark.read.parquet(out).as[(String, String)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq(("key1", "HELLO WORLD"), ("key2", "TEST MESSAGE"),
                              ("key3", "PYSPARK STREAM")))
  }

  test("short-circuited pipeline never touches the sink") {
    val in = writeInput()
    val out = tmpDir("pipe_none")
    val yaml =
      s"""source:
         |  type: "parquet"
         |  config: {path: "$in"}
         |processors:
         |  - name: "Guard"
         |    class: "require_column"
         |    params: {column: "not_there"}
         |sink:
         |  type: "parquet"
         |  config: {path: "$out/sub", mode: "overwrite"}
         |""".stripMargin
    val q = Pipeline.fromYamlString(spark, yaml, streaming = false).build().run()
    assert(q.isEmpty)
    assert(!new java.io.File(s"$out/sub").exists())
  }

  test("unsupported reader type fails at build (streaming_pipeline.py:69-71)") {
    val yaml =
      """source: {type: "mongodb", config: {uri: "x"}}
        |sink: {type: "console", config: {}}
        |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromYamlString(spark, yaml, streaming = false).build()
    }
    assert(e.getMessage === "Unsupported reader type: mongodb")
  }

  test("unsupported writer type fails at build") {
    val in = writeInput()
    val yaml =
      s"""source: {type: "parquet", config: {path: "$in"}}
         |sink: {type: "elasticsearch", config: {}}
         |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromYamlString(spark, yaml, streaming = false).build()
    }
    assert(e.getMessage === "Unsupported writer type: elasticsearch")
  }

  test("run before build fails with the reference's message") {
    val yaml =
      """source: {type: "rate", config: {}}
        |sink: {type: "console", config: {}}
        |""".stripMargin
    val e = intercept[IllegalStateException] {
      Pipeline.fromYamlString(spark, yaml).run()
    }
    assert(e.getMessage.contains("Did you call build()?"))
  }

  test("addProcessor type-safe programmatic path + csv source with registered schema") {
    val dir = tmpDir("pipe_csv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "data.csv"), "k1,v one\nk2,v two\n")
    val out = tmpDir("pipe_csv_out")
    graft.schema.SchemaRegistry.register("CSV_TEST_SCHEMA",
      graft.schema.SchemaRegistry.SimpleMessage, overwrite = true)
    val yaml =
      s"""source:
         |  type: "csv"
         |  config: {path: "$dir", schema: "CSV_TEST_SCHEMA"}
         |sink:
         |  type: "parquet"
         |  config: {path: "$out", mode: "overwrite"}
         |""".stripMargin
    val p = Pipeline.fromYamlString(spark, yaml, streaming = false).build()
      .addProcessor(new UppercaseValueProcessor())
    p.run()
    val rows = spark.read.parquet(out).as[(String, String)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq(("k1", "V ONE"), ("k2", "V TWO")))
  }

  test("console + noop sinks execute (A4/C3); rate source streams (C4)") {
    val in = writeInput()
    // batch console sink (A4's batch twin) and noop sink both execute
    val base = s"""source: {type: "parquet", config: {path: "$in"}}\n"""
    Pipeline.fromYamlString(spark,
      base + """sink: {type: "console", config: {num_rows: "2"}}""",
      streaming = false).build().run()
    Pipeline.fromYamlString(spark,
      base + """sink: {type: "noop", config: {}}""",
      streaming = false).build().run()
    // rate source: a real unbounded test stream (C4)
    val yaml =
      """source: {type: "rate", config: {rows_per_second: "500"}}
        |sink: {type: "memory", config: {query_name: "rate_sink"}}
        |""".stripMargin
    val p = Pipeline.fromYamlString(spark, yaml, streaming = true).build()
    val q = p.run(awaitTermination = false).get
    try {
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("rate_sink").isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); q.processAllAvailable()
      }
      assert(!spark.table("rate_sink").isEmpty)
      assert(spark.table("rate_sink").columns.toSeq === Seq("timestamp", "value"))
    } finally p.stop()
  }

  test("data-curation chain from YAML: dedup -> quality filter -> token stats over the documents fixture") {
    val out = tmpDir("pipe_curate")
    val yaml =
      s"""app_name: "CurationPipeline"
         |source:
         |  type: "parquet"
         |  config: {path: "/root/testdata/sf0.001/documents.parquet"}
         |processors:
         |  - {name: "Dedup", class: "dedup_exact"}
         |  - name: "Quality"
         |    class: "quality_filter"
         |    params: {min_tokens: "20", max_tokens: "90"}
         |  - {name: "Stats", class: "token_stats"}
         |sink:
         |  type: "parquet"
         |  config: {path: "$out", mode: "overwrite"}
         |""".stripMargin
    Pipeline.fromYamlString(spark, yaml, streaming = false).build().run()
    val result = spark.read.parquet(out)
    assert(result.columns.contains("n_tokens") && result.columns.contains("content_hash"))
    val bounds = result.agg(
      org.apache.spark.sql.functions.min($"n_tokens"),
      org.apache.spark.sql.functions.max($"n_tokens")).as[(Long, Long)].head()
    assert(bounds._1 >= 20L && bounds._2 <= 90L)
    assert(result.count() > 0)
    // dedup kept distinct content hashes only
    assert(result.select($"content_hash").distinct().count() === result.count())
  }

  test("full LLM curation funnel from ONE YAML: nfc_normalize -> " +
       "decontaminate -> cdc_chunks -> dedup_exact(h) over real fixture " +
       "docs (VERDICT r10 #8 — the heavyweight C36/C39 operators driven " +
       "by the config surface, not library calls)") {
    // benchmark set: one fixture doc verbatim — the decontamination
    // stage must drop exactly the planted contaminated doc
    val benchDir = tmpDir("pipe_llm_bench")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    docs.where($"doc_id" === 3L).write.mode("overwrite").parquet(benchDir)
    val inDir = tmpDir("pipe_llm_in")
    // input: fixture docs 0-19 plus a decomposed-NFD recrawl of doc 5
    // (shifted id): NFC must land it on the same bytes, so chunk dedup
    // collapses the recrawl against the original
    val nfd = docs.where($"doc_id" === 5L)
      .select(($"doc_id" + 1000L).as("doc_id"),
        org.apache.spark.sql.functions.concat($"text",
          org.apache.spark.sql.functions.lit(" café")).as("text"))
    val orig = docs.where($"doc_id" < 20)
      .withColumn("text", org.apache.spark.sql.functions.when(
        $"doc_id" === 5L, org.apache.spark.sql.functions.concat($"text",
          org.apache.spark.sql.functions.lit(" café"))).otherwise($"text"))
    orig.unionByName(nfd).write.mode("overwrite").parquet(inDir)
    val out = tmpDir("pipe_llm_out")
    val yaml =
      s"""app_name: "LlmCurationFunnel"
         |source:
         |  type: "parquet"
         |  config: {path: "$inDir"}
         |processors:
         |  - {name: "Nfc", class: "nfc_normalize"}
         |  - name: "Decontam"
         |    class: "decontaminate"
         |    params: {benchmark_path: "$benchDir", max_ppm: "500000"}
         |  - {name: "Chunk", class: "cdc_chunks"}
         |  - name: "ChunkDedup"
         |    class: "dedup_exact"
         |    params:
         |      columns: ["h"]
         |sink:
         |  type: "parquet"
         |  config: {path: "$out", mode: "overwrite"}
         |""".stripMargin
    Pipeline.fromYamlString(spark, yaml, streaming = false).build().run()
    val result = spark.read.parquet(out)
    // the declared chunk-stage boundary schema flows through to the sink
    assert(result.columns.toSet ===
      Set("doc_id", "j", "chunk", "nb", "h", "chunk_valid_utf8"))
    // decontamination dropped the planted benchmark doc before chunking
    assert(result.where($"doc_id" === 3L).count() === 0L)
    assert(result.count() > 0)
    // chunk-level dedup kept one row per distinct chunk hash
    assert(result.select($"h").distinct().count() === result.count())
    // the NFD recrawl collapsed: NFC lands it on the original's bytes,
    // so it contributes NO new chunk hash — the kept-row count equals
    // the distinct-hash census of the originals alone (dropDuplicates
    // keeps an arbitrary copy per hash, so row identity is not the
    // invariant; the hash census is)
    graft.functions.GraftFunctions.register(spark)
    val expectedDistinct = graft.ops.llm.Dedup.cdcChunkRows(
        spark.read.parquet(inDir)
          .where($"doc_id" < 1000L && $"doc_id" =!= 3L)
          .selectExpr("doc_id", "graft_nfc(text) AS text"))
      .select($"h").distinct().count()
    assert(result.count() === expectedDistinct,
      "the NFD recrawl must add no distinct chunk hash after NFC")
  }

  test("r11 curation processors from ONE YAML: quality_score -> " +
       "pii_scrub -> near_dedup over fixture docs with a planted PII " +
       "email and a planted recrawl copy") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .where($"doc_id" < 10).select($"doc_id",
        when($"doc_id" === 7L,
          concat($"text", lit(" contact bob7@ex.example.org")))
          .otherwise($"text").as("text"))
    val inDir = tmpDir("pipe_cur11_in")
    docs.unionByName(
        docs.where($"doc_id" === 7L)
          .select(($"doc_id" + 1000L).as("doc_id"), $"text"))
      .write.mode("overwrite").parquet(inDir)
    val out = tmpDir("pipe_cur11_out")
    val yaml =
      s"""app_name: "CurationProcessors"
         |source:
         |  type: "parquet"
         |  config: {path: "$inDir"}
         |processors:
         |  - {name: "Score", class: "quality_score"}
         |  - {name: "Pii", class: "pii_scrub"}
         |  - {name: "NearDedup", class: "near_dedup"}
         |sink:
         |  type: "parquet"
         |  config: {path: "$out", mode: "overwrite"}
         |""".stripMargin
    Pipeline.fromYamlString(spark, yaml, streaming = false).build().run()
    val result = spark.read.parquet(out)
    // the recrawl copy (exact near-dup of doc 7, larger id) is dropped
    assert(result.select("doc_id").as[Long].collect().sorted.toSeq ===
      (0L to 9L))
    val d7 = result.where($"doc_id" === 7L).head()
    assert(d7.getAs[String]("text").endsWith(" contact <EMAIL>"))
    assert(d7.getAs[Long]("n_pii_redacted") === 1L)
    assert(result.where($"doc_id" =!= 7L)
      .agg(sum($"n_pii_redacted")).head().getLong(0) === 0L)
    // the quality annotation flowed through both later stages
    assert(result.select("score").as[Int].collect().forall(s => s >= 0 && s <= 4))
  }

  test("r12 embedding processors from ONE YAML: ann_topk -> sem_dedup " +
       "over fixture embeddings with a planted semantic duplicate " +
       "(VERDICT r11 #4 — the SemDeDup stage of a curation funnel " +
       "driven by config, not library calls)") {
    import org.apache.spark.sql.functions._
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // plant: an exact embedding copy of vec 3 under id 1003 — at
    // threshold 0.95 the fixture's natural pairs stay below the floor,
    // so the planted pair is the only semantic duplicate
    val inDir = tmpDir("pipe_emb_in")
    embs.unionByName(
        embs.where($"vec_id" === 3L)
          .select(($"vec_id" + 1000L).as("vec_id"), $"embedding", $"label"))
      .write.mode("overwrite").parquet(inDir)
    val out = tmpDir("pipe_emb_out")
    val yaml =
      s"""app_name: "EmbeddingCuration"
         |source:
         |  type: "parquet"
         |  config: {path: "$inDir"}
         |processors:
         |  - name: "Ann"
         |    class: "ann_topk"
         |    params: {k: "3", threshold: "0.95"}
         |  - name: "SemDedup"
         |    class: "sem_dedup"
         |    params: {threshold: "0.95"}
         |sink:
         |  type: "parquet"
         |  config: {path: "$out", mode: "overwrite"}
         |""".stripMargin
    Pipeline.fromYamlString(spark, yaml, streaming = false).build().run()
    val result = spark.read.parquet(out)
    val inIds = spark.read.parquet(inDir).select("vec_id").as[Long].collect().toSet
    val outIds = result.select("vec_id").as[Long].collect().toSet
    // the planted copy (exact duplicate, tie on centroid-cos, higher id)
    // is the ONLY drop; the original survives
    assert(outIds === inIds - 1003L)
    // the ann annotation ran BEFORE dedup, so vec 3 still names its
    // (now-dropped) twin as nearest neighbor with sim 1.0 — the
    // annotate-then-filter order a training pipeline uses to keep
    // provenance of what was removed
    val d3 = result.where($"vec_id" === 3L)
      .select(expr("transform(ann_topk, x -> x.n_id)").as("ids"),
              expr("transform(ann_topk, x -> x.sim)").as("sims"))
      .as[(Seq[Long], Seq[Double])].head()
    assert(d3._1 === Seq(1003L))
    assert(math.abs(d3._2.head - 1.0) < 1e-12)
    // every other row is below the floor: empty arrays, none null
    assert(result.where(col("ann_topk").isNull).count() === 0L)
    assert(result.where($"vec_id" =!= 3L && size(col("ann_topk")) =!= 0)
      .count() === 0L)
  }

  test("r13 batch YAML: sem_dedup_clusters resolves a planted " +
       "indirect-partner cluster to ONE representative where the " +
       "pairwise sem_dedup YAML keeps both endpoints (VERDICT r12 #5 " +
       "done-criterion)") {
    import org.apache.spark.sql.functions._
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // plant an indirect chain a~b~c at ids 2001..2003: pair sims 0.97,
    // indirect sim cos2θ ≈ 0.88 — at threshold 0.95 the chain's two
    // pairs are the ONLY semantic duplicates (the fixture's natural
    // pairs stay below the 0.95 floor, proven by the r12 e2e above)
    val (a, b, c) = EmbeddingFixtures.indirectChain(0.97)
    val chain = Seq((2001L, a.map(_.toFloat), 0L), (2002L, b.map(_.toFloat), 0L),
                    (2003L, c.map(_.toFloat), 0L))
      .toDF("vec_id", "embedding", "label")
    val inDir = tmpDir("pipe_semc_in")
    embs.select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label".cast("long").as("label"))
      .unionByName(chain)
      .write.mode("overwrite").parquet(inDir)
    val inIds = spark.read.parquet(inDir).select("vec_id").as[Long].collect().toSet
    def runYaml(clazz: String, out: String): Set[Long] = {
      val yaml =
        s"""app_name: "ClusterDedup"
           |source:
           |  type: "parquet"
           |  config: {path: "$inDir"}
           |processors:
           |  - name: "Dedup"
           |    class: "$clazz"
           |    params: {threshold: "0.95"}
           |sink:
           |  type: "parquet"
           |  config: {path: "$out", mode: "overwrite"}
           |""".stripMargin
      Pipeline.fromYamlString(spark, yaml, streaming = false).build().run()
      spark.read.parquet(out).select("vec_id").as[Long].collect().toSet
    }
    val pairwise = runYaml("sem_dedup", tmpDir("pipe_semc_pw"))
    val cluster  = runYaml("sem_dedup_clusters", tmpDir("pipe_semc_cl"))
    // pairwise: b (2002, on the centroid direction = most redundant)
    // loses both its pairs; the indirect endpoints both survive
    assert(pairwise === inIds - 2002L)
    // cluster-exact: the whole component {a,b,c} keeps ONE rep
    val chainSurvivors = cluster.intersect(Set(2001L, 2002L, 2003L))
    assert(chainSurvivors.size === 1 &&
           Set(2001L, 2003L).contains(chainSurvivors.head),
      s"cluster rule must keep one non-b rep, got $chainSurvivors")
    // and nothing else moved: the two rules differ EXACTLY on the
    // indirect endpoint the pairwise rule cannot eliminate
    assert((pairwise -- cluster).subsetOf(Set(2001L, 2003L)))
    assert(cluster.subsetOf(pairwise))
  }

  test("streaming curation: documents file-stream -> quality filter -> " +
       "foreach_batch parquet upsert (the full YAML path)") {
    val inDir = tmpDir("pipe_scur_in")
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(inDir)
    graft.schema.SchemaRegistry.register("DOCS_TEST_SCHEMA",
      spark.read.parquet(inDir).schema, overwrite = true)
    val out = tmpDir("pipe_scur_out")
    val ck = tmpDir("pipe_scur_ck")
    val yaml =
      s"""source:
         |  type: "parquet"
         |  config: {path: "$inDir", schema: "DOCS_TEST_SCHEMA"}
         |processors:
         |  - {name: "Quality", class: "quality_filter", params: {min_tokens: "20"}}
         |  - {name: "Stats", class: "token_stats"}
         |sink:
         |  type: "foreach_batch"
         |  config: {path: "$out", checkpoint_location: "$ck"}
         |""".stripMargin
    val p = Pipeline.fromYamlString(spark, yaml, streaming = true).build()
    val q = p.run(awaitTermination = false).get
    try q.processAllAvailable()
    finally p.stop()
    val result = spark.read.parquet(s"$out/batch_id=0")
    assert(result.count() > 0)
    assert(result.agg(org.apache.spark.sql.functions.min($"n_tokens"))
      .as[Long].head() >= 20L)
  }

  test("replay parity (Kappa law): the SAME stateless curation chain " +
       "yields IDENTICAL rows run as batch and as a streaming replay") {
    // the property that lets one YAML serve both modes: a stateless
    // processor chain is a pure function of the input rows, so a
    // streaming replay over the same files must reproduce the batch
    // output exactly — not just pass the same per-row predicates.
    // The chain deliberately includes every streaming-legal r11
    // curation processor (pure maps: nfc_normalize, pii_scrub,
    // quality_score, gopher_filter in annotate mode) so the Kappa law
    // covers the whole map-only pipeline surface, not a toy pair
    val inDir = tmpDir("pipe_par_in")
    graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(inDir)
    graft.schema.SchemaRegistry.register("DOCS_PAR_SCHEMA",
      spark.read.parquet(inDir).schema, overwrite = true)
    def chainYaml(sink: String): String =
      s"""source:
         |  type: "parquet"
         |  config: {path: "$inDir", schema: "DOCS_PAR_SCHEMA"}
         |processors:
         |  - {name: "Quality", class: "quality_filter", params: {min_tokens: "20"}}
         |  - {name: "Stats", class: "token_stats"}
         |  - {name: "Nfc", class: "nfc_normalize"}
         |  - {name: "Pii", class: "pii_scrub"}
         |  - {name: "Score", class: "quality_score"}
         |  - {name: "Gopher", class: "gopher_filter", params: {mode: "annotate"}}
         |$sink""".stripMargin
    val outB = tmpDir("pipe_par_b")
    Pipeline.fromYamlString(spark, chainYaml(
      s"""sink:
         |  type: "parquet"
         |  config: {path: "$outB", mode: "overwrite"}""".stripMargin),
      streaming = false).build().run()
    val outS = tmpDir("pipe_par_s")
    val ck = tmpDir("pipe_par_ck")
    val p = Pipeline.fromYamlString(spark, chainYaml(
      s"""sink:
         |  type: "foreach_batch"
         |  config: {path: "$outS", checkpoint_location: "$ck"}""".stripMargin),
      streaming = true).build()
    val q = p.run(awaitTermination = false).get
    try q.processAllAvailable()
    finally p.stop()
    val batch = spark.read.parquet(outB)
    val stream = spark.read.parquet(s"$outS/batch_id=0")
      .select(batch.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(batch.count() > 0)
    assert(batch.exceptAll(stream).isEmpty && stream.exceptAll(batch).isEmpty,
      s"batch=${batch.count()} stream=${stream.count()}")
  }

  test("streaming pipeline: file stream -> uppercase -> memory sink, then stop()") {
    val in = writeInput()
    val yaml =
      s"""source:
         |  type: "parquet"
         |  config: {path: "$in", schema: "SIMPLE_MESSAGE_SCHEMA"}
         |processors:
         |  - {name: "Upper", class: "uppercase"}
         |sink:
         |  type: "memory"
         |  config: {query_name: "pipe_stream_sink"}
         |""".stripMargin
    val p = Pipeline.fromYamlString(spark, yaml, streaming = true).build()
    val q = p.run(awaitTermination = false).get
    try q.processAllAvailable()
    finally p.stop()
    val rows = spark.table("pipe_stream_sink").as[(String, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq === Seq(("key1", "HELLO WORLD"), ("key2", "TEST MESSAGE"),
                              ("key3", "PYSPARK STREAM")))
    assert(spark.streams.active.isEmpty) // stop() stopped everything (A15)
  }

  test("no readStream or writeStream in src/main outside the connectors " +
       "and DecontamStream") {
    // every other streaming job is a YAML pipeline; comment lines are
    // skipped (KafkaOptions' scaladoc names the reader it configures)
    val streamCall = "\\.(readStream|writeStream)\\b".r
    def calls(p: java.nio.file.Path) = Files.readAllLines(p).asScala.exists { l =>
      val t = l.trim
      !t.startsWith("*") && !t.startsWith("/") && streamCall.findFirstIn(l).nonEmpty
    }
    val allowed = Set("connect/Connectors.scala", "streaming/DecontamStream.scala")
      .map(f => Paths.get("src/main/scala/graft", f))
    assert(allowed.forall(calls))
    val files = Files.walk(Paths.get("src/main/scala"))
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !allowed(p) && calls(p))
        .map(_.toString).toList
      finally files.close()
    assert(offenders.isEmpty)
  }
}
