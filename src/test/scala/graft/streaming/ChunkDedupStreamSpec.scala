package graft.streaming

import graft.SparkSpec
import graft.pipeline.Pipeline

/** Streaming CDC chunk dedup as a YAML pipeline: sub-document dedup
  * state living in the checkpoint. Pins what the batch census cannot:
  * (1) streaming output equals the batch distinct-chunk-hash result over
  * everything arrived, (2) chunk state survives a restart — a batch-2
  * document that is a 1-char edit of a batch-1 document contributes only
  * the chunk(s) overlapping the edit (the CDC re-synchronization
  * property, now enforced by checkpointed state), (3) an idle restart
  * emits nothing.
  */
class ChunkDedupStreamSpec extends SparkSpec {

  /** Chunk → compact (doc_id, j, h, n_chars) row, `n_chars` the chunk's
    * byte width → first-arrival-wins dedup on the chunk hash. The text is
    * dropped before the dedup so state and sink rows stay small. */
  private def chunkYaml(src: String, out: String, ckpt: String): String =
    s"""source:
       |  type: parquet
       |  config: {path: "$src", schema: DOCUMENTS_SCHEMA}
       |processors:
       |  - {name: Chunk, class: cdc_chunks}
       |  - {name: Project, class: select_expr,
       |     params: {exprs: [doc_id, j, h, "cast(nb as bigint) as n_chars"]}}
       |  - {name: Dedup, class: dedup_exact, params: {columns: [h]}}
       |sink:
       |  type: foreach_batch
       |  config: {path: "$out", checkpoint_location: "$ckpt"}
       |""".stripMargin

  test("streaming chunk dedup admits only edit-affected chunks of a near-dup") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefghijklmnop qrstuvw xyz."
    val base = (1 to 4000).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val edited = base.substring(0, 123) + "X" + base.substring(123)
    val src = tmpDir("chunk-src"); val out = tmpDir("chunk-out")
    val ckpt = tmpDir("chunk-ckpt")
    def doc(id: Long, t: String) = (id, t, "en", "synthetic", t.length.toLong)
    // each run is a restart: a fresh build over the same checkpoint
    def ingest(): Unit = {
      val p = Pipeline.fromYamlString(spark, chunkYaml(src, out, ckpt),
        streaming = true).build()
      val q = p.run(awaitTermination = false).get
      q.processAllAvailable()
      q.stop()
    }

    // batch 1: two distinct docs
    Seq(doc(0L, base), doc(1L, base.reverse))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(src)
    ingest()

    def chunksOut() = spark.read.parquet(out)
    val afterB1 = chunksOut().count()
    val expectB1 = graft.ops.llm.Dedup.cdcChunkRows(
        Seq((0L, base), (1L, base.reverse)).toDF("doc_id", "text"))
      .select($"h").distinct().count()
    assert(afterB1 === expectB1)
    assert(chunksOut().select($"h").distinct().count() === afterB1)

    // batch 2: a 1-char edit of doc 0 — only the edit-overlapping
    // chunk(s) are new to the checkpointed state
    Seq(doc(2L, edited)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(src)
    ingest()
    val b2New = chunksOut().where($"doc_id" === 2L).count()
    val b2Chunks = graft.ops.llm.Dedup.cdcChunkRows(
        Seq((2L, edited)).toDF("doc_id", "text")).count()
    assert(b2New >= 1, "the edited chunk itself must be new")
    assert(b2New <= 3, s"CDC resync: expected <=3 new chunks, got $b2New of $b2Chunks")

    // idle restart: nothing replays
    ingest()
    assert(chunksOut().count() === afterB1 + b2New)
  }
}
