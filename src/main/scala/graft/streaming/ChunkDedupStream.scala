package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming chunk-level dedup — the CDC chunker run over a document
  * stream, deduplicating at SUB-document granularity against all
  * previously ingested content. The batch census
  * ([[graft.ops.llm.Dedup.cdcChunks]]) answers "how much of the corpus
  * is duplicated"; this twin answers the ingest-time question "which
  * parts of THIS batch are new" — a re-crawled page whose body moved by
  * one character still dedups chunk-for-chunk, because CDC boundaries
  * re-synchronize where fixed-width chunking would shift every boundary.
  *
  * Works because the chunker ([[graft.ops.llm.Dedup.cdcChunkRows]]) is a
  * pure per-row projection — legal in a streaming select with no
  * watermark or aggregation — so the ONLY stateful operator is
  * `dropDuplicates` on the chunk hash: state = one compact row per
  * distinct chunk hash, keyed and distributed by the uniform md5 key,
  * persisted in the checkpoint (dedup holds across restarts; RocksDB
  * provider moves it off-heap at scale). Same architecture as
  * [[CurationStream]], one level finer.
  */
object ChunkDedupStream {

  /** Drain `srcDir` (bounded restartable batch, B5): new chunks land in
    * `outDir/batch_id=N` via the idempotent batch-keyed overwrite;
    * re-running with new source files resumes from the checkpoint with
    * all prior chunk hashes still in state.
    */
  def ingest(spark: SparkSession, srcDir: String, outDir: String,
             checkpointDir: String): StreamingQuery = {
    graft.io.LocalFs.install(spark)
    val docs = spark.readStream
      .schema(CurationStream.docSchema).parquet(srcDir)
    newChunks(docs).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The transform alone (stream-agnostic): chunk → first-arrival-wins
    * dedup on the chunk hash. Emits one row per never-seen-before chunk:
    * (doc_id, j, h, n_chars) — the chunk text itself is dropped after
    * hashing to keep state and sink rows compact. `n_chars` is the
    * chunk's exact BYTE width (the chunker's round-10 byte semantics;
    * == char count on ASCII).
    */
  private[graft] def newChunks(docs: DataFrame): DataFrame =
    graft.ops.llm.Dedup
      .cdcChunkRows(docs.select(col("doc_id"), col("text")))
      .withColumn("n_chars", col("nb").cast("long"))
      .drop("chunk", "nb")
      .dropDuplicates("h")
}
