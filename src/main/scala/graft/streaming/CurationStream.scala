package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming ingest curation — the LLM-pack curation funnel run as a
  * Structured Streaming pipeline, the way a crawl actually lands:
  * document batches arrive as files (Kafka in production — same seam as
  * `Connectors.Sources`), each micro-batch is quality-scored with the
  * EXACT batch-funnel features ([[graft.ops.llm.Curation.scoreDocs]] —
  * one definition, two execution modes), survivors are deduped against
  * ALL PREVIOUSLY SEEN content via streaming `dropDuplicates` on the
  * content hash (state = one compact row per distinct hash, keyed and
  * distributed by hash, persisted in the checkpoint — so dedup holds
  * ACROSS restarts and arrival order decides the canonical copy), and
  * accepted docs append to a parquet corpus via the idempotent
  * batch-id-keyed upsert (replayed batches land on their own path —
  * exactly-once by idempotence).
  *
  * Scale posture: scoring is map-side; the only shuffle is the hash-keyed
  * dedup state exchange; state size is bounded by distinct-content count
  * (16-byte keys), and the RocksDB provider moves it off-heap at 100 TB.
  * This is the streaming twin of `llm_dedup_incremental`'s
  * batch-over-index design: the checkpoint IS the index.
  */
object CurationStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Start the ingest pipeline over a file-stream source directory.
    * `Trigger.AvailableNow` drains what exists and stops — the bounded
    * restartable-batch pattern (B5); re-running with new files resumes
    * from the checkpoint with dedup state intact.
    */
  def ingest(spark: SparkSession, srcDir: String, outDir: String,
             checkpointDir: String): StreamingQuery = {
    graft.io.LocalFs.install(spark)
    val docs = spark.readStream.schema(docSchema).parquet(srcDir)
    curate(docs).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The transform alone (stream-agnostic): score → quality filter →
    * streaming exact dedup on md5(text). First arrival wins — the only
    * canonical-choice rule an unbounded stream can implement.
    */
  private[graft] def curate(docs: DataFrame): DataFrame =
    graft.ops.llm.Curation.scoreDocs(docs)
      .where(col("qual"))
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")
      .select("doc_id", "lang", "source", "n_chars", "content_hash")
}
