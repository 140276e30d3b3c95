package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming benchmark decontamination — the containment-ratio filter
  * (`llm_contamination_ratio`) run at INGEST time, the way a production
  * pipeline actually wants it: eval-set leakage is cheapest to stop when
  * a document first arrives, not in a quarterly batch sweep over the
  * landed corpus. Document batches stream in as files (Kafka in
  * production — same seam as `Connectors.Sources`); the benchmark gram
  * set is STATIC (eval suites change on release cadence, not per batch)
  * and joins each micro-batch via the exact
  * [[graft.ops.llm.TextStats.contaminationRatioFrom]] definition the
  * batch gate hash-matches against DuckDB — one definition, two
  * execution modes, the [[CurationStream]] pattern. Clean documents
  * append to the corpus path; flagged documents land on a reject path
  * with their ppm so the leak is auditable, never silently dropped.
  *
  * Scale posture: the filter is STATELESS — no watermark, no state
  * store, nothing grows with stream history; each batch shuffles only
  * itself (per-doc gram aggregate) and the benchmark set rides along as
  * one broadcast. Batch writes are keyed by batch_id with overwrite, so
  * a replayed batch lands on its own path — exactly-once by idempotence
  * (the [[CurationStream]] sink contract).
  */
object DecontamStream {

  /** The static benchmark gram set for a fixture dir — same contract as
    * the batch gate (first 20 docs stand in for the eval suite).
    */
  def benchGrams(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.ops.llm.Dedup.shinglesFrom(
        graft.Tables.documents(spark, dir), 4, distinct = true)
      .filter($"doc_id" < 20).select($"s").distinct()
  }

  /** Start the ingest filter over a file-stream source directory;
    * `Trigger.AvailableNow` drains what exists and stops (the bounded
    * restartable-batch pattern, B5). Accepted docs go to
    * `outDir/batch_id=N`, rejects to `rejectDir/batch_id=N`.
    */
  def ingest(spark: SparkSession, srcDir: String, bench: DataFrame,
             outDir: String, rejectDir: String,
             checkpointDir: String): StreamingQuery = {
    graft.io.LocalFs.install(spark)
    val docs = spark.readStream.schema(CurationStream.docSchema)
      .parquet(srcDir)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val checked = decontaminate(batch, bench)
        checked.filter(!col("flagged"))
          .drop("flagged")
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        checked.filter(col("flagged"))
          .drop("flagged")
          .write.mode("overwrite").parquet(s"$rejectDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The per-batch transform alone (batch-DataFrame in, batch out): the
    * gate-proven ratio over this batch's shingles, joined back so docs
    * too short to shingle (< 4 tokens — no 4-grams, nothing to leak)
    * pass with ppm 0 rather than vanishing.
    *
    * Schema-generic on purpose: the source's own columns pass through
    * verbatim (whatever they are) with the coalesced ratio columns
    * appended — an enumerated fixture-column list here would break the
    * stream with an analysis error on any source-schema evolution and
    * silently DROP extra columns (round-8 advice).
    */
  private[graft] def decontaminate(batch: DataFrame,
                                   bench: DataFrame): DataFrame = {
    import batch.sparkSession.implicits._
    val sh = graft.ops.llm.Dedup.shinglesFrom(batch, 4, distinct = true)
    val ratio = graft.ops.llm.TextStats.contaminationRatioFrom(sh, bench)
    val passThrough = batch.columns.toSeq.map(col)
    batch.join(ratio, Seq("doc_id"), "left_outer")
      .select(passThrough ++ Seq(
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        coalesce($"ppm", lit(0L)).as("ppm"),
        coalesce($"flagged", lit(false)).as("flagged")): _*)
  }
}
