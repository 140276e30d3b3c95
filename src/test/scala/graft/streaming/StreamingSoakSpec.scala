package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Long-horizon bounded-state soak (VERDICT r4 #6): the 100 TB streaming
  * risk is UNBOUNDED state — a handful-of-batches test can't see it,
  * because eviction only shows once the watermark has swept far past the
  * earliest state. This drives 220 real micro-batches of always-unique
  * keys through the streaming dedup operator on RocksDB and asserts the
  * state-store row count PLATEAUS at the watermark horizon instead of
  * tracking the total keys ever seen.
  */
class StreamingSoakSpec extends SparkSpec {

  import spark.implicits._

  test("220-micro-batch RocksDB soak: dedup state plateaus at the " +
       "watermark horizon while total keys grow without bound") {
    withConf(RocksDb) {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[(Timestamp, String)]
      // 10-minute watermark; event time advances one minute per batch →
      // state should hold ~11 minutes of keys (horizon + in-flight batch),
      // NOT all 220 batches' worth
      val deduped = StreamOps.dedup(in.toDF().toDF("ts", "key"),
        "ts", "10 minutes", Seq("key"))
      val q = deduped.writeStream.format("noop")
        .outputMode("append").start()
      val nBatches = 220
      val perBatch = 5
      val stateSizes = Array.ofDim[Long](nBatches)
      try {
        for (b <- 0 until nBatches) {
          // every key globally unique → nothing dedups; state grows iff
          // eviction fails
          val t = new Timestamp(1704100000000L + b * 60000L)
          in.addData((0 until perBatch).map(i => (t, s"k$b-$i")): _*)
          q.processAllAvailable()
          val p = q.lastProgress
          stateSizes(b) =
            if (p != null && p.stateOperators.nonEmpty)
              p.stateOperators(0).numRowsTotal
            else -1L
        }
      } finally q.stop()
      val measured = stateSizes.filter(_ >= 0)
      assert(measured.length > 200, s"only ${measured.length} progress samples")
      // warm region: after the watermark first sweeps (batch ≥ 30) the
      // plateau is established; soak region: the last 100 batches
      val plateau = measured.slice(30, 60).max
      val soakMax = measured.takeRight(100).max
      val totalKeys = nBatches.toLong * perBatch
      // 1) state never tracks total input (the unbounded-state failure)
      assert(soakMax < totalKeys / 4,
        s"state $soakMax vs $totalKeys keys seen — state is NOT bounded")
      // 2) no drift: late-soak state stays within the established plateau
      //    (+1 batch of slack for watermark-commit timing)
      assert(soakMax <= plateau + perBatch,
        s"state drifted: plateau $plateau, late-soak max $soakMax")
      // 3) sanity: the plateau actually holds a watermark's worth of keys
      //    (10-min horizon ≈ 10–12 batches × 5 keys)
      assert(plateau >= 10 * perBatch,
        s"plateau $plateau suspiciously small — watermark semantics changed?")
    }
  }
}
