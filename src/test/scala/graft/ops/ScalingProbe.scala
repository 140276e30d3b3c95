package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Bounded diagnosis of the r17 32-core > 8-core inversion (VERDICT r17
  * #7): at sf0.1 the 8-core official bench ran FASTER than the 32-core
  * one (133.6 vs 165.1 s, per-query median ratio ≈ 0.8). This probe
  * separates the two candidate mechanisms — shuffle-partition count
  * (spark.sql.shuffle.partitions = $CPUS in the harness) vs core count
  * itself (task-launch / GC overhead) — by timing representative
  * sub-second queries on a fresh JVM per (cores, partitions) cell and
  * recording task counts and cumulative task metrics per cell.
  *
  *   sbt "runMain graft.ops.ScalingProbe <cores> <partitions> [sfDir]"
  *
  * One cell per invocation (a fresh JVM per cell keeps GC/codegen state
  * comparable). Prints one line per query: median wall seconds over 5
  * reps, tasks launched, cumulative executor run/GC/deserialize time.
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScalingProbe <cores> <partitions> [sfDir]")
    val (cores, parts) = (args(0).toInt, args(1).toInt)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.Session.local(cores, parts)
    spark.sparkContext.setLogLevel("ERROR")
    val tasks = new AtomicLong
    val runMs, gcMs, deserMs, schedMs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          runMs.add(m.executorRunTime)
          gcMs.add(m.jvmGCTime)
          deserMs.add(m.executorDeserializeTime)
          schedMs.add(math.max(0L,
            t.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime))
        }
      }
    })
    val qs = Seq("scan_json", "agg_min_max", "win_lag_lead",
                 "join_left_semi", "q6_forecast_revenue")
    // warmup
    graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir).collect()
    qs.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def reset(): Unit = { tasks.set(0); runMs.reset(); gcMs.reset()
        deserMs.reset(); schedMs.reset() }
      val times = (1 to 5).map { _ =>
        System.gc(); Thread.sleep(50)
        val t0 = System.nanoTime()
        fn(spark, sfDir).collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = times(times.size / 2)
      reset()
      fn(spark, sfDir).collect()
      Thread.sleep(300) // let the async listener bus drain
      println(f"[scaling-probe] cores=$cores parts=$parts $name%-22s " +
        f"med=${med}%.3fs tasks=${tasks.get()}%-5d run=${runMs.sum()}%-6d " +
        f"gc=${gcMs.sum()}%-5d deser=${deserMs.sum()}%-5d sched=${schedMs.sum()}%-5d (ms)")
    }
    spark.stop()
  }
}
