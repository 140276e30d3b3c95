package graft.state

import graft.SparkSpec
import graft.state.Materialize.Policy
import org.apache.spark.sql.functions._

/** The debris sweep (`Materialize.sweepDebris`) vs session-lived cache
  * pins: the sweep unpersists every persistent RDD between queries, and a
  * lineage-truncated (localCheckpoint) frame whose blocks are dropped is
  * NOT recomputable — the exact failure mode that broke the second
  * suffix gate when the memoized SuffixIndex landed (round 9). This
  * pins the contract: `Policy.Retained` pin ids survive the sweep's
  * filter, `Policy.Always` pin ids do not.
  */
class RetainedPinSpec extends SparkSpec {

  import spark.implicits._

  test("the sweep filter spares Retained pin ids and sweeps plain pins; " +
       "a retained frame stays fully usable afterwards") {
    val sc = spark.sparkContext
    val retained = Materialize.pin(
      spark.range(100).select($"id", ($"id" * 2).as("x")), Policy.Retained)
    val plain = Materialize.pin(
      spark.range(50).select($"id", ($"id" + 1).as("y")), Policy.Always)
    plain.count() // materialized
    val persisted = sc.getPersistentRDDs
    val retainedIds = persisted.keys.filter(Materialize.isRetained).toSet
    val sweepable = persisted.keys.filterNot(Materialize.isRetained).toSet
    assert(retainedIds.nonEmpty, "a Retained pin must register its RDD ids")
    assert(sweepable.nonEmpty, "plain pin must remain sweepable")
    // the sweep Bench, Verify and the scale probes run between queries
    Materialize.sweepDebris(spark)
    val after = sc.getPersistentRDDs.keySet
    assert(retainedIds.subsetOf(after),
      "sweep must not unpersist retained cache pins")
    assert(sweepable.forall(!after.contains(_)),
      "sweep must still unpersist ordinary pins")
    // and the retained frame is still fully consumable post-sweep
    assert(retained.agg(sum($"x")).head().getLong(0) === 9900L)
  }

  test("concurrent Retained pins each register their own ids " +
       "(the diff window is lock-confined, ADVICE r9) and all survive " +
       "the sweep") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val frames = Await.result(Future.sequence((1 to 4).map { k =>
      Future(Materialize.pin(
        spark.range(100L * k).select($"id", ($"id" + k).as("x")),
        Policy.Retained))
    }), 2.minutes)
    Materialize.sweepDebris(spark)
    frames.zipWithIndex.foreach { case (df, i) =>
      assert(df.count() === 100L * (i + 1),
        "every concurrently-retained frame must stay usable post-sweep")
    }
  }

  test("purgeStopped keeps entries whose session is alive") {
    val cache = new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), Int]()
    cache.put((spark, "a"), 1)
    cache.put((spark, "b"), 2)
    Materialize.purgeStopped(cache)(_._1)
    assert(cache.size() === 2, "live-session entries must survive a purge")
  }
}
