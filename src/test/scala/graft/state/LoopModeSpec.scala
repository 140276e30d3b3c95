package graft.state

import graft.SparkSpec
import graft.state.Materialize.Policy

/** The r16 pin-mode autopilot (VERDICT r15 #3): iterative loops measure
  * their first pin's ACTUAL resident block bytes and upgrade the loop's
  * remaining pins to reliable checkpoint files past a documented
  * threshold — the r15-measured single-JVM GC cliff where checkpoint
  * FILES beat resident blocks (undirected PageRank at 64 replicas:
  * 153–680 s local vs 95–97 s reliable). These are the chooser's unit
  * laws; the bit-identity of results across modes is GraphSpec's law.
  */
class LoopModeSpec extends SparkSpec {

  import spark.implicits._

  private def findCkpt(r: org.apache.spark.rdd.RDD[_]): Option[String] =
    r.getCheckpointFile.orElse(
      r.dependencies.view.flatMap(d => findCkpt(d.rdd)).headOption)

  test("pinnedBytes measures a local pin's resident blocks (> 0) and " +
       "reports 0 for a reliable pin (its data lives in files, not " +
       "block storage — which is the point)") {
    val local = Materialize.pin(
      spark.range(100000L).select($"id", ($"id" * 3).as("x")), Policy.Always)
    assert(Materialize.pinnedBytes(local) > 0L,
      "a localCheckpoint pin must report its resident block bytes")
    spark.conf.set(Materialize.ModeKey, "reliable")
    try {
      val reliable = Materialize.pin(spark.range(1000L).toDF("id"), Policy.Always)
      assert(Materialize.pinnedBytes(reliable) === 0L,
        "a checkpoint-file pin has no resident blocks to report")
      Materialize.releasePinned(reliable)
    } finally spark.conf.unset(Materialize.ModeKey)
    Materialize.releasePinned(local)
  }

  test("Policy.loop: an explicit session mode always wins; under the " +
       "local default the measured first-pin bytes decide against the " +
       "threshold (conf, else 256 MiB; <= 0 disables)") {
    val pinned = Materialize.pin(spark.range(50000L).toDF("id"), Policy.Always)
    def mode = Policy.loop(pinned).mode
    try {
      // tiny frame, default 256 MiB threshold: stays local
      assert(mode === "local")
      // threshold 1 byte: any materialized pin upgrades
      spark.conf.set(Materialize.AutoReliableBytesKey, "1")
      assert(mode === "reliable")
      // <= 0 disables the auto choice entirely
      spark.conf.set(Materialize.AutoReliableBytesKey, "0")
      assert(mode === "local")
      // explicit session mode wins regardless of the threshold — for
      // BOTH spellings: an EXPLICIT local vetoes the autopilot (VERDICT
      // r16 #2 — set is distinguished from unset via getOption; an
      // operator avoiding object-store checkpoint writes must get local)
      spark.conf.set(Materialize.AutoReliableBytesKey, "1")
      spark.conf.set(Materialize.ModeKey, "local")
      assert(mode === "local",
        "an EXPLICIT local must veto the auto-upgrade even past the " +
        "threshold")
      spark.conf.set(Materialize.ModeKey, "reliable")
      spark.conf.set(Materialize.AutoReliableBytesKey, "0")
      assert(mode === "reliable",
        "configured reliable wins even with auto disabled")
    } finally {
      spark.conf.unset(Materialize.AutoReliableBytesKey)
      spark.conf.unset(Materialize.ModeKey)
      Materialize.releasePinned(pinned)
    }
  }

  test("Policy.loop fails LOUDLY on a malformed threshold, naming the " +
       "conf key and the expected format (VERDICT r16 #3)") {
    val pinned = Materialize.pin(spark.range(10L).toDF("id"), Policy.Always)
    try {
      spark.conf.set(Materialize.AutoReliableBytesKey, "256MiB")
      val e = intercept[IllegalArgumentException] {
        Policy.loop(pinned)
      }
      assert(e.getMessage.contains(Materialize.AutoReliableBytesKey),
        s"the error must name the offending key: ${e.getMessage}")
      assert(e.getMessage.contains("256MiB"),
        s"the error must echo the offending value: ${e.getMessage}")
      assert(e.getMessage.contains("byte count"),
        s"the error must state the expected format: ${e.getMessage}")
    } finally {
      spark.conf.unset(Materialize.AutoReliableBytesKey)
      Materialize.releasePinned(pinned)
    }
  }

  test("a loop policy built under threshold 1 overrides the session " +
       "mode: its pin on a local-mode session writes checkpoint files, " +
       "and releasePinned deletes them") {
    val sc = spark.sparkContext
    val first = Materialize.pin(spark.range(100L).toDF("id"), Policy.Always)
    spark.conf.set(Materialize.AutoReliableBytesKey, "1")
    val loop = try Policy.loop(first)
      finally spark.conf.unset(Materialize.AutoReliableBytesKey)
    Materialize.releasePinned(first)
    val pinned = Materialize.pin(
      spark.range(2000L).select($"id", ($"id" + 7).as("y")), loop)
    val ckpt = findCkpt(pinned.rdd)
    assert(ckpt.isDefined, "a reliable pin must have a checkpoint file")
    assert(pinned.agg(org.apache.spark.sql.functions.sum($"y"))
      .head().getLong(0) === (0L until 2000L).map(_ + 7).sum)
    // the session conf stayed local: a plain pin is still a block pin
    val plain = Materialize.pin(spark.range(10L).toDF("id"), Policy.Always)
    assert(Materialize.pinnedBytes(plain) > 0L)
    Materialize.releasePinned(plain)
    // release deletes the checkpoint files
    val path = ckpt.map(p => new org.apache.hadoop.fs.Path(p))
    Materialize.releasePinned(pinned)
    path.foreach { p =>
      assert(!p.getFileSystem(sc.hadoopConfiguration).exists(p),
        s"releasePinned must delete reliable checkpoint files at $p")
    }
  }

  test("a loop policy keeps the mode it resolved when built: after " +
       "releasePinned(firstPin) it still pins reliable (a per-pin " +
       "re-measure would read 0 bytes and silently drop to local — " +
       "starComponents releases its first edge pin inside the loop)") {
    val first = Materialize.pin(
      spark.range(5000L).select($"id", ($"id" * 3).as("x")), Policy.Always)
    spark.conf.set(Materialize.AutoReliableBytesKey, "1")
    try {
      val loop = Policy.loop(first)
      Materialize.releasePinned(first)
      assert(Materialize.pinnedBytes(first) === 0L,
        "the released first pin must measure 0 bytes")
      val next = Materialize.pin(spark.range(300L).toDF("id"), loop)
      assert(findCkpt(next.rdd).isDefined,
        "the loop policy must still pin reliable after its first pin " +
        "is released")
      assert(next.count() === 300L)
      Materialize.releasePinned(next)
    } finally spark.conf.unset(Materialize.AutoReliableBytesKey)
  }
}
