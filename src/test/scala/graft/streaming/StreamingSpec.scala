package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.streaming.StreamOps.Keyed
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental-execution tests for C25–C32 on MemoryStream / file-stream
  * sources with memory/file sinks — real micro-batches, manually advanced
  * event time (SURVEY.md §5 item 4). No DuckDB oracle exists for
  * streaming (it cannot run incremental queries); correctness here is
  * asserted against hand-computed expected windows/states, which is the
  * gate SURVEY §5/M4 specifies for this tier.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $s")

  private def withQuery[T](q: StreamingQuery)(body: => T): T =
    try body finally q.stop()

  test("C25/C26 tumbling window with watermark drops late data") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = StreamOps.tumbling(in.toDF().toDF("ts", "k"),
      "ts", "2 minutes", "5 minutes", Seq($"k"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("tumbling_sink")
      .outputMode("append").start()
    withQuery(q) {
      in.addData((ts("10:00:00"), "a"), (ts("10:01:00"), "a"), (ts("10:04:00"), "b"))
      q.processAllAvailable()
      // watermark still at 10:02 → nothing finalized yet (append mode)
      assert(spark.table("tumbling_sink").count() === 0)
      // advance event time: watermark → 10:08, [10:00,10:05) finalizes
      in.addData((ts("10:10:00"), "a"))
      q.processAllAvailable()
      in.addData((ts("10:12:00"), "c")) // extra batch flushes finalized windows
      q.processAllAvailable()
      val rows = spark.table("tumbling_sink")
        .select($"window.start".cast("string"), $"k", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(rows === Set(("2024-01-01 10:00:00", "a", 2L),
                          ("2024-01-01 10:00:00", "b", 1L)))
      // a late event behind the watermark is DROPPED, not re-aggregated
      in.addData((ts("10:00:30"), "a"))
      q.processAllAvailable()
      in.addData((ts("10:20:00"), "z"))
      q.processAllAvailable()
      val afterLate = spark.table("tumbling_sink")
        .filter($"k" === "a" && $"window.start".cast("string") === "2024-01-01 10:00:00")
        .select($"n").as[Long].collect().toSeq
      assert(afterLate === Seq(2L)) // unchanged — late row never lands
    }
  }

  test("C25 chained stateful operators: window-over-window aggregation in " +
       "ONE streaming query (5-min counts rolled into 10-min maxima)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val fine = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "5 minutes"))
      .agg(count(lit(1)).as("n"))
    // second stateful operator chained on the first's event-time column
    val coarse = fine
      .groupBy(window(window_time($"window"), "10 minutes").as("w10"))
      .agg(max($"n").as("peak_5min"), sum($"n").as("total"))
    val q = coarse.writeStream.format("memory").queryName("chain_sink")
      .outputMode("append").start()
    withQuery(q) {
      in.addData((ts("10:00:00"), "a"), (ts("10:01:00"), "b"),
                 (ts("10:06:00"), "c"))
      q.processAllAvailable()
      // push the watermark far enough to finalize BOTH stateful layers
      in.addData((ts("10:30:00"), "z"))
      q.processAllAvailable()
      in.addData((ts("10:40:00"), "z2"))
      q.processAllAvailable()
      val rows = spark.table("chain_sink")
        .select($"w10.start".cast("string"), $"peak_5min", $"total")
        .as[(String, Long, Long)].collect().toSet
      // [10:00,10:05) held 2 events, [10:05,10:10) held 1 → one 10-min
      // row with peak 2, total 3
      assert(rows === Set(("2024-01-01 10:00:00", 2L, 3L)))
    }
  }

  test("C27 sliding windows assign rows to overlapping windows") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = StreamOps.sliding(in.toDF().toDF("ts", "k"),
      "ts", "1 minute", "10 minutes", "5 minutes", Seq.empty, Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("sliding_sink")
      .outputMode("append").start()
    withQuery(q) {
      in.addData((ts("10:07:00"), "a"))
      q.processAllAvailable()
      in.addData((ts("10:30:00"), "z")) // advance watermark far past both windows
      q.processAllAvailable()
      in.addData((ts("10:31:00"), "z"))
      q.processAllAvailable()
      val starts = spark.table("sliding_sink")
        .filter($"n" === 1).select($"window.start".cast("string"))
        .as[String].collect().toSet
      // a 10:07 event belongs to [10:00,10:10) and [10:05,10:15)
      assert(starts.contains("2024-01-01 10:00:00"))
      assert(starts.contains("2024-01-01 10:05:00"))
    }
  }

  test("C28 session windows split on the gap") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = StreamOps.session(in.toDF().toDF("ts", "k"),
      "ts", "1 minute", "5 minutes", Seq($"k"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("session_sink")
      .outputMode("append").start()
    withQuery(q) {
      // two bursts for key a separated by > 5 min gap
      in.addData((ts("10:00:00"), "a"), (ts("10:02:00"), "a"), (ts("10:10:00"), "a"))
      q.processAllAvailable()
      in.addData((ts("10:40:00"), "z")) // close both sessions
      q.processAllAvailable()
      in.addData((ts("10:41:00"), "z"))
      q.processAllAvailable()
      val sessions = spark.table("session_sink").filter($"k" === "a")
        .select($"session_window.start".cast("string"), $"n")
        .as[(String, Long)].collect().toSet
      assert(sessions === Set(("2024-01-01 10:00:00", 2L),
                              ("2024-01-01 10:10:00", 1L)))
    }
  }

  test("C29 streaming dedup keeps first occurrence within the watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val deduped = StreamOps.dedup(in.toDF().toDF("ts", "key", "v"),
      "ts", "10 minutes", Seq("key"))
    val q = deduped.writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    withQuery(q) {
      in.addData((ts("10:00:00"), "k1", "first"), (ts("10:00:10"), "k1", "dup"),
                 (ts("10:00:20"), "k2", "first"))
      q.processAllAvailable()
      in.addData((ts("10:01:00"), "k1", "dup-later-batch"))
      q.processAllAvailable()
      val rows = spark.table("dedup_sink").select($"key", $"v")
        .as[(String, String)].collect().toSet
      assert(rows === Set(("k1", "first"), ("k2", "first")))
    }
  }

  test("C30 flatMapGroupsWithState maintains latest-per-key changelog") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Keyed]
    val q = StreamOps.latestPerKeyStateful(in.toDS())
      .writeStream.format("memory").queryName("state_sink")
      .outputMode("update").start()
    withQuery(q) {
      in.addData(Keyed("a", 1, "x"), Keyed("a", 2, "y"), Keyed("b", 1, "z"))
      q.processAllAvailable()
      in.addData(Keyed("a", 1, "stale")) // older offset: state must NOT emit
      q.processAllAvailable()
      in.addData(Keyed("b", 5, "z2"))
      q.processAllAvailable()
      val emissions = spark.table("state_sink").as[Keyed].collect().toSeq
      // per-batch emissions: (a,2,y),(b,1,z) then nothing, then (b,5,z2)
      assert(emissions.toSet === Set(Keyed("a", 2, "y"), Keyed("b", 1, "z"),
                                     Keyed("b", 5, "z2")))
    }
  }

  test("C30 transformWithState (Spark 4 arbitrary-state API) maintains the " +
       "same latest-per-key changelog on RocksDB") {
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[Keyed]
      val q = StreamOps.latestPerKeyTws(in.toDS())
        .writeStream.format("memory").queryName("tws_sink")
        .outputMode("update").start()
      withQuery(q) {
        in.addData(Keyed("a", 1, "x"), Keyed("a", 2, "y"), Keyed("b", 1, "z"))
        q.processAllAvailable()
        in.addData(Keyed("a", 1, "stale")) // older offset: state must NOT emit
        q.processAllAvailable()
        in.addData(Keyed("b", 5, "z2"))
        q.processAllAvailable()
        val emissions = spark.table("tws_sink").as[Keyed].collect().toSeq
        assert(emissions.toSet === Set(Keyed("a", 2, "y"), Keyed("b", 1, "z"),
                                       Keyed("b", 5, "z2")))
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("C30 initial-state bootstrap: a batch snapshot seeds " +
       "transformWithState state before the first micro-batch") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val ctx = spark.sqlContext
      // warehouse truth: key a already saw offset 5
      val snapshot = Seq(Keyed("a", 5, "warehouse")).toDS()
      val in = MemoryStream[Keyed]
      val q = StreamOps.latestPerKeyTwsBootstrapped(in.toDS(), snapshot)
        .writeStream.format("memory").queryName("tws_boot_sink")
        .outputMode("update").start()
      withQuery(q) {
        // stale vs the BOOTSTRAPPED state → suppressed (without the
        // snapshot this would wrongly emit); newer → emits; unseeded
        // key → emits
        in.addData(Keyed("a", 3, "stale"), Keyed("b", 1, "fresh"))
        q.processAllAvailable()
        in.addData(Keyed("a", 9, "newer"))
        q.processAllAvailable()
        val emissions = spark.table("tws_boot_sink").as[Keyed].collect().toSeq
        assert(emissions.toSet === Set(Keyed("b", 1, "fresh"),
                                       Keyed("a", 9, "newer")))
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("C30 event-time timers close idle sessions via transformWithState " +
       "(watermark-driven, deterministic)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[StreamOps.Stamped]
      val q = StreamOps.sessionizeWithTimers(in.toDS(), "1 second", gapMs = 60000L)
        .writeStream.format("memory").queryName("timer_sink")
        .outputMode("append").start()
      withQuery(q) {
        in.addData(StreamOps.Stamped("a", ts("10:00:00")),
                   StreamOps.Stamped("a", ts("10:00:30")))
        q.processAllAvailable()
        // watermark still behind a's expiry (10:01:30): nothing emitted
        assert(spark.table("timer_sink").count() === 0)
        // advance the watermark well past the expiry, then run one more
        // batch so the fired timer's emission lands in the sink
        in.addData(StreamOps.Stamped("b", ts("10:10:00")))
        q.processAllAvailable()
        in.addData(StreamOps.Stamped("b", ts("10:20:00")))
        q.processAllAvailable()
        val rows = spark.table("timer_sink").as[StreamOps.SessionOut].collect()
        assert(rows.contains(StreamOps.SessionOut("a", 2L)),
          s"expected a's 2-event session closed by its timer, got ${rows.toSeq}")
        // a's state was CLEARED on close: no duplicate emission later
        in.addData(StreamOps.Stamped("c", ts("10:40:00")))
        q.processAllAvailable()
        assert(spark.table("timer_sink").as[StreamOps.SessionOut].collect()
          .count(_.key == "a") === 1)
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("C30 MapState keeps per-key sub-keyed counters (one map per user, " +
       "one counter per event kind)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[StreamOps.TypedEvent]
      val q = StreamOps.kindCounts(in.toDS())
        .writeStream.format("memory").queryName("mapstate_sink")
        .outputMode("update").start()
      withQuery(q) {
        in.addData(StreamOps.TypedEvent("u1", "view"),
                   StreamOps.TypedEvent("u1", "view"),
                   StreamOps.TypedEvent("u1", "click"),
                   StreamOps.TypedEvent("u2", "view"))
        q.processAllAvailable()
        in.addData(StreamOps.TypedEvent("u1", "view")) // accumulates to 3
        q.processAllAvailable()
        val last = spark.table("mapstate_sink").as[StreamOps.KindCount]
          .collect().groupBy(k => (k.user, k.kind))
          .view.mapValues(_.map(_.n).max).toMap
        assert(last === Map(
          ("u1", "view") -> 3L, ("u1", "click") -> 1L, ("u2", "view") -> 1L))
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("C30 ListState keeps a bounded last-N window per key across batches") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[StreamOps.TypedEvent]
      val q = StreamOps.recentEvents(in.toDS(), maxN = 3)
        .writeStream.format("memory").queryName("liststate_sink")
        .outputMode("update").start()
      withQuery(q) {
        in.addData(StreamOps.TypedEvent("u1", "a"), StreamOps.TypedEvent("u1", "b"))
        q.processAllAvailable()
        in.addData(StreamOps.TypedEvent("u1", "c"), StreamOps.TypedEvent("u1", "d"))
        q.processAllAvailable()
        val emissions = spark.table("liststate_sink").as[StreamOps.RecentOut]
          .collect().map(_.recent).toSeq
        assert(emissions.contains("a,b"))   // first batch: under the cap
        assert(emissions.contains("b,c,d"), // second: trimmed to last 3
          s"expected the trimmed last-3 window, got $emissions")
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("C13 stream-stream LEFT OUTER join emits the unmatched left row " +
       "with nulls once the watermark closes its window") {
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    val joined = StreamOps.streamStreamJoin(
      imps.toDF().toDF("imp_ts", "imp_ad"), "imp_ts", "1 minute",
      clicks.toDF().toDF("click_ts", "click_ad"), "click_ts", "1 minute",
      expr("""imp_ad = click_ad AND
              click_ts BETWEEN imp_ts AND imp_ts + INTERVAL 10 MINUTES"""),
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_outer_sink")
      .outputMode("append").start()
    withQuery(q) {
      imps.addData((ts("10:00:00"), "ad1"), (ts("10:00:00"), "ad_orphan"))
      clicks.addData((ts("10:05:00"), "ad1"))
      q.processAllAvailable()
      // push BOTH watermarks far past ad_orphan's join window, then run
      // follow-up batches so the null-padded row is finalized and emitted
      imps.addData((ts("11:00:00"), "adv_late"))
      clicks.addData((ts("11:00:00"), "click_late"))
      q.processAllAvailable()
      imps.addData((ts("11:30:00"), "adv_late2"))
      clicks.addData((ts("11:30:00"), "click_late2"))
      q.processAllAvailable()
      val rows = spark.table("ssj_outer_sink")
        .select($"imp_ad", $"click_ad").as[(String, String)].collect().toSet
      assert(rows.contains(("ad1", "ad1")))             // matched pair
      assert(rows.contains(("ad_orphan", null)),        // outer null row
        s"expected the orphan impression with null click, got $rows")
    }
  }

  test("C13 stream-stream FULL OUTER join emits null-padded rows from " +
       "BOTH sides once watermarks close their windows") {
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    val joined = StreamOps.streamStreamJoin(
      imps.toDF().toDF("imp_ts", "imp_ad"), "imp_ts", "1 minute",
      clicks.toDF().toDF("click_ts", "click_ad"), "click_ts", "1 minute",
      expr("""imp_ad = click_ad AND
              click_ts BETWEEN imp_ts AND imp_ts + INTERVAL 10 MINUTES"""),
      joinType = "full_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_full_sink")
      .outputMode("append").start()
    withQuery(q) {
      imps.addData((ts("10:00:00"), "ad1"), (ts("10:00:00"), "imp_only"))
      clicks.addData((ts("10:05:00"), "ad1"), (ts("10:05:00"), "click_only"))
      q.processAllAvailable()
      // advance both watermarks past every open window, twice, so both
      // orphan rows finalize
      for (h <- Seq("11:00:00", "11:30:00")) {
        imps.addData((ts(h), "wm_imp"))
        clicks.addData((ts(h), "wm_click"))
        q.processAllAvailable()
      }
      val rows = spark.table("ssj_full_sink")
        .select($"imp_ad", $"click_ad").as[(String, String)].collect().toSet
      assert(rows.contains(("ad1", "ad1")))
      assert(rows.contains(("imp_only", null)),
        s"left orphan missing from $rows")
      assert(rows.contains((null, "click_only")),
        s"right orphan missing from $rows")
    }
  }

  test("C13 stream-stream join matches within the event-time bound") {
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, String)]
    val clicks = MemoryStream[(Timestamp, String)]
    val joined = StreamOps.streamStreamJoin(
      imps.toDF().toDF("imp_ts", "imp_ad"), "imp_ts", "1 minute",
      clicks.toDF().toDF("click_ts", "click_ad"), "click_ts", "1 minute",
      expr("""imp_ad = click_ad AND
              click_ts BETWEEN imp_ts AND imp_ts + INTERVAL 10 MINUTES"""))
    val q = joined.writeStream.format("memory").queryName("ssj_sink")
      .outputMode("append").start()
    withQuery(q) {
      imps.addData((ts("10:00:00"), "ad1"), (ts("10:00:00"), "ad2"))
      clicks.addData((ts("10:05:00"), "ad1"), // inside bound → match
                     (ts("10:20:00"), "ad2")) // outside 10-min bound → no match
      q.processAllAvailable()
      val rows = spark.table("ssj_sink")
        .select($"imp_ad", $"click_ts".cast("string"))
        .as[(String, String)].collect().toSet
      assert(rows === Set(("ad1", "2024-01-01 10:05:00")))
    }
  }

  test("C13 stream-static join enriches each micro-batch from a batch dim " +
       "(broadcast — the stream side never shuffles)") {
    implicit val ctx = spark.sqlContext
    val events = MemoryStream[(String, Long)]
    val sdf = events.toDF().toDF("code", "amount")
    val dim = Seq(("us", "United States"), ("de", "Germany"))
      .toDF("dim_code", "country")
    val enriched = StreamOps.streamStaticJoin(
        sdf, dim, col("code") === col("dim_code"), "left")
      .select($"code", $"country", $"amount")
    val q = enriched.writeStream.format("memory").queryName("ssj_static")
      .outputMode("append").start()
    withQuery(q) {
      events.addData(("us", 10L), ("de", 20L), ("fr", 30L))
      q.processAllAvailable()
      val rows = spark.table("ssj_static")
        .as[(String, String, Long)].collect().toSet
      assert(rows === Set(("us", "United States", 10L),
                          ("de", "Germany", 20L),
                          ("fr", null, 30L)))
    }
  }

  test("C31 complete output mode re-emits full aggregation state") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val q = in.toDF().toDF("k").groupBy($"k").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("complete_sink")
      .outputMode("complete").start()
    withQuery(q) {
      in.addData("a", "a", "b")
      q.processAllAvailable()
      in.addData("a")
      q.processAllAvailable()
      val rows = spark.table("complete_sink").as[(String, Long)].collect().toMap
      assert(rows === Map("a" -> 3L, "b" -> 1L)) // full recount, not a delta
    }
  }

  test("C32 foreachBatch sees each micro-batch with its id") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Int]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = in.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.synchronized { seen += ((id, df.count())) }; ()
      }.start()
    withQuery(q) {
      in.addData(1, 2, 3)
      q.processAllAvailable()
      in.addData(4)
      q.processAllAvailable()
      val byId = seen.synchronized(seen.toList).toMap
      assert(byId(0L) === 3L && byId(1L) === 1L)
    }
  }

  test("foreach_batch product sink: parquet upsert keyed by batch id, " +
       "replayed ids overwrite instead of duplicating") {
    import graft.config.{ComponentConfig, Conf}
    implicit val ctx = spark.sqlContext
    val outDir = tmpDir("fb_out")
    val comp = ComponentConfig("foreach_batch", Conf(Map(
      "path" -> outDir, "checkpoint_location" -> tmpDir("fb_ck1"))))
    val in = MemoryStream[Int]
    val q = graft.connect.Sinks.startStream(in.toDF(), comp)
    withQuery(q) {
      in.addData(1, 2, 3)
      q.processAllAvailable()
      in.addData(4)
      q.processAllAvailable()
    }
    val batches = new java.io.File(outDir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(batches.toSeq === Seq("batch_id=0", "batch_id=1"))
    assert(spark.read.parquet(s"$outDir/batch_id=0").count() === 3)
    assert(spark.read.parquet(s"$outDir/batch_id=1").count() === 1)
    // replay: a fresh checkpoint restarts batch ids at 0 — the sink must
    // OVERWRITE batch_id=0 (idempotent upsert), never append to it
    val comp2 = ComponentConfig("foreach_batch", Conf(Map(
      "path" -> outDir, "checkpoint_location" -> tmpDir("fb_ck2"))))
    val in2 = MemoryStream[Int]
    val q2 = graft.connect.Sinks.startStream(in2.toDF(), comp2)
    withQuery(q2) {
      in2.addData(7, 8)
      q2.processAllAvailable()
    }
    assert(spark.read.parquet(s"$outDir/batch_id=0")
      .as[Int].collect().sorted.toSeq === Seq(7, 8))
  }

  test("Metrics collector observes per-batch progress (rows, duration) " +
       "without instrumenting the query") {
    implicit val ctx = spark.sqlContext
    val collector = graft.streaming.Metrics.attach(spark)
    try {
      val in = MemoryStream[Int]
      val q = in.toDF().writeStream.format("memory")
        .queryName("metrics_sink").outputMode("append").start()
      withQuery(q) {
        in.addData(1, 2, 3)
        q.processAllAvailable()
        in.addData(4, 5)
        q.processAllAvailable()
      }
      // listener events are async; wait for delivery
      var tries = 0
      while (collector.snapshot.count(_.queryName == "metrics_sink") < 2 &&
             tries < 50) { Thread.sleep(100); tries += 1 }
      val mine = collector.snapshot.filter(_.queryName == "metrics_sink")
      assert(mine.map(_.numInputRows).sum === 5L, mine.toString)
      assert(mine.forall(_.durationMs >= 0L))
    } finally spark.streams.removeListener(collector.listener)
  }

  test("Metrics collector records the duration breakdown and state-store " +
       "commit time and memory, bounded by the trigger, and retains the newest") {
    implicit val ctx = spark.sqlContext
    val all = graft.streaming.Metrics.attach(spark)
    val newest = new graft.streaming.Metrics.Collector(2)
    spark.streams.addListener(newest.listener)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toLong
    try {
      val in = MemoryStream[String]
      val q = in.toDF().dropDuplicates("value").writeStream.format("memory")
        .queryName("metrics_breakdown").outputMode("append")
        .option("checkpointLocation", tmpDir("metrics_ckpt")).start()
      withQuery(q) {
        for (batch <- Seq(Seq("a", "b", "a"), Seq("b", "c"), Seq("d"))) {
          in.addData(batch: _*)
          q.processAllAvailable()
        }
      }
      var tries = 0
      def mine = all.snapshot.filter(p => p.queryName == "metrics_breakdown" && p.numInputRows > 0)
      // the listener bus hands each event to `all` before `newest`
      def settled = mine.size >= 3 && newest.snapshot.lastOption == all.snapshot.lastOption
      while (!settled && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(mine.map(_.batchId) === Seq(0L, 1L, 2L), mine.toString)
      assert(mine.map(_.stateRows) === Seq(2L, 3L, 4L))
      for (p <- mine) {
        val phases = Seq(p.latestOffsetMs, p.getBatchMs, p.queryPlanningMs, p.walCommitMs,
          p.addBatchMs, p.commitOffsetsMs)
        assert(phases.forall(_ >= 0L), p.toString)
        assert(phases.sum <= p.durationMs, p.toString)
        // summed over the state partitions, which commit in parallel
        assert(p.stateCommitMs >= 0L && p.stateCommitMs <= p.durationMs * partitions, p.toString)
        assert(p.stateMemoryBytes > 0L && p.stateMemoryBytes < (64L << 20), p.toString)
      }
      // a stateful batch plans, writes ahead, runs the sink and commits
      assert(mine.forall(p => p.walCommitMs + p.addBatchMs + p.commitOffsetsMs > 0L), mine.toString)
      // the bounded collector holds exactly the last two events the full one saw
      assert(newest.snapshot === all.snapshot.takeRight(2))
    } finally {
      spark.streams.removeListener(all.listener)
      spark.streams.removeListener(newest.listener)
    }
  }

  test("B5 bounded drain: Trigger.AvailableNow reads everything then terminates") {
    val inDir = tmpDir("drain_in")
    Seq(("k1", "v1"), ("k2", "v2"), ("k3", "v3")).toDF("key", "value")
      .write.mode("append").parquet(inDir)
    val q = spark.readStream.schema("key STRING, value STRING").parquet(inDir)
      .writeStream.format("memory").queryName("drain_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) // AvailableNow self-terminates after draining
    assert(!q.isActive)
    assert(spark.table("drain_sink").count() === 3)
  }

  test("stateful aggregation state survives a restart (window counts accumulate across processes)") {
    val inDir = tmpDir("stateful_in")
    val outDir = tmpDir("stateful_out")
    val ckpt = tmpDir("stateful_ckpt")
    def startQuery(): StreamingQuery =
      StreamOps.tumbling(
        spark.readStream.schema("ts TIMESTAMP, k STRING").parquet(inDir),
        "ts", "1 minute", "5 minutes", Seq($"k"), Seq(count(lit(1)).as("n")))
        .select($"window.start".as("w_start"), $"k", $"n")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .start()

    // first process lifetime: 2 events into window [10:00,10:05), nothing final
    Seq((ts("10:00:00"), "a"), (ts("10:01:00"), "a")).toDF("ts", "k")
      .write.mode("append").parquet(inDir)
    locally { val q1 = startQuery(); withQuery(q1)(q1.processAllAvailable()) }

    // second lifetime: one more row in the SAME window (state must carry
    // the earlier count of 2), then advance the watermark to finalize
    Seq((ts("10:03:00"), "a")).toDF("ts", "k")
      .write.mode("append").parquet(inDir)
    locally { val q2 = startQuery(); withQuery(q2)(q2.processAllAvailable()) }
    Seq((ts("10:30:00"), "z")).toDF("ts", "k")
      .write.mode("append").parquet(inDir)
    locally {
      val q3 = startQuery()
      withQuery(q3) {
        q3.processAllAvailable()
        Seq((ts("10:40:00"), "z")).toDF("ts", "k")
          .write.mode("append").parquet(inDir)
        q3.processAllAvailable()
      }
    }

    val rows = spark.read.parquet(outDir)
      .select($"w_start".cast("string"), $"k", $"n")
      .as[(String, String, Long)].collect().toSet
    // 3 = 2 (first lifetime) + 1 (second lifetime): recovered state merged
    assert(rows.contains(("2024-01-01 10:00:00", "a", 3L)), rows.toString)
    // and exactly once — no duplicate emission of the window
    assert(spark.read.parquet(outDir)
      .filter($"k" === "a").count() === 1L)
  }

  test("RocksDB state store provider runs the same stateful plan (the 100TB state backend)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[(Timestamp, String)]
      val agg = StreamOps.tumbling(in.toDF().toDF("ts", "k"),
        "ts", "2 minutes", "5 minutes", Seq($"k"), Seq(count(lit(1)).as("n")))
      val q = agg.writeStream.format("memory").queryName("rocksdb_sink")
        .outputMode("append").start()
      withQuery(q) {
        in.addData((ts("10:00:00"), "a"), (ts("10:01:00"), "a"))
        q.processAllAvailable()
        in.addData((ts("10:10:00"), "z"))
        q.processAllAvailable()
        in.addData((ts("10:12:00"), "z"))
        q.processAllAvailable()
        val rows = spark.table("rocksdb_sink")
          .select($"k", $"n").as[(String, Long)].collect().toSet
        assert(rows.contains(("a", 2L)))
      }
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpoint restart resumes from committed offsets without reprocessing") {
    val inDir = tmpDir("ckpt_in")
    val outDir = tmpDir("ckpt_out")
    val ckpt = tmpDir("ckpt_state")
    def startQuery(): StreamingQuery =
      spark.readStream.schema("key STRING, value STRING").parquet(inDir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .start()

    Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
      .write.mode("append").parquet(inDir)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(outDir).count() === 2)

    // new data lands while the query is DOWN; restart picks up exactly it
    Seq(("k3", "v3")).toDF("key", "value").write.mode("append").parquet(inDir)
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(outDir).as[(String, String)].collect().toSeq
    assert(rows.length === 3) // no duplicates: offsets came from the checkpoint
    assert(rows.toSet === Set(("k1", "v1"), ("k2", "v2"), ("k3", "v3")))
  }
}
