package graft.ops

import org.apache.spark.sql.functions._

/** Measured-scale probe for the round-4 relational/text additions —
  * the complement of [[graft.ops.llm.ScaleProbe]] for the TPC-H wave.
  *
  * Multiplies the sf0.1 fact tables N× with shifted order keys (order
  * structure preserved: every multiplied order keeps its full lineitem
  * group, so the q21 semi/anti self-probe sees N× the probe rows AND N×
  * the build rows — the worst case for a fact-to-fact exists) and the
  * documents corpus N× verbatim (every gram's occurrence list grows N× —
  * the hot-gram worst case for the novelty join). The quantity of
  * interest is the growth SHAPE: both queries are keyed-shuffle
  * pipelines whose per-key state is bounded, so time should grow
  * ~linearly in input bytes, not quadratically. Numbers land in
  * COVERAGE.md §"Scale evidence".
  *
  *   sbt "runMain graft.ops.ScaleProbeRel [mult] [sfDir]"
  */
object ScaleProbeRel {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val li0 = graft.Tables.lineitem(spark, sfDir)
    val ord0 = graft.Tables.orders(spark, sfDir)
    val asiaSup = graft.Tables.supplier(spark, sfDir)
      .join(broadcast(graft.Tables.nation(spark, sfDir)
              .join(graft.Tables.region(spark, sfDir)
                      .where($"r_name" === "ASIA"),
                    $"n_regionkey" === $"r_regionkey")
              .select($"n_nationkey")),
            $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")

    def timedQ21(m: Int, form: (org.apache.spark.sql.DataFrame,
                                org.apache.spark.sql.DataFrame,
                                org.apache.spark.sql.DataFrame)
                              => org.apache.spark.sql.DataFrame)
        : (Long, Double) = {
      val li = (0 until m)
        .map(i => li0.withColumn("l_orderkey", $"l_orderkey" + lit(i * 100000000L)))
        .reduce(_ union _)
      val ord = (0 until m)
        .map(i => ord0.withColumn("o_orderkey", $"o_orderkey" + lit(i * 100000000L)))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val n = form(li, ord, asiaSup)
        .agg(sum($"numwait")).as[Long].collect().head
      (n, (System.nanoTime() - t0) / 1e9)
    }

    val docs0 = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
    def timedNovelty(m: Int): (Long, Double) = {
      val docs = (0 until m)
        .map(i => docs0.withColumn("doc_id", $"doc_id" + lit(i * 1000000L)))
        .reduce(_ union _)
      val t0 = System.nanoTime()
      val n = graft.ops.llm.TextStats.ngramNoveltyFrom(docs)
        .agg(sum($"n_novel")).as[Long].collect().head
      (n, (System.nanoTime() - t0) / 1e9)
    }

    timedQ21(1, Tpch.waitingOrdersFrom); timedNovelty(1) // warmup
    Seq(1, mult).distinct.foreach { m =>
      val (nwA, sA) = timedQ21(m, Tpch.waitingOrdersFrom)
      val (nwS, sS) = timedQ21(m, Tpch.waitingOrdersSemiAntiFrom)
      val (nv, s2) = timedNovelty(m)
      require(nwA == nwS, s"q21 forms disagree: agg=$nwA semi/anti=$nwS")
      println(f"[scale-probe-rel] mult=$m%-3d q21_numwait_sum=$nwA%-8d " +
        f"q21_agg_time=$sA%.2fs q21_semianti_time=$sS%.2fs " +
        f"novelty_novel_sum=$nv%-8d novelty_time=$s2%.2fs")
    }
    spark.stop()
  }
}
