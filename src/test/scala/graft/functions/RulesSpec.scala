package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The injected optimizer rule: exact distinct → HLL++ sketch under the
  * opt-in conf, untouched otherwise (and untouched for shapes the sketch
  * cannot express).
  */
class RulesSpec extends SparkSpec {

  import spark.implicits._

  private def optimized(df: org.apache.spark.sql.DataFrame): String = {
    ApproxDistinctRewrite.register(spark)
    df.queryExecution.optimizedPlan.toString
  }

  private def cd = spark.range(10000)
    .select(($"id" % 7).as("k"), ($"id" % 1000).as("v"))
    .groupBy($"k").agg(countDistinct($"v").as("nd"))

  test("conf off (default): count(distinct) stays exact") {
    val p = optimized(cd)
    assert(p.contains("count(distinct"), p)
    assert(!p.contains("approx_count_distinct"), p)
  }

  test("conf on: count(distinct) rewrites to approx_count_distinct and " +
       "the estimate lands within rsd of the exact answer") {
    withConf(ApproxDistinctRewrite.ConfKey -> "true") {
      val p = optimized(cd)
      assert(p.contains("approx_count_distinct"), p)
      assert(!p.contains("count(distinct"), p)
      val rows = cd.collect().map(r => r.getLong(1))
      // every group has ~1000 distinct values; 5% rsd → generous ±10% gate
      assert(rows.forall(n => n > 900 && n < 1100), rows.mkString(","))
    }
  }

  test("multi-column count(distinct a, b) is out of scope and unchanged") {
    withConf(ApproxDistinctRewrite.ConfKey -> "true") {
      val df = spark.range(100).select(($"id" % 5).as("a"), ($"id" % 7).as("b"))
        .agg(countDistinct($"a", $"b").as("nd"))
      val p = optimized(df)
      assert(!p.contains("approx_count_distinct"), p)
      assert(df.collect().head.getLong(0) === 35L)
    }
  }

  test("rsd conf tightens the sketch (0.01 → exact-ish on small groups)") {
    withConf(ApproxDistinctRewrite.ConfKey -> "true",
             ApproxDistinctRewrite.RsdKey -> "0.01") {
      val df = spark.range(1000).select(($"id" % 50).as("v"))
        .agg(countDistinct($"v").as("nd"))
      assert(optimized(df).contains("approx_count_distinct"))
      val n = df.collect().head.getLong(0)
      assert(n === 50L, s"got $n")
    }
  }

  // ---- RangeJoinBandRewrite ----

  /** Interval-containment join fixture: 2000 points × 300 intervals
    * (width ≤ 40), with NULL bounds and NULL points planted. Small
    * enough for the nested-loop ground truth, shaped enough (interval
    * spans band boundaries) to catch off-by-one banding.
    */
  private def points = spark.range(2000)
    .select($"id".as("pid"),
      when($"id" % 97 === 0, lit(null)).otherwise(($"id" * 7) % 1000)
        .as("x"))
  private def intervals = spark.range(300)
    .select($"id".as("iid"),
      when($"id" % 41 === 0, lit(null)).otherwise(($"id" * 13) % 960)
        .as("lo"))
    .withColumn("hi", $"lo" + ($"iid" % 5) * 10 + 5)

  private def containment = points.join(intervals,
    $"x" >= $"lo" && $"x" <= $"hi")

  private def rangeOptimized(df: org.apache.spark.sql.DataFrame): String = {
    RangeJoinBandRewrite.register(spark)
    df.queryExecution.executedPlan.toString
  }

  test("range-join conf off (default): containment join stays nested-loop") {
    RangeJoinBandRewrite.register(spark)
    val p = rangeOptimized(containment)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"), p)
  }

  test("range-join conf on: containment join becomes a banded EQUI join " +
       "with identical results (nulls included)") {
    val expected = containment.collect().map(_.toSeq).toSet
    withConf(RangeJoinBandRewrite.WidthKey -> "64") {
      val p = rangeOptimized(containment)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
             !p.contains("CartesianProduct"), p)
      assert(p.contains("Generate"), p) // the band explode
      val got = containment.collect().map(_.toSeq).toSet
      assert(got === expected)
      assert(got.nonEmpty)
    }
  }

  test("range-join: a join that already has a cross-side equi key is " +
       "out of scope and unchanged") {
    withConf(RangeJoinBandRewrite.WidthKey -> "64") {
      val withKey = points.withColumn("k", $"pid" % 10)
        .join(intervals.withColumn("k", $"iid" % 10), Seq("k"))
        .where($"x" >= $"lo" && $"x" <= $"hi")
      val p = rangeOptimized(withKey)
      assert(!p.contains("Generate"), p)
    }
  }

  test("range-join: inverted intervals (lo > hi) emit zero bands instead " +
       "of crashing, preserving the nested-loop join's no-match behavior") {
    // every 7th interval is inverted: hi well below lo — the unoptimized
    // nested-loop join simply never matches those rows. `def`, not `val`:
    // a DataFrame caches its queryExecution at first action, so a val
    // collected before the conf flips would pin the unrewritten plan.
    def q = points
      .join(intervals.withColumn("hi",
              when($"iid" % 7 === 0, $"lo" - 100).otherwise($"hi")),
            $"x" >= $"lo" && $"x" <= $"hi")
    val expected = q.collect().map(_.toSeq).toSet
    withConf(RangeJoinBandRewrite.WidthKey -> "64") {
      val p = rangeOptimized(q)
      assert(p.contains("Generate"), p) // rewrite fired despite dirty rows
      val got = q.collect().map(_.toSeq).toSet // would throw pre-guard
      assert(got === expected)
      assert(got.nonEmpty)
    }
  }

  test("range-join: mirrored spelling (lo <= x AND hi >= x) fires the " +
       "rewrite with identical results") {
    def mirrored = points.join(intervals, $"lo" <= $"x" && $"hi" >= $"x")
    val expected = mirrored.collect().map(_.toSeq).toSet
    withConf(RangeJoinBandRewrite.WidthKey -> "64") {
      val p = rangeOptimized(mirrored)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
             !p.contains("CartesianProduct"), p)
      assert(p.contains("Generate"), p)
      assert(mirrored.collect().map(_.toSeq).toSet === expected)
    }
  }

  test("range-join: band width respects the conf (narrower bands → wider " +
       "Generate fanout, same results)") {
    val expected = containment.count()
    withConf(RangeJoinBandRewrite.WidthKey -> "8") {
      assert(containment.count() === expected)
    }
    withConf(RangeJoinBandRewrite.WidthKey -> "512") {
      assert(containment.count() === expected)
    }
  }
}
