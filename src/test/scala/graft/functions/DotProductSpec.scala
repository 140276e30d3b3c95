package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.GraftTestAccess
import org.apache.spark.sql.functions._

/** The native graft_dot expression: value-exactness vs the HOF fold
  * (bit-identical — the oracle contract), null handling, and codegen.
  */
class DotProductSpec extends SparkSpec {

  import spark.implicits._

  private def registered = { GraftFunctions.register(spark); spark }

  test("graft_dot is bit-identical to the aggregate(zip_with) fold on real vectors") {
    registered
    val df = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("native", expr("graft_dot(v, v)"))
      .withColumn("fold", expr(
        "aggregate(transform(v, x -> x * x), cast(0 as double), (acc, p) -> acc + p)"))
    assert(df.filter($"native" =!= $"fold").count() === 0)
    // bit-identical, not approximately equal:
    assert(df.filter(expr("cast(native as string) <> cast(fold as string)")).count() === 0)
  }

  test("null contract: null array -> null; null elements skipped") {
    registered
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (None, Some(Seq(1.0))),
      (Some(Seq(1.0)), None))
      .toDF("a", "b").withColumn("d", expr("graft_dot(a, b)"))
    val out = df.select($"d").collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq === Seq(Some(11.0), None, None))
    val withNullElem = spark.sql(
      "SELECT graft_dot(array(1.0d, NULL, 2.0d), array(5.0d, 7.0d, 10.0d)) AS d")
    assert(withNullElem.head().getDouble(0) === 25.0)
  }

  test("mismatched lengths use the common prefix") {
    registered
    assert(spark.sql("SELECT graft_dot(array(2.0d, 3.0d), array(10.0d)) AS d")
      .head().getDouble(0) === 20.0)
  }

  test("expression stays inside whole-stage codegen") {
    registered
    val df = spark.range(1000)
      .select(expr("transform(sequence(0, 63), i -> cast(i + id as double))").as("v"))
      .select(expr("graft_dot(v, v)").as("d"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, p)
  }

  test("GraftExtensions injects the function via spark.sql.extensions") {
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts)
    assert(GraftTestAccess.injectedFunctionNames(exts).sorted === Seq(
      "graft_bloom_might_contain", "graft_dot", "graft_md5_60",
      "graft_md5_60_at", "graft_nfc", "graft_pack8"))
    assert(GraftTestAccess.injectedFunctionNames(exts).sorted ===
      GraftFunctions.table.map(_._1.funcName).sorted)
    assert(GraftTestAccess.injectedOptimizerRules(exts, spark) ===
      Seq(ApproxDistinctRewrite, RangeJoinBandRewrite))
  }
}
