package graft

import org.apache.spark.sql.GraftTestAccess
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `graft.Session` is the one way a session gets built: its settings are
  * the ones graft's results depend on, and its local form has the
  * effective configuration `Bench` and `Verify` built by hand before it.
  */
class SessionSpec extends SparkSpec {

  test("Session.local has the effective conf Bench and Verify set by hand") {
    val shared = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.maxFields" -> "220")
    assert(Session.Settings.toMap === shared)
    // the test session is Session.local(4); Bench and Verify set these
    // values with SPARK_GRAFT_CPUS=4
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master === "local[4]")
    (shared ++ Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.ui.enabled" -> "false")
    ).foreach { case (k, v) => assert(conf.get(k) === v, k) }
    // Bench also set spark.memory.storageFraction=0.5: Spark's default
    assert(!conf.contains("spark.memory.storageFraction"))
    assert(GraftTestAccess.storageFractionDefault === 0.5)
  }

  test("no SparkSession builder outside graft/Session.scala") {
    val builderCall = "SparkSession" + ".builder"
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    assert(Files.readString(factory).contains(builderCall))
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != factory)
        .filter(p => Files.readString(p).contains(builderCall))
        .map(_.toString).toList
      finally files.close()
    }
    assert(offenders.isEmpty)
  }
}
