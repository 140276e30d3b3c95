package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession. Every entry point (Verify,
  * Bench, Plans, the stream apps) and the test session go through here,
  * so results never depend on which main built the session.
  */
object Session {

  /** The settings graft's results depend on. */
  val Settings: Seq[(String, String)] = Seq(
    // the oracle compares timestamps as UTC wall clock
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts is parquet timestamp[ns], which Spark 4 refuses to read
    // as a timestamp; read it as a raw nanosecond long instead
    // (Tables.events re-derives a µs timestamp column). SURVEY.md §7 risk 1.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the 128-wide MinHash signature aggregate exceeds the default
    // whole-stage-codegen field limit (100) — raise it so wide
    // aggregates stay codegen'd (graft.ops.llm.Dedup).
    "spark.sql.codegen.maxFields" -> "220")

  /** A builder carrying [[Settings]]; the caller adds master and app name. */
  def builder(): SparkSession.Builder =
    Settings.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** The local form: `local[cores]`, `partitions` shuffle partitions, UI off. */
  def local(cores: Int, partitions: Int): SparkSession =
    builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  def local(cores: Int): SparkSession = local(cores, cores)
}
