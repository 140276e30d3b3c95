package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** Accessors for the driver-generated fixture tables (see TESTDATA.md /
  * FIXTURES.md). Every query in [[SparkEntry.queries]] reads its inputs
  * through these so the scan path (parquet, column-pruned, filter-pushed)
  * is uniform.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.ts has shipped under two physical parquet encodings across
    * fixture generations — `timestamp[ns]` (arrives as a raw ns long under
    * the `spark.sql.legacy.parquet.nanosAsLong` session flag) and
    * `timestamp[us]` (arrives as TIMESTAMP / TIMESTAMP_NTZ). This accessor
    * branches on the *scanned* dtype and normalizes one OUTPUT contract so
    * no downstream code cares which encoding the fixture carries:
    *   - `ts`     : epoch-NANOSECOND long (every `ts div 1000` site and the
    *                DuckDB oracle's `epoch_ns(ts)` twin work unchanged)
    *   - `ts_utc` : µs timestamp (UTC instant; session tz is UTC in every
    *                entry point — Bench/Verify/specs)
    * ns→µs conversion MUST be integral division (`div`): `/` casts both
    * sides to double, and 2024-era ns values (~1.7e18) exceed double's 2^53
    * exact range, silently corrupting the microsecond. The µs→ns long
    * product cannot overflow: |epoch µs| < 2^53 ≪ 2^63/1000.
    * Any third encoding fails fast with the found dtype named (the
    * reference's schema-validation posture: …/models/schema_manager.py:44-68)
    * instead of a raw Catalyst DATATYPE_MISMATCH five frames deep.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
      case TimestampType | TimestampNTZType =>
        // NTZ→LTZ cast interprets the wall-clock in the session tz (UTC
        // everywhere in this engine), i.e. the same instant; LTZ is a no-op.
        val utc = col("ts").cast(TimestampType)
        raw.withColumn("ts_utc", utc)
           .withColumn("ts", unix_micros(utc) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts: found ${other.simpleString} in $d/events.parquet; " +
          "supported encodings: {bigint (parquet timestamp[ns] under " +
          "spark.sql.legacy.parquet.nanosAsLong=true), timestamp, " +
          "timestamp_ntz}. The fixture schema drifted — extend " +
          "graft.Tables.events to normalize the new encoding.")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every fixture table as a temp view so plain `spark.sql`
    * works over the catalog — the `spark.sql(...)` entry surface. Views
    * are lazy; registration costs nothing until a query scans one.
    *
    * Per-table failure isolation: one unreadable/drifted fixture must not
    * kill the whole catalog (round 6: a broken `events` took down all ten
    * `sql_*` gates though nine never scan events). A failing table is
    * skipped with its error logged at WARN; only queries that actually reference
    * it then fail, with "table not found: <n>" plus the logged cause.
    *
    * Memoized per (session, dir): every `sql_*` gate calls this before its
    * `spark.sql`, and un-memoized each call re-reads ten parquet footers
    * and re-analyzes the events normalization (round 7 measured the ten
    * sql_* gates uniformly 2.1–3.0× for it). Temp views live in the
    * session, so (session, dir) is exactly the cache key; a second dir on
    * the same session re-registers (the views must point at the new
    * fixtures) and takes over the key.
    */
  private val registered = new ConcurrentHashMap[SparkSession, String]()

  private val log = graft.util.Log.logger("Tables")

  def registerViews(s: SparkSession, d: String): Unit = {
    // same stopped-session hygiene as the memo layer (ADVICE r9):
    // entries for stopped sessions are dead weight
    graft.state.Materialize.purgeStopped(registered)(identity)
    if (d == registered.get(s)) return
    def reg(n: String)(df: => DataFrame): Unit =
      try df.createOrReplaceTempView(n)
      catch { case NonFatal(e) =>
        log.warn(s"[graft] registerViews: skipping view '$n': ${e.getMessage}")
      }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(n => reg(n)(table(s, d, n)))
    reg("events")(events(s, d))
    registered.put(s, d)
  }
}

/** Determinism helpers for DuckDB-oracle hash matching.
  *
  * Floating-point aggregation is order-dependent, and Spark's partial
  * aggregation order differs run-to-run and engine-to-engine. Accumulating
  * in exact decimal arithmetic and casting the final value to double makes
  * the result bit-identical in any engine, in any order (decimal addition
  * is associative and exact; a double can never sit exactly on a decimal
  * half-way rounding boundary at scale <= 6, since 5e-7 has a 5^-7 factor
  * and binary fractions cannot). SURVEY.md §7 risk 2.
  *
  * Residual risk (documented, accepted): the two engines round double →
  * decimal differently — Spark rounds the double's SHORTEST decimal
  * representation (BigDecimal via Double.toString, HALF_UP), DuckDB rounds
  * the exact binary value. For a *derived* double (e.g. price·(1−disc))
  * whose shortest repr terminates in exactly 7 fractional digits ending in
  * 5, the two can disagree by 1e-6 before summation. No fixture value at
  * the verified scale factors hits this (gate is green end-to-end); if a
  * larger SF ever does, round to 6dp in double space on BOTH sides before
  * the decimal cast.
  */
object Det {
  private val Dec = DecimalType(30, 6)

  /** Deterministic double-valued sum: exact decimal accumulation. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Deterministic double-valued average. */
  def davg(c: Column): Column = sum(c.cast(Dec)).cast("double") / count(c)

  /** Oracle-SQL (DuckDB) twin of [[dsum]]. */
  def sqlSum(e: String): String = s"CAST(SUM(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE)"

  /** Oracle-SQL twin of [[davg]]. */
  def sqlAvg(e: String): String =
    s"(CAST(SUM(CAST(($e) AS DECIMAL(30,6))) AS DOUBLE) / COUNT($e))"
}
