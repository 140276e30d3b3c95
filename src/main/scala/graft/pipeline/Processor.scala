package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.Conf

/** The pipeline's operator contract (SURVEY.md §2 A10–A13): a named
  * `DataFrame => DataFrame` transform. Returning `None` short-circuits the
  * whole pipeline — the Scala rendering of the reference's
  * `if df is None: stop` contract (…/pipeline/streaming_pipeline.py:195-200).
  *
  * Processors MUST NOT trigger actions: the pipeline folds lazily so
  * Catalyst sees ONE logical plan spanning source + every processor + sink
  * and optimizes across processor boundaries (collapse projections, push
  * filters into the scan) — the property that makes a processor chain free
  * at 100 TB (SURVEY.md §4).
  *
  * Configuration arrives as a typed [[Conf]] instead of the reference's
  * `setattr` kwargs injection (…/processors/base_processor.py:33-35).
  */
trait Processor {
  def name: String = getClass.getSimpleName
  def process(df: DataFrame): Option[DataFrame]
}

/** Convenience base for the common always-passes-through case. */
abstract class Transform extends Processor {
  def apply(df: DataFrame): DataFrame
  final def process(df: DataFrame): Option[DataFrame] = Some(apply(df))
}

/** A10 identity processor proving the chain contract
  * (…/processors/base_processor.py:76-84).
  */
final class NoOpProcessor(params: Conf = Conf.empty) extends Transform {
  def apply(df: DataFrame): DataFrame = df
}

/** The reference's one real transform (…/processors/custom_processors.py:
  * 23-60): uppercase the `value` column; keep `key` if present (warn-path
  * without it, :52-57); missing `value` passes through unchanged (:35-38).
  * Also covers A5–A8: projection, cast, derived column, `upper`.
  */
final class UppercaseValueProcessor(params: Conf = Conf.empty) extends Transform {
  def apply(df: DataFrame): DataFrame =
    if (!df.columns.contains("value")) df
    else {
      val upped = df.withColumn("value", upper(col("value").cast("string")))
      if (df.columns.contains("key")) upped.select(col("key"), col("value"))
      else upped.select(col("value"))
    }
}

/** A13 conditional column guard: short-circuit the pipeline (None) when a
  * required column is absent — the hard form of the reference's warn-path.
  */
final class RequireColumnProcessor(params: Conf) extends Processor {
  private val column = params.reqStr("column")
  def process(df: DataFrame): Option[DataFrame] =
    if (df.columns.contains(column)) Some(df) else None
}

/** A6-style expression projection: `selectExpr` from config — the generic
  * parameterized processor (params arrive typed, not via reflection).
  */
final class SelectExprProcessor(params: Conf) extends Transform {
  private val exprs: Seq[String] = params.strList("exprs").getOrElse(
    throw new IllegalArgumentException("missing required param 'exprs' (a list)"))
  def apply(df: DataFrame): DataFrame = df.selectExpr(exprs: _*)
}

/** A12 dynamic operator loading. The reference resolves processors with
  * importlib at run time (…/pipeline/streaming_pipeline.py:103-143); here a
  * REGISTRY is the designed path (explicit, typo-safe, no classpath
  * surprises) with `Class.forName` kept as the compatibility fallback for
  * user classes — constructor `(Conf)` or no-arg.
  *
  * A registered id gets the one param contract: its factory reads params
  * through [[Conf]]'s getters, any `IllegalArgumentException` it throws is
  * prefixed with the id, and a supplied key no getter read fails as
  * `<id>: unsupported params …`. A class-path processor receives its
  * params unchecked.
  */
object ProcessorRegistry {
  type Factory = (SparkSession, Conf) => Processor

  private val builtin: Map[String, Factory] = Map(
    "noop"      -> ((_, p) => new NoOpProcessor(p)),
    "uppercase" -> ((_, p) => new UppercaseValueProcessor(p)),
    "require_column" -> ((_, p) => new RequireColumnProcessor(p)),
    "select_expr"    -> ((_, p) => new SelectExprProcessor(p)),
    // data-curation processors (DataProcessors.scala)
    "dedup_exact"    -> ((_, p) => new ExactDedupProcessor(p)),
    "token_stats"    -> ((_, p) => new TokenStatsProcessor(p)),
    "quality_filter" -> ((_, p) => new QualityFilterProcessor(p)),
    "nfc_normalize"  -> ((s, p) => new NfcNormalizeProcessor(s, p)),
    "cdc_chunks"     -> ((_, p) => new CdcChunkProcessor(p)),
    "decontaminate"  -> ((_, p) => new DecontaminateProcessor(p)),
    "span_corrupt"   -> ((_, p) => new SpanCorruptProcessor(p)),
    "near_dedup"     -> ((_, p) => new NearDedupProcessor(p)),
    "pii_scrub"      -> ((_, p) => new PiiScrubProcessor(p)),
    "lang_id"        -> ((_, p) => new LangIdProcessor(p)),
    "quality_score"  -> ((_, p) => new QualityScoreProcessor(p)),
    "gopher_filter"  -> ((_, p) => new GopherFilterProcessor(p)),
    "sem_dedup"      -> ((_, p) => new SemDedupProcessor(p)),
    "sem_dedup_clusters" -> ((_, p) => new SemDedupClustersProcessor(p)),
    "ann_topk"       -> ((_, p) => new AnnTopKProcessor(p)))

  private[pipeline] def builtinIds: Set[String] = builtin.keySet

  private val registry = scala.collection.mutable.Map[String, Factory](builtin.toSeq: _*)

  def register(id: String, factory: Factory): Unit =
    synchronized { registry(id) = factory }

  def resolve(spark: SparkSession, className: String, params: Conf): Processor =
    synchronized(registry.get(className)) match {
      case Some(f) =>
        val tracked = Conf(params.m) // a fresh record of the keys read
        val proc =
          try f(spark, tracked)
          catch { case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"$className: ${e.getMessage}", e) }
        val read = tracked.keysRead
        val unknown = params.m.keySet -- read
        if (unknown.nonEmpty) {
          def list(ks: Set[String]) =
            if (ks.isEmpty) "none" else ks.toSeq.sorted.mkString(", ")
          throw new IllegalArgumentException(
            s"$className: unsupported params ${list(unknown)} (supported: ${list(read)})")
        }
        proc
      case None => loadClass(className, params)
    }

  /** `Class.forName` fallback (the importlib twin). */
  private def loadClass(className: String, params: Conf): Processor = {
    val cls =
      try Class.forName(className)
      catch {
        case e: ClassNotFoundException =>
          throw new IllegalArgumentException(
            s"Error importing module for processor '$className': ${e.getMessage}", e)
      }
    if (!classOf[Processor].isAssignableFrom(cls))
      throw new IllegalArgumentException(
        s"Processor must be an instance of Processor. Got: $className")
    val instance =
      try cls.getDeclaredConstructor(classOf[Conf]).newInstance(params)
      catch {
        case _: NoSuchMethodException => cls.getDeclaredConstructor().newInstance()
      }
    instance.asInstanceOf[Processor]
  }

  def reset(): Unit = synchronized {
    registry.clear(); registry ++= builtin
  }
}
