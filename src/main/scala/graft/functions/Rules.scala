package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Catalyst optimizer rule: rewrite exact `COUNT(DISTINCT x)` to the
  * HyperLogLog++ sketch (`approx_count_distinct`) when the session opts in
  * via `spark.graft.approxCountDistinct.enabled`.
  *
  * Why a Rule (the custom-operator preference order, SURVEY.md §7): exact
  * distinct over a high-cardinality key is the classic 100 TB
  * scale-killer — it shuffles every distinct value. The sketch form is a
  * fixed-size mergeable buffer per group (map-side partial merge, one
  * small shuffle). The semantics change (±rsd error), which is exactly why
  * this is an OPT-IN session conf and not a default: a dashboard session
  * flips one flag and every `count(distinct)` in every existing query
  * downgrades gracefully, with no query rewrites.
  *
  * Scope guard: only single-argument distinct counts rewrite;
  * multi-column `COUNT(DISTINCT a, b)` and filtered aggregates pass
  * through untouched (HLL++ is unary).
  *
  * Injection paths (both exercised by RulesSpec):
  *  - cluster: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  *    (see [[GraftExtensions]], which injects this rule);
  *  - live session: [[ApproxDistinctRewrite.register]] appends to
  *    `spark.experimental.extraOptimizations`.
  */
object ApproxDistinctRewrite extends SessionRule {

  val ConfKey = "spark.graft.approxCountDistinct.enabled"
  val RsdKey  = "spark.graft.approxCountDistinct.rsd"

  private def conf(key: String, default: String): String =
    SQLConf.get.getConfString(key, default)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf(ConfKey, "false").toBoolean) plan
    else {
      val rsd = conf(RsdKey, "0.05").toDouble
      plan.transformUp {
        case agg: Aggregate =>
          agg.transformExpressionsUp {
            case ae @ AggregateExpression(c: Count, _, true, None, _)
                if c.children.length == 1 =>
              ae.copy(
                aggregateFunction =
                  HyperLogLogPlusPlus(c.children.head, relativeSD = rsd),
                isDistinct = false)
          }
      }
    }
}

/** An optimizer rule that can also attach itself to a running session. */
trait SessionRule extends Rule[LogicalPlan] {

  /** Attach to an already-running session (idempotent). */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
    }
}
