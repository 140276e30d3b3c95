package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Catalyst optimizer rule: band-decompose interval-containment joins.
  *
  * An inner join whose only cross-side condition is a range containment
  * (`point >= lo AND point <= hi`, any >=/>/<=/< mix, BETWEEN included —
  * the shape of as-of enrichment, IP-range lookup, time-interval
  * attribution) has NO equi key, so Spark plans a nested-loop join:
  * O(|L|·|R|) comparisons, broadcast side scaling with data. The classic
  * fix — the manual histogram/band decomposition in
  * [[graft.ops.Joins.thetaRange]] — works but demands the user restructure
  * their query. This rule does the restructuring IN THE OPTIMIZER:
  *
  *   point side  → project an extra `band = floor(point / W)` column;
  *   bound side  → Generate(Explode(Sequence(floor(lo/W), floor(hi/W))))
  *                 — one row per band the interval overlaps;
  *   join        → equi on band (hash/sort-merge now eligible) with the
  *                 ORIGINAL predicate kept as the residual, so semantics
  *                 are exact.
  *
  * NULL semantics are preserved: a NULL point makes its band NULL (equi
  * join drops it — same as the inner join's null-rejecting condition);
  * a NULL bound collapses Sequence to NULL and Explode emits no rows.
  * Monotonicity of cast→divide→floor guarantees the point's band always
  * lands inside the interval's band range, so no qualifying pair is lost.
  *
  * Opt-in via `spark.graft.rangeJoin.bandWidth` (> 0): band width is a
  * DATA property (interval length distribution) the optimizer cannot
  * guess — too narrow explodes the Generate fanout (an interval spanning
  * B bands emits B rows), too wide degrades toward one giant band. The
  * fixed-point optimizer batch re-visits rewritten plans, so eligibility
  * rejects joins that already carry a cross-side equi conjunct — which
  * is also what makes the rewrite idempotent (its own output carries the
  * band equality).
  */
object RangeJoinBandRewrite extends SessionRule with PredicateHelper {

  val WidthKey = "spark.graft.rangeJoin.bandWidth"

  private def width: Double =
    SQLConf.get.getConfString(WidthKey, "0").toDouble

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = width
    if (w <= 0) plan
    else plan.transformUp {
      case j @ Join(_, _, Inner, Some(_), _) =>
        rewrite(j, w).getOrElse(j)
    }
  }

  /** One inequality conjunct, normalized to point-vs-bound:
    * (point, bound, isLower). Every comparison is read BOTH ways —
    * `a >= b` is simultaneously "b lower-bounds a" and "a upper-bounds b"
    * — so mirrored spellings (`lo <= p AND hi >= p`) produce the same
    * candidate tuples as the canonical `p >= lo AND p <= hi` and the
    * containment pair is found regardless of operand order. The pair
    * search downstream still requires a lower AND an upper bound on the
    * same point expression with both bounds cross-side, so the extra
    * orientation can't fabricate a false pair.
    */
  private def asBound(e: Expression): Seq[(Expression, Expression, Boolean)] =
    e match {
      case GreaterThanOrEqual(a, b) => Seq((a, b, true), (b, a, false))
      case GreaterThan(a, b)        => Seq((a, b, true), (b, a, false))
      case LessThanOrEqual(a, b)    => Seq((a, b, false), (b, a, true))
      case LessThan(a, b)           => Seq((a, b, false), (b, a, true))
      case _                        => Seq.empty
    }

  private def numeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]

  private def rewrite(j: Join, w: Double): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(j.condition.get)
    def sideOf(e: Expression): Option[Boolean] = { // Some(true) = left
      val refs = e.references
      if (refs.isEmpty) None
      else if (refs.subsetOf(j.left.outputSet)) Some(true)
      else if (refs.subsetOf(j.right.outputSet)) Some(false)
      else None
    }
    // already has a cross-side equi key (incl. our own band equality on a
    // previous visit of the fixed-point batch) → hash-joinable, skip
    val hasEqui = conjuncts.exists {
      case EqualTo(l, r) => (for (a <- sideOf(l); b <- sideOf(r))
        yield a != b).getOrElse(false)
      case _ => false
    }
    if (hasEqui) return None

    // cross-side bounds: point entirely on one side, bound on the other
    val bounds = conjuncts.flatMap(asBound).flatMap {
      case (p, b, isLower) =>
        (sideOf(p), sideOf(b)) match {
          case (Some(ps), Some(bs)) if ps != bs && numeric(p) && numeric(b) =>
            Some((p, ps, b, isLower))
          case _ => None
        }
    }
    // a lower and an upper bound on the SAME point expr, bounds both on
    // the opposite side — the containment pattern
    val pair = (for {
      (p1, s1, lo, true)  <- bounds
      (p2, s2, hi, false) <- bounds
      if s1 == s2 && p1.semanticEquals(p2)
    } yield (p1, s1, lo, hi)).headOption

    pair.map { case (point, pointOnLeft, lo, hi) =>
      def bandOf(e: Expression): Expression =
        Floor(Divide(Cast(e, DoubleType), Literal(w)))
      val pointSide = if (pointOnLeft) j.left else j.right
      val boundSide = if (pointOnLeft) j.right else j.left
      val bandP = Alias(bandOf(point), "graft_band_p")()
      val newPointSide = Project(pointSide.output :+ bandP, pointSide)
      // Sequence is TimeZoneAware: the analyzer's ResolveTimeZone pass is
      // behind us, so the zone must be set here or the plan re-enters the
      // unresolved state (PLAN_VALIDATION_FAILED_RULE_IN_BATCH)
      val rawSeq = new Sequence(bandOf(lo), bandOf(hi), Some(Literal(1L)),
        Some(SQLConf.get.sessionLocalTimeZone))
      // Inverted/dirty intervals (lo > hi) must emit ZERO bands, not
      // throw: Sequence raises "Illegal sequence boundaries" on descending
      // bounds with a +1 step, which would turn a row the original
      // nested-loop join simply didn't match into a runtime failure — an
      // optimizer rule must preserve failure behavior. A NULL bound lands
      // in the else branch too (If's null predicate → else), matching the
      // zero rows Explode-of-NULL would have emitted.
      val seq = If(LessThanOrEqual(bandOf(lo), bandOf(hi)), rawSeq,
        Literal.create(Array.empty[Long],
          ArrayType(LongType, containsNull = false)))
      val bandB = AttributeReference("graft_band_b", LongType,
        nullable = rawSeq.dataType.asInstanceOf[ArrayType].containsNull)()
      val newBoundSide = Generate(Explode(seq), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(bandB),
        child = boundSide)
      val newCond = And(EqualTo(bandP.toAttribute, bandB), j.condition.get)
      val newJoin =
        if (pointOnLeft)
          j.copy(left = newPointSide, right = newBoundSide,
                 condition = Some(newCond))
        else
          j.copy(left = newBoundSide, right = newPointSide,
                 condition = Some(newCond))
      // restore the exact original schema — the band columns must not
      // leak upward (schema-exact parents like Union would break)
      Project(j.output, newJoin)
    }
  }
}
