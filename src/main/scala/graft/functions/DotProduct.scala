package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: `graft_dot(array<double>, array<double>)` —
  * the strict left-to-right dot product (SURVEY.md §2 C38's hot scalar).
  *
  * Why a custom Expression (the "custom operators" preference order —
  * compose built-ins > native Expression > UDF): the built-in form
  * `aggregate(zip_with(a, b, *), 0d, +)` allocates an intermediate
  * 64-element array per row and evaluates a lambda chain; this expression
  * generates a tight fused loop via `doGenCode`, staying inside
  * whole-stage codegen with zero allocation. A Scala UDF would be worse
  * than both (boxing + serialization on every call).
  *
  * Semantics are IDENTICAL to the fold: `acc = 0; acc += a[i]*b[i]`
  * left-to-right — the same IEEE-754 operation sequence as DuckDB's
  * `list_reduce`, so results remain bit-identical across engines and the
  * DuckDB oracle still hash-matches (see graft.ops.llm.Similarity).
  *
  * Null contract: null if either array is null (BinaryExpression default);
  * null ELEMENTS are treated as 0 contribution (skip), matching
  * `zip_with`'s null-propagating product summed by a null-skipping fold.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    ${ev.value}Acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** The native functions, one table for both install paths: per-session
  * [[GraftFunctions.register]] (idempotent) and [[GraftExtensions]].
  */
object GraftFunctions {

  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def entry(name: String, cls: Class[_ <: Expression], arity: Int)(
      make: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$name expects exactly $arity argument${if (arity == 1) "" else "s"}")
        make(children)
      })

  val table: Seq[Entry] = Seq(
    entry("graft_dot", classOf[DotProduct], 2)(c => DotProduct(c(0), c(1))),
    entry("graft_md5_60", classOf[Md5Hex60], 1)(c => Md5Hex60(c(0))),
    entry("graft_md5_60_at", classOf[Md5Hex60At], 3)(c => Md5Hex60At(c(0), c(1), c(2))),
    entry("graft_pack8", classOf[PackBytes8], 2)(c => PackBytes8(c(0), c(1))),
    entry("graft_nfc", classOf[NfcNormalize], 1)(c => NfcNormalize(c(0))),
    entry("graft_bloom_might_contain", classOf[BloomMightContain], 2)(
      c => BloomMightContain(c(0), c(1))))

  /** Register the native functions on a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    table.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` — the
  * public injection point, so any session (spark-submit, thrift server)
  * gets the engine's native functions and rules without code changes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(ext.injectFunction)
    // conf-gated (default off) — injecting them costs nothing until a
    // session opts in; see ApproxDistinctRewrite / RangeJoinBandRewrite
    Seq(ApproxDistinctRewrite, RangeJoinBandRewrite)
      .foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
