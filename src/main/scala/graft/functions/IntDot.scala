package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Exact integer dot product of two array<long> vectors as a native
  * Catalyst expression with whole-stage codegen — the hot-path upgrade
  * over the `aggregate(zip_with(...))` composition (kept as the
  * reference in NativeExprPropSpec): one fused primitive loop per
  * row pair, no product-array allocation, no per-element lambda
  * dispatch. The quantized-embedding family
  * (q84/q97/q125 LSH signatures + verification, q186/q187 centroid
  * assignment, q202 modality audit) evaluates this millions of times
  * per action, so the interpreted HOF chain was the dominant per-row
  * cost at 10× scale.
  *
  * Semantics match the HOF spelling exactly (NativeExprPropSpec pins the
  * equality on random vectors, including the null edge cases): zip_with
  * pads the shorter array with nulls and a null product poisons the
  * aggregate, so the result is NULL when the lengths differ or any
  * overlapped element is null; otherwise the exact Long sum. Overflow
  * contract is the caller's (quantized |x_i| ≤ 10⁴ ⇒ 64-dim sums
  * ≤ 6.4e9 ≪ Long.Max). KNOWN DIVERGENCE outside that
  * contract: this expression's Java long arithmetic WRAPS on overflow,
  * while the HOF spelling under Spark 4's ANSI mode THROWS on the x*y
  * multiply — the two agree only while every product and partial sum
  * stays in-range, which the quantized callers guarantee (and
  * NativeExprPropSpec's |x_i| ≤ 10⁴ generators deliberately stay
  * inside).
  */
case class IntDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_dot requires array<bigint>, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "int_dot"

  // nullable even when both children are non-null: unequal lengths or a
  // null element yield NULL (the zip_with+aggregate contract)
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    IntDot.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |java.lang.Long ${ev.value}_r = graft.functions.IntDot.compute($a, $b);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntDot =
    copy(left = newLeft, right = newRight)
}

object IntDot {

  /** Called from generated code. Boxed so the zip_with null contract is
    * representable; the JIT's escape analysis unboxes the hot path. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(dot)
  }

  /** `a · b` as a Column (expression wrapped directly, GraftColumnBridge). */
  def column(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntDot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
