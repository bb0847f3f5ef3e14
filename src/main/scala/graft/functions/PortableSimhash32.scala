package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The PORTABLE 32-bit SimHash sign-fold computed in one tight loop — the
  * r10 fusion of `TextDedup.portableSimhash32`'s composed HOF spelling
  * (aggregate + zip_with over a 32-wide array accumulator), exactly the
  * r9 `PortableShingleHash` playbook applied to the signature fold: the
  * composed form allocates a 32-element accumulator array per token and
  * evaluates 32 `when` branches through the HOF interpreter, which the
  * q83 profile showed dominating the portable simhash pipeline.
  *
  * Value contract (bit-for-bit what the composed spelling and the q83
  * DuckDB text compute): for bit b ∈ [0, 32), sum the ±1 weights
  * ((h >> b & 1)·2 − 1) over the token hashes; the output sets bit b when
  * the sum is ≥ 0. An EMPTY token set yields the explicit sentinel 0
  * (matching DuckDB's list_sum(NULL-on-empty) → CASE ELSE 0 rendering —
  * the all-bits-set trap the composed form also guards against).
  *
  * The composed spelling lives in TierESpec as the bit-equality test
  * reference. */
case class PortableSimhash32(child: Expression) extends UnaryExpression {

  // containsNull arrays are ACCEPTED (the composed conv/cast spelling
  // types its output nullable even though split() tokens never are):
  // a null element folds exactly as the composed chain folds it — the
  // bit-test `when` falls through to the −1 branch for every bit, i.e.
  // null ≡ hash 0 — so the two forms agree on every admissible input.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"portable_simhash32 requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "portable_simhash32"

  override def nullSafeEval(input: Any): Any =
    PortableSimhash32.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableSimhash32.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): PortableSimhash32 =
    copy(child = newChild)
}

object PortableSimhash32 {

  /** Called from generated code. */
  def compute(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    if (n == 0) return 0L // empty-set sentinel, matches the q83 text
    val sums = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = if (hashes.isNullAt(i)) 0L else hashes.getLong(i) // null ≡ 0, see type check note
      var b = 0
      while (b < 32) {
        sums(b) += (((h >>> b) & 1L).toInt * 2 - 1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (sums(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "portable_simhash32", exprs => PortableSimhash32(exprs.head), "built-in")
}
