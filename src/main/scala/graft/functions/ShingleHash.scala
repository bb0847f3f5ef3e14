package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Word n-gram shingle hashes computed directly from token bytes — no
  * n-gram string materialization. Output element i is the FNV-1a 64 hash
  * of tokens[i..i+n-1] joined by a separator byte; equals hashing the
  * space-joined shingle string, but skips building `(#tokens × n)` interim
  * strings per row (the measured dominant cost of the MinHash signature
  * stage). Shorter-than-n token lists produce one hash of all tokens,
  * matching TextDedup.shingles' `greatest(size-n, 0)` clamping.
  */
case class ShingleHash(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure("n must be >= 1")
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash"

  override def nullSafeEval(input: Any): Any =
    ShingleHash.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHash.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash =
    copy(child = newChild)
}

object ShingleHash {
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L
  private final val Sep: Byte = ' '

  /** Called from generated code. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val total = tokens.numElements()
    val count = math.max(total - n + 1, if (total == 0) 0 else 1)
    val out = new Array[Long](count)
    var i = 0
    while (i < count) {
      var h = FnvOffset
      var j = i
      val end = math.min(i + n, total)
      while (j < end) {
        if (!tokens.isNullAt(j)) {
          val bytes = tokens.getUTF8String(j).getBytes
          var b = 0
          while (b < bytes.length) {
            h ^= (bytes(b) & 0xffL); h *= FnvPrime; b += 1
          }
        }
        if (j < end - 1) { h ^= (Sep & 0xffL); h *= FnvPrime }
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Scalar reference for tests: hash of the space-joined n-gram strings. */
  def referenceOf(tokens: Seq[String], n: Int): Seq[Long] = {
    val total = tokens.length
    val count = math.max(total - n + 1, if (total == 0) 0 else 1)
    (0 until count).map { i =>
      val s = tokens.slice(i, math.min(i + n, total)).mkString(" ")
      var h = FnvOffset
      s.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= FnvPrime }
      h
    }
  }

  /** The n-gram hashes of `tokens` as a Column (GraftColumnBridge). */
  def column(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHash(GraftColumnBridge.expression(tokens), n))
}
