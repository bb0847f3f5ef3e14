package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The PORTABLE (md5-derived) shingle hashes computed directly from token
  * bytes — the cross-engine twin of `ShingleHash` (FNV/xxhash64 production
  * path). Output element i equals
  * `conv(substring(md5(<tokens[i..i+n-1] joined by ' '>), 1, 8), 16, 10)`
  * — the first 4 digest bytes as an unsigned 32-bit value in a long —
  * byte-for-byte, but skips the three per-shingle overheads of the
  * composed spelling the profile showed dominating the portable pipelines
  * (q82/q124/q126): the n-gram String concatenation, the 32-char hex
  * rendering, and the base-16 string parse. The DuckDB oracles keep the
  * composed spelling; equality of values is what keeps them green, and
  * TierESpec pins the two forms equal on real documents.
  *
  * Clamping matches `TextDedup.shingles`: shorter-than-n token lists
  * produce ONE hash of all tokens. Tokens come from `split(text, ' ')`,
  * which never yields null elements (same contract as ShingleHash).
  */
case class PortableShingleHash(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, false) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckFailure("n must be >= 1")
    // round 10: null elements are REJECTED at type check rather than
    // silently hashed — the composed spelling's array_join drops a null
    // AND its delimiter, while the byte loop would keep the separator,
    // so the two forms diverge exactly there. split() arrays (the whole
    // call surface) are containsNull = false; any other producer must
    // strip nulls first.
    case ArrayType(StringType, true) => TypeCheckResult.TypeCheckFailure(
      "portable_shingle_hash requires array<string> WITHOUT null elements " +
        "(tokens from split(); null elements would diverge from the composed " +
        "md5 spelling, whose array_join drops null + delimiter)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"portable_shingle_hash requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_shingle_hash"

  override def nullSafeEval(input: Any): Any =
    PortableShingleHash.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableShingleHash.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): PortableShingleHash =
    copy(child = newChild)
}

object PortableShingleHash {
  private val Sep: Byte = ' '

  // MessageDigest is stateful and not thread-safe; one instance per task
  // thread, reset per shingle — no per-row allocation in the hot loop.
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Called from generated code. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val md = md5Local.get()
    val total = tokens.numElements()
    // total == 0 mirrors the composed spelling exactly (round-10 advice:
    // the native function must agree with the composed form on
    // every input it admits, not just split() output, which is never
    // empty): for n ≥ 2 shingles() emits ONE empty shingle on an empty
    // array (sequence(0, greatest(size−n, 0)) = [0]) → one hash of "";
    // for n == 1 it maps the tokens directly → zero hashes.
    val count =
      if (total == 0) { if (n == 1) 0 else 1 }
      else math.max(total - n + 1, 1)
    val out = new Array[Long](count)
    var i = 0
    while (i < count) {
      md.reset()
      var j = i
      val end = math.min(i + n, total)
      while (j < end) {
        if (!tokens.isNullAt(j)) md.update(tokens.getUTF8String(j).getBytes)
        if (j < end - 1) md.update(Sep)
        j += 1
      }
      val d = md.digest()
      // first 8 hex chars of the digest = first 4 bytes, big-endian,
      // parsed unsigned — exactly what conv(substring(md5(s),1,8),16,10)
      // yields as a long
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The n-gram hashes of `tokens` as a Column (GraftColumnBridge). */
  def column(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(PortableShingleHash(GraftColumnBridge.expression(tokens), n))
}
