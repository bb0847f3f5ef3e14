package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** MinHash signature of an array<bigint> hash set as a native Catalyst
  * expression: element i is the minimum of permutation i over the set,
  * all k minima found in ONE loop over the set. The composed spelling it
  * replaces — k columns of `array_min(transform(h, x -> perm_i(x)))` —
  * runs every element through k interpreted lambda calls
  * (`ArrayTransform` is a CodegenFallback), which made the signature
  * stage the dominant cost of the minhash families (q40, q82 and the
  * portable cross/stream callers).
  *
  * Two permutation families:
  *  - xxhash (`coeffs` empty): perm_i(x) = `xxhash64(x, i)` bit for bit,
  *    i.e. `XXH64.hashInt(i, XXH64.hashLong(x, 42))`;
  *  - affine: perm_i(x) = (x·a_i + b_i) mod (2^61 − 1), with the
  *    (a_i, b_i) of `TextDedup.affineCoeffs`.
  *
  * Semantics match the composed spelling (NativeExprPropSpec pins the
  * equality on random sets and every edge, through `eval` and codegen):
  * a NULL set gives k NULLs (the array itself is not NULL); an empty set
  * gives k × Long.MaxValue; a NULL element hashes to `xxhash64(null, i)`
  * — the hash of i alone — in the xxhash family and is skipped in the
  * affine family, where an all-NULL set gives k NULLs. KNOWN DIVERGENCE
  * outside the affine contract: this expression's Java long arithmetic
  * WRAPS on overflow, while the composed spelling under Spark 4's ANSI
  * mode THROWS on the x·a multiply. Portable hashes are 32-bit and the
  * multipliers are below 2^29, so x·a + b < 2^61 and every caller stays
  * inside the range where the two agree.
  */
case class MinHash(child: Expression, numHashes: Int, coeffs: Seq[(Long, Long)])
  extends UnaryExpression {

  require(coeffs.isEmpty || coeffs.length == numHashes,
    s"${coeffs.length} affine coefficients for $numHashes hashes")

  @transient private lazy val mul: Array[Long] = coeffs.map(_._1).toArray
  @transient private lazy val add: Array[Long] = coeffs.map(_._2).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash requires array<bigint>, got ${other.catalogString}")
  }

  // the composed spelling's type: array(k × nullable array_min), never NULL
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, if (coeffs.isEmpty) "xxhash64" else "affine", numHashes)

  override def eval(input: InternalRow): Any = {
    val hs = child.eval(input)
    if (hs == null) MinHash.nulls(numHashes)
    else if (coeffs.isEmpty) MinHash.xxhash(hs.asInstanceOf[ArrayData], numHashes)
    else MinHash.affine(hs.asInstanceOf[ArrayData], mul, add)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val sig =
      if (coeffs.isEmpty) s"graft.functions.MinHash.xxhash(${c.value}, $numHashes)"
      else {
        val m = ctx.addReferenceObj("minhashMul", mul, "long[]")
        val a = ctx.addReferenceObj("minhashAdd", add, "long[]")
        s"graft.functions.MinHash.affine(${c.value}, $m, $a)"
      }
    ev.copy(code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} = ${c.isNull}
      |  ? graft.functions.MinHash.nulls($numHashes) : $sig;
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHash =
    copy(child = newChild)
}

object MinHash {
  private val XxSeed = 42L // XxHash64's default seed

  /** xxhash-family signature column (`TextDedup.minhashSignature`). */
  def xxhash(hashes: Column, numHashes: Int): Column = column(MinHash(_, numHashes, Nil), hashes)

  /** Affine-family signature column (`TextDedup.affineSignature`). */
  def affine(hashes: Column, coeffs: Seq[(Long, Long)]): Column =
    column(MinHash(_, coeffs.length, coeffs), hashes)

  private def column(mk: Expression => MinHash, hashes: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(mk(GraftColumnBridge.expression(hashes)))
  }

  /** Called from generated code: the signature of a NULL set. */
  def nulls(k: Int): ArrayData = new GenericArrayData(new Array[Any](k))

  /** Called from generated code. A NULL element hashes as `xxhash64`
    * hashes a NULL argument: it leaves the seed unchanged. */
  def xxhash(hs: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var e = 0
    while (e < n) {
      val base = if (hs.isNullAt(e)) XxSeed else XXH64.hashLong(hs.getLong(e), XxSeed)
      var i = 0
      while (i < k) {
        val h = XXH64.hashInt(i, base)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      e += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Called from generated code. NULL elements are skipped, as
    * `array_min` skips them; a non-empty all-NULL set has no minimum. */
  def affine(hs: ArrayData, mul: Array[Long], add: Array[Long]): ArrayData = {
    val k = mul.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var seen = n == 0
    var e = 0
    while (e < n) {
      if (!hs.isNullAt(e)) {
        seen = true
        val x = hs.getLong(e)
        var i = 0
        while (i < k) {
          val h = (x * mul(i) + add(i)) % MersennePrime61
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      e += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins) else nulls(k)
  }

  private val MersennePrime61 = (1L << 61) - 1
}
