package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All LSH bucket keys of one quantized vector against a BAKED-IN ±1
  * hyperplane matrix — array<long> indexed by table, bucket = Σ_b
  * (dot(qv, plane_tb) >= 0) << b.
  *
  * Round 16: the composed form (tables × bits inlined `when(intDot ≥ 0)`
  * sums inside one projection) outgrows janino's 64 KB method limit at
  * the 100× rule point (bits 13 × tables 36 = 468 inlined dot
  * expressions — whole-stage codegen THROWS and the signature pass of
  * every q84-family operator silently runs interpreted, exactly at the
  * scale where it matters). This expression is the same computation as
  * one tight triple loop over a constant Long matrix: bytecode size is
  * independent of the operating point, so the signature pass stays
  * inside whole-stage codegen at ANY rule-derived width (the IntDot
  * native-expression precedent).
  *
  * Semantics replicate the composed form for every NON-NULL input,
  * including the mismatch edge: a non-`dim`-length vector contributed 0
  * per bit there (intDot's null on length mismatch → `when`'s
  * otherwise-0), so every table's key is 0 — same here. ONE intentional
  * delta (ADVICE r16, pinned in NativeExprPropSpec): a NULL vector
  * propagates NULL (standard UnaryExpression nullSafeEval — posexplode
  * then drops the row) where the composed form emitted all-zero keys;
  * a null vector can never survive exact verification, so no pair or
  * search result moves.
  *
  * `planes` is the flattened tables × bits × dim matrix (row-major) —
  * `Similarity.portableHyperplanes` order. */
case class PortableBuckets(child: Expression, planes: Array[Long],
                           tables: Int, bits: Int, dim: Int)
  extends UnaryExpression {

  require(planes.length == tables * bits * dim,
    s"plane matrix ${planes.length} != $tables x $bits x $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_buckets"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    new GenericArrayData(PortableBuckets.compute(planes, tables, bits, dim, arr))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "long[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PortableBuckets.compute($planesRef, $tables, $bits, $dim, $v));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PortableBuckets =
    copy(child = newChild)
}

object PortableBuckets {

  /** Column form — expression constructed directly (GraftColumnBridge),
    * planes in `Similarity.portableHyperplanes` layout. */
  def column(vec: org.apache.spark.sql.Column,
             planes: Seq[Seq[Array[Long]]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    val tables = planes.length
    val bits = if (tables == 0) 0 else planes.head.length
    val dim = if (bits == 0) 0 else planes.head.head.length
    val flat = new Array[Long](tables * bits * dim)
    var i = 0
    planes.foreach(_.foreach { p =>
      require(p.length == dim, "ragged plane matrix")
      System.arraycopy(p, 0, flat, i, dim); i += dim
    })
    GraftColumnBridge.column(
      PortableBuckets(GraftColumnBridge.expression(vec), flat, tables, bits, dim))
  }

  /** Called from generated code. One pass over the constant matrix; a
    * vector of the wrong length keys every table at 0 (the composed
    * form's intDot-null edge). */
  def compute(planes: Array[Long], tables: Int, bits: Int, dim: Int,
              vec: ArrayData): Array[Long] = {
    val out = new Array[Long](tables)
    if (vec.numElements() != dim) return out
    val v = vec.toLongArray()
    var t = 0
    var off = 0
    while (t < tables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        var dot = 0L
        var i = 0
        while (i < dim) { dot += v(i) * planes(off + i); i += 1 }
        if (dot >= 0L) key |= 1L << b
        off += dim
        b += 1
      }
      out(t) = key
      t += 1
    }
    out
  }
}
