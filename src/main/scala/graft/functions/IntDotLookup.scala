package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Integer dot product of two BROADCAST-RESIDENT quantized vectors looked
  * up by id — the fused verify primitive of every embedding-LSH pair
  * runner (round 15).
  *
  * The former shape verified candidates through TWO BroadcastHashJoins
  * (each shipping the full quantized frame) followed by [[IntDot]]; this
  * expression is the same computation with the join machinery removed:
  * ONE broadcast of the frame (where the two joins broadcast it twice),
  * two hash lookups and a fused primitive loop per candidate row, inside
  * whole-stage codegen — no per-candidate UnsafeRow materialization of
  * two 64-long arrays. ProfileQ84 measured the two-join verify as ~60%
  * of the 10× broadcast-regime wall; this is the constant-factor cut on
  * the LSH law's candidate volume (candidates ~ n^(1+ρ) is the part no
  * constant can fix — BASELINE.md round 15).
  *
  * Scale contract: every caller bounds the map it builds — the monolithic
  * runners throw past `Similarity.broadcastVerifyMaxRows` (the same
  * rows×dim budget the former double-broadcast paid twice) and the
  * sharded runners size each job's map at about that bound. Executors read
  * the map through `Broadcast.value` (torrent-fetched once per executor,
  * never shipped per task). NULL when either id is absent from the
  * frame (cannot happen for candidates generated from the same frame —
  * defensive, mirrors the join semantics where an absent id drops the
  * row; droppability is the caller's filter on the NULL score).
  */
case class IntDotLookup(left: Expression, right: Expression,
                        vectors: Broadcast[java.util.HashMap[java.lang.Long, Array[Int]]])
  extends BinaryExpression {

  private def idOk(dt: DataType): Boolean = dt == LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (idOk(left.dataType) && idOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_dot_lookup requires bigint ids, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "int_dot_lookup"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    IntDotLookup.compute(vectors.value, l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the Broadcast HANDLE (tiny) in the generated code's
    // references array; the map itself is fetched once per executor via
    // the broadcast manager, and cached in a lazily-initialized mutable
    // state slot so the per-row path is two hash lookups + the dot loop
    val bcRef = ctx.addReferenceObj("vectorsBc", vectors,
      classOf[Broadcast[java.util.HashMap[java.lang.Long, Array[Int]]]].getName)
    val mapVar = ctx.addMutableState("java.util.HashMap", "intDotLookupMap",
      v => s"$v = (java.util.HashMap) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |java.lang.Long ${ev.value}_r = graft.functions.IntDotLookup.compute($mapVar, $a, $b);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntDotLookup =
    copy(left = newLeft, right = newRight)
}

object IntDotLookup {

  /** Column wrapping `IntDotLookup(a, b, vectors)` DIRECTLY — no
    * session-global registry mutation (round-15 advice: the register
    * idiom relied on every consumer frame being analyzed eagerly before
    * the next register(); a plan re-resolved from SQL text after a later
    * call would silently bind the wrong broadcast). The broadcast handle
    * is baked into this expression instance at construction. */
  def column(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             vectors: Broadcast[java.util.HashMap[java.lang.Long, Array[Int]]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      IntDotLookup(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b), vectors))
  }

  /** Bind `int_dot_lookup(id_a, id_b)` to THIS broadcast for frames built
    * after the call (analysis is eager at frame creation, so earlier
    * frames keep the instance they resolved — the closure-parameterized
    * variant of the IntDot register idiom). Kept for SQL-text consumers;
    * Scala callers should prefer [[column]], which has no registry
    * ordering invariant. */
  def register(spark: org.apache.spark.sql.SparkSession,
               vectors: Broadcast[java.util.HashMap[java.lang.Long, Array[Int]]]): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "int_dot_lookup", exprs => IntDotLookup(exprs(0), exprs(1), vectors), "built-in")

  /** Pack one quantized vector into the Int map representation with a
    * losslessness check: ±10⁴-scaled unit-norm components are ≤ 10⁴ in
    * magnitude by contract, so Int (4 B) carries them exactly — half the
    * former Array[Long] footprint, which is what doubles
    * `Similarity.broadcastVerifyMaxRows` at the same measured byte
    * budget (round 17, verdict #5). A component outside Int range fails
    * fast rather than silently truncating the dot. */
  def pack(v: Seq[Long]): Array[Int] = {
    val a = new Array[Int](v.length)
    var i = 0
    val it = v.iterator
    while (it.hasNext) {
      val l = it.next()
      val x = l.toInt
      require(x.toLong == l,
        s"quantized component $l overflows the packed Int verify representation")
      a(i) = x
      i += 1
    }
    a
  }

  /** Called from generated code. Boxed NULL when either id is absent.
    * Products and the accumulator stay in Long: two ±10⁴ Ints multiply
    * to ≤ 10⁸ and 64 such terms reach 6.4×10⁹ — past Int, well inside
    * Long. */
  def compute(m: java.util.HashMap[java.lang.Long, Array[Int]],
              a: Long, b: Long): java.lang.Long = {
    val va = m.get(a)
    if (va == null) return null
    val vb = m.get(b)
    if (vb == null || va.length != vb.length) return null
    var dot = 0L
    var i = 0
    while (i < va.length) { dot += va(i).toLong * vb(i); i += 1 }
    java.lang.Long.valueOf(dot)
  }
}
