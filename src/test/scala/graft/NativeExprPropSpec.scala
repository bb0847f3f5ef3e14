package graft

import graft.functions.{MinHash, ShingleHash, SimHash64}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the native Catalyst expressions: the distributed
  * evaluation (incl. codegen) must agree with the scalar references on
  * arbitrary inputs. */
class NativeExprPropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(prop: Prop, name: String): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val tokenGen: Gen[List[String]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)), Gen.oneOf("a", "b", "über", "東京", ""))))

  test("shingle_hash agrees with scalar reference on arbitrary tokens") {
    ShingleHash.register(spark)
    check(forAll(tokenGen, Gen.choose(1, 4)) { (toks, n) =>
      val got = Seq(Tuple1(toks)).toDF("t")
        .select(call_function("shingle_hash", col("t"), lit(n)).as("h"))
        .as[Seq[Long]].head()
      got == ShingleHash.referenceOf(toks, n)
    }, "shingle_hash")
  }

  test("simhash64 agrees with scalar reference on arbitrary tokens") {
    SimHash64.register(spark)
    check(forAll(tokenGen) { toks =>
      val got = Seq(Tuple1(toks)).toDF("t")
        .select(call_function("simhash64", col("t")).as("h"))
        .as[Long].head()
      got == SimHash64.referenceOf(toks)
    }, "simhash64")
  }

  test("int_dot agrees with the HOF spelling on arbitrary long vectors (incl. null edges)") {
    graft.functions.IntDot.register(spark)
    import graft.operators.Similarity
    // unequal lengths and null elements must NULL out exactly like
    // zip_with+aggregate (pad-with-null poisons the fold)
    val elemGen = Gen.frequency(
      9 -> Gen.choose(-10000L, 10000L).map(Option(_)),
      1 -> Gen.const(Option.empty[Long]))
    val vecGen = for {
      la <- Gen.choose(0, 16); lb <- Gen.choose(0, 16)
      a <- Gen.listOfN(la, elemGen); b <- Gen.listOfN(lb, elemGen)
    } yield (a, b)
    check(forAll(vecGen) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
        .select(call_function("int_dot", col("a"), col("b")).as("n"),
          Similarity.intDotHof(col("a"), col("b")).as("h"))
      val r = df.head()
      (r.isNullAt(0) && r.isNullAt(1)) ||
        (!r.isNullAt(0) && !r.isNullAt(1) && r.getLong(0) == r.getLong(1))
    }, "int_dot")
  }

  test("portable_buckets agrees with the composed when(intDot>=0) form (incl. mismatch edge)") {
    import graft.operators.Similarity
    graft.functions.IntDot.register(spark)
    // random small operating points + random vectors, INCLUDING wrong-
    // length vectors (the composed form's intDot-null → key-0 edge)
    val pointGen = for {
      tables <- Gen.choose(1, 5); bits <- Gen.choose(1, 8)
      seed <- Gen.choose(1L, 99L)
    } yield (tables, bits, seed)
    val vecGen = Gen.oneOf(Gen.const(8), Gen.const(7), Gen.const(0))
      .flatMap(n => Gen.listOfN(n, Gen.choose(-10000L, 10000L)))
    check(forAll(pointGen, vecGen) { case ((tables, bits, seed), v) =>
      val dim = 8
      val planes = Similarity.portableHyperplanes(dim, tables, bits, seed)
      val df = Seq(Tuple1(v)).toDF("__qv")
      val composed = df.select(array(planes.map { tbl =>
        tbl.zipWithIndex.map { case (p, b) =>
          when(Similarity.intDot(col("__qv"), typedLit(p.toSeq)) >= 0, lit(1L << b))
            .otherwise(lit(0L))
        }.reduce(_ + _)
      }: _*).as("k")).as[Seq[Long]].head()
      val native = df.select(
        graft.functions.PortableBuckets.column(col("__qv"), planes).as("k"))
        .as[Seq[Long]].head()
      composed == native
    }, "portable_buckets")
  }

  test("argmax_int_dot agrees with the composed array_max assignment (incl. mismatch edge)") {
    import graft.operators.Similarity
    graft.functions.IntDot.register(spark)
    val centGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0L, 50L), Gen.listOfN(8, Gen.choose(-100L, 100L)))))
    val vecGen = Gen.oneOf(Gen.const(8), Gen.const(7))
      .flatMap(n => Gen.listOfN(n, Gen.choose(-100L, 100L)))
    check(forAll(centGen, vecGen) { (centsRaw, v) =>
      // distinct cids (duplicate centroid ids can't occur — collectCentroids
      // reads a grouped frame) — dedup keeps the generator honest
      val cents = centsRaw.distinctBy(_._1).map { case (c, cv) => (c, cv: Seq[Long]) }
      val df = Seq(Tuple1(v)).toDF("__v")
      def read(c: org.apache.spark.sql.Column) = {
        val r = df.select(c.as("a")).select(col("a.cid"), col("a.s")).head()
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
      }
      read(Similarity.semAssignExpr(col("__v"), cents)) ==
        read(semAssignExprComposed(col("__v"), cents))
    }, "argmax_int_dot")
  }

  test("int_dot_lookup agrees with int_dot over the broadcast frame (incl. codegen path)") {
    // the round-15 fused verify primitive: for ids resolved through the
    // broadcast map, int_dot_lookup(a, b) must equal int_dot of the
    // looked-up arrays; unknown ids must NULL out (the dropped-row join
    // semantics). Evaluated through a real distributed plan so the
    // doGenCode path (addReferenceObj + lazily-initialized map state)
    // is what runs.
    graft.functions.IntDot.register(spark)
    val vecGen = Gen.listOfN(8, Gen.choose(-10000L, 10000L))
    check(forAll(Gen.listOfN(6, vecGen), Gen.choose(0L, 9L), Gen.choose(0L, 9L)) {
      (vecs, ia, ib) =>
        val m = new java.util.HashMap[java.lang.Long, Array[Int]]()
        vecs.zipWithIndex.foreach { case (v, i) =>
          m.put(i.toLong, graft.functions.IntDotLookup.pack(v)) }
        val bc = spark.sparkContext.broadcast(m)
        // the production spelling (direct Column, no registry); the
        // registry form stays available for SQL-text consumers and is
        // exercised once below
        val r = Seq((ia, ib)).toDF("id_a", "id_b")
          .select(graft.functions.IntDotLookup.column(col("id_a"), col("id_b"), bc).as("s"))
          .head()
        val expected =
          if (ia >= vecs.size || ib >= vecs.size) None
          else Some(vecs(ia.toInt).zip(vecs(ib.toInt)).map { case (x, y) => x * y }.sum)
        (expected, if (r.isNullAt(0)) None else Some(r.getLong(0))) match {
          case (None, None) => true
          case (Some(e), Some(g)) => e == g
          case _ => false
        }
    }, "int_dot_lookup")
    // registry form smoke: one resolution through SQL-text binding
    val m = new java.util.HashMap[java.lang.Long, Array[Int]]()
    m.put(0L, Array(2, 3)); m.put(1L, Array(5, 7))
    val bc = spark.sparkContext.broadcast(m)
    graft.functions.IntDotLookup.register(spark, bc)
    assert(Seq((0L, 1L)).toDF("id_a", "id_b")
      .select(call_function("int_dot_lookup", col("id_a"), col("id_b")).as("s"))
      .head().getLong(0) == 2L * 5L + 3L * 7L)
  }

  test("IntDotLookup.pack is lossless in range and fails fast past Int (round 17)") {
    // the packed verify representation's guard: the bound doubling is
    // only sound because components provably round-trip
    check(forAll(Gen.listOf(Gen.choose(Int.MinValue.toLong, Int.MaxValue.toLong))) { v =>
      graft.functions.IntDotLookup.pack(v).toSeq.map(_.toLong) == v
    }, "pack round-trip")
    assertThrows[IllegalArgumentException](
      graft.functions.IntDotLookup.pack(Seq(Int.MaxValue.toLong + 1)))
    assertThrows[IllegalArgumentException](
      graft.functions.IntDotLookup.pack(Seq(Int.MinValue.toLong - 1)))
  }

  test("native bucket expressions NULL out on a NULL vector (documented composed-form delta)") {
    // ADVICE r16: as UnaryExpressions with nullSafeEval the natives
    // return NULL for a NULL input vector where the composed forms
    // emitted all-zero keys (posexplode then DROPS the row) — the saner
    // contract, impossible to observe through the pair/search operators
    // (a null vector can never pass exact verification), and now pinned
    // instead of undocumented. Scaladocs state the same delta.
    import graft.operators.Similarity
    val qPlanes = Similarity.portableHyperplanes(4, 2, 3, 7L)
    val pRow = Seq(Tuple1(null: Seq[Long])).toDF("__qv")
      .select(graft.functions.PortableBuckets.column(col("__qv"), qPlanes).as("k")).head()
    assert(pRow.isNullAt(0), "portable_buckets(NULL) must be NULL")
    val aRow = Seq(Tuple1(null: Seq[Long])).toDF("__v")
      .select(Similarity.semAssignExpr(col("__v"), Seq((1L, Seq(1L, 2L, 3L, 4L)))).as("a")).head()
    assert(aRow.isNullAt(0), "argmax_int_dot(NULL) must be NULL")
  }

  /** The composed array_max spelling of `Similarity.semAssignExpr` — the
    * cross-check reference for its native expression. */
  private def semAssignExprComposed(vec: Column, cents: Seq[(Long, Seq[Long])]): Column = {
    val entries = cents.map { case (cid, cv) =>
      struct(graft.operators.Similarity.intDot(vec, typedlit(cv)).as("s"), lit(-cid).as("negcid"))
    }
    val best = array_max(array(entries: _*))
    struct((-best.getField("negcid")).as("cid"), best.getField("s").as("s"))
  }

  // The composed minhash spellings the native MinHash replaced in
  // TextDedup.minhashSignature / affineSignature — kept here as the
  // references: one `array_min(transform(...))` column per permutation.
  private def xxhashSignatureComposed(h: Column, k: Int): Column =
    array((0 until k).map { i =>
      when(size(h) === 0, lit(Long.MaxValue))
        .otherwise(array_min(transform(h, x => xxhash64(x, lit(i)))))
    }: _*)

  private def affineSignatureComposed(h: Column, coeffs: Seq[(Long, Long)]): Column =
    array(coeffs.map { case (a, b) =>
      when(size(h) === 0, lit(Long.MaxValue))
        .otherwise(array_min(transform(h, x => (x * a + b) % ((1L << 61) - 1))))
    }: _*)

  private type HashSet = Option[List[Option[Long]]] // None = NULL array

  // every edge of the contract, checked on each family before the random sets
  private val edgeSets: Seq[HashSet] = Seq(None, Some(Nil), Some(List(None)),
    Some(List(None, None, None)), Some(List(Some(7L))), Some(List(None, Some(7L), None)),
    Some(List(Some(3L), Some(3L), Some(0L))))

  private def setGen(elem: Gen[Long]): Gen[HashSet] = Gen.frequency(
    1 -> Gen.oneOf(edgeSets),
    6 -> Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, Gen.frequency(
      9 -> elem.map(Option(_)), 1 -> Gen.const(Option.empty[Long])))).map(Option(_)))

  private def read(a: ArrayData): Seq[Option[Long]] =
    (0 until a.numElements()).map(i => if (a.isNullAt(i)) None else Some(a.getLong(i)))

  /** The native signature through `eval`, through generated code and
    * through a DataFrame (the production Column), all equal to the
    * composed reference. */
  private def agrees(hs: HashSet, k: Int, coeffs: Seq[(Long, Long)],
                     composed: Column => Column, column: Column => Column): Boolean = {
    val row = InternalRow(hs.map(l => new GenericArrayData(l.map(_.fold(null: Any)(identity)).toArray)).orNull)
    val expr = MinHash(BoundReference(0, ArrayType(LongType), nullable = true), k, coeffs)
    val evaluated = read(expr.eval(row).asInstanceOf[ArrayData])
    val generated = read(GenerateUnsafeProjection.generate(Seq(expr)).apply(row).getArray(0))
    val r = Seq(Tuple1(hs.orNull)).toDF("h")
      .select(composed(col("h")).as("c"), column(col("h")).as("n")).head()
    def seqOf(i: Int) = r.getSeq[java.lang.Long](i).map(Option(_).map(_.longValue))
    val want = seqOf(0)
    want == seqOf(1) && want == evaluated && want == generated
  }

  test("minhash (xxhash family) agrees with the composed array_min(transform) spelling, eval and codegen") {
    val kGen = Gen.choose(1, 64)
    edgeSets.foreach { hs =>
      assert(agrees(hs, 5, Nil, xxhashSignatureComposed(_, 5), MinHash.xxhash(_, 5)), s"edge $hs")
    }
    check(forAll(setGen(Gen.long), kGen) { (hs, k) =>
      agrees(hs, k, Nil, xxhashSignatureComposed(_, k), MinHash.xxhash(_, k))
    }, "minhash xxhash")
  }

  test("minhash (affine family) agrees with the composed array_min(transform) spelling, eval and codegen") {
    import graft.operators.TextDedup.affineCoeffs
    // portable hashes are unsigned 32-bit values: the range where the
    // composed ANSI arithmetic cannot overflow
    edgeSets.foreach { hs =>
      val coeffs = affineCoeffs(4)
      assert(agrees(hs, 4, coeffs, affineSignatureComposed(_, coeffs), MinHash.affine(_, coeffs)),
        s"edge $hs")
    }
    check(forAll(setGen(Gen.choose(0L, 0xFFFFFFFFL)), Gen.choose(1, 16), Gen.choose(1L, 99L)) {
      (hs, k, seed) =>
        val coeffs = affineCoeffs(k, seed)
        agrees(hs, k, coeffs, affineSignatureComposed(_, coeffs), MinHash.affine(_, coeffs))
    }, "minhash affine")
    // the documented divergence outside that range: the composed form
    // throws under ANSI, the native loop wraps
    val big = Seq(Tuple1(Seq(Long.MaxValue / 2))).toDF("h")
    assert(big.select(MinHash.affine(col("h"), Seq((3L, 1L))).as("n")).head().getSeq[Long](0).size == 1)
    assertThrows[Exception](big.select(affineSignatureComposed(col("h"), Seq((3L, 1L)))).head())
  }
}
