package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, FloatType, IntegerType, LongType}

/** Native Catalyst expression: PQ encode —
  * `graft_pq_encode(vec, cbflat, ksub, dsub)` = the vector's `m` 8-bit
  * codes (m = cbflat.length / (ksub·dsub)), one per subspace: the
  * L2-nearest codebook entry on the exact 1e-6 integer grid
  * (vnᵢ = rndAway(vᵢ·1e6), the q61 determinism argument — the product
  * of a 24-bit-mantissa float and 1e6 is exact in double).
  *
  * Replaces the `encodePqUdf` UDF, now the test-scope bitwise reference
  * `graft.PqReferenceUdfs.encodePqUdf` (round 14, VERDICT r13 item 7 —
  * the last interpreted per-row closure in the ANN encode stage): the
  * UDF form paid a CatalystTypeConverters round trip per corpus row
  * (ArrayData → boxed Seq[Float] in, Seq[Byte] → ArrayData out) around
  * the same primitive loops. As an expression the floats are read from
  * the Tungsten array in place and the codes leave as one
  * UnsafeArrayData.fromPrimitiveArray — no boxing anywhere.
  * PqEncodeSpec pins bitwise equality with the retained reference UDF.
  *
  * The flattened codebook rides as a foldable literal
  * (m·ksub·dsub longs ≈ 128 KB at q79's geometry) — plan-side model
  * state, same class as the broadcast LUT column. */
case class PqEncode(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = first.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val cbOk = second.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (!vecOk || !cbOk || third.dataType != IntegerType ||
        fourth.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode expects (array<float>, array<bigint>, int, int), got " +
          Seq(first, second, third, fourth).map(_.dataType.catalogString).mkString(", "))
    else if (!second.foldable || !third.foldable || !fourth.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_pq_encode codebook and geometry must be foldable (model state, not data)")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val ksub: Int = third.eval().asInstanceOf[Int]
  @transient private lazy val dsub: Int = fourth.eval().asInstanceOf[Int]

  override protected def nullSafeEval(v: Any, c: Any, k: Any, d: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cb = c.asInstanceOf[ArrayData]
    ArrayData.toArrayData(
      PqEncode.encode(vec, cb, ksub, dsub))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c, _, _) => {
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
         |  graft.functions.PqEncode.encode($v, $c, $ksub, $dsub));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): PqEncode =
    copy(first = f, second = s, third = t, fourth = q)
}

object PqEncode {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{call_function, lit, typedlit}

  /** The codebook literal evaluates to ONE ArrayData instance per plan
    * (held in the codegen references array), but a GenericArrayData
    * literal UNBOXES on every getLong — m·ksub·dsub ≈ 16k unboxings per
    * row, measured SLOWER than the captured-primitive-array UDF this
    * expression replaces (ProbePqEncodeAB, since removed: 0.162 vs
    * 0.089 cpu-s).
    * Materialize the primitive long[] once per (thread, literal) and
    * re-use it by REFERENCE identity — hit rate ~100% because codegen
    * passes the same object every row. */
  private val lastCb = new ThreadLocal[(ArrayData, Array[Long])]

  private def cbLongs(cb: ArrayData): Array[Long] = {
    val c = lastCb.get()
    if (c != null && (c._1 eq cb)) c._2
    else {
      val arr = cb.toLongArray()
      lastCb.set((cb, arr))
      arr
    }
  }

  /** The fused primitive kernel, shared by the interpreted path and the
    * generated code (one static call per row — the per-row work is the
    * m·ksub·dsub distance loop, not the call). Reads the float vector
    * directly from Tungsten ArrayData and the flattened codebook
    * (cb[((j·ksub)+k)·dsub + i]) through the thread-local primitive
    * view; quantizes once per row (the r13 hoist); bitwise-identical
    * arithmetic to encodePqUdf. */
  def encode(vec: ArrayData, cbData: ArrayData, ksub: Int, dsub: Int): Array[Byte] = {
    val cb = cbLongs(cbData)
    val n = vec.numElements()
    val vn = new Array[Long](n)
    var x = 0
    while (x < n) {
      val d = vec.getFloat(x).toDouble * 1e6
      vn(x) = if (d >= 0) math.floor(d + 0.5).toLong else -math.floor(-d + 0.5).toLong
      x += 1
    }
    val m = cb.length / (ksub * dsub)
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0; var bestD = Long.MaxValue
      var k = 0
      while (k < ksub) {
        val base = (j * ksub + k) * dsub
        var d = 0L; var i = 0
        while (i < dsub) {
          val diff = vn(j * dsub + i) - cb(base + i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  /** Column API: encode a float vector against a flattened codebook. */
  def pqEncode(vec: Column, cbFlat: Array[Long], ksub: Int, dsub: Int): Column =
    call_function("graft_pq_encode", vec, typedlit(cbFlat), lit(ksub), lit(dsub))
}
