package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

object NearestCells {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{call_function, lit, typedlit}

  /** Column API: `k` nearest INTEGER-GRID cells of a grid-quantized
    * vector (see VectorOps.fitKmeansGrid) under the fitted `cents`
    * matrix (embedded as a foldable literal — model state rides the
    * plan, the data never sees a driver round trip). */
  def nearestCellsGrid(vn: Column, cents: Array[Array[Long]], k: Int): Column =
    call_function("graft_nearest_cells_grid", vn,
      typedlit(cents.map(_.toSeq).toSeq), lit(k))
}

/** Native Catalyst expression: the `k` nearest centroid cells of a
  * grid-quantized vector — the IVF coarse-quantizer assignment (k=1)
  * and multi-probe set (k=nprobe) in one fused, whole-stage-codegen'd
  * kernel, so an index-build scan never leaves codegen for a per-row
  * interpreted loop.
  *
  * `graft_nearest_cells_grid(vn, centroids, k)`: `centroids` and `k`
  * must be foldable (the centroid matrix is MODEL state — a literal
  * nlist×dim array fitted on the driver, the FAISS posture), so both
  * are evaluated once and the generated loop references the decoded
  * `long[][]` directly.
  *
  * The quantizer is EXACT-INTEGER-GRID (VectorOps.fitKmeansGrid): the
  * vector is an array<bigint> of 1e-6-grid numerators, each centroid an
  * array<bigint> of 1e-8-grid numerators, and the score is
  * cosine-equivalent dotN/‖cN‖ where dotN = Σ vnᵢ·cnᵢ is an EXACT long
  * (|vn| ≲ 1e7, |cn| ≤ 1e8+1, dim ≤ 64 → |dotN| ≤ 6.4e16 < 2^63) and
  * ‖cN‖ = sqrt((Σ cnᵢ²).toDouble) — the long→double conversions are
  * IEEE round-to-nearest in both the JVM and DuckDB's HUGEINT→DOUBLE
  * cast, so the whole score is a DETERMINISTIC function of the exact
  * integers and the assignment is replayable in SQL (the q62/q43
  * oracles). A zero-norm centroid (all-zero grid vector) scores the
  * sentinel -1e308 — total, never best unless every cell is degenerate,
  * and identical in the oracle's CASE arm.
  *
  * Output cells are ordered by score DESCENDING with ties broken toward
  * the LOWER cell id — exactly a stable sort by -score followed by
  * take(k) (NearestCellsSpec pins the equivalence), so the IVF index
  * layout is deterministic across engines and partitionings. Each dot
  * iterates min(vector dim, centroid dim): a longer vector is clamped,
  * never indexed past the centroid. */
case class NearestCellsGrid(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = first.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val cOk = second.dataType match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    }
    val kOk = third.dataType == IntegerType
    if (!vOk || !cOk || !kOk)
      TypeCheckResult.TypeCheckFailure(
        "graft_nearest_cells_grid expects (array<bigint>, array<array<bigint>>, int), got " +
          Seq(first, second, third).map(_.dataType.catalogString).mkString(", "))
    else if (!second.foldable || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_nearest_cells_grid centroids and k must be foldable (model state, not data)")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_nearest_cells_grid"

  @transient private lazy val cents: Array[Array[Long]] = {
    val ad = second.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toLongArray())
  }

  /** Per-cell norm ‖cN‖, precomputed once (model state): sqrt of the
    * EXACT long Σ cn² via the deterministic long→double cast. */
  @transient private lazy val norms: Array[Double] = cents.map { ct =>
    var s = 0L; var i = 0
    while (i < ct.length) { s += ct(i) * ct(i); i += 1 }
    math.sqrt(s.toDouble)
  }

  @transient private lazy val kVal: Int = third.eval().asInstanceOf[Int]

  private[functions] def topCells(get: Int => Long, dim: Int): Array[Int] = {
    val n = cents.length
    val ds = new Array[Double](n)
    var c = 0
    while (c < n) {
      val ct = cents(c); val m = math.min(dim, ct.length); var d = 0L; var i = 0
      while (i < m) { d += ct(i) * get(i); i += 1 }
      ds(c) = if (norms(c) == 0) -1e308 else d.toDouble / norms(c)
      c += 1
    }
    val kk = math.min(kVal, n)
    val out = new Array[Int](kk)
    val used = new Array[Boolean](n)
    var j = 0
    while (j < kk) {
      var best = -1; var bd = Double.NegativeInfinity
      var c2 = 0
      while (c2 < n) {
        if (!used(c2) && ds(c2) > bd) { bd = ds(c2); best = c2 }
        c2 += 1
      }
      if (best < 0) { // unreachable (scores are never NaN) — kept total
        var c3 = 0
        while (best < 0 && c3 < n) { if (!used(c3)) best = c3; c3 += 1 }
      }
      used(best) = true; out(j) = best; j += 1
    }
    out
  }

  override protected def nullSafeEval(v: Any, c: Any, k: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    new GenericArrayData(topCells(i => x.getLong(i), x.numElements()))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _, _) => {
      val cRef = ctx.addReferenceObj("cents", cents, "long[][]")
      val nRef = ctx.addReferenceObj("norms", norms, "double[]")
      val n = ctx.freshName("n"); val dim = ctx.freshName("dim")
      val ds = ctx.freshName("ds"); val used = ctx.freshName("used")
      val out = ctx.freshName("out"); val kk = ctx.freshName("kk")
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val best = ctx.freshName("best")
      val bd = ctx.freshName("bd"); val ct = ctx.freshName("ct")
      val d = ctx.freshName("d")
      s"""
         |int $n = $cRef.length;
         |int $dim = $a.numElements();
         |double[] $ds = new double[$n];
         |for (int $c = 0; $c < $n; $c++) {
         |  long[] $ct = $cRef[$c];
         |  int ${d}m = java.lang.Math.min($dim, $ct.length);
         |  long $d = 0L;
         |  for (int $i = 0; $i < ${d}m; $i++) {
         |    $d += $ct[$i] * $a.getLong($i);
         |  }
         |  $ds[$c] = ($nRef[$c] == 0) ? -1e308 : ((double) $d) / $nRef[$c];
         |}
         |int $kk = java.lang.Math.min($kVal, $n);
         |int[] $out = new int[$kk];
         |boolean[] $used = new boolean[$n];
         |for (int $j = 0; $j < $kk; $j++) {
         |  int $best = -1; double $bd = Double.NEGATIVE_INFINITY;
         |  for (int $c = 0; $c < $n; $c++) {
         |    if (!$used[$c] && $ds[$c] > $bd) { $bd = $ds[$c]; $best = $c; }
         |  }
         |  if ($best < 0) { // unreachable (scores never NaN) — kept total
         |    for (int $c = 0; $best < 0 && $c < $n; $c++) {
         |      if (!$used[$c]) $best = $c;
         |    }
         |  }
         |  $used[$best] = true; $out[$j] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCellsGrid =
    copy(first = newFirst, second = newSecond, third = newThird)
}
