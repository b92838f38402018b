package graft

import org.apache.spark.sql.functions._

import graft.functions.NearestCells.nearestCellsGrid

/** Native NearestCellsGrid expression (graft.functions.NearestCellsGrid),
  * the IVF assignment/probe kernel q43, q62 and q79b run: it must
  * reproduce the interpreted exact-long-dot / norm, stable-sort-desc,
  * take-k semantics EXACTLY — the IVF index layout, the DuckDB oracle
  * replay and every recall gate downstream depend on deterministic cell
  * ids. */
class NearestCellsSpec extends SparkSpec {

  /** Random centroids on the 1e-8 grid (|cn| ≤ 1e8, as fitKmeansGrid's). */
  private def mkCents(n: Int, dim: Int, seed: Int): Array[Array[Long]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(dim)((rnd.nextGaussian() * 2e7).toLong))
  }

  /** Random vectors on the 1e-6 grid (|vn| ≲ 1e6, as gridVec's). */
  private def mkVec(dim: Int, rnd: scala.util.Random): Array[Long] =
    Array.fill(dim)(((rnd.nextFloat() * 2 - 1) * 1e6).toLong)

  /** The interpreted reference: exact long dot / sqrt((Σ cn²).toDouble),
    * -1e308 for a zero-norm centroid, stable sort by -score, take k. */
  private def refCells(cs: Array[Array[Long]], v: Array[Long], k: Int): Seq[Int] =
    cs.indices.map { c =>
      val ct = cs(c)
      val dot = ct.indices.map(i => ct(i) * v(i)).sum
      val nrm = math.sqrt(ct.map(x => x * x).sum.toDouble)
      (c, if (nrm == 0) -1e308 else dot.toDouble / nrm)
    }.sortBy(-_._2).take(k).map(_._1)

  test("graft_nearest_cells_grid equals the interpreted stable top-k") {
    import spark.implicits._
    val cents = mkCents(16, 64, 11)
    val rnd = new scala.util.Random(13)
    val rows = Seq.tabulate(200)(i => (i.toLong, mkVec(64, rnd)))
    val got = rows.toDF("id", "vn")
      .select(col("id"), nearestCellsGrid(col("vn"), cents, 4).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (id, v) =>
      assert(got(id) == refCells(cents, v, 4), s"vector $id")
    }
  }

  test("ties break toward the lower cell id (duplicate centroids)") {
    import spark.implicits._
    val c = Array.fill(8)(1L)
    // cells 1 and 3 are identical; both beat the orthogonal cell 0,
    // which beats the opposed cell 2
    val cents = Array(Array.tabulate(8)(i => if (i % 2 == 0) 1L else -1L), c,
      Array.fill(8)(-1L), c.clone())
    val out = Seq(Tuple1(Array.fill(8)(1L))).toDF("vn")
      .select(nearestCellsGrid(col("vn"), cents, 3).as("cells"))
      .head().getSeq[Int](0)
    assert(out == Seq(1, 3, 0), s"stable tie order violated: $out")
  }

  test("the expression resolves through SQL and k=1 matches the argmax form") {
    import spark.implicits._
    val cents = mkCents(8, 16, 3)
    val rnd = new scala.util.Random(17)
    val rows = Seq.tabulate(50)(i => (i.toLong, mkVec(16, rnd)))
    rows.toDF("id", "vn").createOrReplaceTempView("nc_t")
    val lit = cents.map(_.map(v => s"${v}L").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val viaSql = spark.sql(
      s"SELECT id, element_at(graft_nearest_cells_grid(vn, $lit, 1), 1) AS cell FROM nc_t")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaCol = spark.table("nc_t")
      .select(col("id"), element_at(nearestCellsGrid(col("vn"), cents, 1), 1).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaSql == viaCol)
    // argmax = head of the full ranking
    rows.foreach { case (id, v) => assert(viaSql(id) == refCells(cents, v, 1).head, s"vector $id") }
  }

  test("long vectors clamp to centroid dim; zero-norm cells rank last") {
    import spark.implicits._
    val cents = mkCents(4, 8, 7)
    // vector longer than the centroid dim: iterate min(dims) — must not
    // throw AIOOBE
    val long = Seq(Tuple1(Array.fill(12)(1000000L))).toDF("vn")
      .select(nearestCellsGrid(col("vn"), cents, 1).as("cells"))
      .head().getSeq[Int](0)
    assert(long == refCells(cents, Array.fill(8)(1000000L), 1), s"clamped dot mismatch: $long")
    // a zero-norm centroid scores the sentinel: ranked below every real
    // score however negative, and among degenerate cells the lower id
    // first
    val zero = Array.fill(8)(0L)
    val neg = Array.fill(8)(-100000000L)
    val vn = Seq(Tuple1(Array.fill(8)(1000000L))).toDF("vn")
    val ranked = vn.select(nearestCellsGrid(col("vn"), Array(zero, neg, zero.clone()), 3))
      .head().getSeq[Int](0)
    assert(ranked == Seq(1, 0, 2), s"zero-norm cells must rank last: $ranked")
    val allZero = vn.select(nearestCellsGrid(col("vn"), Array.fill(3)(zero), 2))
      .head().getSeq[Int](0)
    assert(allZero == Seq(0, 1), s"all-degenerate cells keep id order: $allZero")
  }

  test("the IVF build scan stays whole-stage codegen (no BatchEvalPython/ScalaUDF)") {
    import spark.implicits._
    val cents = mkCents(16, 64, 5)
    val rnd = new scala.util.Random(19)
    val tmp = java.nio.file.Files.createTempDirectory("nc-scan").toString
    Seq.tabulate(100)(i => (i.toLong, mkVec(64, rnd)))
      .toDF("vec_id", "vn").write.parquet(s"$tmp/grid")
    // the production assignment column (k=1) over a scan of grid vectors
    val e = spark.read.parquet(s"$tmp/grid")
      .select(col("vec_id"),
        graft.queries.VectorOps.assignCellGrid(col("vn"), cents).as("cell"))
    val p = e.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"),
      s"assignment must be a native expression:\n$p")
    // formatted explain marks whole-stage-codegen operators with '*'
    assert(p.contains("* Project"), s"assignment must stay codegen'd:\n$p")
  }
}
