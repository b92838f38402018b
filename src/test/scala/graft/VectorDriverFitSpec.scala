package graft

import org.apache.spark.sql.functions._

/** fitKmeansGrid's driver side (one collect + driver-thread Lloyd
  * rounds below KmeansDriverFitGate) must be BITWISE its distributed
  * side — same seeds, same NearestCellsGrid assignment semantics, same
  * exact-long (cell, pos) sums, same rndAway/gridNormalize steps. Both
  * named sides run on the same fixture. */
class VectorDriverFitSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("driver-side kmeans fit equals the distributed fit bitwise") {
    val e = graft.engine.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val driver = graft.queries.VectorOps.fitKmeansGridDriver(e, 16, 3)
    val dist = graft.queries.VectorOps.fitKmeansGridDistributed(e, 16, 3)
    assert(driver.length == dist.length)
    driver.indices.foreach { c =>
      assert(driver(c).sameElements(dist(c)), s"centroid $c differs")
    }
    // non-vacuous: the fit must actually move some centroid off its seed
    val seeds = graft.queries.VectorOps.fitKmeansGridDriver(e, 16, 0)
    assert(driver.indices.exists(c => !driver(c).sameElements(seeds(c))),
      "3 Lloyd rounds should move at least one centroid")
  }

  test("q43/q62/q79b call sites sit below the driver gate on the fixture") {
    // the gate is parquet-layout metadata: on every test fixture the
    // embeddings table is far below 64 MB, so the driver path is the one
    // the oracled queries actually exercise (the distributed path is
    // covered by the bitwise pin above)
    assert(graft.queries.tableBytes(dir, "embeddings") <=
      graft.queries.VectorOps.KmeansDriverFitGate)
  }
}
