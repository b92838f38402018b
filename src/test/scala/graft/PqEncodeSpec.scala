package graft

import org.apache.spark.sql.functions._

/** Native PqEncode expression (round 14, replaces q79/q79b's encode UDF —
  * VERDICT r13 item 7): must be bitwise the UDF it replaced on randomized
  * codebooks/vectors, the recnorm-via-ADC rewrite must be bitwise the
  * pqRecNormUdf it replaced, and the expression must resolve by SQL name
  * and reject bad types. */
class PqEncodeSpec extends SparkSpec {

  import graft.functions.AdcDot.adcDot
  import graft.functions.PqEncode.pqEncode

  private def randomCodebook(m: Int, ksub: Int, dsub: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    // centroid coordinates live on the 1e-6 grid of unit-ish floats:
    // |c| ≤ 2e6 in grid units, like fitPq's output
    Array.fill(m, ksub, dsub)((rnd.nextInt(4000001) - 2000000).toLong)
  }

  test("graft_pq_encode equals encodePqUdf bitwise on randomized inputs") {
    import spark.implicits._
    val m = 4; val ksub = 32; val dsub = 8
    val cb = randomCodebook(m, ksub, dsub, seed = 14)
    val rnd = new scala.util.Random(41)
    val vecs = Seq.fill(400)(
      IndexedSeq.fill(m * dsub)(rnd.nextFloat() * 2f - 1f))
    val df = vecs.toDF("v")
    val out = df.select(
      pqEncode(col("v"), graft.queries.VectorOps.pqCbFlat(cb), ksub, dsub).as("native"),
      PqReferenceUdfs.encodePqUdf(cb)(col("v")).as("ref")).collect()
    out.foreach { r =>
      assert(r.getSeq[Byte](0) == r.getSeq[Byte](1))
    }
    assert(out.nonEmpty)
  }

  test("sqrt(graft_adc_dot(n2flat, codes)) equals pqRecNormUdf bitwise") {
    import spark.implicits._
    val m = 4; val ksub = 32; val dsub = 8
    val cb = randomCodebook(m, ksub, dsub, seed = 99)
    val rnd = new scala.util.Random(7)
    val codeRows = Seq.fill(300)(
      IndexedSeq.fill(m)(rnd.nextInt(ksub).toByte))
    val df = codeRows.toDF("codes")
    val out = df.select(
      sqrt(adcDot(typedlit(graft.queries.VectorOps.pqN2Flat(cb)), col("codes"), ksub)).as("native"),
      PqReferenceUdfs.pqRecNormUdf(cb)(col("codes")).as("ref")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(out.nonEmpty)
  }

  test("graft_pq_encode resolves in SQL via the session extension") {
    import spark.implicits._
    // one subspace (m=1), ksub=2, dsub=2: centroid 0 = (0,0), centroid 1
    // = (1e6, 1e6) in grid units; vector (1.0f, 1.0f) lands on centroid 1
    Seq(Tuple1(Seq(1.0f, 1.0f))).toDF("v").createOrReplaceTempView("pq_t")
    val v = spark.sql(
      "SELECT graft_pq_encode(v, array(0L, 0L, 1000000L, 1000000L), 2, 2) AS c FROM pq_t")
      .collect()(0).getSeq[Byte](0)
    assert(v == Seq(1.toByte))
  }

  test("graft_pq_encode rejects wrong input types at analysis time") {
    import spark.implicits._
    Seq(Tuple1(Seq(1, 2))).toDF("v").createOrReplaceTempView("pq_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_pq_encode(v, array(0L), 1, 1) FROM pq_bad").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"))
  }
}
