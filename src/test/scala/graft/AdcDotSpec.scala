package graft

import org.apache.spark.sql.functions._

/** Native AdcDot expression (round 13, replaces q79/q79b's scoring UDF):
  * must be bitwise the UDF it replaced on randomized LUT/code shapes and
  * on the real q79 pipeline frames, and resolve by its SQL name. */
class AdcDotSpec extends SparkSpec {

  import graft.functions.AdcDot.adcDot

  test("graft_adc_dot equals the scoring UDF bitwise on randomized inputs") {
    import spark.implicits._
    val ksub = 16
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(300) {
      val m = 1 + rnd.nextInt(12)
      val lut = Array.fill(m * ksub)(rnd.nextLong() % (8L * 100000000000000L))
      // codes cover the signed-byte range: the unsigned read-back
      // (& 0xff) is part of the pinned semantics
      val codes = Array.fill(m)((rnd.nextInt(ksub) - ksub / 2).toByte)
      (lut, codes)
    }
    // the UDF indexes lut(j*ksub + (code & 0xff)) — keep codes within
    // [0, ksub) after the unsigned read so both sides stay in range
    // Seq[Byte], not Array[Byte]: the latter maps to BINARY, the
    // pipeline's codes column is array<tinyint>
    val safe = rows.map { case (lut, codes) =>
      (lut.toSeq, codes.map(c => ((c & 0xff) % ksub).toByte).toIndexedSeq)
    }
    val df = safe.toDF("lut", "codes")
    val out = df.select(
      adcDot(col("lut"), col("codes"), ksub).as("native"),
      PqReferenceUdfs.adcDotUdf(ksub)(col("lut"), col("codes")).as("ref")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(out.nonEmpty)
  }

  test("graft_adc_dot resolves in SQL via the session extension") {
    import spark.implicits._
    Seq((Seq(10L, 20L, 30L, 40L), Seq(1.toByte, 0.toByte)))
      .toDF("lut", "codes").createOrReplaceTempView("adc_t")
    val v = spark.sql("SELECT graft_adc_dot(lut, codes, 2) AS d FROM adc_t")
      .collect()(0).getLong(0)
    // j=0: lut(0*2 + 1) = 20; j=1: lut(1*2 + 0) = 30
    assert(v == 50L)
  }

  test("graft_adc_dot rejects wrong input types at analysis time") {
    import spark.implicits._
    Seq((Seq(1, 2), Seq(1.toByte))).toDF("lut", "codes")
      .createOrReplaceTempView("adc_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_adc_dot(lut, codes, 2) FROM adc_bad").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"))
  }
}
