package graft

import org.apache.spark.sql.functions._

/** Bitwise gate for the fused graft_simhash expression: it must equal
  * the exploded 64-column aggregation form it replaced, value for
  * value — same per-token hash (first 8 bytes of md5 over UTF-8 bytes,
  * big-endian: the hash q27's DuckDB oracle recomputes from
  * `substr(md5(w), 1, 16)`), same ±1 counters, same >= 0 sign packing.
  * The reference hash here is an INDEPENDENT implementation
  * (MessageDigest + ByteBuffer.getLong big-endian), not the
  * expression's shift loop. */
class SimHashSpec extends SparkSpec {

  /** Independent md5-first-8-bytes-big-endian token hash. */
  private val md5Long = udf { (w: String) =>
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(dig).getLong
  }

  /** The aggregation form q27 originally shipped with, verbatim (only
    * the per-token hash swapped to the oracle-shared md5-64). */
  private def aggSimhash(tokens: org.apache.spark.sql.DataFrame) = {
    val toks = tokens.select(col("doc_id"), explode(col("toks")).as("w"))
      .select(col("doc_id"), md5Long(col("w")).as("th"))
    val bitSums = (0 until 64).map(k =>
      sum(shiftrightunsigned(col("th"), k).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$k"))
    val sig = (0 until 64)
      .map(k => when(col(s"s$k") >= 0, shiftleft(lit(1L), k)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
  }

  test("graft_simhash equals the 64-column aggregation form bitwise on the fixture") {
    val tokens = engine.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        array_distinct(expr(
          s"filter(split(${graft.queries.Pipeline.normExprStr}, ' '), w -> length(w) > 0)")).as("toks"))
      .filter(size(col("toks")) > 0)
    val fused = tokens.select(col("doc_id"), expr("graft_simhash(toks)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = aggSimhash(tokens).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused.nonEmpty && fused == agg)
  }

  test("graft_simhash edge cases: unicode tokens, single token, empty array") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("héllo", "wörld", "日本語")),
      (2L, Seq("x")),
      (3L, Seq.empty[String]))
      .toDF("doc_id", "toks")
      // toDF infers containsNull=true for Seq[String]; the expression
      // demands non-null slots, so assert that coalesce satisfies it
      .select(col("doc_id"), expr("transform(toks, x -> coalesce(x, ''))").as("toks"))
    val fused = df.select(col("doc_id"), expr("graft_simhash(toks)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = aggSimhash(df.filter(size(col("toks")) > 0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused(1L) == agg(1L) && fused(2L) == agg(2L))
    // empty set: all counters 0 => every bit passes >= 0 (documented)
    assert(fused(3L) == -1L)
    // single token: signature IS the token's hash bit pattern
    val h = df.filter($"doc_id" === 2L)
      .select(md5Long(element_at(col("toks"), 1))).head().getLong(0)
    assert(fused(2L) == h)
  }

  test("tokenHash matches the DuckDB hex-prefix formula's big-endian read") {
    // pin the byte order against a hand-computed value: md5("hello") =
    // 5d41402abc4b2a76b9719d911017c592 -> first 16 hex chars as uint64
    val h = functions.SimHash.tokenHash("hello".getBytes("UTF-8"))
    assert(h == 0x5d41402abc4b2a76L)
  }
}
