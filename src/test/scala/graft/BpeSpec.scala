package graft

import org.apache.spark.sql.functions._

import graft.queries.TextOps

/** Gate for q69 BPE merge learning: both sides of the driver-finish
  * gate (the driver merge loop and the distributed Iterate rounds)
  * must produce EXACTLY the merge list a sequential textbook
  * implementation (Sennrich et al. 2016, greedy leftmost application,
  * ties on count DESC then pair ASC) derives from the same word
  * frequencies — on a hand-checkable synthetic corpus and on the real
  * sf0.001 fixture — and must be deterministic across runs. */
class BpeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Sequential reference: classic BPE over a (word -> freq) table. */
  private def referenceBpe(freqs: Map[String, Long], maxMerges: Int): Seq[(Int, String, String, Long)] = {
    var table: Map[Vector[String], Long] =
      freqs.groupMapReduce { case (w, _) => w.split("").toVector } { case (_, f) => f }(_ + _)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    while (!done && merges.length < maxMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      table.foreach { case (syms, f) =>
        syms.indices.drop(1).foreach { i =>
          counts((syms(i - 1), syms(i))) = counts.getOrElse((syms(i - 1), syms(i)), 0L) + f
        }
      }
      val best = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= 2 =>
          merges += ((merges.length + 1, l, r, c))
          table = table.groupMapReduce { case (syms, _) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                out += (l + r); i += 2
              } else { out += syms(i); i += 1 }
            }
            out.result()
          } { case (_, f) => f }(_ + _)
        case _ => done = true
      }
    }
    merges.toSeq
  }

  test("q69 equals the sequential reference on a hand-built corpus") {
    import spark.implicits._
    // "low lower lowest newest widest": classic BPE demo vocabulary
    val docsDf = Seq(
      (0L, "low low low low low"),
      (1L, "lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    docsDf.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val want = referenceBpe(
      Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L), 8)
    // both sides of the driver-finish gate over the same vocabulary:
    // the driver merge loop and the distributed Iterate rounds
    val vocab = TextOps.bpeInitVocab(spark, tmp).persist()
    val gotLocal = TextOps.bpeMergesOnDriver(vocab, maxMerges = 8)
    val gotDist = TextOps.bpeMergeRounds(vocab, maxMerges = 8)
    vocab.unpersist()
    assert(gotLocal == want, s"\ngot  $gotLocal\nwant $want")
    assert(gotDist == want, s"\ngot  $gotDist\nwant $want")
    // spot-check the textbook head: "es" (9) then "est" (9) lead
    assert(gotLocal.take(2).map(m => (m._2, m._3)) == Seq(("e", "s"), ("es", "t")))
  }

  test("q69 distributed path equals the sequential reference on sf0.001") {
    val freqs = engine.Tables.table(spark, dir, "documents")
      .select(explode(expr(s"regexp_extract_all(${graft.queries.Pipeline.normExprStr}, '[a-z]+', 0)")).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = referenceBpe(freqs, 12)
    val got = TextOps.bpeMergeRounds(TextOps.bpeInitVocab(spark, dir), maxMerges = 12)
    assert(want.nonEmpty && got == want, s"\ngot  ${got.take(4)}…\nwant ${want.take(4)}…")
  }

  test("q69 equals the sequential reference on sf0.001") {
    val freqs = engine.Tables.table(spark, dir, "documents")
      .select(explode(expr(s"regexp_extract_all(${graft.queries.Pipeline.normExprStr}, '[a-z]+', 0)")).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = referenceBpe(freqs, 12)
    val got = TextOps.q69_bpe_merges.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(want.nonEmpty && got == want, s"\ngot  ${got.take(4)}…\nwant ${want.take(4)}…")
    // full 12 rules learned: the fixture has repeating pairs well past that
    assert(got.length == 12)
  }

  test("q69 is deterministic across runs") {
    val a = TextOps.q69_bpe_merges.fn(spark, dir).collect().toSeq
    val b = TextOps.q69_bpe_merges.fn(spark, dir).collect().toSeq
    assert(a == b)
  }
}
