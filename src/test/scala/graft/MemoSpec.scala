package graft

import org.apache.spark.storage.StorageLevel

import graft.engine.Memo

/** The session memo's contract: every intermediate a query leaves behind
  * is an entry, so Memo.reset() alone — no catalog.clearCache() —
  * releases all of it; evict releases one entry only; a build may
  * memoize further entries. */
class MemoSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** Start from a session holding nothing persisted, whatever earlier
    * suites in this JVM left. */
  private def clean(): Unit = {
    Memo.reset()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("reset releases every persist the memoizing queries leave, q71's included") {
    clean()
    // q71 plus a memoizing query from each module that keeps entries
    // (q47 before q71, which reuses q47's gram table)
    val qs = Seq("q47_contamination", "q71_curate_corpus", "q54b_passage_neardup",
      "q85_pagerank", "q85b_weighted_pagerank", "q99_rank_histogram",
      "q103_ks_test", "q31d_frame_ann")
    qs.foreach { q =>
      val before = Memo.size
      SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      assert(Memo.size > before, s"$q left no memo entry")
    }
    assert(persistedRdds > 0)
    Memo.reset()
    assert(persistedRdds == 0,
      s"persisted outside the memo: ${spark.sparkContext.getPersistentRDDs.values.mkString(", ")}")
    assert(Memo.size == 0)
  }

  test("evict releases its own entry only; a hit does not rebuild") {
    clean()
    var builds = 0
    def a = Memo("memoSpec.a", spark, dir) { builds += 1; spark.range(10).toDF("x").persist() }
    val b = Memo("memoSpec.b", spark, dir)(spark.range(20).toDF("y").persist())
    a.count(); b.count(); a.count()
    assert(builds == 1)
    Memo.evict("memoSpec.a", spark, dir)
    assert(b.storageLevel != StorageLevel.NONE, "evict released another entry")
    assert(persistedRdds == 1)
    assert(Memo.size == 1)
    a.count()
    assert(builds == 2, "an evicted entry rebuilds on the next call")
    Memo.reset()
    assert(persistedRdds == 0 && Memo.size == 0)
  }

  test("a build may memoize another entry") {
    clean()
    val outer = Memo("memoSpec.outer", spark, dir)(Memo("memoSpec.inner", spark, dir)(20) + 1)
    assert(outer == 21)
    assert(Memo[Int]("memoSpec.inner", spark, dir)(sys.error("inner was not memoized")) == 20)
    assert(Memo.size == 2)
    Memo.reset()
  }
}
