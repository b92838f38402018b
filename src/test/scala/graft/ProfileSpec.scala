package graft

import graft.tools.Profile

/** graft.tools.Profile's run loop: repeated runs of one query must see
  * the same job count (every rep starts from reset caches, so a memo
  * surviving into the next rep would show up as fewer jobs), and an
  * `--ab` pass must leave the session's conf as it found it, so no
  * variant leaks into the next query. */
class ProfileSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val quiet: String => Unit = _ => ()

  test("every rep of q04 reports the same job count") {
    val runs = Profile.run(spark, dir, Seq("q04_revenue_by_nation"), reps = 3, log = quiet)
    assert(runs.size == 3)
    assert(runs.map(_.jobs).distinct.size == 1, runs.map(_.jobs))
    assert(runs.head.jobs > 0 && runs.forall(_.stages.nonEmpty))
  }

  test("an --ab pass restores the session's shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val runs = Profile.run(spark, dir, Seq("q04_revenue_by_nation"), reps = 1,
      ab = Some(key -> Seq("2", "7")), log = quiet)
    assert(runs.map(_.variant) == Seq(Some("2"), Some("7")))
    assert(spark.conf.get(key) == before)
  }

  test("--ab rejects a static conf") {
    intercept[IllegalArgumentException] {
      Profile.run(spark, dir, Seq("q04_revenue_by_nation"), reps = 1,
        ab = Some("spark.sql.extensions" -> Seq("x")), log = quiet)
    }
  }
}
