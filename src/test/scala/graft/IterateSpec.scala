package graft

import org.apache.spark.sql.functions._

import graft.ops.Iterate

/** The shared driver-loop combinator's contract (graft.ops.Iterate):
  * both of its users (connectedComponents and BPE merge learning past
  * their driver-finish gates) lean on these properties, so they are
  * pinned once here rather than re-proven per operator. */
class IterateSpec extends SparkSpec {

  import spark.implicits._

  private def inc(df: org.apache.spark.sql.DataFrame) =
    df.select((col("x") + 1).as("x"))

  test("loop stops on the round the measure converges, keeping the last two generations") {
    var measured = 0
    val fix = Iterate.loop(Seq(0).toDF("x").persist(), maxRounds = 100) {
      (cur, _) => inc(cur)
    } { (_, next) =>
      measured += 1
      next.head().getInt(0) >= 5 // converges on round 5
    }
    assert(fix.rounds == 5, s"5 converging rounds, got ${fix.rounds}")
    assert(measured == 5, "one measure per round")
    assert(fix.cur.head().getInt(0) == 5)
    assert(fix.prev.head().getInt(0) == 4, "second-to-last generation retained")
  }

  test("maxRounds bounds a non-converging loop") {
    val fix = Iterate.loop(Seq(0).toDF("x").persist(), maxRounds = 4) {
      (cur, _) => inc(cur)
    } { (_, _) => false }
    assert(fix.rounds == 4 && fix.cur.head().getInt(0) == 4)
  }

  test("every generation is a leaf plan: round 9's plan is as small as round 2's") {
    // each generation is cut to a LogicalRDD over the previous one's
    // result, so neither a generation's analyzed plan nor a plan built on
    // top of it grows with the round count (before, round k embedded
    // every round since the last checkpoint)
    def nodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p => p }.size
    def run(rounds: Int) = Iterate.loop(Seq(0).toDF("x").persist(), rounds) {
      (cur, _) => inc(cur)
    } { (_, next) => next.count(); false }
    val r2 = run(2)
    val r9 = run(9)
    assert(nodes(r9.cur) == nodes(r2.cur), s"round 9: ${r9.cur.queryExecution.analyzed}")
    assert(nodes(inc(r9.cur)) == nodes(inc(r2.cur)))
    assert(r2.cur.head().getInt(0) == 2 && r9.cur.head().getInt(0) == 9)
    Seq(r2, r9).foreach { f => f.cur.unpersist(); f.prev.unpersist() }
  }

  test("only the last two generations stay persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val fix = Iterate.loop(Seq(0).toDF("x").persist(), 7) {
      (cur, _) => inc(cur)
    } { (_, next) => next.count(); false }
    val during = sc.getPersistentRDDs.size
    // init was unpersisted by the loop once generation 2 landed; only
    // prev + cur remain beyond whatever was persisted before the test
    assert(during - before <= 2, s"expected <= 2 new persisted RDDs, got ${during - before}")
    // and unpersisting those two releases everything the loop persisted
    fix.cur.unpersist(); fix.prev.unpersist()
    assert(sc.getPersistentRDDs.size == before,
      s"the loop left ${sc.getPersistentRDDs.size - before} RDDs persisted")
  }
}
