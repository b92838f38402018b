package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.ops.Heroic

/** R6–R8 end to end on duels logs generated here: Heroic.fixedPoint's
  * trajectory against a plain-Scala hash-map replay that shares no code
  * with the engine, and against the Catalyst operators (Heroic.iterate,
  * Heroic.mse) that q33, q33b and q34 run. Needs no external fixture, so
  * the fixed point's round count, MSE trajectory, final two generations
  * and job count per round are checked on every host. */
class FixedPointSpec extends SparkSpec {

  import FixedPointSpec.Replay
  import spark.implicits._

  private type Duel = (Long, Long, Long, Long) // challenger, challenged, score, duration

  private def frame(log: Seq[Duel]): DataFrame =
    log.toDF("challenger", "challenged", "score", "duration")

  /** Seeded log over players 1..`players`: challengers come from the
    * first two thirds only, so the last third is only ever challenged;
    * opponents come from a small per-challenger pool, so pairs repeat. */
  private def randomLog(seed: Long, rows: Int, players: Int): Seq[Duel] = {
    val rnd = new scala.util.Random(seed)
    val challengers = players * 2 / 3
    (1 to rows).map { _ =>
      val c = rnd.nextInt(challengers).toLong + 1
      val d = (c * 7 + rnd.nextInt(5)) % players + 1
      (c, d, rnd.nextInt(3000).toLong, rnd.nextInt(600).toLong)
    }
  }

  /** The oracle: R3's smoothed average, R4's distinct edges, R6's
    * update, R7's MSE over the union of players, and R8's loop — to
    * MSE <= eps from hs0 = 1 for every player, then `extra` rounds. */
  private def replay(log: Seq[Duel], alpha: Double, eps: Double, extra: Int): Replay = {
    val sum = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    val n = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    log.foreach { case (c, d, s, _) => sum(c) += s; n(c) += 1; sum(d) += 0 }
    val avg = sum.keys.map(p => p -> (sum(p) + 1).toDouble / (n(p) + 1)).toMap
    val edges = log.map { case (c, d, _, _) => (d, c) }.distinct
    def step(hs: Map[Long, Double]): Map[Long, Double] = {
      val acc = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      edges.foreach { case (d, c) => acc(c) += hs.getOrElse(d, 1.0) * avg(c) / avg(d) }
      acc.map { case (c, s) => c -> (alpha * s + (1 - alpha)) }.toMap
    }
    def mse(a: Map[Long, Double], b: Map[Long, Double]): Double = {
      val keys = a.keySet ++ b.keySet
      if (keys.isEmpty) 0.0
      else keys.iterator.map { k => val x = a.getOrElse(k, 0.0) - b.getOrElse(k, 0.0); x * x }.sum / keys.size
    }
    var prev = Map.empty[Long, Double]
    var cur = avg.keys.map(_ -> 1.0).toMap
    val mses = mutable.ArrayBuffer.empty[Double]
    def round(): Boolean = {
      val next = step(cur)
      mses += mse(cur, next)
      prev = cur; cur = next
      mses.last <= eps
    }
    var converged = false
    while (!converged && mses.length < 100) converged = round() // fixedPoint's maxIter
    (0 until extra).foreach(_ => round())
    Replay(prev, cur, mses.toVector)
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  private def scores(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Runs both sides, asserts they agree and returns the oracle's run. */
  private def check(log: Seq[Duel], alpha: Double = 0.1, eps: Double = 0.1,
      extra: Int = 1): Replay = {
    val want = replay(log, alpha, eps, extra)
    val got = Heroic.fixedPoint(frame(log), alpha = alpha, eps = eps, extra = extra)
    assertSameRun(got, want.mses, want.secondLast, want.last, "oracle")
    want
  }

  /** `got`'s MSE trajectory and last two generations equal `mses`,
    * `secondLast` and `last` within 1e-9. */
  private def assertSameRun(got: Heroic.FixedPoint, mses: Vector[Double],
      secondLast: Map[Long, Double], last: Map[Long, Double], side: String): Unit = {
    assert(got.mses.length == mses.length, s"rounds: engine ${got.mses} vs $side $mses")
    got.mses.zip(mses).zipWithIndex.foreach { case ((g, w), i) =>
      assert(close(g, w), s"round ${i + 1} MSE $g vs $side $w")
    }
    Seq("secondLast" -> (got.secondLast, secondLast), "last" -> (got.last, last))
      .foreach { case (name, (df, exp)) =>
        val g = scores(df)
        assert(g.keySet == exp.keySet, s"$name key sets differ")
        exp.foreach { case (p, v) => assert(close(g(p), v), s"$name($p) = ${g(p)} vs $side $v") }
      }
  }

  private val seededLogs = Seq((11L, 400, 90), (12L, 150, 30), (13L, 900, 240))

  test("seeded logs: rounds, MSE trajectory and final generations equal the oracle") {
    for ((seed, rows, players) <- seededLogs) {
      val log = randomLog(seed, rows, players)
      assert(log.map(_._2).toSet.exists(p => !log.map(_._1).toSet(p)),
        "some player must be only ever challenged")
      assert(log.map(d => (d._1, d._2)).distinct.size < log.size, "some pair must repeat")
      val rounds = check(log).mses.length
      assert(rounds >= 4, s"seed $seed converged in $rounds rounds; too short to test the loop")
    }
  }

  test("every round equals Heroic.iterate and Heroic.mse chained from initScores over staticJoin") {
    for ((seed, rows, players) <- seededLogs) {
      val duels = frame(randomLog(seed, rows, players))
      val got = Heroic.fixedPoint(duels)
      val static = Heroic.staticJoin(duels)
      var cur = Heroic.initScores(duels)
      var prev: DataFrame = null
      // each generation is collected and re-read as a local frame, so
      // every round plans one Catalyst iteration, not the whole chain
      val mses = got.mses.map { _ =>
        val next = scores(Heroic.iterate(static, cur)).toSeq.toDF("player", "hs")
        val m = Heroic.mse(cur, next)
        prev = cur
        cur = next
        m
      }
      assertSameRun(got, mses, scores(prev), scores(cur), "Catalyst")
    }
  }

  test("each round is one Spark job: three more extra rounds run exactly three more jobs") {
    val duels = frame(randomLog(11L, 400, 90))
    def jobs(extra: Int): Int = {
      val n = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        Heroic.fixedPoint(duels, extra = extra)
        BusDrain.drain(spark.sparkContext)
        n.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (base, more) = (jobs(1), jobs(4))
    assert(more - base == 3, s"extra = 1 ran $base jobs, extra = 4 ran $more")
  }

  test("a stricter eps and more extra rounds follow the oracle for longer") {
    val rounds = check(randomLog(21L, 300, 60), eps = 1e-6, extra = 3).mses.length
    assert(rounds >= 10, s"$rounds rounds")
  }

  test("hand-built log: repeated pairs count once, challenged-only players drop out") {
    // 3 is only challenged; (1 -> 2) is played three times
    val log = Seq[Duel]((1, 2, 100, 10), (1, 2, 300, 10), (1, 2, 50, 10),
      (2, 1, 20, 5), (2, 3, 700, 5), (4, 3, 10, 1), (4, 1, 2000, 1))
    assert(check(log).last.keySet == Set(1L, 2L, 4L), "only challengers receive a score")
  }

  test("empty log: both sides converge at once with MSE 0 and empty generations") {
    val run = check(Seq.empty)
    assert(run.mses == Vector(0.0, 0.0), "one converging round plus the extra one")
    assert(run.last.isEmpty && run.secondLast.isEmpty)
  }
}

object FixedPointSpec {
  /** The oracle's last two generations and its MSE trajectory. */
  final case class Replay(secondLast: Map[Long, Double], last: Map[Long, Double],
      mses: Vector[Double])
}
