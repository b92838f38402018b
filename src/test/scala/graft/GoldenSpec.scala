package graft

import java.nio.file.{Files, Paths}

import graft.golden.GoldenFormat
import graft.ops.{Duels, Heroic}

/** R-series golden tests: byte-for-byte against the reference's committed
  * output directories (SURVEY.md §5.1; /root/reference read-only). */
class GoldenSpec extends SparkSpec {

  private val ref = "/root/reference"
  private def golden(dir: String): String =
    Files.readString(Paths.get(s"$ref/$dir/output.txt"))
  /** The duels log plus the named golden directories must exist. */
  private def assumeRef(goldens: String*): Unit =
    (s"$ref/origin/origin.txt" +: goldens.map(g => s"$ref/$g/output.txt")).foreach(assumeFixture)

  private lazy val duels = Duels.readOrigin(spark, s"$ref/origin").cache()

  test("pyrepr matches Python float repr on golden values") {
    assert(GoldenFormat.pyrepr(1818.2631578947369) == "1818.2631578947369")
    assert(GoldenFormat.pyrepr(994.5) == "994.5")
    assert(GoldenFormat.pyrepr(2265.0) == "2265.0")
    assert(GoldenFormat.pyrepr(1.0) == "1.0")
    assert(GoldenFormat.pyrepr(0.002617050861616101) == "0.002617050861616101")
    assert(GoldenFormat.pyrepr(455.9136925247811) == "455.9136925247811")
  }

  test("R3: smoothed avg matches avg_challenger_score golden byte-for-byte") {
    assumeRef("avg_challenger_score")
    assert(GoldenFormat.keyedDoubles(Duels.smoothedAvg(duels)) == golden("avg_challenger_score"))
  }

  test("R4: distinct duel pairs match duel_pairs golden byte-for-byte") {
    assumeRef("duel_pairs")
    assert(GoldenFormat.duelPairs(Duels.duelPairs(duels)) == golden("duel_pairs"))
  }

  test("R1: grouped counts match a re-derivation from the raw file") {
    assumeRef()
    val lines = scala.io.Source.fromFile(s"$ref/origin/origin.txt")("latin1")
      .getLines().map(_.split("\t")).toVector
    val expChallenger = lines.groupBy(_(0).toLong).view.mapValues(_.size.toLong).toMap
    val expChallenged = lines.groupBy(_(1).toLong).view.mapValues(_.size.toLong).toMap
    val gotR = Duels.challengesPerChallenger(duels).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotD = Duels.challengesPerChallenged(duels).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotR == expChallenger)
    assert(gotD == expChallenged)
  }

  test("R2: argmax with lowest-id tiebreak") {
    assumeRef()
    val top = Duels.argmaxPlayer(Duels.challengesPerChallenger(duels)).collect()(0)
    val counts = Duels.challengesPerChallenger(duels).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val best = counts.maxBy { case (id, c) => (c, -id) }
    assert((top.getLong(0), top.getLong(1)) == best)
  }

  test("R5: challengers with >= 12 distinct opponents") {
    assumeRef()
    val got = Duels.frequentChallengers(duels).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = Duels.duelPairs(duels).collect()
      .map(r => r.getLong(1))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 12).toMap
    assert(got == exp)
  }

  private def parseKeyed(dir: String): Map[Long, Double] =
    golden(dir).split("\n").filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\t"); k.toLong -> v.toDouble }.toMap

  test("R6: one iteration from committed secondary reproduces heroic_score golden") {
    assumeRef("secondary_heroic_score", "heroic_score", "top_10")
    // The committed goldens are an emulator-run artifact ~3 iterations past
    // convergence whose exact bytes depend on the emulator's unseeded
    // random summation order (verified: iterate(secondary) matches
    // heroic_score to <= 2.3e-13 abs under any order). Contract: numeric
    // equality within 1e-9 and identical key set.
    import spark.implicits._
    val static = Heroic.staticJoin(duels)
    val sec = parseKeyed("secondary_heroic_score").toSeq.toDF("player", "hs")
    val got = Heroic.iterate(static, sec).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = parseKeyed("heroic_score")
    assert(got.keySet == exp.keySet)
    val maxDiff = exp.map { case (p, v) => math.abs(got(p) - v) }.max
    assert(maxDiff < 1e-9, s"max abs diff $maxDiff")

    // difference golden = MSE(secondary, heroic) from the committed run
    val her = exp.toSeq.toDF("player", "hs")
    val m = Heroic.mse(sec, her)
    assert(math.abs(m - 0.002617050861616101) < 1e-12, s"mse $m")

    // top_10 golden: same players in the same order, values to 1e-9
    val t10 = Heroic.topK(her).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expT10 = golden("top_10").split("\n").filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\t"); (k.toLong, v.toDouble) }
    assert(t10.map(_._1).toSeq == expT10.map(_._1).toSeq)
    assert(t10.zip(expT10).forall { case ((_, a), (_, b)) => math.abs(a - b) < 1e-9 })
  }

  test("R8: from-scratch fixed point reproduces the reference MSE trajectory") {
    assumeRef()
    val fp = Heroic.fixedPoint(duels, extra = 0)
    val expected = Vector(24652.827837351244, 2415.3233020110174, 656.7158826082457,
      231.23399034261377, 79.72256073493527, 28.597650559344448, 10.163942583046884,
      3.6143865168229428, 1.2871460994386128, 0.4580847888037707, 0.16305035752128424,
      0.05803560809341772)
    assert(fp.mses.length == expected.length, s"got ${fp.mses}")
    fp.mses.zip(expected).foreach { case (got, exp) =>
      assert(math.abs(got - exp) / exp < 1e-9, s"mse $got vs $exp")
    }
    // formatting of the final state is exercised end-to-end (no golden to
    // byte-compare: the committed files embed emulator summation order)
    val txt = GoldenFormat.keyedDoubles(fp.last)
    assert(txt.split("\n").length == 100)
  }
}
