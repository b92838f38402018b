package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Independent plain-Scala computation of R1–R8 and T1 over the same
  * duels log, used to check the pipeline's text output. It shares no
  * code with the engine: it parses the part files itself and runs the
  * fixed point with hash maps. */
final class DuelsOracle(input: Path, alpha: Double, eps: Double, extra: Int = 1, maxIter: Int = 100) {

  private val duels: Array[Array[Long]] = {
    val files = Files.list(input).iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    files.flatMap(f => Files.readAllLines(f).asScala).filter(_.nonEmpty)
      .map(_.split("\t").map(_.trim.toLong)).toArray
  }

  val perChallenger: Map[Long, Long] = duels.groupBy(_(0)).map { case (k, v) => k -> v.length.toLong }
  val perChallenged: Map[Long, Long] = duels.groupBy(_(1)).map { case (k, v) => k -> v.length.toLong }
  val argmax: (Long, Long) = perChallenger.maxBy { case (p, c) => (c, -p) }

  val avg: Map[Long, Double] = {
    val sum = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    val n = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    duels.foreach { d => sum(d(0)) += d(2); n(d(0)) += 1; sum(d(1)) += 0 }
    sum.keys.map(p => p -> (sum(p) + 1).toDouble / (n(p) + 1)).toMap
  }

  /** Distinct (challenged, challenger) edges. */
  val pairs: Set[(Long, Long)] = duels.map(d => (d(1), d(0))).toSet

  val frequent: Map[Long, Long] = pairs.toSeq.groupBy(_._2)
    .map { case (c, es) => c -> es.size.toLong }.filter(_._2 >= 12)

  private def step(hs: Map[Long, Double]): Map[Long, Double] = {
    val acc = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    pairs.foreach { case (d, c) => acc(c) += hs.getOrElse(d, 1.0) * avg(c) / avg(d) }
    acc.map { case (c, s) => c -> (alpha * s + (1 - alpha)) }.toMap
  }

  private def mse(a: Map[Long, Double], b: Map[Long, Double]): Double = {
    val keys = a.keySet ++ b.keySet
    if (keys.isEmpty) 0.0
    else keys.iterator.map { k => val d = a.getOrElse(k, 0.0) - b.getOrElse(k, 0.0); d * d }.sum / keys.size
  }

  /** (second-last, last, MSE trajectory), run as Heroic.fixedPoint is
    * specified: to MSE ≤ eps from hs₀ ≡ 1, then `extra` more rounds. */
  val (secondLast, last, mses) = {
    var prev: Map[Long, Double] = null
    var cur: Map[Long, Double] = (perChallenger.keySet ++ perChallenged.keySet).map(_ -> 1.0).toMap
    val ms = mutable.ArrayBuffer.empty[Double]
    def round(): Boolean = {
      val next = step(cur)
      ms += mse(cur, next)
      prev = cur; cur = next
      ms.last <= eps
    }
    var converged = false
    while (!converged && ms.length < maxIter) converged = round()
    (0 until extra).foreach(_ => round())
    (prev, cur, ms.toVector)
  }

  val top10: Seq[(Long, Double)] = last.toSeq.sortBy { case (p, h) => (-h, p) }.take(10)

  /** Compare the pipeline's output directory; returns one message per
    * mismatching stage (empty when everything agrees). */
  def check(out: Path, pipelineRounds: Int): Seq[String] = {
    def lines(stage: String): Seq[String] = {
      val f = out.resolve(stage).resolve("part-00000")
      if (!Files.exists(f)) Seq.empty else Files.readAllLines(f).asScala.filter(_.nonEmpty).toSeq
    }
    def kv(stage: String): Seq[(String, String)] =
      lines(stage).map { l => val a = l.split("\t", -1); (a(0), a(1)) }
    def close(a: Double, b: Double, tol: Double): Boolean = math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
    def longs(stage: String): Map[Long, Long] = kv(stage).map { case (k, v) => k.toLong -> v.toLong }.toMap
    def doubles(stage: String): Map[Long, Double] = kv(stage).map { case (k, v) => k.toLong -> v.toDouble }.toMap
    def sameDoubles(got: Map[Long, Double], exp: Map[Long, Double], tol: Double): Boolean =
      got.keySet == exp.keySet && exp.forall { case (k, v) => close(got(k), v, tol) }
    def sortedKeys(stage: String): Boolean = { val ks = kv(stage).map(_._1); ks == ks.sorted }

    val bad = mutable.ArrayBuffer.empty[String]
    if (longs("challenges_per_challenger") != perChallenger || !sortedKeys("challenges_per_challenger"))
      bad += "r1_challenger"
    if (longs("challenges_per_challenged") != perChallenged || !sortedKeys("challenges_per_challenged"))
      bad += "r1_challenged"
    if (longs("most_challenges") != Map(argmax)) bad += "r2_argmax"
    if (!sameDoubles(doubles("avg_challenger_score"), avg, 1e-12) || !sortedKeys("avg_challenger_score"))
      bad += "r3_avg"
    val gotPairs = lines("duel_pairs").map { l => val a = l.split("\t"); (a(0).toLong, a(1).toLong) }
    if (gotPairs.size != pairs.size || gotPairs.toSet != pairs) bad += "r4_pairs"
    if (longs("frequent_challengers") != frequent) bad += "r5_frequent"
    if (pipelineRounds != mses.length) bad += s"r8_rounds(${pipelineRounds} vs ${mses.length})"
    if (!sameDoubles(doubles("heroic_score"), last, 1e-9)) bad += "r8_heroic_score"
    if (!sameDoubles(doubles("secondary_heroic_score"), secondLast, 1e-9)) bad += "r8_secondary"
    val diff = lines("difference").headOption.map(_.split("\t")(0).toDouble)
    if (!diff.exists(close(_, mses.last, 1e-6))) bad += "r8_difference"
    val t10 = kv("top_10").map { case (k, v) => (k.toLong, v.toDouble) }
    val t10ok = t10.length == top10.length && t10.zip(top10).forall { case ((gp, gh), (ep, eh)) =>
      close(gh, eh, 1e-9) && (gp == ep || close(last(gp), eh, 1e-9))
    }
    if (!t10ok) bad += "t1_top10"
    bad.toSeq
  }
}
