package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** R6–R8: the reference's iterative "heroic score" fixed point
  * (exercise_4.py:126-283), PageRank-shaped.
  *
  * One iteration (R6): hs'(c) = α·Σ_{(c→d)} hs(d)·avg⁺(c)/avg⁺(d) + (1−α)
  * over distinct duel edges (challenged d → challenger c), with missing
  * hs(d) defaulting to 1.0 (left join + coalesce; exercise_4.py:152-159).
  *
  * Two forms of the same arithmetic. [[iterate]], [[mse]], [[staticJoin]]
  * and [[initScores]] are Catalyst operators: q33, q33b and q34 compose
  * them into plans that DuckDB checks. [[fixedPoint]] runs the loop as a
  * driver-vector kernel (the shape of Graph's `kernelRounds`): the score
  * table is one double per player, so it lives on the driver, and each
  * round is one broadcast plus one Spark job over the persisted static
  * edges, with no per-round query planning. FixedPointSpec ties the
  * kernel to the Catalyst operators round by round.
  */
object Heroic {

  /** Static edge table with both endpoints' smoothed averages attached:
    * (challenged, avg_d, challenger, avg_r) — the duels_with_avg_scores
    * join of exercise_4.py:64-123, as one two-hop join. */
  def staticJoin(duels: DataFrame): DataFrame = {
    val pairs = Duels.duelPairs(duels)
    val avg = Duels.smoothedAvg(duels)
    pairs
      .join(broadcast(avg.select(col("player"), col("avg").as("avg_d"))),
        col("challenged") === col("player")).drop("player")
      .join(broadcast(avg.select(col("player"), col("avg").as("avg_r"))),
        col("challenger") === col("player")).drop("player")
  }

  /** R6 — one heroic-score iteration over the static join. `hs` has
    * columns (player, hs) and is one row per player, so it broadcasts
    * and the edge side never shuffles. The bound is the one
    * [[fixedPoint]] states: the score table must fit a broadcast. */
  def iterate(static: DataFrame, hs: DataFrame, alpha: Double = 0.1): DataFrame =
    static
      .join(broadcast(hs), col("challenged") === col("player"), "left")
      .withColumn("hs_d", coalesce(col("hs"), lit(1.0)))
      .select(col("challenger"),
        (col("hs_d") * col("avg_r") / col("avg_d")).as("contrib"))
      .groupBy(col("challenger").as("player"))
      .agg((lit(alpha) * sum(col("contrib")) + lit(1 - alpha)).as("hs"))

  /** R7 — MSE between two score tables: full-outer on player, absent side
    * coalesced to 0 (the reference's sign-trick squared difference,
    * exercise_4.py:194-236), mean over the union of players. */
  def mse(a: DataFrame, b: DataFrame): Double = {
    val diff = a.select(col("player"), col("hs").as("ha"))
      .join(b.select(col("player"), col("hs").as("hb")), Seq("player"), "full")
      .select(pow(coalesce(col("ha"), lit(0.0)) - coalesce(col("hb"), lit(0.0)), 2.0).as("sq"))
    // avg over an EMPTY player union is NULL (the empty-aggregate class,
    // EmptyInputSpec): two empty generations have zero divergence — MSE 0,
    // the value fixedPoint's kernel also takes on empty duels
    val r = diff.agg(avg(col("sq"))).first()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** hs₀ ≡ 1 for every player seen in either role
    * (intialize_heroic_score, exercise_4.py:36-47). */
  def initScores(duels: DataFrame): DataFrame =
    duels.select(col("challenger").as("player"))
      .unionAll(duels.select(col("challenged")))
      .distinct()
      .withColumn("hs", lit(1.0))

  /** The last two generations as driver-local (player, hs) frames, and
    * the MSE of every round. `secondLast` is null only if no round ran
    * (maxIter = 0 and extra = 0). */
  final case class FixedPoint(secondLast: DataFrame, last: DataFrame, mses: Vector[Double])

  /** One partition of the static edges, column-packed: edge j runs from
    * challenged player index `d(j)` to challenger index `c(j)`, with the
    * two endpoints' smoothed averages. */
  private final case class Edges(c: Array[Int], d: Array[Int],
      avgR: Array[Double], avgD: Array[Double])

  /** R8 — run to MSE ≤ `eps` from hs₀ ≡ 1, plus `extra` iterations (the
    * committed goldens correspond to extra = 1; SURVEY §3.3).
    *
    * Round shape. Set-up, once: the sorted player ids are collected (the
    * index space) and [[staticJoin]] is persisted as column-packed
    * [[Edges]] in that index space. The score vector is a dense
    * `Array[Double]` on the driver, NaN where a player is absent from
    * the generation (only challengers receive a score). Each round then
    * broadcasts the vector, runs ONE job — a map over the edge blocks
    * forming per-challenger partial sums of `hs(d) * avg_r / avg_d`,
    * hs(d) = 1.0 when absent, the same expression [[iterate]] evaluates
    * — and collects the partials packed, one (indexes, sums) block per
    * partition. The driver forms α·Σ + (1−α) and R7's MSE over the union
    * of present players with the absent side as 0, as [[mse]] does.
    *
    * Bound: the driver holds the score vector, as the Catalyst round's
    * broadcast of the whole score table already required — 8 B per
    * player per vector (two live, plus the sorted ids), one broadcast
    * per round, and each task allocates one dense accumulator of the
    * same size. */
  def fixedPoint(duels: DataFrame, alpha: Double = 0.1, eps: Double = 0.1,
      extra: Int = 1, maxIter: Int = 100): FixedPoint = {
    val spark = duels.sparkSession
    val sc = spark.sparkContext
    val ids = initScores(duels).select("player").collect().map(_.getLong(0))
    java.util.Arrays.sort(ids)
    val n = ids.length
    // the persisted edges' recompute lineage reads the id broadcast, so
    // it lives until they are released
    val bIds = sc.broadcast(ids)
    val edges = staticJoin(duels).select("challenger", "challenged", "avg_r", "avg_d")
      .queryExecution.toRdd.mapPartitions { it =>
        val idx = bIds.value
        val c = new mutable.ArrayBuilder.ofInt
        val d = new mutable.ArrayBuilder.ofInt
        val ar = new mutable.ArrayBuilder.ofDouble
        val ad = new mutable.ArrayBuilder.ofDouble
        it.foreach { r =>
          c += java.util.Arrays.binarySearch(idx, r.getLong(0))
          d += java.util.Arrays.binarySearch(idx, r.getLong(1))
          ar += r.getDouble(2)
          ad += r.getDouble(3)
        }
        Iterator.single(Edges(c.result(), d.result(), ar.result(), ad.result()))
      }.persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()

    def step(cur: Array[Double]): Array[Double] = {
      val bCur = sc.broadcast(cur)
      val blocks = edges.map { e =>
        val hs = bCur.value
        val acc = Array.fill(hs.length)(Double.NaN)
        val touched = new mutable.ArrayBuilder.ofInt
        var j = 0
        while (j < e.c.length) {
          val c = e.c(j)
          val h = hs(e.d(j))
          if (acc(c).isNaN) { acc(c) = 0.0; touched += c }
          acc(c) += (if (h.isNaN) 1.0 else h) * e.avgR(j) / e.avgD(j)
          j += 1
        }
        val is = touched.result()
        (is, is.map(i => acc(i)))
      }.collect()
      bCur.destroy()
      val sum = Array.fill(n)(Double.NaN)
      blocks.foreach { case (is, vs) =>
        var j = 0
        while (j < is.length) {
          val i = is(j)
          sum(i) = (if (sum(i).isNaN) 0.0 else sum(i)) + vs(j)
          j += 1
        }
      }
      sum.map(s => if (s.isNaN) s else alpha * s + (1 - alpha))
    }

    def vectorMse(a: Array[Double], b: Array[Double]): Double = {
      var sq = 0.0
      var k = 0
      var i = 0
      while (i < n) {
        if (!a(i).isNaN || !b(i).isNaN) {
          val x = (if (a(i).isNaN) 0.0 else a(i)) - (if (b(i).isNaN) 0.0 else b(i))
          sq += x * x
          k += 1
        }
        i += 1
      }
      if (k == 0) 0.0 else sq / k
    }

    def frame(v: Array[Double]): DataFrame =
      spark.createDataFrame(ids.indices.filterNot(i => v(i).isNaN).map(i => (ids(i), v(i))))
        .toDF("player", "hs")

    // the MSE trajectory is part of R8's golden, so it also accumulates
    // on the `extra` rounds
    var prev: Array[Double] = null
    var cur = Array.fill(n)(1.0)
    var mses = Vector.empty[Double]
    def round(): Boolean = {
      val next = step(cur)
      mses :+= vectorMse(cur, next)
      prev = cur
      cur = next
      mses.last <= eps
    }
    var converged = false
    while (!converged && mses.length < maxIter) converged = round()
    (0 until extra).foreach(_ => round())
    edges.unpersist()
    bIds.destroy()
    FixedPoint(Option(prev).map(frame).orNull, frame(cur), mses)
  }

  /** T1 — global top-k by score, descending (TakeOrderedAndProject;
    * exercise_4.py:238-265). Reference emits in score order. */
  def topK(hs: DataFrame, k: Int = 10): DataFrame =
    hs.orderBy(col("hs").desc, col("player")).limit(k)
}
