package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** R6–R8: the reference's iterative "heroic score" fixed point
  * (exercise_4.py:126-283), PageRank-shaped.
  *
  * One iteration (R6): hs'(c) = α·Σ_{(c→d)} hs(d)·avg⁺(c)/avg⁺(d) + (1−α)
  * over distinct duel edges (challenged d → challenger c), with missing
  * hs(d) defaulting to 1.0 (left join + coalesce; exercise_4.py:152-159).
  *
  * The reference runs ~3 MapReduce jobs per iteration with full text
  * round-trips between them; here the static join is computed once,
  * persisted, and each iteration is a single broadcast join + aggregate.
  * The hs table is ≤ #players (tiny relative to edges), so broadcasting
  * it keeps the per-iteration plan shuffle-free on the edge side at any
  * scale; every generation is cut to a leaf plan (Iterate.loop), so the
  * per-round driver work stays constant as rounds accumulate.
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

  /** R6 — one heroic-score iteration over the persisted static join.
    * `hs` has columns (player, hs).
    *
    * `broadcastHs` (default true): hs is one row per player, so at the
    * reference's scale (thousands of players) broadcasting it keeps every
    * iteration shuffle-free on the edge side. The bound is the broadcast
    * budget — roughly 10^8 players × 16 bytes ≈ 1.6 GB is the practical
    * ceiling; past it, pass false for a plain shuffle hash/sort-merge
    * join on `challenged` (the edge table then shuffles once per
    * iteration; co-partitioning static by `challenged` up front amortizes
    * that). PropertySpec property-tests both paths equal. */
  def iterate(static: DataFrame, hs: DataFrame, alpha: Double = 0.1,
      broadcastHs: Boolean = true): DataFrame =
    static
      .join(if (broadcastHs) broadcast(hs) else hs,
        col("challenged") === col("player"), "left")
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
    // EmptyInputSpec): two empty generations have zero divergence — MSE 0
    // — which also makes fixedPoint converge immediately on empty duels
    // instead of crashing its convergence check
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

  /** Only the final two generations are retained (both persisted;
    * earlier ones are unpersisted). */
  final case class FixedPoint(secondLast: DataFrame, last: DataFrame, mses: Vector[Double])

  /** R8 — run to MSE ≤ `eps` from hs₀ ≡ 1, plus `extra` iterations (the
    * committed goldens correspond to extra = 1; SURVEY §3.3).
    * `broadcastHs` forwards to [[iterate]] — pass false when the player
    * domain outgrows the broadcast budget (bound documented there). */
  def fixedPoint(duels: DataFrame, alpha: Double = 0.1, eps: Double = 0.1,
      extra: Int = 1, maxIter: Int = 100, broadcastHs: Boolean = true): FixedPoint = {
    val static = staticJoin(duels).persist(StorageLevel.MEMORY_AND_DISK)
    static.count()
    // Iterate.loop owns the generation discipline (persist/unpersist,
    // leaf-plan generations, one action per round); mse() doubles as
    // the materializing action and the convergence measure. The MSE
    // trajectory is part of R8's golden, so it must also accumulate on
    // the `extra` rounds — Iterate runs `measure` there too.
    var mses = Vector.empty[Double]
    val fix = Iterate.loop(
        initScores(duels).persist(StorageLevel.MEMORY_AND_DISK), maxIter, extra) {
      (cur, _) => iterate(static, cur, alpha, broadcastHs)
    } { (cur, next) =>
      mses :+= mse(cur, next)
      mses.last <= eps
    }
    static.unpersist()
    FixedPoint(fix.prev, fix.cur, mses)
  }

  /** T1 — global top-k by score, descending (TakeOrderedAndProject;
    * exercise_4.py:238-265). Reference emits in score order. */
  def topK(hs: DataFrame, k: Int = 10): DataFrame =
    hs.orderBy(col("hs").desc, col("player")).limit(k)
}
