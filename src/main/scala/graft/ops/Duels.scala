package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** R-series batch operators over the reference duels dataset
  * (SURVEY.md §2.11 R1–R5; semantics cited per reference file:line).
  *
  * Input schema: challenger, challenged, score, duration — all LONG
  * (FIXTURES.md §1; reference parses ad hoc, exercise_1.py:41).
  */
object Duels {

  /** Read a reference-format duels log (tab-separated, no header) with
    * the layout [[graft.sources.TsvSource.schema]] declares. */
  def readOrigin(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(graft.sources.TsvSource.schema).option("sep", "\t").csv(path)

  /** The same scan through the custom DataSource V2 connector
    * ([[graft.sources.TsvTableProvider]]) — column pruning + filter
    * pushdown inside the reader; SourcesSpec proves row equivalence
    * with [[readOrigin]] and the pushdown plan shape. */
  def readOriginV2(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[graft.sources.TsvTableProvider].getName).load(path)

  /** R1 — challenges per challenger (exercise_1.py:9-29). */
  def challengesPerChallenger(duels: DataFrame): DataFrame =
    duels.groupBy(col("challenger").as("player")).agg(count(lit(1)).as("cnt"))

  /** R1 — challenges per challenged (exercise_1.py:31-52). */
  def challengesPerChallenged(duels: DataFrame): DataFrame =
    duels.groupBy(col("challenged").as("player")).agg(count(lit(1)).as("cnt"))

  /** R2 — argmax player by count; reference tie behavior is
    * nondeterministic (strict > over shuffled input, exercise_1.py:70-73),
    * canonicalized here to lowest id (SURVEY A3). */
  def argmaxPlayer(counts: DataFrame): DataFrame =
    counts.orderBy(col("cnt").desc, col("player")).limit(1)

  /** R3 — smoothed average score per player, `(Σ+1)/(n+1)` with n the
    * player's duel count as challenger; players appearing only as
    * challenged get (0+1)/(0+1) = 1.0 via the zero-seed union
    * (exercise_4.py:10-34, seed write at :14). */
  def smoothedAvg(duels: DataFrame): DataFrame =
    duels.select(col("challenger").as("player"), col("score"), lit(1L).as("w"))
      .unionAll(duels.select(col("challenged").as("player"), lit(0L), lit(0L)))
      .groupBy("player")
      .agg(((sum(col("score")) + 1).cast("double") / (sum(col("w")) + 1)).as("avg"))

  /** R4 — distinct duel edges (challenged, challenger)
    * (exercise_4.py:49-62; exercise_3.py:10-22). */
  def duelPairs(duels: DataFrame): DataFrame =
    duels.select("challenged", "challenger").distinct()

  /** R5 — challengers with at least `h` distinct opponents
    * (exercise_3.py:25-51, H_VAL=12 at :7). */
  def frequentChallengers(duels: DataFrame, h: Int = 12): DataFrame =
    duelPairs(duels)
      .groupBy(col("challenger").as("player")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= h)
}
