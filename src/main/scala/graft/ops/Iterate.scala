package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.storage.StorageLevel

/** Driver-side iterate-to-fixpoint combinator: the ONE place the engine
  * encodes the discipline every iterative operator needs (persist each
  * generation as a leaf plan, keep exactly the last two generations,
  * one materializing action per round). Users:
  * [[graft.queries.TextOps.componentsByPropagation]] (q37 dup clusters)
  * and [[graft.queries.TextOps.bpeMergeRounds]] (q69/q72 merge
  * learning), each the past side of its driver-finish gate, where a generation is a table, not
  * a driver-sized vector. (The heroic fixed point's generation IS a
  * driver-sized vector, so [[Heroic.fixedPoint]] runs its own
  * one-job-per-round kernel instead.) The next iterative operator gets
  * the discipline for free instead of re-deriving it.
  *
  * Scale posture: each round is whatever plan `step` declares (the
  * combinator adds no shuffle of its own); the serial cost it does add
  * is exactly ONE action per round — `measure` doubles as the round's
  * materializing action AND the convergence check, so there is no
  * separate "did anything change" pass over the generation. On a
  * 1000-executor cluster every action is a full cluster barrier, so
  * rounds — not per-round bytes — are what the caller must minimize
  * (cf. the union-find pre-pass that keeps q37 at ~2 rounds).
  */
object Iterate {

  /** Last two generations (both still persisted) and the number of
    * rounds executed. `prev` is null only if zero rounds ran
    * (maxRounds == 0). */
  final case class Fix(prev: DataFrame, cur: DataFrame, rounds: Int)

  /** Run `step` from `init` until `measure` reports convergence or
    * `maxRounds` is hit.
    *
    *  - `init` must already be persisted (or be cheap): round 1 reads it
    *    through both `step` and `measure`; it is unpersisted when
    *    generation 2 lands (the caller may also unpersist it later —
    *    double unpersist is a no-op).
    *  - every generation is cut to a leaf plan over the previous
    *    generation's result ([[PlanBridge.cut]]) and persisted
    *    MEMORY_AND_DISK. Its plan therefore stays one round deep: the
    *    driver's analysis, planning and plan-string work per round does
    *    not grow with the round count. RDD lineage is kept, so blocks
    *    lost with an executor recompute, and `unpersist()` releases a
    *    generation. Building the leaf runs the step's broadcast and
    *    shuffle stages (adaptive execution materializes them to produce
    *    the RDD); `measure` then runs its final stage.
    *  - `measure(cur, next)` MUST run an action on `next` — it is the
    *    round's single materializing action — and returns whether the
    *    fixpoint is reached.
    */
  def loop(init: DataFrame, maxRounds: Long)
      (step: (DataFrame, Int) => DataFrame)
      (measure: (DataFrame, DataFrame) => Boolean): Fix = {
    var prev: DataFrame = null
    var cur = init
    var it = 0
    var converged = false
    while (!converged && it < maxRounds) {
      it += 1
      val cached = PlanBridge.cut(step(cur, it)).persist(StorageLevel.MEMORY_AND_DISK)
      converged = measure(cur, cached)
      if (prev != null) prev.unpersist()
      prev = cur
      cur = cached
    }
    Fix(prev, cur, it)
  }
}
