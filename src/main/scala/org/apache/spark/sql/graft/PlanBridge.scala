package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD

/** `Dataset.ofRows` re-export for custom logical plans.
  *
  * The engine's columnar operator ([[graft.plans.EmbedInference]]) is a
  * custom `LogicalPlan`; turning one into a user-facing DataFrame goes
  * through `Dataset.ofRows`, which is `private[sql]` — this object
  * lives under `org.apache.spark.sql` purely to re-export it (the
  * BusDrain precedent), plus [[cut]], the plan-to-leaf step of
  * [[graft.ops.Iterate]]. No other Spark internals are touched. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** `df` as a leaf plan: a `LogicalRDD` over `df`'s physical RDD,
    * carrying its output attributes, partitioning, ordering and stats.
    * This is the plan a lazy local checkpoint builds, minus the
    * checkpoint itself: the RDD keeps its lineage (lost blocks
    * recompute), and persisting the result caches through the
    * CacheManager, so `unpersist()` releases it. The plan of anything
    * built on top no longer grows with `df`'s plan. */
  def cut(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[_]]
    Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
