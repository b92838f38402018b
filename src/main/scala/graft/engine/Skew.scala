package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §4.2's 100 TB posture).
  *
  * AQE's skew-join handling splits oversized *shuffle partitions*, which
  * covers most cases; explicit salting is the remaining tool when a
  * single join key is so hot that even one key's rows overflow an
  * executor (e.g. a null-ish default key in a fact table). */
object Skew {

  /** Equi-join `fact ⋈ dim` on `key`, salting the fact side into
    * `salts` sub-keys and replicating the dim side once per salt, so one
    * hot key spreads across `salts` tasks. Result equals
    * `fact.join(dim, key)` exactly (inner join). The dim side is
    * replicated `salts`×, so keep it the smaller input. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0)
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }
}
