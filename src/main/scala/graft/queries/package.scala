package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

package object queries {

  /** A declared query: Spark implementation + (optionally) the equivalent
    * ANSI SQL the driver runs in DuckDB as the correctness oracle.
    * Queries without an oracle get the driver's weaker rows-only check and
    * are covered by ScalaTest instead. */
  final case class Query(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  object Query {
    def apply(sql: String)(fn: (SparkSession, String) => DataFrame): Query =
      Query(fn, Some(sql.stripMargin.trim))
    def noOracle(fn: (SparkSession, String) => DataFrame): Query = Query(fn, None)
  }

  /** Exact-sum trick for float columns whose values carry <= `scale`
    * decimal digits (prices, quantities): cast each value to DECIMAL
    * before summing so the sum is exact and therefore identical across
    * engines and partition orders — then surface a DOUBLE. The matching
    * oracle fragment is [[dsumSql]]. At 100 TB this also makes partial
    * (map-side) aggregation bit-stable across any shuffle layout. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  def dsumSql(expr: String, scale: Int = 2): String =
    s"CAST(sum(CAST($expr AS DECIMAL(30,$scale))) AS DOUBLE)"

  /** Canonical float rounding: floor(x·10^d + 0.5)/10^d in pure double
    * arithmetic. Spark's round() (BigDecimal HALF_UP over the shortest
    * decimal repr) and DuckDB's round() disagree at exact .xxxx5
    * boundaries; this formula is the same IEEE operations in both
    * engines, hence bitwise-identical on identical inputs.
    *
    * Domain: |x| < 2^51 / 10^digits (≈ 2.2e11 at digits=4). Inside it the
    * divide-then-multiply round-trip error on floor(x·10^d+0.5) stays
    * below n·2^-52 < 0.5 of an integer step, so the formula is provably
    * idempotent. Beyond ≈ 2^52/10^d a double's ulp exceeds 10^-d and
    * re-rounding can move the value. Every query that calls cround rounds
    * ratios, averages, or similarity scores — all far inside the domain —
    * and the LawsCheck idempotence property generates inside it. */
  def cround(c: Column, digits: Int = 4): Column = {
    val f = math.pow(10, digits)
    floor(c * f + 0.5) / f
  }

  def croundSql(expr: String, digits: Int = 4): String = {
    val f = math.pow(10, digits).toLong
    s"floor(($expr) * $f + 0.5e0) / $f"
  }

  /** Deterministic mean: exact decimal sum / count, canonically rounded. */
  def davg(c: Column, scale: Int = 2): Column =
    cround(sum(c.cast(DecimalType(30, scale))).cast("double") / count(lit(1)))

  def davgSql(expr: String, scale: Int = 2): String =
    croundSql(s"CAST(sum(CAST($expr AS DECIMAL(30,$scale))) AS DOUBLE) / count(*)")

  /** Byte size of one table's parquet (file or directory) — a gate
    * input decidable from filesystem metadata alone, before any job
    * runs (read by [[spreadScan]] and the TextOps and VectorOps byte
    * gates). */
  private[graft] def tableBytes(dir: String, table: String): Long = {
    def sizeOf(p: java.io.File): Long =
      if (p.isDirectory) Option(p.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
      else p.length()
    sizeOf(new java.io.File(s"$dir/$table.parquet"))
  }

  /** Spread a narrow projection across the cluster when the source scan
    * cannot (optimization guide §2.5, "input skew: one huge unsplittable
    * file — repartition immediately after the read"): parquet cannot
    * split a row group, so a table whose whole file fits in ONE scan
    * split (bytes ≤ spark.sql.files.maxPartitionBytes) serializes every
    * downstream per-row cost — Expand, decimal casts, partial
    * aggregation — onto one core. Below that gate, hash-repartition the
    * (already filtered + projected) rows on a near-unique column: one
    * narrow exchange buys full-width parallelism for the expensive
    * per-row work. Past the gate — the 100 TB shape, where the scan
    * yields many splits — the plan is UNCHANGED: the gate reads file
    * metadata only, so production never pays the exchange. Hash, not
    * round-robin: no sort-before-repartition pass, and the row→partition
    * map is deterministic under task retry (guide §2.5's SPARK-38388
    * caveat). Callers must only aggregate partition-order-invariant
    * measures above it (exact decimal sums, counts, min/max) — never
    * raw double sums. */
  private[graft] def spreadScan(s: SparkSession, dir: String, table: String,
      df: DataFrame, key: Column): DataFrame = {
    val oneSplit = tableBytes(dir, table) <=
      s.sessionState.conf.filesMaxPartitionBytes
    if (oneSplit) df.repartition(s.sparkContext.defaultParallelism, key) else df
  }
}
