package graft.engine

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's standard configuration.
  *
  * Tuned for the driver's local[32] single-JVM harness but every knob is
  * chosen to also make sense on a 1000-executor cluster reading ~100 TB:
  * AQE handles runtime partition coalescing and skew joins, shuffle
  * partitions default to the local core count (a real cluster overrides
  * via --conf), and UTC pins timestamp semantics.
  */
object GraftSession {

  /** Number of local cores the harness gives us (driver exports
    * SPARK_GRAFT_CPUS; default 32 per the local[32] contract). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: Option[String] = Some(s"local[$cpus]")): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.parquet stores TIMESTAMP(NANOS); Spark has no nanosecond
      // TimestampType, so read them as raw Long nanos and convert
      // explicitly in Tables.events (micros = ns / 1000).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Deterministic float formatting / comparisons.
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Cached frames (edge lists, pair pipelines, iterative state) are
      // re-scanned hot-path data: plain columnar batches trade memory —
      // abundant at zero spill — for codec-free scans. On a memory-tight
      // cluster this is the first knob to flip back.
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // Below the default bypassMergeThreshold (200) every ≤200-partition
      // shuffle uses BypassMergeSortShuffleWriter: each MAP task opens
      // one file+buffer+codec+checksum stream PER reduce partition —
      // 32×32 = 1024 stream setups per shuffle here, measured at ~5
      // executor-CPU-s and ~0.2 s wall for a 15k-row groupBy (pure
      // fixed cost, data-independent; ProbeShuffleConst, since removed).
      // Forcing the
      // sort-based writer (one sorted file + index per map task) cuts
      // that to ~0.5 CPU-s. This also IS the 100 TB posture: real
      // clusters run >200-partition shuffles on the sort path anyway,
      // so local numbers now measure the same writer the cluster uses.
      // Parameterized (SPARK_GRAFT_BYPASS) so scale campaigns can A/B
      // the writers at fat-shuffle volumes; default unchanged.
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS", "16"))
    master.fold(b)(b.master)
  }

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
