package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.queries.dsum

/** Structured Streaming surface (SURVEY.md §2.9): the same declarative
  * expressions as the EventOps batch queries, applied to an unbounded
  * source. Each transform takes whatever DataFrame it is given — a
  * parquet batch or a readStream/MemoryStream — identically; the ScalaTest
  * suite asserts batch ≡ stream on the events fixture.
  *
  * Watermarks bound state: windows older than the watermark are finalized
  * and their state evicted, which is what makes these aggregations run
  * indefinitely on a cluster (state size ∝ active windows, not history).
  */
object Streams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Doc(doc_id: Long, text: String)

  /** Q19 streaming form — tumbling 1 h window per event type. */
  def tumblingHour(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_us"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Q20 streaming form — 30 min session windows per user. */
  def sessionize(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("sess_start_us"),
        col("n"), col("sum_value"))
  }

  /** Q19b streaming form — sliding window (1 h length, 15 min slide).
    * count(DISTINCT) is unsupported in streaming aggregations, so the
    * streaming twin carries count + exact decimal sum; the batch q19b
    * keeps its n_users column for the SQL oracle. For the user count see
    * [[slidingQuarterApprox]]. */
  def slidingQuarter(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_us"), col("n"), col("sum_value"))
  }

  /** Q19b streaming form WITH the per-window user count: exact
    * count(DISTINCT) cannot run incrementally (its state would be every
    * user id per open window), but HyperLogLog++ partials merge, so
    * `approx_count_distinct` streams fine with bounded state — the
    * standard scale trade for distinct counts over unbounded input.
    * rsd 2%; StreamsSpec asserts every window lands within 10% of the
    * batch-exact n_users. */
  def slidingQuarterApprox(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        approx_count_distinct(col("user_id"), rsd = 0.02).as("n_users_approx"))
      .select(unix_micros(col("window.start")).as("win_us"), col("n"),
        col("sum_value"), col("n_users_approx"))
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks within the preceding hour. Both sides carry
    * watermarks, so Spark evicts join state whose event time can no
    * longer match (state ∝ the 2-hour window, not history) — the
    * property that lets two unbounded streams join forever. The same
    * expression runs in batch (withWatermark is a no-op there);
    * StreamsSpec asserts batch ≡ stream. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
  }

  /** LEFT OUTER stream-stream interval join: every purchase appears in
    * the output exactly once — joined to each preceding-hour click when
    * there is one, or with NULL click columns once the click-side
    * watermark proves no match can still arrive. The null-padded rows
    * are emitted on state EVICTION (watermark-driven), which is what
    * makes outer stream-stream joins strictly harder than inner: the
    * engine must hold each purchase until the global watermark passes
    * its match window, then emit the miss exactly once. Same
    * expression in batch (a plain left join); StreamsSpec replays the
    * events with far-future flush sentinels so eviction provably runs,
    * and asserts batch ≡ stream including the NULL rows. */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
  }

  /** Stream-static enrichment join: every event picks up its customer's
    * market segment and nation from the static dimension table. The
    * static side is explicitly broadcast, so each micro-batch plans a
    * stateless broadcast hash join — NO streaming state at all (unlike
    * the stream-stream interval join above), which is why dimension
    * enrichment is the one join shape that costs nothing to stream at
    * 100 TB: the dimension rides on the executors, the stream never
    * shuffles. Left join keeps events with no matching customer
    * (nulls), the conservative choice for a pipeline feeding
    * downstream aggregation. The same expression runs in batch;
    * StreamsSpec asserts batch ≡ stream. */
  def enrichWithCustomers(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      broadcast(customers.select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))),
      col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("c_mktsegment").as("segment"), col("c_nationkey").cast("int").as("nationkey"))

  /** Reference side of the streaming drift monitor (q100's streaming
    * face), computed ONCE in batch from the reference window: a 10-row
    * frame (bucket, ref_share, mn, mx) fixing both the equi-width bin
    * edges and the reference distribution every live window is compared
    * against. Metadata-sized — it broadcasts to the stream. */
  def driftReference(refEvents: DataFrame): DataFrame = {
    val stats = refEvents.agg(min("value").as("mn"), max("value").as("mx"),
      count(lit(1)).as("nr"))
    refEvents.crossJoin(broadcast(stats))
      .select(driftBucket(col("value"), col("mn"), col("mx")).as("bucket"),
        col("mn"), col("mx"), col("nr"))
      .groupBy("bucket", "mn", "mx", "nr").agg(count(lit(1)).as("n_ref"))
      .select(col("bucket"),
        graft.queries.cround(col("n_ref") * lit(1.0) / col("nr"), 6).as("ref_share"),
        col("mn"), col("mx"))
  }

  /** q100's bin expression: equi-width decile against the reference
    * [mn, mx], outliers clamped into the edge bins. */
  private def driftBucket(v: Column, mn: Column, mx: Column): Column =
    least(lit(9), greatest(lit(0),
      floor((v - mn) * lit(10.0) / (mx - mn)))).cast("int")

  /** Streaming distribution-drift monitor — q100's streaming face. The
    * live stream is binned STATELESSLY against the static reference
    * (broadcast 10-row frame; the bin edges ride on every row, so the
    * join is a 1-row-class broadcast, never stream state) and counted
    * per (tumbling day, bucket) — ONE streaming aggregation whose state
    * is ∝ open windows × 10 bins, watermark-evictable. Each output row
    * already carries its bucket's reference share, so the PSI finalizer
    * [[driftPsi]] is pure arithmetic on the (windows × 10)-row result —
    * sink-side/foreachBatch work, never stream state. Same expression
    * runs in batch; StreamsSpec asserts batch ≡ stream and finalizes
    * both identically. */
  def driftBinCounts(events: DataFrame, reference: DataFrame,
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    val edges = reference.select("mn", "mx").distinct()
    // LEFT join (stream side left, still the stateless stream-static
    // broadcast kind): a live bin the reference never populated must
    // keep its rows with ref_share 0 — an inner join would silently
    // drop exactly the rows that signal the strongest drift, and
    // understate every window's n_cur total in [[driftPsi]]. The
    // finalizer's 1e-6 epsilon already handles p = 0.
    src.crossJoin(broadcast(edges))
      .select(col("ts"), driftBucket(col("value"), col("mn"), col("mx")).as("bucket"))
      .join(broadcast(reference.select("bucket", "ref_share")), Seq("bucket"), "left")
      .groupBy(window(col("ts"), "1 day"), col("bucket"))
      .agg(count(lit(1)).as("n_cur"),
        coalesce(max("ref_share"), lit(0d)).as("ref_share"))
      .select(unix_micros(col("window.start")).as("win_us"),
        col("bucket"), col("n_cur"), col("ref_share"))
  }

  /** PSI finalizer over [[driftBinCounts]] output: per live window,
    * cur shares against the carried reference shares and the q100 PSI
    * term (p−q)·ln((p+ε)/(q+ε)), ε = 1e-6. Runs on the finalized
    * windows×10 count table (a per-trigger foreachBatch in production,
    * plain batch here) — window totals via a partitioned window over
    * tiny rows, no stream state. */
  def driftPsi(binCounts: DataFrame, reference: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // complete each live window against the FULL reference spine: a
    // reference-heavy bucket the live data VACATED entirely produces no
    // streaming-aggregation row at all (count-based group, nothing to
    // count), yet its (p − 0)·ln((p+ε)/ε) term is precisely the
    // strongest drift signal — the mirror image of the live-only-bin
    // case the binning left-join handles. SINGLE scan of binCounts
    // (never a self-join: a streaming MemorySink relation is not
    // re-instanceable, so spine-vs-counts would die on conflicting
    // attributes): fold each window's live bins into a map, cross-join
    // the one-row broadcast reference map, and explode the UNION of
    // bucket keys — live-only bins keep their carried ref_share (0 when
    // the reference never saw the bin), vacated reference bins
    // materialize with n_cur = 0 at the reference's share. Sink-side
    // arithmetic over windows × ≤10 rows, no stream state.
    val refMap = reference.agg(map_from_entries(
      collect_list(struct(col("bucket"), col("ref_share")))).as("rm"))
    val lm = col("lm"); val rm = col("rm"); val b = col("bucket")
    // defensive pre-aggregation (round-7 advice): map_from_entries
    // throws on duplicate keys, so un-finalized input — append-mode
    // partials, a retried trigger's double batch — would die with an
    // opaque map-key error. One row per (win_us, bucket) is still the
    // CONTRACT (counts sum, the carried ref_share is constant per
    // bucket); this fold merely makes violations merge identically to
    // the finalized form instead of crashing the sink.
    val oneRow = binCounts.groupBy("win_us", "bucket")
      .agg(sum("n_cur").as("n_cur"), max("ref_share").as("ref_share"))
    val full = oneRow.groupBy("win_us")
      .agg(map_from_entries(collect_list(
        struct(col("bucket"), struct(col("n_cur"), col("ref_share"))))).as("lm"))
      .crossJoin(broadcast(refMap))
      .select(col("win_us"),
        explode(array_union(map_keys(lm), map_keys(rm))).as("bucket"), lm, rm)
      .select(col("win_us"), b,
        coalesce(lm(b)("n_cur"), lit(0L)).as("n_cur"),
        coalesce(lm(b)("ref_share"), rm(b), lit(0d)).as("ref_share"))
    val p = col("ref_share")
    val q = col("n_cur") * lit(1.0) / col("n_win")
    full
      .withColumn("n_win", sum("n_cur").over(Window.partitionBy("win_us")))
      .select(col("win_us"), col("bucket"), col("n_cur"),
        col("ref_share"), graft.queries.cround(q, 6).as("cur_share"),
        graft.queries.cround((p - q) * log((p + lit(1e-6)) / (q + lit(1e-6))), 6)
          .as("psi_term"))
      .orderBy("win_us", "bucket")
  }

  /** Stateful streaming dedup on event_id; state for ids older than the
    * watermark is dropped (dropDuplicatesWithinWatermark). */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Streaming curation — the q71 composition's streaming face: per
    * micro-batch, near-dup dedup against the LSM seen-store (exactly
    * the [[startNearDupDedup]] machinery, state semantics, and
    * exactly-once replay contract — ALL batch docs' buckets enter the
    * store, matching q71's dedup-before-filter order), then the two
    * STATELESS filters on the survivors before they land: bloom
    * decontamination ([[decontaminate]]) and the q58 quality verdict
    * (Pipeline.withQualityReason) — no extra state, no extra shuffle,
    * each micro-batch filters at full parallelism. */
  def startCuration(docs: DataFrame, evalBloom: Array[Byte], storeDir: String,
      outDir: String, checkpointDir: String,
      compactEvery: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processNearDupBatch(batch, batchId, storeDir, outDir, compactEvery,
          refine = sv => graft.queries.Pipeline
            .withQualityReason(decontaminate(sv, evalBloom))
            .filter(col("reason") === "6_kept")
            .drop("n_tok", "reason"))
      }
      .start()

  /** Streaming MinHash-LSH near-dup dedup via foreachBatch — the
    * production pattern for cross-batch near-dup state: per micro-batch,
    * band the incoming docs with EXACTLY the q26 bucketing
    * (TextOps.bandedOfSets over TextOps.shingleSetsOf), drop any doc
    * whose bucket was occupied by an earlier doc — earlier batch, or a
    * lower-doc_id row of the same batch — then record the batch's
    * buckets in the seen-store and the survivors in the output. Dropped
    * docs' buckets are recorded too (the conservative policy: a near-dup
    * of a dropped doc is also a near-dup of what got it dropped,
    * transitively through the shared bucket).
    *
    * State lives in a [[SeenStore]] keyed on (band, bh), not in the
    * state store; its layout and replay contract are documented there.
    * Survivors are written to `outDir/batch=<id>` with overwrite, so a
    * replayed batch lands on top of its own partial output and the run
    * is exactly-once end to end. The store and the checkpoint share a
    * lifecycle: reuse a populated store only with its own checkpoint.
    *
    * Returns the started query; stop it via the handle. */
  def startNearDupDedup(docs: DataFrame, storeDir: String, outDir: String,
      checkpointDir: String, compactEvery: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processNearDupBatch(batch, batchId, storeDir, outDir, compactEvery)
      }
      .start()

  /** Buckets of the base-store table. Fixed at table-creation time (a
    * bucketed layout is immutable); 32 matches the session shuffle
    * parallelism — on a cluster this is sized to executor count. */
  private[graft] val StoreBuckets = 32

  /** The LSM seen-store behind both streaming dedups: the set of keys
    * every earlier micro-batch has recorded, under `dir`, in the shape
    * that survives 100 TB. `keys` are its (column, SQL type) pairs —
    * [[SeenStore.Bands]] for near-dup, [[SeenStore.Digests]] for
    * substring — and the only thing the two callers differ in.
    *
    *  - base: a table bucketed on the keys holding the distinct keys of
    *    every compacted batch. The membership probe co-locates against
    *    the bucket layout — the store side is scanned in place, NEVER
    *    shuffled (the BucketingSpec property; StreamsSpec pins it on
    *    [[hits]]), so per-batch shuffle cost is O(batch), not O(corpus
    *    history).
    *  - delta: one small parquet dir per recent batch
    *    (delta/batch=<id>); the probe against it is O(batches since
    *    compaction), and compaction (every `compactEvery` batches) folds
    *    it into a fresh distinct base generation, so the store's size
    *    tracks the DISTINCT key set, not the append history.
    *
    * Replay contract: re-running any batch over any partial state of its
    * first attempt yields the same committed store. A batch's delta is
    * written to its batch=<id> path with overwrite; the probe excludes
    * the current batch's own delta (a replay must not see its first
    * attempt's keys as "earlier"); and compaction runs at the START of
    * its designated batch — before that batch's delta exists — so a
    * replayed compaction folds exactly what the first attempt folded.
    * Generation discovery keys off _SUCCESS markers, and the bucketed
    * table definition is re-declared into a fresh session's catalog on
    * restart (bucket metadata lives in the catalog; bucket ids live in
    * the file names). */
  private[graft] final class SeenStore(spark: SparkSession, dir: String,
      keys: Seq[(String, String)]) {
    private val names = keys.map(_._1)
    private val keyCols = names.map(col)
    private val schema = keys.map { case (c, t) => s"$c $t" }.mkString(", ")
    private val path = new Path(dir)
    private val deltaPath = new Path(path, "delta")
    private val fs = path.getFileSystem(spark.sessionState.newHadoopConf())

    /** Catalog name for a generation — keyed by the store path so two
      * stores in one session can't collide, by generation so a
      * compaction never overwrites the table it is reading. */
    private def tableName(gen: Long): String =
      f"graft_seen_${dir.hashCode & 0xffffffffL}%08x_${dir.length}%d_g$gen%d"

    /** Completed base generations, oldest first. Only dirs with a
      * _SUCCESS marker count: a compaction that crashed mid-write leaves
      * no marker and is invisible (its replay rewrites the dir with
      * overwrite). */
    private def gens: Seq[Long] =
      if (!fs.exists(path)) Nil
      else fs.listStatus(path).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("base_g")
          && fs.exists(new Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.getName.stripPrefix("base_g").toLong)
        .sorted

    /** Declare generation `gen`'s bucketed table into the session catalog
      * if absent (a restarted job has a fresh catalog; the files carry
      * their bucket ids in their names, so the re-declared definition
      * reads them bucketed). Returns the table name. */
    def table(gen: Long): String = {
      val tbl = tableName(gen)
      val ks = names.mkString(", ")
      if (!spark.catalog.tableExists(tbl))
        spark.sql(
          s"""CREATE TABLE $tbl ($schema) USING parquet
             |CLUSTERED BY ($ks) SORTED BY ($ks) INTO $StoreBuckets BUCKETS
             |LOCATION '$dir/base_g$gen'""".stripMargin)
      tbl
    }

    private def base(gens: Seq[Long]): Option[DataFrame] =
      gens.lastOption.map(g => spark.table(table(g)).select(keyCols: _*))

    /** The delta dirs of every recorded batch except `skip`'s. */
    private def delta(skip: Option[Long]): Option[DataFrame] = {
      val dirs =
        if (!fs.exists(deltaPath)) Nil
        else fs.listStatus(deltaPath).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch=")
            && !skip.exists(id => st.getPath.getName == s"batch=$id"))
          .map(_.getPath.toString)
      if (dirs.isEmpty) None else Some(spark.read.schema(schema).parquet(dirs: _*))
    }

    /** The membership probe, isolated so StreamsSpec can pin its plan:
      * `probe` (O(batch)) left-semi `seen` on the keys. Against the
      * bucketed base only the probe side exchanges — the store is
      * scanned co-located. */
    def hits(probe: DataFrame, seen: DataFrame): DataFrame =
      probe.join(seen.select(keyCols: _*), names, "left_semi")

    /** Rows of `probe` whose key an earlier batch recorded: in the latest
      * base generation or in any delta but `batchId`'s own. The delta
      * dirs are enumerated explicitly, so a replay never counts its
      * first attempt's keys as "earlier" (that would drop the whole
      * batch), and the possibly-torn dir of a crashed write is never
      * read. A row hit in both base and delta appears twice. */
    def seenHits(probe: DataFrame, batchId: Long): DataFrame =
      (base(gens) ++ delta(Some(batchId))).map(hits(probe, _))
        .reduceOption(_ unionAll _).getOrElse(probe.limit(0))

    /** Compaction at the start of batch `batchId` when it is due, BEFORE
      * this batch's delta exists: the fold can then never contain the
      * current batch. The gen check skips the fold when a first attempt
      * of this batch already committed it. */
    def compactIfDue(batchId: Long, compactEvery: Int): Unit =
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0
          && !gens.contains(batchId))
        compact(batchId)

    /** Record batch `batchId`'s keys (`recorded`'s key columns). */
    def writeDelta(recorded: DataFrame, batchId: Long): Unit =
      recorded.select(keyCols: _*).write.mode("overwrite")
        .parquet(s"$dir/delta/batch=$batchId")

    /** Fold base + all delta partitions into a fresh distinct base
      * generation `newGen` bucketed on the keys, then drop the folded
      * inputs. Crash-safe at every cut: the new generation is invisible
      * until its _SUCCESS lands (a partial write is rewritten with
      * overwrite on replay), and delta/old-gen deletion only happens
      * after that marker, at which point the new base covers them. */
    def compact(newGen: Long): Unit = {
      val oldGens = gens
      val parts = base(oldGens) ++ delta(None)
      if (parts.nonEmpty) {
        // repartition on the bucket key first: each task then owns whole
        // buckets and writes exactly one file per bucket (a sorted
        // single-file bucket scans back sort-free under SMJ)
        val folded = parts.reduce(_ unionAll _).distinct()
          .repartition(StoreBuckets, keyCols: _*)
        spark.sql(s"DROP TABLE IF EXISTS ${tableName(newGen)}")
        folded.write.bucketBy(StoreBuckets, names.head, names.tail: _*)
          .sortBy(names.head, names.tail: _*)
          .option("path", s"$dir/base_g$newGen")
          .mode("overwrite").saveAsTable(tableName(newGen))
        fs.delete(deltaPath, true)
        oldGens.foreach { g =>
          spark.sql(s"DROP TABLE IF EXISTS ${tableName(g)}")
          fs.delete(new Path(path, s"base_g$g"), true)
        }
      }
    }
  }

  private[graft] object SeenStore {
    /** Near-dup keys: one row per occupied LSH bucket. */
    val Bands: Seq[(String, String)] = Seq("band" -> "INT", "bh" -> "BIGINT")
    /** Substring keys: one row per 20-token window digest. */
    val Digests: Seq[(String, String)] = Seq("h" -> "BINARY")
  }

  /** One micro-batch of [[startNearDupDedup]] — package-private so the
    * spec can replay a batch directly (the crash-recovery contract:
    * re-running any batch over any partial state of its first attempt
    * yields the same committed outputs). */
  private[graft] def processNearDupBatch(batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, compactEvery: Int,
      refine: DataFrame => DataFrame = identity): Unit = {
    import graft.queries.TextOps
    val store = new SeenStore(batch.sparkSession, storeDir, SeenStore.Bands)
    store.compactIfDue(batchId, compactEvery)
    val b = batch.persist()
    // fused array path: bitwise-identical buckets to bandedOf(shinglesOf),
    // with no explode/aggregate shuffle inside the micro-batch
    val bands = TextOps.bandedOfSets(TextOps.shingleSetsOf(b)).persist()
    try {
      val intraFirst = bands.groupBy("band", "bh").agg(min(col("doc_id")).as("first_id"))
      val intraHit = bands.join(intraFirst, Seq("band", "bh"))
        .filter(col("doc_id") > col("first_id"))
      val droppedIds = store.seenHits(bands, batchId).select("doc_id")
        .unionAll(intraHit.select("doc_id")).distinct()
      // refine = the caller's stateless post-dedup filters (curation);
      // the store update below stays based on the FULL batch's bands, so
      // dedup state is independent of what the filters later drop —
      // q71's dedup-before-filter order
      val survivors = refine(b.join(droppedIds, Seq("doc_id"), "left_anti"))
      // batch=<id> paths + overwrite = exactly-once under replay: the
      // re-run lands on top of the first attempt's (possibly partial)
      // output instead of appending next to it
      survivors.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      store.writeDelta(bands, batchId)
    } finally { bands.unpersist(); b.unpersist() }
  }

  /** Streaming face of q73 (exact substring dedup): drop an incoming doc
    * when ≥ `tau` of its tokens are covered by 20-token windows that are
    * already in the seen-store (any earlier batch — including windows of
    * docs that were themselves dropped) or duplicated WITHIN the batch
    * (≥ 2 occurrences, q73's in-corpus rule). The seen-store is the
    * near-dup dedup's [[SeenStore]] — same layout, compaction,
    * exactly-once replay and bucketed membership probe — keyed on
    * (h BINARY) window digests. */
  def startSubstringDedup(docs: DataFrame, storeDir: String, outDir: String,
      checkpointDir: String, compactEvery: Int = 8,
      tau: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processSubstringBatch(batch, batchId, storeDir, outDir, compactEvery, tau)
      }
      .start()

  /** One micro-batch of [[startSubstringDedup]] — same replay contract
    * as [[processNearDupBatch]]: re-running any batch over any partial
    * state of its first attempt yields the same committed outputs. */
  private[graft] def processSubstringBatch(batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, compactEvery: Int, tau: Double): Unit = {
    import graft.queries.TextOps
    val store = new SeenStore(batch.sparkSession, storeDir, SeenStore.Digests)
    store.compactIfDue(batchId, compactEvery)
    val b = batch.persist()
    val toks = TextOps.substringToks(b)
    val wins = TextOps.substringWindows(toks).persist()
    try {
      // duplicated windows: seen in the store (bucketed co-located probe,
      // only the batch side exchanges) or ≥2 occurrences within the batch
      val seenHit = store.seenHits(wins, batchId).select("doc_id", "i")
      val intraHit = wins.groupBy("h")
        .agg(collect_list(struct(col("doc_id"), col("i"))).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(col("ws")).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.i").as("i"))
      val k = 20
      val coverage = seenHit.unionAll(intraHit)
        .distinct()
        .select(col("doc_id"), explode(sequence(col("i"), col("i") + lit(k - 1))).as("tp"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tok"))
      val droppedIds = toks.select(col("doc_id"), col("n"))
        .join(coverage, Seq("doc_id"))
        .filter(col("n_dup_tok").cast("double") / col("n") >= tau)
        .select("doc_id")
      val survivors = b.join(droppedIds, Seq("doc_id"), "left_anti")
      survivors.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      // the store ingests ALL batch windows — dedup state is independent
      // of what the threshold drops, the near-dup dedup's rule
      store.writeDelta(wins.select("h").distinct(), batchId)
    } finally { wins.unpersist(); b.unpersist() }
  }

  /** Streaming corpus decontamination (the streaming face of
    * Pipeline.q47b): drop incoming documents that share ANY word trigram
    * with the held-out eval set. The Bloom blob is computed once from the
    * static eval corpus (kilobytes of "model state") and applied as a
    * stateless per-row filter — the standard stream-vs-static-enrichment
    * pattern: no join, no state store, no watermark; each micro-batch
    * filters independently at full parallelism. Bloom false positives
    * only ever DROP extra docs (conservative for decontamination); false
    * negatives cannot occur. */
  def decontaminate(docs: DataFrame, evalBloom: Array[Byte]): DataFrame =
    // an empty eval set has nothing to contaminate: its bloom blob is NULL
    // (aggregate over zero rows), and filtering against it must keep every
    // doc, not silently drop the corpus
    if (evalBloom == null) docs
    else docs
      // norm + gram definitions are shared with batch q47/q47b
      // (Pipeline.normExprStr / trigramHashExpr) so the streaming filter
      // can't silently drift from the contamination check it mirrors
      .withColumn("a", split(expr(graft.queries.Pipeline.normExprStr), " "))
      .withColumn("gs", expr(graft.queries.Pipeline.trigramHashExpr))
      // coalesce keeps NULL-text rows: split/transform of NULL makes gs
      // NULL and !exists(NULL) is NULL — batch q47 treats gram-less docs
      // as uncontaminated, so the stream filter must too
      .filter(coalesce(
        !exists(col("gs"), g => call_function("graft_bloom_contains", lit(evalBloom), g)),
        lit(true)))
      .drop("a", "gs")

  final case class UserStats(user_id: Long, n: Long, total: Double, last_us: Long)

  final case class SessionState(start_us: Long, last_us: Long, n: Long)
  final case class Session(user_id: Long, sess_start_us: Long, n: Long, closed: Boolean)

  /** Custom sessionizer via flatMapGroupsWithState with event-time
    * timeout: sessions are held in keyed state and emitted once the
    * watermark passes their gap (closed = true), so state stays bounded
    * by *active* sessions — the property that lets this run forever on a
    * cluster. Gap semantics identical to session_window (merge iff
    * diff < gap). */
  def sessionizeWithState(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            // watermark passed: every open session is final
            val out = state.getOption.getOrElse(Nil)
              .map(s => Session(uid, s.start_us, s.n, closed = true))
            state.remove()
            out.iterator
          } else {
            // merge the batch into the open session set (sorted replay)
            val sorted = batch.toSeq.map(e => e.ts.getTime * 1000L + (e.ts.getNanos % 1000000) / 1000L).sorted
            var sessions = state.getOption.getOrElse(Nil)
            sorted.foreach { us =>
              sessions.find(s => us > s.start_us - gapUs && us < s.last_us + gapUs) match {
                case Some(s) =>
                  sessions = SessionState(math.min(s.start_us, us),
                    math.max(s.last_us, us), s.n + 1) :: sessions.filterNot(_ == s)
                case None =>
                  sessions = SessionState(us, us, 1L) :: sessions
              }
            }
            // coalesce sessions that grew into each other
            val merged = sessions.sortBy(_.start_us).foldLeft(List.empty[SessionState]) {
              case (acc @ (h :: t), s) if s.start_us < h.last_us + gapUs =>
                SessionState(h.start_us, math.max(h.last_us, s.last_us), h.n + s.n) :: t
              case (acc, s) => s :: acc
            }.reverse
            // a group that keeps receiving data never times out, so closed
            // sessions are evicted here: anything whose gap window ended
            // before the current watermark is final
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (done, open) = merged.partition(s => s.last_us + gapUs < wmUs)
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              state.setTimeoutTimestamp(open.map(_.last_us / 1000L).max + gapMinutes * 60L * 1000L)
            }
            done.map(s => Session(uid, s.start_us, s.n, closed = true)).iterator
          }
      }
  }

  /** Custom keyed state via mapGroupsWithState: running per-user count /
    * sum / last-seen. Emits the updated state each micro-batch (Update
    * mode); the test asserts the final state equals the batch aggregate. */
  def userStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats] {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0.0, Long.MinValue))
          val upd = batch.foldLeft(prev) { (acc, e) =>
            UserStats(uid, acc.n + 1,
              // decimal-cents accumulation keeps the running sum exact
              (BigDecimal(acc.total) + BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)).toDouble,
              math.max(acc.last_us,
              e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000L))
          }
          state.update(upd)
          upd
      }
  }

  final case class LangDoc(lang: String, doc_id: Long, n_chars: Long)
  final case class SampleEntry(lang: String, rn: Int, doc_id: Long, w: Long, est_w: Double)

  /** Streaming form of q74's weighted priority sample: keyed state holds
    * the current top-(k+1) priorities per language — a BOUNDED k+1-tuple
    * heap regardless of how many documents stream past — and each
    * micro-batch emits the updated top-k with the max(w, tau) estimator
    * (Update mode). Because priority sampling is a pure top-k over a
    * per-doc priority, the streaming sample after any prefix equals the
    * batch q74 over that prefix exactly (StreamsSpec asserts final
    * stream ≡ batch on a chunked replay, including est_w).
    *
    * Priorities replicate queries/Layout.q74 bit-for-bit: the same
    * arithmetic mix hash in Long arithmetic, the same single IEEE
    * division. Input docs are assumed at-most-once per doc_id (upstream
    * exact dedup — q16's stream form — provides that). */
  def prioritySampleStream(docs: Dataset[LangDoc], k: Int = 40): Dataset[SampleEntry] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    def mix(key: Long): Long = { // = Pipeline.mixExpr, in Long arithmetic
      val M = 2654435761L
      val lo = (key % 65536L) * M
      val hi = (((key / 65536L) % 65536L) * M % 65536L) * 65536L
      ((lo + hi) % 4294967296L) / 65536L
    }
    docs.groupByKey(_.lang)
      .flatMapGroupsWithState[List[(Double, Long, Long)], SampleEntry](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (lang: String, batch: Iterator[LangDoc], state: GroupState[List[(Double, Long, Long)]]) =>
          val incoming = batch.map { d =>
            (2.0 * d.n_chars / (2L * mix(d.doc_id) + 1L), d.doc_id, d.n_chars)
          }
          val merged = (state.getOption.getOrElse(Nil) ++ incoming)
            .sortBy { case (p, id, _) => (-p, id) }
            .take(k + 1)
          state.update(merged)
          val tau = merged.drop(k).headOption.map(_._1)
          merged.take(k).zipWithIndex.map { case ((_, id, w), i) =>
            val est = math.max(w.toDouble, tau.getOrElse(w.toDouble))
            SampleEntry(lang, i + 1, id, w, math.floor(est * 10000 + 0.5) / 10000)
          }.iterator
      }
  }

  final case class LedgerRow(user_id: Long, n: Long, total: Double, n_dup: Long)
  final case class LedgerAgg(n: Long, cents: Long, dups: Long)

  /** Exactly-once per-user value ledger via the Spark 4 StatefulProcessor
    * API (`transformWithState`) — the arbitrary-stateful-processing v2
    * surface alongside the v1 mapGroupsWithState/flatMapGroupsWithState
    * operators above. Two typed state variables per user key:
    *
    *  - `agg: ValueState[LedgerAgg]` — running event count + DECIMAL-cents
    *    total (exact under any delivery order, same discipline as
    *    [[userStats]]);
    *  - `seen: MapState[Long, Boolean]` — event_ids already applied, so a
    *    redelivered event (at-least-once upstream: replayed Kafka offsets,
    *    retried batches) is counted as a duplicate and NOT re-applied:
    *    the ledger itself is exactly-once.
    *
    * Emits the updated ledger once per key per micro-batch (Update mode).
    * State posture at scale: `seen` is keyed RocksDB state — per-key-space
    * lookups, never a full scan; production would bound it with a
    * retention `TTLConfig` on the map (id-space beyond the redelivery
    * horizon can't recur), which changes nothing structurally — the
    * StreamsSpec gate replays events chunked WITH injected redeliveries
    * and asserts the final ledger equals the batch aggregate over the
    * distinct events. */
  def ledgerStream(events: Dataset[Event]): Dataset[LedgerRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    val processor = new StatefulProcessor[Long, Event, LedgerRow] {
      @transient private var agg: org.apache.spark.sql.streaming.ValueState[LedgerAgg] = _
      @transient private var seen: org.apache.spark.sql.streaming.MapState[Long, Boolean] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        agg = getHandle.getValueState[LedgerAgg]("agg", Encoders.product[LedgerAgg], TTLConfig.NONE)
        seen = getHandle.getMapState[Long, Boolean]("seen",
          Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
      }
      override def handleInputRows(user: Long, rows: Iterator[Event],
          timers: TimerValues): Iterator[LedgerRow] = {
        var s = if (agg.exists()) agg.get() else LedgerAgg(0L, 0L, 0L)
        rows.foreach { e =>
          if (seen.containsKey(e.event_id)) s = s.copy(dups = s.dups + 1)
          else {
            seen.updateValue(e.event_id, true)
            s = LedgerAgg(s.n + 1,
              s.cents + BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)
                .*(BigDecimal(100)).toLongExact,
              s.dups)
          }
        }
        agg.update(s)
        Iterator.single(LedgerRow(user, s.n, s.cents / 100.0, s.dups))
      }
    }
    events.groupByKey(_.user_id)
      .transformWithState(processor, TimeMode.None(), OutputMode.Update())
  }

  /** Per-user token-bucket state held by [[rateLimitStream]]. */
  final case class BucketState(tokens: Long, prev_us: Long, n: Long, throttled: Long)
  final case class BucketRow(user_id: Long, n_events: Long, n_throttled: Long,
      final_tokens: Long)

  /** Streaming token-bucket rate limiter — q104's streaming face and the
    * third `transformWithState` user: per user, ONE ValueState holds
    * (tokens, prev event time, counts); each micro-batch's rows for a
    * key are sorted by (us, event_id) BEFORE the fold, so within-batch
    * disorder is absorbed, and the clamp arithmetic is the exact integer
    * machine of the batch query (same RateCap/RateCost constants —
    * a fix lands in one place). Cross-batch order is the replay
    * contract, as for [[scd2Stream]]; a disorder-tolerant variant would
    * buffer behind a watermark exactly like [[scd2StreamBuffered]].
    * Emits the running audit row per key per batch (Update mode);
    * O(1) state per key. StreamsSpec replays chunked WITH within-chunk
    * shuffling and asserts the final rows equal batch q104. */
  def rateLimitStream(events: Dataset[Event]): Dataset[BucketRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    val Cap = graft.queries.Funnel.RateCap
    val Cost = graft.queries.Funnel.RateCost
    def micros(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val processor = new StatefulProcessor[Long, Event, BucketRow] {
      @transient private var st: org.apache.spark.sql.streaming.ValueState[BucketState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[BucketState]("bucket",
          Encoders.product[BucketState], TTLConfig.NONE)
      override def handleInputRows(user: Long, rows: Iterator[Event],
          timers: TimerValues): Iterator[BucketRow] = {
        var s = if (st.exists()) st.get() else BucketState(Cap, 0L, 0L, 0L)
        rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
          val us = micros(e.ts)
          val refilled = if (s.n > 0) math.min(Cap, s.tokens + (us - s.prev_us)) else s.tokens
          s = if (refilled >= Cost)
            BucketState(refilled - Cost, us, s.n + 1, s.throttled)
          else BucketState(refilled, us, s.n + 1, s.throttled + 1)
        }
        st.update(s)
        Iterator.single(BucketRow(user, s.n, s.throttled, s.tokens))
      }
    }
    events.groupByKey(_.user_id)
      .transformWithState(processor, TimeMode.None(), OutputMode.Update())
  }

  /** An SCD2 interval closed by [[scd2Stream]]: the user's event_type
    * held from valid_from_us until a different type arrived at
    * valid_to_us. */
  final case class ScdClosed(user_id: Long, event_type: String,
      valid_from_us: Long, valid_to_us: Long, n_events: Long)
  /** The per-user OPEN interval [[scd2Stream]] holds as state. */
  final case class ScdOpen(event_type: String, valid_from_us: Long, n_events: Long)

  /** Streaming SCD Type-2 dimension maintenance — q83's streaming face
    * and the second `transformWithState` user: per user, a single
    * `ValueState[ScdOpen]` holds the open interval; when an event with a
    * DIFFERENT event_type arrives, the open interval is emitted as a
    * closed [valid_from, valid_to) row and the new one opens. Exactly
    * the incremental computation a warehouse's dimension-history
    * maintainer runs on a CDC feed: O(1) state per key (just the open
    * interval — nothing about history is retained), closed rows are
    * append-only output.
    *
    * Ordering contract: rows are sorted by (ts, event_id) WITHIN each
    * micro-batch per key (the iterator is buffered — bounded by one
    * key's rows in one batch, the same posture as the sessionizer), and
    * arrival across batches is assumed per-user time-monotone (the
    * upstream log's per-key ordering guarantee, e.g. a user-keyed Kafka
    * partitioning). A production deployment with cross-batch disorder
    * would front this with a watermark + event-time-timer buffer;
    * the interval algebra is unchanged.
    *
    * StreamsSpec replays the events fixture in time-ordered chunks and
    * asserts the emitted closed intervals equal EXACTLY the batch q83
    * rows with is_current = 0 — stream and batch compute the same
    * dimension history. */
  def scd2Stream(events: Dataset[Event]): Dataset[ScdClosed] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    def micros(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val processor = new StatefulProcessor[Long, Event, ScdClosed] {
      @transient private var open: org.apache.spark.sql.streaming.ValueState[ScdOpen] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        open = getHandle.getValueState[ScdOpen]("open", Encoders.product[ScdOpen], TTLConfig.NONE)
      override def handleInputRows(user: Long, rows: Iterator[Event],
          timers: TimerValues): Iterator[ScdClosed] = {
        val ordered = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
        val out = Seq.newBuilder[ScdClosed]
        var cur = if (open.exists()) Option(open.get()) else None
        ordered.foreach { e =>
          val us = micros(e.ts)
          cur match {
            case Some(o) if o.event_type == e.event_type =>
              cur = Some(o.copy(n_events = o.n_events + 1))
            case Some(o) =>
              out += ScdClosed(user, o.event_type, o.valid_from_us, us, o.n_events)
              cur = Some(ScdOpen(e.event_type, us, 1L))
            case None =>
              cur = Some(ScdOpen(e.event_type, us, 1L))
          }
        }
        cur.foreach(open.update)
        out.result().iterator
      }
    }
    events.groupByKey(_.user_id)
      .transformWithState(processor, TimeMode.None(), OutputMode.Append())
  }

  /** Out-of-order-tolerant streaming SCD2 — the production form the
    * [[scd2Stream]] doc promises: a watermark plus an event-time-timer
    * drain buffer absorbs cross-batch disorder up to `delay`.
    *
    * Mechanics (the third `transformWithState` user, and the first with
    * `TimeMode.EventTime` timers):
    *
    *  - every arriving event is appended to a per-user
    *    `ListState[Event]` buffer — NOTHING is applied on arrival;
    *  - each batch registers an event-time timer just past the batch's
    *    max event time; when the WATERMARK passes it, the timer fires
    *    and the processor drains exactly the buffered events with
    *    ts <= watermark — provably final, since any straggler older
    *    than that is beyond the allowed lateness — sorts them by
    *    (ts, event_id), and applies the same interval algebra as the
    *    ordered variant; later events stay buffered for the next drain.
    *
    * State per user is the open interval + the in-flight buffer (bounded
    * by `delay` worth of events — the watermark evicts everything
    * older). StreamsSpec feeds the events SHUFFLED within chunks
    * (violating arrival order by design) and asserts the closed
    * intervals still equal batch q83's history exactly. */
  def scd2StreamBuffered(events: Dataset[Event], delay: String): Dataset[ScdClosed] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    def micros(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val processor = new StatefulProcessor[Long, Event, ScdClosed] {
      @transient private var open: org.apache.spark.sql.streaming.ValueState[ScdOpen] = _
      @transient private var buf: org.apache.spark.sql.streaming.ListState[Event] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        open = getHandle.getValueState[ScdOpen]("open", Encoders.product[ScdOpen], TTLConfig.NONE)
        buf = getHandle.getListState[Event]("buf", Encoders.product[Event], TTLConfig.NONE)
      }
      override def handleInputRows(user: Long, rows: Iterator[Event],
          timers: TimerValues): Iterator[ScdClosed] = {
        var maxMs = Long.MinValue
        rows.foreach { e =>
          buf.appendValue(e)
          maxMs = math.max(maxMs, e.ts.getTime)
        }
        // fire once the watermark proves everything up to this batch's
        // horizon is final; earlier-expiry timers from prior batches
        // drain earlier prefixes incrementally
        if (maxMs != Long.MinValue) getHandle.registerTimer(maxMs + 1)
        Iterator.empty
      }
      override def handleExpiredTimer(user: Long, timers: TimerValues,
          expired: ExpiredTimerInfo): Iterator[ScdClosed] = {
        val wmUs = timers.getCurrentWatermarkInMs() * 1000L
        // Strictly below: Spark admits late rows with event time EQUAL to
        // the watermark, so an event at exactly wmUs is not yet provably
        // final — draining it here could apply a later-arriving same-
        // microsecond straggler out of (ts, event_id) order. Boundary
        // rows stay buffered until a later timer proves them final.
        val (drain, keep) = buf.get().toSeq.partition(e => micros(e.ts) < wmUs)
        buf.clear()
        keep.foreach(buf.appendValue)
        val out = Seq.newBuilder[ScdClosed]
        var cur = if (open.exists()) Option(open.get()) else None
        drain.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
          val us = micros(e.ts)
          cur match {
            case Some(o) if o.event_type == e.event_type =>
              cur = Some(o.copy(n_events = o.n_events + 1))
            case Some(o) =>
              out += ScdClosed(user, o.event_type, o.valid_from_us, us, o.n_events)
              cur = Some(ScdOpen(e.event_type, us, 1L))
            case None =>
              cur = Some(ScdOpen(e.event_type, us, 1L))
          }
        }
        cur.foreach(open.update)
        out.result().iterator
      }
    }
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
  }
}
