package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Streaming equivalence suite (SURVEY.md §5.2.5): replay events.parquet
  * through MemoryStream and assert the streaming results equal the batch
  * results of the same expressions. */
class StreamsSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private def eventsBatch: DataFrame =
    Tables.table(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")

  private def loadEvents(): Seq[Event] = {
    eventsBatch.collect().map { r =>
      val ts = r.getAs[Any](1) match {
        case t: Timestamp => t
        case ldt: java.time.LocalDateTime =>
          // NTZ wall-clock; session tz is pinned UTC so this is exact
          Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
      }
      Event(r.getLong(0), ts, r.getLong(2), r.getString(3), r.getDouble(4))
    }.toSeq
  }

  private def runToCompletion(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private def canon(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(col): _*).collect()
      .map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    StreamsAudit.record(currentTest, rows)
    rows
  }

  // ---- audit artifact (VERDICT r6 item 7): every canon() call above is
  // one side of a batch≡stream replay equivalence; recording its hash
  // per test and dumping target/STREAMS_r{N}.json at suite end makes the
  // streaming coverage auditable without reading test logs. The asserts
  // remain the gate — the artifact is the visible record of what ran.
  private var currentTest: String = ""

  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    currentTest = test.name
    val t0 = System.nanoTime()
    val out = super.withFixture(test)
    StreamsAudit.outcome(test.name, out.isSucceeded, (System.nanoTime() - t0) / 1e9)
    out
  }

  override protected def afterAll(): Unit = {
    try {
      // throughput regression gate (VERDICT r8 item 6): fail the suite
      // when the SUITE-aggregate rows/s over the baseline-covered tests
      // drops below 1/3 of the committed baseline's same aggregate
      // (suite-level with a 1/3 floor — NOT per-test halves — so cold
      // forked-JVM first tests can't false-fail; see
      // StreamsAudit.gateOutcome). The gate's full outcome — ran or
      // skipped, and why — is embedded in STREAMS_r{N}.json (VERDICT r9
      // item 3), and the suite asserts the record actually landed.
      val gate = StreamsAudit.gateOutcome()
      val json = StreamsAudit.write(Some(gate))
      assert(json.exists(_.contains("\"gate_skipped\":")),
        "streams artifact must carry the throughput-gate record")
      if (gate.regressions.nonEmpty)
        throw new AssertionError(
          "streaming throughput regression vs docs/streams_baseline.json:\n  " +
            gate.regressions.mkString("\n  "))
      // full-run coverage pin (VERDICT r10 item 5): when the whole suite
      // ran (not a filtered `testOnly -z` subset), every baseline test
      // must have been measured — a renamed/deleted test would otherwise
      // silently shrink the gate's denominator until the baseline is
      // deliberately refreshed alongside the change.
      // expected count derives from the suite's registered tests, not a
      // literal (ADVICE r11: a deleted baseline-covered test would drop
      // outcomes below the literal and silently skip this pin — the
      // exact case the pin exists to catch)
      if (!gate.skipped && StreamsAudit.fullRun(expectedTests = testNames.size))
        assert(gate.coveredTests == gate.baselineTests,
          s"full run covered ${gate.coveredTests} of ${gate.baselineTests} " +
            "baseline tests — refresh docs/streams_baseline.json with the " +
            "test-name change that caused this")
    } finally super.afterAll()
  }

  test("stream-static enrichment join equals batch, stays stateless, and broadcasts the dimension") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val customers = Tables.table(spark, dir, "customer")
    val stream = MemoryStream[Event]
    loadEvents().grouped(400).foreach(chunk => stream.addData(chunk))
    val got = runToCompletion(
      Streams.enrichWithCustomers(stream.toDF(), customers), "t_enrich", "append")
    val want = Streams.enrichWithCustomers(eventsBatch, customers)
    assert(canon(got) == canon(want))
    assert(got.count() > 0)
    // the join must be the stateless broadcast kind: no streaming state
    // store in the plan (state would mean we built a stream-stream join
    // by accident), and the dimension side carries the broadcast hint
    val planned = Streams.enrichWithCustomers(stream.toDF(), customers)
    val hints = planned.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.nonEmpty, "dimension side must be broadcast-hinted")
    val batchPlan = want.queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"), batchPlan.linesIterator.take(5).mkString("\n"))
  }

  test("streaming PSI drift monitor equals the batch composition (stateless broadcast binning)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val cut = Timestamp.valueOf("2024-01-16 00:00:00")
    val (refEvs, curEvs) = loadEvents().partition(_.ts.before(cut))
    val reference = Streams.driftReference(refEvs.toDF()).persist()
    assert(reference.count() == 10, "reference fixes all 10 decile bins")
    val stream = MemoryStream[Event]
    curEvs.grouped(400).foreach(chunk => stream.addData(chunk))
    val got = runToCompletion(
      Streams.driftBinCounts(stream.toDF(), reference), "t_drift", "complete")
    val want = Streams.driftBinCounts(curEvs.toDF(), reference)
    assert(canon(got) == canon(want))
    assert(canon(Streams.driftPsi(got, reference)) == canon(Streams.driftPsi(want, reference)))
    val psi = Streams.driftPsi(want, reference).collect()
    assert(psi.nonEmpty && psi.forall(_.getDouble(5) >= 0), "PSI terms nonnegative")
    val shareSums = psi.groupBy(_.getLong(0)).values.map(_.map(_.getDouble(4)).sum)
    assert(shareSums.forall(s => math.abs(s - 1.0) < 1e-3), "cur shares sum to ~1 per window")
    // binning must be the stateless broadcast kind — no stream-stream state
    val bp = want.queryExecution.executedPlan.toString
    assert(bp.contains("Broadcast"), bp.linesIterator.take(8).mkString("\n"))
    reference.unpersist()
  }

  test("PSI drift monitor keeps live bins the reference never populated (ref_share 0)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ev(id: Long, v: Double) =
      Event(id, Timestamp.valueOf("2024-01-16 12:00:00"), id, "view", v)
    // reference only at the extremes -> deciles 1..8 have ZERO ref rows;
    // the live window lands squarely in those empty bins (the strongest
    // drift signal) — an inner binning join would drop them entirely
    val refEvs = Seq(ev(1, 0.0), ev(2, 0.5), ev(3, 10.0))
    val curEvs = (10L until 30L).map(i => ev(i, 5.0 + (i % 3))) // bins 5-7
    val reference = Streams.driftReference(refEvs.toDF()).persist()
    assert(reference.count() < 10, "fixture must leave reference bins empty")
    val stream = MemoryStream[Event]
    stream.addData(curEvs)
    val got = runToCompletion(
      Streams.driftBinCounts(stream.toDF(), reference), "t_drift_gap", "complete")
    val want = Streams.driftBinCounts(curEvs.toDF(), reference)
    assert(canon(got) == canon(want))
    assert(got.agg(sum("n_cur")).head().getLong(0) == curEvs.size,
      "every live row must survive binning even in reference-empty bins")
    val gapBins = got.filter(col("ref_share") === 0.0)
    assert(gapBins.count() > 0, "reference-empty live bins carry ref_share 0")
    val psi = Streams.driftPsi(want, reference).collect()
    assert(psi.forall(_.getDouble(5) >= 0), "PSI terms stay finite/nonnegative at p=0")
    // the mirror case: reference-heavy buckets the live window VACATED
    // (0 and 9 here) must still appear, with n_cur = 0 and a POSITIVE
    // psi term — the spine completion in driftPsi, not stream state
    val vacated = psi.filter(_.getLong(2) == 0L)
    assert(vacated.nonEmpty, "vacated reference bins must appear with n_cur = 0")
    assert(vacated.forall(r => r.getDouble(3) > 0 && r.getDouble(5) > 0),
      s"vacated bins carry the reference share and a positive PSI term: ${vacated.toSeq}")
    val binSum = psi.map(_.getLong(2)).sum
    assert(binSum == curEvs.size, "spine completion must not change window totals")
    reference.unpersist()
  }

  test("Q19 tumbling window: stream (complete mode) equals batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    val evs = loadEvents()
    // feed in 3 uneven chunks to exercise incremental state
    evs.grouped(400).foreach(chunk => stream.addData(chunk))
    val got = runToCompletion(Streams.tumblingHour(stream.toDF()), "t_q19", "complete")
    val want = Streams.tumblingHour(eventsBatch)
    assert(canon(got) == canon(want))
    assert(got.count() > 0)
  }

  test("Q19b sliding window: stream (complete mode) equals batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    loadEvents().grouped(450).foreach(chunk => stream.addData(chunk))
    val got = runToCompletion(Streams.slidingQuarter(stream.toDF()), "t_q19b", "complete")
    val want = Streams.slidingQuarter(eventsBatch)
    assert(canon(got) == canon(want))
    assert(got.count() > 0)
  }

  test("Q19b approx user count: stream lands within 10% of batch-exact per window") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    loadEvents().grouped(450).foreach(chunk => stream.addData(chunk))
    val got = runToCompletion(
      Streams.slidingQuarterApprox(stream.toDF()), "t_q19b_approx", "complete")
      .select("win_us", "n_users_approx").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = eventsBatch
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("window.start")).as("win_us"), col("n_users"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet)
    for ((win, want) <- exact) {
      val g = got(win)
      assert(math.abs(g - want) <= math.max(1L, (want * 0.10).toLong),
        s"window $win: approx $g vs exact $want")
    }
  }

  test("Q20 session window: stream (complete mode) equals batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    loadEvents().grouped(350).foreach(chunk => stream.addData(chunk))
    val got = runToCompletion(Streams.sessionize(stream.toDF()), "t_q20", "complete")
    val want = Streams.sessionize(eventsBatch)
    assert(canon(got) == canon(want))
  }

  test("stream-stream interval join (append mode) equals batch join") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    // feed in event-time order so the 2 h watermark never drops a match
    loadEvents().sortBy(_.ts.getTime).grouped(400).foreach(stream.addData(_))
    val got = runToCompletion(Streams.clickPurchaseJoin(stream.toDF()), "t_ssj", "append")
    val want = Streams.clickPurchaseJoin(eventsBatch)
    assert(canon(got) == canon(want))
    assert(got.count() > 0)
  }

  test("stream-stream LEFT OUTER interval join equals batch, including NULL-padded misses") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    loadEvents().sortBy(_.ts.getTime).grouped(400).foreach(stream.addData(_))
    val q = Streams.clickPurchaseLeftJoin(stream.toDF())
      .writeStream.format("memory").queryName("t_ssj_left").outputMode("append").start()
    q.processAllAvailable()
    // Outer-null rows emit only on watermark-driven state eviction. Two
    // far-future sentinel batches (distinct sentinel users so they can't
    // match each other or real rows): the first advances BOTH branch
    // watermarks past all real data; the second triggers the batch in
    // which eviction actually emits the misses.
    def flush(idBase: Long, t: String) = Seq(
      Event(idBase, Timestamp.valueOf(t), -1L, "click", 0.0),
      Event(idBase + 1, Timestamp.valueOf(t), -2L, "purchase", 0.0))
    stream.addData(flush(9000001L, "2031-01-01 00:00:00"))
    q.processAllAvailable()
    stream.addData(flush(9000003L, "2031-02-01 00:00:00"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_ssj_left").filter(col("user_id") >= 0)
    val want = Streams.clickPurchaseLeftJoin(eventsBatch)
    assert(canon(got) == canon(want))
    val misses = got.filter(col("click_id").isNull).count()
    assert(misses > 0, "the fixture must contain purchases with no preceding-hour click")
    assert(got.count() > misses, "and purchases that DO match")
  }

  test("streaming SCD2 closed intervals equal batch q83's non-current rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // transformWithState needs multi-column-family state → RocksDB provider
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      // feed in the processor's contractual (micros, event_id) order —
      // getTime alone truncates to millis and could split a same-ms pair
      // across chunks out of order
      def us(t: Timestamp): Long = math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      loadEvents().sortBy(e => (us(e.ts), e.event_id)).grouped(300).foreach(stream.addData(_))
      val got = runToCompletion(Streams.scd2Stream(stream.toDS()).toDF(), "t_scd2", "append")
      val want = graft.queries.Temporal.q83_scd2_intervals.fn(spark, dir)
        .filter(col("is_current") === 0)
        .select("user_id", "event_type", "valid_from_us", "valid_to_us", "n_events")
      assert(canon(got) == canon(want))
      assert(got.count() > 0, "the fixture must close at least one interval")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("buffered streaming SCD2 absorbs within-chunk disorder and equals batch q83") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def us(t: Timestamp): Long = math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      // time-ordered chunks, then SHUFFLE each chunk internally — the
      // arrival order violates (ts, event_id) by design; the allowed
      // lateness is sized just past the widest chunk's time span
      val chunks = loadEvents().sortBy(e => (us(e.ts), e.event_id)).grouped(150).toSeq
      val rnd = new scala.util.Random(42)
      val shuffled = chunks.map(c => rnd.shuffle(c))
      val maxSpanSec = chunks.map(c => (us(c.last.ts) - us(c.head.ts)) / 1000000L).max
      val delay = s"${maxSpanSec + 3600} seconds"
      val stream = MemoryStream[Event]
      shuffled.foreach(stream.addData(_))
      val q = Streams.scd2StreamBuffered(stream.toDS(), delay)
        .toDF().writeStream.format("memory").queryName("t_scd2b").outputMode("append").start()
      q.processAllAvailable()
      // two far-future flush batches: the first advances the watermark
      // past all real data, the second triggers the batch whose timer
      // evaluation drains every buffer
      stream.addData(Seq(Event(9100001L, Timestamp.valueOf("2032-01-01 00:00:00"), -1L, "click", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq(Event(9100002L, Timestamp.valueOf("2032-02-01 00:00:00"), -1L, "click", 0.0)))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_scd2b").filter(col("user_id") >= 0)
      val want = graft.queries.Temporal.q83_scd2_intervals.fn(spark, dir)
        .filter(col("is_current") === 0)
        .select("user_id", "event_type", "valid_from_us", "valid_to_us", "n_events")
      assert(canon(got) == canon(want),
        "disordered arrival must still produce the exact batch dimension history")
      assert(got.count() > 0)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("watermark drops late rows beyond the threshold (append mode)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    def ev(id: Long, t: String, v: Double) =
      Event(id, Timestamp.valueOf(t), 1L, "click", v)
    val q = Streams.tumblingHour(stream.toDF(), watermark = Some("1 hour"))
      .writeStream.format("memory").queryName("t_wm").outputMode("append").start()
    stream.addData(ev(1, "2024-01-01 00:10:00", 1.0), ev(2, "2024-01-01 00:20:00", 2.0))
    q.processAllAvailable()
    // advance event time far enough that watermark (= max ts - 1h) passes hour 0
    stream.addData(ev(3, "2024-01-01 03:00:00", 3.0))
    q.processAllAvailable()
    // this row's window (hour 0) is finalized -> must be dropped
    stream.addData(ev(4, "2024-01-01 00:30:00", 99.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_wm").collect()
    val hour0 = rows.filter(_.getAs[Long]("win_us") == 1704067200000000L)
    assert(hour0.length == 1)
    assert(hour0(0).getAs[Long]("n") == 2, "late row must not be counted")
  }

  test("dropDuplicatesWithinWatermark removes duplicate event ids across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    def ev(id: Long, t: String) = Event(id, Timestamp.valueOf(t), 1L, "click", 1.0)
    val q = Streams.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    stream.addData(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:01:00"))
    q.processAllAvailable()
    stream.addData(ev(1, "2024-01-01 00:02:00"), ev(3, "2024-01-01 00:03:00"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("t_dedup").select("event_id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 3L))
  }

  test("flatMapGroupsWithState sessionizer closes sessions past the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    def ev(id: Long, t: String) = Event(id, Timestamp.valueOf(t), 7L, "click", 1.0)
    val q = Streams.sessionizeWithState(stream.toDS())
      .writeStream.format("memory").queryName("t_fmgs").outputMode("append").start()
    // session A: 2 events 10 min apart; then a long gap
    stream.addData(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:10:00"))
    q.processAllAvailable()
    // advance event time ~6h: watermark (max ts - 2h) passes session A's gap
    stream.addData(ev(3, "2024-01-01 06:00:00"))
    q.processAllAvailable()
    stream.addData(ev(4, "2024-01-01 09:00:00"))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("t_fmgs").collect()
      .map(r => (r.getAs[Long]("sess_start_us"), r.getAs[Long]("n"), r.getAs[Boolean]("closed")))
    assert(closed.contains((1704067200000000L, 2L, true)),
      s"session A must close with 2 events; got ${closed.mkString(", ")}")
  }

  test("checkpointed restart keeps offsets and dedup state (exactly-once sink)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-chk").toString
    val (src, chk, out) = (s"$base/src", s"$base/chk", s"$base/out")
    def ev(id: Long, t: String) = Event(id, Timestamp.valueOf(t), 1L, "click", 1.0)
    def writeChunk(evs: Seq[Event]): Unit =
      evs.toDS().coalesce(1).write.mode("append").parquet(src)
    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    def run(): Unit = {
      val q = Streams.dedupEvents(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", chk).outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    try {
      writeChunk(Seq(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:01:00"),
        ev(1, "2024-01-01 00:02:00")))
      run()
      // second, fully separate run off the same checkpoint: the replayed id 1
      // is dropped ONLY if the dedup state survived the restart, and file A
      // is not reprocessed ONLY if the offset log survived
      writeChunk(Seq(ev(1, "2024-01-01 00:03:00"), ev(4, "2024-01-01 00:04:00")))
      run()
      val ids = spark.read.parquet(out).select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L), s"got $ids")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("streaming decontamination filter equals the batch filter and drops docs") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val blob = graft.queries.Pipeline.evalBloomBlob(spark, dir)
    val docsBatch = Tables.table(spark, dir, "documents").select("doc_id", "text")
    val docs = docsBatch.collect().map(r => Streams.Doc(r.getLong(0), r.getString(1))).toSeq
    val stream = MemoryStream[Streams.Doc]
    docs.grouped(120).foreach(chunk => stream.addData(chunk))
    val got = runToCompletion(
      Streams.decontaminate(stream.toDF(), blob), "t_decon", "append")
    val want = Streams.decontaminate(docsBatch, blob)
    assert(canon(got) == canon(want))
    // the fixture's eval set contaminates part of the corpus: the filter
    // must drop something but not everything
    assert(got.count() > 0 && got.count() < docsBatch.count())
  }

  test("streaming near-dup dedup equals a sequential replay of the corpus; " +
      "batch replay after a crash is exactly-once; compaction keeps the store distinct") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docsBatch = Tables.table(spark, dir, "documents").select("doc_id", "text")
    // truth: replay docs in doc_id order against a growing bucket set,
    // using the SAME band hashes the stream computes (q26's bucketing)
    val allBands = graft.queries.TextOps.bandedOf(
        graft.queries.TextOps.shinglesOf(docsBatch))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seen = scala.collection.mutable.Set.empty[(Int, Long)]
    val wantSurvivors = docsBatch.select("doc_id").collect().map(_.getLong(0)).sorted.filter { id =>
      val buckets = allBands.getOrElse(id, Set.empty)
      val dropped = buckets.exists(seen)
      seen ++= buckets // dropped docs' buckets count too (conservative)
      !dropped
    }.toSet
    assert(wantSurvivors.size < allBands.size, "fixture must contain near-dups to drop")
    // stream the same docs in doc_id-ordered chunks; compactEvery=2 so
    // the run exercises compaction mid-stream (batches 0..4 → folds at
    // batch 2 and batch 4), i.e. later batches probe base AND delta
    val tmp = java.nio.file.Files.createTempDirectory("neardup").toString
    val stream = MemoryStream[Streams.Doc]
    val q = Streams.startNearDupDedup(stream.toDF(),
      s"$tmp/store", s"$tmp/out", s"$tmp/ckpt", compactEvery = 2)
    // drain between chunks so each lands in its OWN micro-batch — later
    // chunks must hit a populated seen-store, or the cross-batch path
    // (the feature's reason to exist) goes untested
    val chunks = docsBatch.orderBy("doc_id").collect()
      .map(r => Streams.Doc(r.getLong(0), r.getString(1)))
      .grouped(120).toSeq
    chunks.foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    def readOut(): Set[Long] = spark.read.parquet(s"$tmp/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(readOut() == wantSurvivors)

    // --- compaction accounting: the last fold ran at batch 4, so the
    // base generation holds the DISTINCT buckets of batches 0-3 (store
    // size tracks the distinct bucket set, not the append history) and
    // the delta holds only batch 4
    val storeFs = new java.io.File(s"$tmp/store")
    val gens = storeFs.listFiles().filter(_.getName.startsWith("base_g")).map(_.getName)
    assert(gens.toSeq == Seq("base_g4"), s"exactly one live generation: ${gens.mkString(",")}")
    val deltas = new java.io.File(s"$tmp/store/delta").listFiles().map(_.getName).toSet
    assert(deltas == Set("batch=4"), s"compaction must clear folded deltas: $deltas")
    val base = spark.read.parquet(s"$tmp/store/base_g4")
    val rawBands = chunks.take(4).flatten
      .flatMap(d => allBands.getOrElse(d.doc_id, Set.empty)).toSeq
    assert(base.count() == rawBands.distinct.size,
      "base generation must hold exactly the distinct buckets of the folded batches")
    assert(rawBands.size > rawBands.distinct.size,
      "fixture must contain duplicate buckets for the fold to collapse")

    // --- crash-replay is exactly-once: re-running any batch over the
    // committed state of its first attempt (the worst crash point — both
    // writes landed, the checkpoint commit didn't) must not duplicate
    // output. Batch 4 is also a compaction batch, so this covers the
    // replayed-fold skip too.
    val lastBatch = chunks.last.toSeq.toDF()
    Streams.processNearDupBatch(lastBatch, chunks.size - 1L,
      s"$tmp/store", s"$tmp/out", compactEvery = 2)
    assert(readOut() == wantSurvivors, "replay after full commit must change nothing")
    // and over PARTIAL state: first attempt crashed between the survivor
    // write and the delta write
    new scala.reflect.io.Directory(
      new java.io.File(s"$tmp/store/delta/batch=${chunks.size - 1}")).deleteRecursively()
    Streams.processNearDupBatch(lastBatch, chunks.size - 1L,
      s"$tmp/store", s"$tmp/out", compactEvery = 2)
    assert(readOut() == wantSurvivors, "replay after partial commit must converge")
    assert(new java.io.File(s"$tmp/store/delta/batch=${chunks.size - 1}").exists(),
      "replay must restore the missing delta partition")
  }

  test("streaming substring dedup equals a sequential chunk replay; compaction keeps the digest store distinct") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val tau = 0.5
    val docsBatch = Tables.table(spark, dir, "documents").select("doc_id", "text")
    // truth: the SAME window primitives the stream uses, replayed
    // chunk by chunk against a growing seen-digest set
    val winRows = graft.queries.TextOps.substringWindows(
        graft.queries.TextOps.substringToks(docsBatch))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq))
    val winsByDoc = winRows.groupBy(_._1)
      .view.mapValues(_.map(w => (w._2, w._3))).toMap
    val nByDoc = graft.queries.TextOps.substringToks(docsBatch)
      .select("doc_id", "n").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val k = 20
    val chunkIds = docsBatch.select("doc_id").collect().map(_.getLong(0))
      .sorted.grouped(120).toSeq
    val seenH = scala.collection.mutable.Set.empty[Seq[Byte]]
    val wantSurvivors = scala.collection.mutable.Set.empty[Long]
    for (chunk <- chunkIds) {
      val counts = chunk.flatMap(id => winsByDoc.getOrElse(id, Array.empty[(Int, Seq[Byte])]))
        .groupBy(_._2).view.mapValues(_.length).toMap
      for (id <- chunk) {
        val ws = winsByDoc.getOrElse(id, Array.empty[(Int, Seq[Byte])])
        val dupPos = ws.filter { case (_, h) => seenH.contains(h) || counts(h) >= 2 }
          .flatMap { case (i, _) => i until (i + k) }.toSet
        if (dupPos.size.toDouble / nByDoc(id) < tau) wantSurvivors += id
      }
      chunk.foreach(id => winsByDoc.getOrElse(id, Array.empty[(Int, Seq[Byte])])
        .foreach { case (_, h) => seenH += h })
    }
    assert(wantSurvivors.nonEmpty && wantSurvivors.size < nByDoc.size,
      "fixture must contain substring-dup docs to drop")
    // stream the same docs in the same chunks; compactEvery=2 exercises
    // the digest-store fold mid-stream
    val tmp = java.nio.file.Files.createTempDirectory("substream").toString
    val stream = MemoryStream[Streams.Doc]
    val q = Streams.startSubstringDedup(stream.toDF(),
      s"$tmp/store", s"$tmp/out", s"$tmp/ckpt", compactEvery = 2, tau = tau)
    val byId = docsBatch.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    chunkIds.foreach { chunk =>
      stream.addData(chunk.toSeq.map(id => Streams.Doc(id, byId(id))))
      q.processAllAvailable()
    }
    q.stop()
    def readOut(): Set[Long] = spark.read.parquet(s"$tmp/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(readOut() == wantSurvivors.toSet)
    // compaction accounting: one live generation, only post-fold deltas
    val gens = new java.io.File(s"$tmp/store").listFiles()
      .filter(_.getName.startsWith("base_g")).map(_.getName).toSeq
    assert(gens == Seq("base_g4"), s"exactly one live generation: $gens")
    val baseH = spark.read.parquet(s"$tmp/store/base_g4")
    assert(baseH.count() == baseH.distinct().count(), "folded store must be distinct")

    // --- crash-replay over the digest-keyed store, as for near-dup: the
    // last batch (also a compaction batch) re-run over its committed
    // state, then over a state whose delta write never landed
    val lastId = chunkIds.size - 1L
    val lastBatch = chunkIds.last.toSeq.map(id => Streams.Doc(id, byId(id))).toDF()
    Streams.processSubstringBatch(lastBatch, lastId,
      s"$tmp/store", s"$tmp/out", compactEvery = 2, tau = tau)
    assert(readOut() == wantSurvivors.toSet, "replay after full commit must change nothing")
    new scala.reflect.io.Directory(
      new java.io.File(s"$tmp/store/delta/batch=$lastId")).deleteRecursively()
    Streams.processSubstringBatch(lastBatch, lastId,
      s"$tmp/store", s"$tmp/out", compactEvery = 2, tau = tau)
    assert(readOut() == wantSurvivors.toSet, "replay after partial commit must converge")
    assert(new java.io.File(s"$tmp/store/delta/batch=$lastId").exists(),
      "replay must restore the missing delta partition")
  }

  test("streaming curation equals near-dup replay + batch decontamination + batch quality") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docsBatch = Tables.table(spark, dir, "documents").select("doc_id", "text")
    val blob = graft.queries.Pipeline.evalBloomBlob(spark, dir)
    // truth, stage by stage with the SAME primitives the stream uses:
    // (1) sequential near-dup replay in doc_id order (the store policy)
    val allBands = graft.queries.TextOps.bandedOf(
        graft.queries.TextOps.shinglesOf(docsBatch))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seen = scala.collection.mutable.Set.empty[(Int, Long)]
    val dedupSurvivors = docsBatch.select("doc_id").collect().map(_.getLong(0)).sorted.filter { id =>
      val dropped = allBands.getOrElse(id, Set.empty).exists(seen)
      seen ++= allBands.getOrElse(id, Set.empty)
      !dropped
    }.toSet
    // (2) batch bloom decontamination + (3) batch quality verdict
    val want = graft.queries.Pipeline.withQualityReason(
        Streams.decontaminate(
          docsBatch.filter(col("doc_id").isInCollection(dedupSurvivors)), blob))
      .filter(col("reason") === "6_kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty && want.size < dedupSurvivors.size,
      "the stateless filters must drop something beyond the dedup")
    val tmp = java.nio.file.Files.createTempDirectory("curation").toString
    val stream = MemoryStream[Streams.Doc]
    val q = Streams.startCuration(stream.toDF(), blob,
      s"$tmp/store", s"$tmp/out", s"$tmp/ckpt", compactEvery = 2)
    docsBatch.orderBy("doc_id").collect()
      .map(r => Streams.Doc(r.getLong(0), r.getString(1)))
      .grouped(120).foreach { chunk =>
        stream.addData(chunk.toSeq)
        q.processAllAvailable()
      }
    q.stop()
    val got = spark.read.parquet(s"$tmp/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
    // the store saw EVERY doc's buckets (dedup-before-filter order):
    // dropped-by-quality docs still contribute dedup state
    val storeBands = {
      val base = new java.io.File(s"$tmp/store").listFiles()
        .filter(_.getName.startsWith("base_g")).map(_.getPath).toSeq
      val deltas = Option(new java.io.File(s"$tmp/store/delta").listFiles())
        .map(_.map(_.getPath).toSeq).getOrElse(Seq.empty)
      spark.read.parquet((base ++ deltas): _*).count()
    }
    // base holds distinct folded buckets; unfolded deltas may re-list
    // some, so coverage is >= the corpus's distinct bucket count
    assert(storeBands >= allBands.values.flatten.toSeq.distinct.size,
      "store must cover every doc's buckets, filtered or not")
  }

  test("near-dup membership probe co-locates with the bucketed store (no store-side exchange)") {
    val docsBatch = Tables.table(spark, dir, "documents").select("doc_id", "text")
    val bands = graft.queries.TextOps.bandedOf(graft.queries.TextOps.shinglesOf(docsBatch))
    val tmp = java.nio.file.Files.createTempDirectory("neardup-plan").toString
    // seed a store: one delta batch folded into a bucketed base generation
    bands.select("band", "bh").write.parquet(s"$tmp/delta/batch=0")
    val store = new Streams.SeenStore(spark, tmp, Streams.SeenStore.Bands)
    store.compact(1L)
    val base = spark.table(store.table(1L))
    // pin the at-scale plan: past the broadcast threshold the probe must
    // co-locate against the bucket layout, shuffling ONLY the batch side.
    // AQE off so the executed plan is a plain tree the walk below can
    // reason about (the production path keeps AQE; co-location is a
    // property of the scan, not of AQE).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = store.hits(bands, base)
      probe.collect()
      val executed = probe.queryExecution.executedPlan
      assert(executed.toString.contains("SelectedBucketsCount"),
        s"store side must scan bucketed:\n$executed")
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def scansBase(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case s: FileSourceScanExec => s }
          .exists(_.relation.location.rootPaths.exists(_.toString.contains("base_g1")))
      assert(scansBase(executed), "sanity: the probe must scan the base generation")
      val shuffledStore = executed.collect {
        case e: ShuffleExchangeExec if scansBase(e.child) => e
      }
      assert(shuffledStore.isEmpty,
        s"the store side must never shuffle (only the O(batch) bands side may):\n$executed")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("mapGroupsWithState userStats final state equals batch aggregate") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Event]
    loadEvents().grouped(300).foreach(chunk => stream.addData(chunk))
    val q = Streams.userStats(stream.toDS())
      .writeStream.format("memory").queryName("t_stats").outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    // last emitted row per user = final state
    val got = spark.table("t_stats").withColumn("rn", monotonically_increasing_id())
      .orderBy(col("rn").desc).collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rows) =>
        val r = rows.head
        u -> (r.getAs[Long]("n"), math.round(r.getAs[Double]("total") * 100))
      }
    val want = eventsBatch
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), graft.queries.dsum(col("value")).as("total"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100)))
      .toMap
    assert(got == want)
  }

  test("streaming priority sample over a chunked replay equals batch q74, incl. the estimator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sfDir = "/root/testdata/sf0.01"
    val docs = Tables.table(spark, sfDir, "documents")
      .select("lang", "doc_id", "n_chars").collect()
      .map(r => Streams.LangDoc(r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val stream = MemoryStream[Streams.LangDoc]
    docs.grouped(150).foreach(chunk => stream.addData(chunk))
    val q = Streams.prioritySampleStream(stream.toDS())
      .writeStream.format("memory").queryName("t_psample").outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    // latest emission per (lang, rn) = the final sample (the sample only
    // ever improves, so rn slots never disappear)
    val got = spark.table("t_psample").withColumn("seq", monotonically_increasing_id())
      .orderBy(col("seq").desc).collect()
      .groupBy(r => (r.getAs[String]("lang"), r.getAs[Int]("rn")))
      .map { case (k, rows) =>
        val r = rows.minBy(-_.getAs[Long]("seq"))
        k -> (r.getAs[Long]("doc_id"), r.getAs[Long]("w"), r.getAs[Double]("est_w"))
      }
    val want = graft.queries.Layout.q74_priority_sample.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got == want)
  }

  test("transformWithState token bucket equals batch q104 under shuffled within-batch delivery") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evs = loadEvents()
    // chunks preserve cross-batch time order (the replay contract), but
    // each chunk's rows are shuffled so the per-batch (us, event_id)
    // sort provably does the ordering work
    val rnd = new scala.util.Random(11L)
    val chunks = evs.grouped(350).map(c => rnd.shuffle(c)).toSeq
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      chunks.foreach(chunk => stream.addData(chunk))
      val q = Streams.rateLimitStream(stream.toDS())
        .writeStream.format("memory").queryName("t_bucket").outputMode("update").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_bucket").withColumn("seq", monotonically_increasing_id())
        .collect().groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) =>
          val r = rows.maxBy(_.getAs[Long]("seq"))
          u -> ((r.getAs[Long]("n_events"), r.getAs[Long]("n_throttled"),
            r.getAs[Long]("final_tokens")))
        }
      val want = graft.queries.Funnel.q104_rate_limit.fn(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == want, "final streamed bucket state equals batch q104")
      assert(want.values.map(_._2).sum > 0, "non-vacuous: the replay throttles")
    } finally prevProvider match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState ledger is exactly-once under injected redelivery and equals batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evs = loadEvents()
    // at-least-once upstream: every 7th event is redelivered in a LATER
    // micro-batch (and once inside the same batch for the 50th), so the
    // dedup must work both across and within batches
    val laterDups = evs.zipWithIndex.collect { case (e, i) if i % 7 == 0 => e }
    val chunks = evs.grouped(300).toSeq
    val replay = chunks.zipWithIndex.map { case (c, i) =>
      val redelivered = laterDups.slice(i * 20, (i + 1) * 20) // from earlier chunks
      val withinBatch = c.zipWithIndex.collect { case (e, j) if j % 50 == 0 => e }
      c ++ (if (i > 0) redelivered else Nil) ++ withinBatch
    }
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      replay.foreach(chunk => stream.addData(chunk))
      val q = Streams.ledgerStream(stream.toDS())
        .writeStream.format("memory").queryName("t_ledger").outputMode("update").start()
      q.processAllAvailable()
      q.stop()
      // last emitted row per user = final ledger
      val got = spark.table("t_ledger").withColumn("seq", monotonically_increasing_id())
        .collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rows) =>
          val r = rows.maxBy(_.getAs[Long]("seq"))
          u -> (r.getAs[Long]("n"), math.round(r.getAs[Double]("total") * 100))
        }
      val want = eventsBatch
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), graft.queries.dsum(col("value")).as("total"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100)))
        .toMap
      assert(got == want, "redelivered events must not change the ledger")
      // the injected duplicates were all observed and counted as such
      val dupTotal = spark.table("t_ledger").withColumn("seq", monotonically_increasing_id())
        .collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (_, rows) => rows.maxBy(_.getAs[Long]("seq")).getAs[Long]("n_dup") }
        .sum
      val injected = replay.flatten.size - evs.size
      assert(dupTotal == injected, s"dup accounting: got $dupTotal, injected $injected")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
