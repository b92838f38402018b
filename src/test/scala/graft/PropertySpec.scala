package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Duels, Heroic}
import graft.streaming.Streams

/** Property/law tests over randomized inputs (SURVEY.md §5.2.2): algebraic
  * invariants that must hold for any data, checked on seeded random duel
  * tables of several shapes (fixed seeds → reproducible). */
class PropertySpec extends SparkSpec {

  private def randomDuels(seed: Long, rows: Int, players: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (1 to rows).map { _ =>
      (rnd.nextInt(players).toLong + 1, rnd.nextInt(players).toLong + 1,
        rnd.nextInt(5000).toLong + 1, rnd.nextInt(500).toLong)
    }.toDF("challenger", "challenged", "score", "duration")
  }

  private val tables = Seq((1L, 50, 10), (2L, 300, 40), (3L, 40, 60))

  test("smoothed avg is bounded by [min(1, min_score), max(1, max_score)]") {
    for ((seed, rows, players) <- tables) {
      val d = randomDuels(seed, rows, players)
      val mm = d.agg(min("score"), max("score")).collect()(0)
      val (lo, hi) = (math.min(1.0, mm.getLong(0).toDouble), math.max(1.0, mm.getLong(1).toDouble))
      val bad = Duels.smoothedAvg(d).filter(col("avg") < lo || col("avg") > hi).count()
      assert(bad == 0)
    }
  }

  test("distinct is idempotent: duelPairs(duelPairs) == duelPairs") {
    for ((seed, rows, players) <- tables) {
      val d = randomDuels(seed, rows, players)
      val once = Duels.duelPairs(d)
      assert(once.distinct().count() == once.count())
    }
  }

  test("topK is the k-prefix of the full descending sort") {
    for ((seed, rows, players) <- tables) {
      val hs = Duels.smoothedAvg(randomDuels(seed, rows, players))
        .withColumnRenamed("avg", "hs")
      val top = Heroic.topK(hs, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val full = hs.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (p, v) => (-v, p) }.take(5).toSeq
      assert(top == full)
    }
  }

  test("MSE is non-negative and zero iff tables are identical") {
    for ((seed, rows, players) <- tables) {
      val hs = Duels.smoothedAvg(randomDuels(seed, rows, players))
        .withColumnRenamed("avg", "hs")
      assert(Heroic.mse(hs, hs) == 0.0)
      val shifted = hs.withColumn("hs", col("hs") + 1.0)
      assert(Heroic.mse(hs, shifted) > 0.0)
    }
  }

  test("heroic iteration output is always >= 1 - alpha and covers exactly the challengers") {
    for ((seed, rows, players) <- tables) {
      val d = randomDuels(seed, rows, players)
      val static = Heroic.staticJoin(d)
      val out = Heroic.iterate(static, Heroic.initScores(d), alpha = 0.1)
      assert(out.filter(col("hs") < 0.9).count() == 0)
      val challengers = d.select(col("challenger")).distinct().count()
      assert(out.count() == challengers)
    }
  }

  test("aggregation results are invariant under repartitioning") {
    val dir = "/root/testdata/sf0.001"
    val base = graft.queries.EventOps.q19_tumbling_hour.fn(spark, dir).collect().toSeq
    val events = graft.engine.Tables.table(spark, dir, "events").repartition(17)
    events.createOrReplaceTempView("events_repart")
    import graft.queries.dsum
    val re = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_us", "event_type").collect().toSeq
    assert(base == re, "decimal-sum aggregation must be partitioning-invariant")
  }

  test("q73 substring dedup is invariant under repartitioning (collect_list set-use guard)") {
    val dir = "/root/testdata/sf0.001"
    val d = graft.engine.Tables.table(spark, dir, "documents")
    val base = graft.queries.TextOps.substringDedupOf(d).collect().toSeq
    for (p <- Seq(1, 7, 61)) {
      val re = graft.queries.TextOps.substringDedupOf(d.repartition(p)).collect().toSeq
      assert(re == base, s"output changed under repartition($p)")
    }
  }

  test("repartitionByRange + sortWithinPartitions equals global orderBy") {
    val dir = "/root/testdata/sf0.001"
    val orders = graft.engine.Tables.table(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val global = orders.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .collect().toSeq
    val ranged = orders.repartitionByRange(4, col("o_totalprice").desc, col("o_orderkey"))
      .sortWithinPartitions(col("o_totalprice").desc, col("o_orderkey"))
      .collect().toSeq
    assert(ranged == global,
      "range partitioning + per-partition sort must equal a global sort")
  }

  test("stratified sample respects per-stratum fractions within tolerance") {
    val dir = "/root/testdata/sf0.01"
    val totals = graft.engine.Tables.table(spark, dir, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = graft.queries.Funnel.q35_stratified_sample.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fractions = Map("view" -> 0.1, "click" -> 0.5, "purchase" -> 1.0,
      "signup" -> 1.0, "error" -> 0.25)
    for ((k, f) <- fractions) {
      val expect = totals(k) * f
      val got = sampled.getOrElse(k, 0L).toDouble
      assert(math.abs(got - expect) <= math.max(20, 0.2 * expect),
        s"$k: sampled $got of ${totals(k)} at fraction $f")
    }
  }

  test("VecCentroid is partition-invariant (merge buffer-aliasing guard)") {
    val dir = "/root/testdata/sf0.01"
    val centroid = udaf(new graft.queries.VectorOps.VecCentroid)
    val e = graft.engine.Tables.table(spark, dir, "embeddings")
      .select("label", "embedding")
    def run(df: DataFrame): Map[String, Seq[Double]] =
      df.groupBy("label").agg(centroid(col("embedding")).as("c"))
        .collect().map(r => r.get(0).toString -> r.getSeq[Double](1).toSeq).toMap
    val single = run(e.coalesce(1))     // zero shuffle-side merges
    val many = run(e.repartition(97))   // many partial buffers merged
    assert(single.keySet == many.keySet)
    for (k <- single.keySet; (a, b) <- single(k).zip(many(k)))
      assert(math.abs(a - b) < 1e-9, s"label $k: $a vs $b across partitionings")
  }

  test("approx_percentile tracks exact percentiles within tolerance") {
    val dir = "/root/testdata/sf0.01"
    def toMap(df: DataFrame): Map[String, Seq[Double]] =
      df.collect().map(r => r.getString(0) ->
        (1 to 4).map(r.getDouble(_)).toSeq).toMap
    val exact = toMap(graft.queries.Relational3.q38_percentiles.fn(spark, dir))
    val approx = toMap(graft.queries.Relational3.q38b_approx_percentiles.fn(spark, dir))
    assert(exact.keySet == approx.keySet)
    // GK at accuracy 10000 is rank-exact at this scale up to interpolation
    // (approx returns an actual data value; exact interpolates between
    // two) — allow one value step PER COLUMN: quantities step by 1,
    // discounts by 0.01 (a single shared 1.0 floor would be vacuous for
    // the [0, 0.11] discount columns)
    val step = Seq(1.0, 1.0, 0.01, 0.01) // med_qty, p90_qty, p25_disc, p99_disc
    for (k <- exact.keySet; ((e, a), tol) <- exact(k).zip(approx(k)).zip(step))
      assert(math.abs(e - a) <= tol, s"$k: exact $e vs approx $a (tol $tol)")
  }

  test("approx_count_distinct is within 5% of exact") {
    val dir = "/root/testdata/sf0.01"
    val approx = graft.queries.Relational2.q06b_approx_distinct.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.engine.Tables.table(spark, dir, "orders")
      .groupBy("o_orderpriority").agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, e) <- exact) {
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$k: approx $a vs exact $e")
    }
  }

  test("q78 HLL shard sketches: exact at test cardinality, union == direct sketch, partition-invariant") {
    import org.apache.spark.sql.functions.{coalesce, col, explode, expr, lit, split}
    val dir = "/root/testdata/sf0.01"
    val out = graft.queries.Relational2.q78_hll_shards.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // below the coupon-list promotion threshold HLL is exact: the
    // estimate must EQUAL the exact distinct count, per scope and total
    out.foreach { case (scope, est, exact) =>
      assert(est == exact, s"$scope: est $est vs exact $exact")
    }
    assert(out.map(_._1).contains("ALL") && out.length > 1)
    // mergeability: the union of per-lang sketches must estimate the
    // same as one sketch built directly over the whole corpus
    val toks = graft.engine.Tables.table(spark, dir, "documents")
      .select(col("lang"), coalesce(col("text"), lit("")).as("text"))
      .select(explode(split(expr(graft.queries.Pipeline.normExprStr), " ")).as("term"))
    val direct = toks.agg(expr("hll_sketch_estimate(hll_sketch_agg(term, 12))").as("est"))
      .collect()(0).getLong(0)
    assert(out.find(_._1 == "ALL").get._2 == direct, "union-of-shards != direct sketch")
    // partition invariance: sketch merge order must not matter
    val re = graft.queries.Relational2.q78_hll_shards
      .fn(spark, dir).repartition(13).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(re == out.toSet)
  }
  test("q99 decile buckets: sizes differ by at most one, ranges are ordered and disjoint") {
    // the equi-depth law: bucket b holds ranks ((b*N)/10, ((b+1)*N)/10],
    // so sizes are floor(N/10) or ceil(N/10) for ANY value distribution
    // (duplicates included — the composite (value, key) order breaks ties)
    val got = graft.queries.Linkage.q99_rank_histogram
      .fn(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val n = got.map(_._2).sum
    assert(got.map(_._1).toSeq == (0 to 9), "all ten deciles present")
    assert(got.forall { case (_, c, _, _) => c == n / 10 || c == n / 10 + 1 },
      s"bucket sizes must be floor/ceil of N/10: ${got.map(_._2).mkString(",")}")
    got.sliding(2).foreach { case Array((_, _, _, hi0), (_, _, lo1, _)) =>
      assert(hi0 <= lo1, "decile value ranges are ordered and non-overlapping")
    }
    got.foreach { case (_, _, lo, hi) => assert(lo <= hi) }
  }

  test("PSI law: a window distributed exactly like the reference scores zero drift") {
    // feed the SAME rows as reference and live traffic: every bucket's
    // cur share equals its ref share, so each (p-q)ln((p+e)/(q+e)) term
    // is 0 under canonical rounding — the monitor's null calibration
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val day = (1 to 2000).map { i =>
      Streams.Event(i.toLong, java.sql.Timestamp.valueOf(
        f"2024-03-05 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"),
        rnd.nextInt(100).toLong, "view", rnd.nextGaussian() * 10 + 50)
    }
    val df = day.toDF()
    val reference = Streams.driftReference(df)
    val psi = Streams.driftPsi(Streams.driftBinCounts(df, reference), reference).collect()
    assert(psi.nonEmpty)
    psi.foreach { r =>
      assert(r.getDouble(5) == 0.0, s"identical distribution must score 0, got $r")
      assert(r.getDouble(3) == r.getDouble(4), "cur share equals ref share")
    }
  }
  test("q105 equals a sequential attribution-and-percentile replay; median <= p90, delays in (0, 1h]") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.engine.Tables.table(spark, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val seg = graft.engine.Tables.table(spark, dir, "customer")
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val clicksBy = ev.filter(_._2 == "click").groupBy(_._1)
    val H = 3600L * 1000000L
    val delays = ev.filter(_._2 == "purchase").flatMap { p =>
      val cand = clicksBy.getOrElse(p._1, Array.empty).map(_._3)
        .filter(c => c <= p._3 && c >= p._3 - H)
      if (cand.isEmpty || !seg.contains(p._1)) None
      else Some(seg(p._1) -> (p._3 - cand.max) / 1e6)
    }
    def pct(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted; val pos = (s.length - 1) * q
      val lo = s(pos.toInt)
      val hi = s(math.min(s.length - 1, pos.toInt + 1))
      lo + (pos - pos.toInt) * (hi - lo)
    }
    def cr(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val brute = delays.groupBy(_._1).map { case (g, ds) =>
      val xs = ds.map(_._2).toSeq
      g -> ((xs.length.toLong, cr(pct(xs, 0.5)), cr(pct(xs, 0.9))))
    }
    val got = graft.queries.EventOps.q105_conversion_delay.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == brute, s"$got vs $brute")
    got.values.foreach { case (_, med, p90) =>
      assert(med <= p90 && med > 0 && p90 <= 3600.0)
    }
  }
}
