package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.queries.Temporal

/** Gates for the temporal/behavioral surface (q83/q84/q86/q87):
  * structural invariants the DuckDB hash-oracle can't articulate —
  * interval chaining, spine completeness, fill provenance, transition
  * reassembly — plus the q83 single-shuffle plan claim. */
class TemporalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  // ---- q83 SCD2 intervals ----------------------------------------------

  test("q83 intervals chain per user, one current row, events fully accounted") {
    val out = Temporal.q83_scd2_intervals.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3), r.getInt(4), r.getLong(5)))
    val events = spark.read.parquet(s"$dir/events.parquet")
    assert(out.map(_._6).sum == events.count(), "every event lands in exactly one interval")
    out.groupBy(_._1).foreach { case (u, ivs) =>
      assert(ivs.count(_._5 == 1) == 1, s"user $u must have exactly one current interval")
      val sorted = ivs.sortBy(_._3)
      assert(sorted.last._4 == Long.MaxValue && sorted.last._5 == 1,
        s"user $u: the last interval is the open current one")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"user $u: valid_to must equal the next valid_from")
          assert(a._2 != b._2, s"user $u: adjacent intervals collapse only when types differ")
        case _ =>
      }
    }
  }

  test("q83 plans ONE hash exchange (user_id) for windows + run grouping") {
    val p = Temporal.q83_scd2_intervals.fn(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val hashEx = "hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"windows and the run groupBy must share the user_id exchange:\n$p")
  }

  // ---- q84 gap-fill + forward fill -------------------------------------

  test("q84 spine is complete and fills carry the last observed value") {
    val out = Temporal.q84_gapfill_ffill.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val span = out.map(_._2).distinct.sorted
    assert(span.zip(span.tail).forall { case (a, b) => b == a + 1 }, "day spine has no holes")
    out.groupBy(_._1).foreach { case (prio, rowsU) =>
      val rows = rowsU.sortBy(_._2)
      assert(rows.map(_._2).toSeq == span.toSeq, s"$prio covers the full global span")
      var lastSeen = 0.0
      rows.foreach { case (_, d, rev, gap) =>
        if (gap == 1) assert(rev == lastSeen, s"$prio/$d: gap row must carry the previous value")
        else lastSeen = rev
      }
    }
    // non-gap rows equal the direct daily aggregate (exact decimal sums)
    val direct = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_orderpriority").as("prio"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("day_i"))
      .agg(graft.queries.dsum(col("o_totalprice")).as("rev"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out.filter(_._4 == 0).foreach { case (prio, d, rev, _) =>
      assert(direct((prio, d)) == rev, s"$prio/$d: observed day must equal the aggregate")
    }
    assert(out.count(_._4 == 1) > 0, "the fixture actually has gaps (non-vacuous fill)")
  }

  // ---- q86 Welch t-test ------------------------------------------------

  test("q86 arms partition the events and the Welch arithmetic holds") {
    val out = Temporal.q86_ab_ttest.fn(spark, dir).collect()
    val byType = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(_.getString(0)).toSet == byType.keySet)
    out.foreach { r =>
      val (et, n0, n1) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(n0 + n1 == byType(et), s"$et: cohorts partition the rows")
      assert(n0 > 1 && n1 > 1, s"$et: variance needs n>1 per arm")
      val df = r.getDouble(6)
      assert(df >= math.min(n0, n1) - 1 - 1e-4 && df <= n0 + n1 - 2 + 1e-4,
        s"$et: Welch df must sit between min(n)-1 and pooled df, got $df")
      assert(!r.getDouble(5).isNaN && !df.isNaN)
    }
  }

  // ---- q89 retention cohorts -------------------------------------------

  test("q89 cohort cells account for every user and normalize against day 0") {
    val out = Temporal.q89_retention_cohorts.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nUsers = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct().count()
    // every user appears exactly once at age 0 (their cohort day)
    assert(out.filter(_._2 == 0).map(_._3).sum == nUsers)
    out.groupBy(_._1).foreach { case (cohort, cells) =>
      val day0 = cells.find(_._2 == 0).getOrElse(fail(s"cohort $cohort has no day-0 cell"))
      assert(day0._4 == 1.0, s"cohort $cohort day-0 retention must be 1.0")
      cells.foreach { case (_, age, n, ret) =>
        assert(n <= day0._3, s"cohort $cohort age $age: active count can't exceed cohort size")
        assert(ret == math.floor(n.toDouble / day0._3 * 1e4 + 0.5) / 1e4,
          s"cohort $cohort age $age: retention is the canonical rounded ratio")
      }
    }
  }

  // ---- q92 rolling anomaly ---------------------------------------------

  test("q92 z-scores equal a sequential rolling-window replay") {
    import graft.queries.dsum
    val daily = graft.engine.Tables.table(spark, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_i"),
        col("value"))
      .groupBy("event_type", "day_i")
      .agg(dsum(col("value")).as("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def cr(x: Double, d: Int): Double = { val f = math.pow(10, d); math.floor(x * f + 0.5) / f }
    val brute = daily.groupBy(_._1).flatMap { case (et, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.indices.drop(7).flatMap { i =>
        val win = sorted.slice(i - 7, i).map(_._3)
        val mu = win.map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / 7
        val m = win.sum / win.length
        val sd = cr(math.sqrt(win.map(v => (v - m) * (v - m)).sum / (win.length - 1)), 6)
        if (sd > 0) {
          val z = cr((sorted(i)._3 - mu) / sd, 4)
          Some((et, sorted(i)._2) -> (z, if (math.abs(z) > 2) 1 else 0))
        } else None
      }
    }.toMap
    val got = graft.queries.Temporal.q92_rolling_anomaly.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(4), r.getInt(5))).toMap
    assert(got.keySet == brute.keySet, "same scored (type, day) cells")
    got.foreach { case (k, (z, fl)) =>
      assert(math.abs(z - brute(k)._1) < 2e-4 && fl == brute(k)._2,
        s"$k: ($z, $fl) vs brute ${brute(k)}")
    }
  }

  // ---- q93 session paths -----------------------------------------------

  test("q93 top paths equal a sequential sessionize-and-count replay") {
    val events = graft.engine.Tables.table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val paths = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      val sessions = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer[String]())
      var lastUs = Long.MinValue
      sorted.foreach { case (_, _, us, et) =>
        if (lastUs != Long.MinValue && us - lastUs >= 1800000000L)
          sessions += scala.collection.mutable.ArrayBuffer[String]()
        sessions.last += et
        lastUs = us
      }
      sessions.map(_.mkString(">"))
    }
    val brute = paths.groupBy(x => x).map { case (p, v) => p -> v.size.toLong }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = graft.queries.Temporal.q93_session_paths.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == brute, "top-20 session paths equal the replay")
    assert(got.exists(_._1.contains(">")), "multi-event journeys exist in the fixture")
  }

  // ---- q94 OLS trend ---------------------------------------------------

  test("q94 regression aggregates equal a closed-form OLS recomputation") {
    val pts = graft.engine.Tables.table(spark, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("double").as("x"),
        col("value").as("y"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val got = graft.queries.Temporal.q94_ols_trend.fn(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    pts.groupBy(_._1).foreach { case (et, ps) =>
      val n = ps.length
      val (mx, my) = (ps.map(_._2).sum / n, ps.map(_._3).sum / n)
      val sxx = ps.map(p => (p._2 - mx) * (p._2 - mx)).sum
      val sxy = ps.map(p => (p._2 - mx) * (p._3 - my)).sum
      val syy = ps.map(p => (p._3 - my) * (p._3 - my)).sum
      val slope = sxy / sxx
      val r2 = sxy * sxy / (sxx * syy)
      val (gs, gi, gr2, gn) = got(et)
      assert(gn == n, s"$et: regr_count")
      assert(math.abs(gs - slope) < 2e-6, s"$et: slope $gs vs $slope")
      assert(math.abs(gi - (my - slope * mx)) < 2e-4, s"$et: intercept")
      assert(math.abs(gr2 - r2) < 2e-6 && gr2 >= 0 && gr2 <= 1 + 1e-9, s"$et: r2 $gr2 vs $r2")
    }
  }

  // ---- q95 chi-square --------------------------------------------------

  test("q95 chi-square equals an exact contingency-table recomputation") {
    val counts = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type").agg(
        sum((col("user_id") % 2 === 0).cast("long")).as("c0"),
        sum((col("user_id") % 2 === 1).cast("long")).as("c1"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val tot = counts.map(c => c._1 + c._2).sum.toDouble
    val (col0, col1) = (counts.map(_._1).sum, counts.map(_._2).sum)
    def cr(x: Double, d: Int): Double = { val f = math.pow(10, d); math.floor(x * f + 0.5) / f }
    val terms = counts.flatMap { case (c0, c1) =>
      val rn = c0 + c1
      Seq((c0, col0), (c1, col1)).map { case (o, cn) =>
        val e = (rn * cn).toDouble / tot
        cr(math.pow(o - e, 2.0) / e, 6)
      }
    }
    val chi2 = cr(terms.map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble, 4)
    val r = graft.queries.Temporal.q95_chisq.fn(spark, dir).collect().head
    assert(r.getDouble(0) == chi2, s"chi2 ${r.getDouble(0)} vs exact $chi2")
    assert(r.getLong(1) == counts.length - 1, "df = (r-1)(c-1) with 2 cohorts")
    assert(r.getLong(2) == counts.length * 2, "every contingency cell present")
  }

  test("q95 is bit-identical under a different shuffle parallelism") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "7")
    val a = graft.queries.Temporal.q95_chisq.fn(spark, dir).collect().head
    val b = graft.queries.Temporal.q95_chisq.fn(s2, dir).collect().head
    assert(a.getDouble(0) == b.getDouble(0) && a.getLong(1) == b.getLong(1),
      "round-then-DECIMAL-sum makes the statistic partitioning-invariant")
  }

  // ---- q96 RANGE frame -------------------------------------------------

  test("q96 RANGE frame covers calendar days (gap-sensitive), not row counts") {
    val out = graft.queries.Temporal.q96_range_frame.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    out.groupBy(_._1).foreach { case (cust, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.foreach { case (_, d, _, rev7, n7) =>
        val win = sorted.filter(r => r._2 >= d - 6 && r._2 <= d)
        assert(n7 == win.length, s"cust $cust day $d: frame width")
        val exact = win.map(r => BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        assert(rev7 == exact, s"cust $cust day $d: exact windowed decimal sum")
      }
    }
    // the RANGE semantics must actually bite: some frame spans 7 calendar
    // days with fewer than 7 observations
    assert(out.exists(r => r._5 < 7 && r._5 > 1), "fixture has gapped activity")
  }

  // ---- q87 Markov transitions ------------------------------------------

  test("q87 equals a sequential per-user replay and rows normalize") {
    val events = graft.engine.Tables.table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val brute = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val seq = es.sortBy(e => (e._3, e._2)).map(_._4)
      seq.zip(seq.drop(1))
    }.groupBy(x => x).map { case (k, v) => k -> v.size.toLong }
    val out = Temporal.q87_markov_transitions.fn(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getDouble(3)))
    assert(out.map(t => t._1 -> t._2).toMap == brute, "transition counts equal the replay")
    val bySrc = out.groupBy(_._1._1)
    bySrc.foreach { case (src, rows) =>
      val tot = rows.map(_._2).sum.toDouble
      rows.foreach { case ((_, _), n, p) =>
        assert(p == math.floor(n / tot * 1e4 + 0.5) / 1e4, s"$src: p is the canonical rounding")
      }
    }
  }
  test("q100 PSI equals a sequential recomputation; terms nonnegative, shares sum to 1") {
    val cut = java.time.LocalDateTime.of(2024, 1, 16, 0, 0)
    val ev = graft.engine.Tables.table(spark, dir, "events")
      .select(col("ts"), col("value")).collect()
      .map(r => (r.getTimestamp(0).toLocalDateTime, r.getDouble(1)))
    val ref = ev.filter(_._1.isBefore(cut)).map(_._2)
    val cur = ev.filter(e => !e._1.isBefore(cut)).map(_._2)
    val (mn, mx) = (ref.min, ref.max)
    def cr(x: Double, d: Int): Double = { val f = math.pow(10, d); math.floor(x * f + 0.5) / f }
    def bucket(v: Double): Int =
      math.min(9, math.max(0, math.floor((v - mn) * 10.0 / (mx - mn)).toInt))
    val nr = ref.count(_ => true).toDouble
    val nc = cur.length.toDouble
    val rb = ref.groupBy(bucket).map { case (b, vs) => b -> vs.length.toLong }
    val cb = cur.groupBy(bucket).map { case (b, vs) => b -> vs.length.toLong }
    val brute = (rb.keySet ++ cb.keySet).toSeq.sorted.map { b =>
      val (p, q) = (rb.getOrElse(b, 0L) / nr, cb.getOrElse(b, 0L) / nc)
      (b, rb.getOrElse(b, 0L), cb.getOrElse(b, 0L), cr(p, 6), cr(q, 6),
        cr((p - q) * math.log((p + 1e-6) / (q + 1e-6)), 6))
    }
    val got = Temporal.q100_psi_drift.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == brute, "PSI rows equal the sequential recomputation")
    assert(got.forall(_._6 >= 0), "every PSI term is nonnegative")
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-4 &&
      math.abs(got.map(_._5).sum - 1.0) < 1e-4, "shares sum to ~1 per window")
  }
  test("q101 PIT join equals a sequential as-of-state replay; states vary; pre-activity purchases drop") {
    val ev = graft.engine.Tables.table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val byUser = ev.groupBy(_._2)
    def stateAt(user: Long, us: Long): Option[(String, Long, Long)] = {
      // runs of the user's non-purchase events in (us, event_id) order;
      // the active run is the last one starting at or before the probe
      val acts = byUser(user).filter(_._4 != "purchase").sortBy(e => (e._3, e._1))
      if (acts.isEmpty) return None
      val runs = scala.collection.mutable.ListBuffer.empty[(String, Long, Long)] // (type, from, n)
      acts.foreach { a =>
        if (runs.nonEmpty && runs.last._1 == a._4)
          runs.update(runs.size - 1, (runs.last._1, runs.last._2, runs.last._3 + 1))
        else runs += ((a._4, a._3, 1L))
      }
      val active = runs.zipWithIndex.filter(_._1._2 <= us).lastOption
      active.map { case ((tpe, from, n), _) => (tpe, from, n) }
    }
    val purchases = ev.filter(_._4 == "purchase")
    val expect = purchases.flatMap { p =>
      stateAt(p._2, p._3).map(st => p._1 -> st)
    }.toMap
    val got = Temporal.q101_pit_join.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expect, "every joined purchase carries the replay's as-of state")
    assert(got.size < purchases.length, "some purchases predate any activity and drop")
    assert(got.values.map(_._1).toSet.size > 1, "states are not a constant")
  }

  test("q102 OHLC bars equal a sequential resample replay") {
    val ev = graft.engine.Tables.table(spark, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def cr(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val brute = ev.groupBy(e => (e._1, Math.floorDiv(e._2, 21600000000L))).map { case ((tpe, bkt), rows) =>
      val sorted = rows.sortBy(e => (e._2, e._3))
      val mean = cr(rows.map(e => BigDecimal(e._4).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / rows.length)
      (tpe, bkt) -> ((rows.length.toLong, sorted.head._4, rows.map(_._4).max,
        rows.map(_._4).min, sorted.last._4, mean))
    }
    val got = Temporal.q102_ohlc_bars.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    assert(got == brute, "bars equal the sequential resample")
    assert(got.exists { case (_, (_, o, h, l, c, _)) => o != c || h != l },
      "the fixture has non-degenerate bars")
  }
  test("q103 KS statistic equals a sequential CDF replay; no data-sized single partition") {
    val cut = java.sql.Timestamp.valueOf("2024-01-16 00:00:00").toLocalDateTime
    val ev = graft.engine.Tables.table(spark, dir, "events")
      .select(col("ts"), col("value")).collect()
      .map(r => (r.getTimestamp(0).toLocalDateTime, r.getDouble(1)))
    val ref = ev.filter(_._1.isBefore(cut)).map(_._2).sorted
    val cur = ev.filter(e => !e._1.isBefore(cut)).map(_._2).sorted
    def cdf(xs: Array[Double], v: Double): Double = {
      var lo = 0; var hi = xs.length // first index with xs(i) > v
      while (lo < hi) { val m = (lo + hi) / 2; if (xs(m) <= v) lo = m + 1 else hi = m }
      lo.toDouble / xs.length
    }
    val d = (ref ++ cur).map(v => math.abs(cdf(ref, v) - cdf(cur, v))).max
    def cr6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val row = Temporal.q103_ks_test.fn(spark, dir).collect().head
    assert(row.getLong(0) == ref.length && row.getLong(1) == cur.length)
    assert(row.getDouble(2) == cr6(d), s"D ${row.getDouble(2)} != replay ${cr6(d)}")
    assert(row.getDouble(3) >= 0 && row.getDouble(3) <= 1)
    val p = Temporal.q103_ks_test.fn(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("rangepartitioning(value"), s"range exchange on value missing:\n$p")
    // metadata-sized SinglePartitions only: pid offsets, the 1-row
    // totals (whose exchange prints once per broadcast use — twice),
    // and the final 1-row D aggregate
    val single = "SinglePartition".r.findAllIn(p).size
    assert(single <= 4, s"only metadata-sized tables may SinglePartition, got $single:\n$p")
  }
}
