package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Memo, Tables}

/** Temporal / behavioral analytics surface: the warehouse-side operators
  * an event pipeline runs downstream of ingestion — slowly-changing-
  * dimension interval builds, calendar gap-filling with forward fill,
  * cohort significance testing, and Markov transition mining. All four
  * are gaps-and-islands / window-function shapes (cf. the reference's
  * secondary-sort exercise, exercise_3.py — here the "sort within key"
  * is a Spark window ORDER BY, not a hand-rolled shuffle comparator).
  */
object Temporal {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.table(s, dir, n)

  /** Q83 — SCD Type-2 interval build over the event stream: per user,
    * consecutive runs of the same event_type collapse into validity
    * intervals [valid_from, valid_to) with the classic open-ended
    * current row (valid_to NULL, is_current = 1) — the
    * dimension-history table a warehouse maintains for "what was this
    * user's state at time T" point-in-time joins.
    *
    * Scale posture: ONE shuffle, keyed by user_id — the run-boundary
    * lag, the run-id running sum, the per-run aggregate and the
    * valid_to lead all share that partitioning (the per-run groupBy's
    * key is (user_id, run_id), a strict refinement Catalyst keeps on
    * the same exchange). Order inside the key is (ts, event_id) — the
    * event_id tiebreak makes simultaneous events deterministic, so the
    * intervals are bit-stable under any partitioning. */
  val q83_scd2_intervals: Query = Query(
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
      |     l AS (SELECT user_id, us, event_id, event_type,
      |                  CASE WHEN lag(event_type) OVER
      |                         (PARTITION BY user_id ORDER BY us, event_id)
      |                         IS DISTINCT FROM event_type
      |                       THEN 1 ELSE 0 END AS new_run
      |           FROM e),
      |     r AS (SELECT user_id, us, event_type,
      |                  sum(new_run) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                                     ROWS UNBOUNDED PRECEDING) AS run_id
      |           FROM l),
      |     g AS (SELECT user_id, run_id, event_type,
      |                  min(us) AS valid_from_us, count(*) AS n_events
      |           FROM r GROUP BY user_id, run_id, event_type)
      |SELECT user_id, event_type, valid_from_us,
      |       lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to_us,
      |       CAST(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL
      |            AS INTEGER) AS is_current,
      |       n_events
      |FROM g
      |ORDER BY user_id, valid_from_us""") { (s, dir) =>
    scd2IntervalsOf(t(s, dir, "events")).orderBy("user_id", "valid_from_us")
  }

  /** q83's interval build without the presentation sort — shared with
    * the q101 point-in-time join, which consumes the intervals as a
    * join side where ordering would be discarded anyway. */
  private[graft] def scd2IntervalsOf(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wRun = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOut = Window.partitionBy("user_id").orderBy("run_id")
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("new_run",
        when(lag(col("event_type"), 1).over(wOrd) <=> col("event_type"), 0).otherwise(1))
      .withColumn("run_id", sum(col("new_run")).over(wRun))
      .groupBy("user_id", "run_id", "event_type")
      .agg(min(col("us")).as("valid_from_us"), count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wOut))
      .select(col("user_id"), col("event_type"), col("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.cast("int").as("is_current"), col("n_events"))
  }

  /** Q84 — calendar gap-fill + forward fill: daily revenue per order
    * priority on a COMPLETE day spine (every day between the corpus min
    * and max date, for every priority), missing days carrying the last
    * observed value forward — the resampling step every time-series
    * feature pipeline needs before lag features make sense. Days are
    * epoch-day integers (engine-portable; no temporal-type drift).
    *
    * Scale posture: the fact aggregation is one map-side-combinable
    * groupBy; the spine is dims × days — metadata-sized (priorities ×
    * span), generated by sequence()/explode from a 1-row broadcast
    * bound, never by scanning the fact table again. The left join
    * broadcasts the daily aggregate only when small; the forward-fill
    * window shuffles the SPINE (not the facts), partitioned by the
    * dimension. */
  val q84_gapfill_ffill: Query = Query(
    """WITH d AS (SELECT o_orderpriority AS prio,
      |                  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_i,
      |                  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS rev
      |           FROM orders GROUP BY 1, 2),
      |     b AS (SELECT min(day_i) AS d0, max(day_i) AS d1 FROM d),
      |     spine AS (SELECT p.prio, g.day_i
      |               FROM (SELECT DISTINCT prio FROM d) p
      |               CROSS JOIN (SELECT unnest(range(d0, d1 + 1)) AS day_i FROM b) g),
      |     j AS (SELECT s.prio, s.day_i, d.rev
      |           FROM spine s LEFT JOIN d ON s.prio = d.prio AND s.day_i = d.day_i),
      |     f AS (SELECT prio, day_i, rev,
      |                  last_value(rev IGNORE NULLS) OVER
      |                    (PARTITION BY prio ORDER BY day_i
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff
      |           FROM j)
      |SELECT prio, day_i, coalesce(ff, 0.0e0) AS rev_filled,
      |       CAST(rev IS NULL AS INTEGER) AS was_gap
      |FROM f
      |ORDER BY prio, day_i""") { (s, dir) =>
    val d = t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("prio"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("day_i"))
      .agg(dsum(col("o_totalprice")).as("rev"))
    val bounds = d.agg(min(col("day_i")).as("d0"), max(col("day_i")).as("d1"))
    val spine = d.select("prio").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("prio"), explode(sequence(col("d0"), col("d1"))).as("day_i"))
    val wFf = Window.partitionBy("prio").orderBy("day_i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(d, Seq("prio", "day_i"), "left")
      .withColumn("ff", last(col("rev"), ignoreNulls = true).over(wFf))
      .select(col("prio"), col("day_i"),
        coalesce(col("ff"), lit(0.0)).as("rev_filled"),
        col("rev").isNull.cast("int").as("was_gap"))
      .orderBy("prio", "day_i")
  }

  /** Q86 — Welch two-sample t-test per event type: cohorts split by
    * user_id parity (the deterministic stand-in for an A/B assignment),
    * reporting per-arm counts/means plus the Welch t statistic and
    * Welch–Satterthwaite degrees of freedom — the experimentation
    * readout every product analytics stack computes.
    *
    * Determinism: means are exact DECIMAL sums ([[davg]]); variances go
    * through [[cround]] (q39's moment posture — 1e-4 canonical rounding
    * absorbs float summation-order noise), and t/df are then pure IEEE
    * arithmetic on those identical rounded inputs, rounded once more on
    * output. Scale posture: one map-side-combinable aggregation keyed
    * by (event_type, cohort), then a self-join of the handful of
    * per-arm rows — the fact table is scanned exactly once. */
  val q86_ab_ttest: Query = Query(
    s"""WITH c AS (SELECT event_type, user_id % 2 AS cohort, value FROM events),
       |     st AS (SELECT event_type, cohort, count(*) AS n,
       |                   ${davgSql("value", 6)} AS m,
       |                   ${croundSql("var_samp(value)")} AS v
       |            FROM c GROUP BY event_type, cohort),
       |     p AS (SELECT a.event_type, a.n AS n0, b.n AS n1,
       |                  a.m AS m0, b.m AS m1, a.v AS v0, b.v AS v1
       |           FROM st a JOIN st b
       |             ON a.event_type = b.event_type AND a.cohort = 0 AND b.cohort = 1)
       |SELECT event_type, n0, n1, m0, m1,
       |       ${croundSql("(m0 - m1) / sqrt(v0 / n0 + v1 / n1)")} AS t_stat,
       |       ${croundSql("pow(v0 / n0 + v1 / n1, 2e0) / (pow(v0 / n0, 2e0) / (n0 - 1) + pow(v1 / n1, 2e0) / (n1 - 1))")} AS df
       |FROM p
       |ORDER BY event_type""") { (s, dir) =>
    val st = t(s, dir, "events")
      .select(col("event_type"), (col("user_id") % 2).as("cohort"), col("value"))
      .groupBy("event_type", "cohort")
      .agg(count(lit(1)).as("n"), davg(col("value"), 6).as("m"),
        cround(var_samp(col("value"))).as("v"))
    val a = st.filter(col("cohort") === 0)
      .select(col("event_type"), col("n").as("n0"), col("m").as("m0"), col("v").as("v0"))
    val b = st.filter(col("cohort") === 1)
      .select(col("event_type"), col("n").as("n1"), col("m").as("m1"), col("v").as("v1"))
    val se2 = col("v0") / col("n0") + col("v1") / col("n1")
    a.join(b, "event_type")
      .select(col("event_type"), col("n0"), col("n1"), col("m0"), col("m1"),
        cround((col("m0") - col("m1")) / sqrt(se2)).as("t_stat"),
        cround(pow(se2, 2.0) /
          (pow(col("v0") / col("n0"), 2.0) / (col("n0") - 1) +
           pow(col("v1") / col("n1"), 2.0) / (col("n1") - 1))).as("df"))
      .orderBy("event_type")
  }

  /** Q87 — first-order Markov transition matrix over user journeys:
    * per-user event streams ordered by (ts, event_id) yield (src → dst)
    * event-type transitions; counts and row-normalized transition
    * probabilities are the behavioral model funnels and next-action
    * predictors start from.
    *
    * Scale posture: one shuffle keyed by user_id for the lead window,
    * then a map-side-combinable (src, dst) count whose group count is
    * |event_types|² — tiny regardless of corpus size; the probability
    * normalization is a window over that tiny aggregate, not the
    * events. */
  val q87_markov_transitions: Query = Query(
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
       |     tr AS (SELECT event_type AS src,
       |                   lead(event_type) OVER
       |                     (PARTITION BY user_id ORDER BY us, event_id) AS dst
       |            FROM e),
       |     c AS (SELECT src, dst, count(*) AS n FROM tr
       |           WHERE dst IS NOT NULL GROUP BY src, dst)
       |SELECT src, dst, n,
       |       ${croundSql("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src)")} AS p
       |FROM c
       |ORDER BY src, dst""") { (s, dir) =>
    val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wSrc = Window.partitionBy("src")
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .select(col("event_type").as("src"), lead(col("event_type"), 1).over(wOrd).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .select(col("src"), col("dst"), col("n"),
        cround(col("n").cast("double") / sum(col("n")).over(wSrc)).as("p"))
      .orderBy("src", "dst")
  }

  /** Q89 — retention cohort analysis (the DAU retention triangle):
    * users are cohorted by their first active day; for every (cohort,
    * age-in-days) cell, the count of cohort members active that day and
    * the retention rate vs the cohort's day-0 size — the table every
    * growth dashboard draws.
    *
    * Scale posture: first-day per user is one map-side-combinable
    * aggregation; the activity join is user-keyed (the small cohort
    * frame broadcasts at dimension scale); the per-cell distinct and
    * count shuffle only (user, cohort, age) triples; the rate
    * normalization is a window over the cells — |cohorts| × |ages|
    * rows, tiny regardless of event volume. */
  val q89_retention_cohorts: Query = Query(
    s"""WITH e AS (SELECT user_id,
       |                  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_i
       |           FROM events),
       |     f AS (SELECT user_id, min(day_i) AS cohort FROM e GROUP BY user_id),
       |     a AS (SELECT DISTINCT e.user_id, f.cohort, e.day_i - f.cohort AS age
       |           FROM e JOIN f ON e.user_id = f.user_id),
       |     c AS (SELECT cohort, age, count(*) AS n_users FROM a GROUP BY cohort, age)
       |SELECT cohort, age, n_users,
       |       ${croundSql("CAST(n_users AS DOUBLE) / first_value(n_users) OVER (PARTITION BY cohort ORDER BY age)")} AS retention
       |FROM c
       |ORDER BY cohort, age""") { (s, dir) =>
    val e = t(s, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_i"))
    val f = e.groupBy("user_id").agg(min(col("day_i")).as("cohort"))
    val c = e.join(f, "user_id")
      .select(col("user_id"), col("cohort"), (col("day_i") - col("cohort")).as("age"))
      .distinct()
      .groupBy("cohort", "age").agg(count(lit(1)).as("n_users"))
    val w0 = Window.partitionBy("cohort").orderBy("age")
    c.select(col("cohort"), col("age"), col("n_users"),
        cround(col("n_users").cast("double") / first(col("n_users")).over(w0)).as("retention"))
      .orderBy("cohort", "age")
  }

  /** Q92 — rolling z-score anomaly detection: per event type, each
    * day's exact revenue is scored against the TRAILING 7-day window
    * (ROWS 7 PRECEDING .. 1 PRECEDING — the current day never
    * contaminates its own baseline), z = (x − μ)/σ, anomaly at
    * |z| > 2. Only days with a full 7-day history score — the rolling
    * monitor every metrics pipeline runs.
    *
    * Determinism: μ is an exact DECIMAL window sum / 7; σ is
    * canonically rounded (1e-6) before the division so z is identical
    * IEEE arithmetic on identical inputs in both engines (q39's moment
    * posture, applied inside a window frame). One exchange: the daily
    * aggregate and both window passes share the event_type keying.
    *
    * Scale posture: the window runs over the DAILY aggregate
    * (calendar-sized), not the events; partitions are one event type's
    * day series. */
  val q92_rolling_anomaly: Query = Query(
    s"""WITH e AS (SELECT event_type,
       |                  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_i,
       |                  value
       |           FROM events),
       |     d AS (SELECT event_type, day_i, count(*) AS n, ${dsumSql("value")} AS sv
       |           FROM e GROUP BY 1, 2),
       |     w AS (SELECT event_type, day_i, n, sv,
       |                  count(*) OVER win AS nw,
       |                  CAST(sum(CAST(sv AS DECIMAL(30,2))) OVER win AS DOUBLE) AS s7,
       |                  ${croundSql("stddev_samp(sv) OVER win", 6)} AS sd
       |           FROM d
       |           WINDOW win AS (PARTITION BY event_type ORDER BY day_i
       |                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
       |SELECT event_type, day_i, n, sv,
       |       ${croundSql("(sv - s7 / 7) / sd")} AS z,
       |       CAST(abs(${croundSql("(sv - s7 / 7) / sd")}) > 2 AS INT) AS is_anomaly
       |FROM w WHERE nw = 7 AND sd > 0
       |ORDER BY event_type, day_i""") { (s, dir) =>
    val win = Window.partitionBy("event_type").orderBy("day_i").rowsBetween(-7, -1)
    val d = t(s, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_i"),
        col("value"))
      .groupBy("event_type", "day_i")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"))
    val z = cround((col("sv") - col("s7") / 7) / col("sd"))
    d.select(col("event_type"), col("day_i"), col("n"), col("sv"),
        count(lit(1)).over(win).as("nw"),
        sum(col("sv").cast(org.apache.spark.sql.types.DecimalType(30, 2))).over(win)
          .cast("double").as("s7"),
        cround(stddev_samp(col("sv")).over(win), 6).as("sd"))
      .filter(col("nw") === 7 && col("sd") > 0)
      .select(col("event_type"), col("day_i"), col("n"), col("sv"),
        z.as("z"), (abs(z) > 2).cast("int").as("is_anomaly"))
      .orderBy("event_type", "day_i")
  }

  /** Q93 — session path mining: each q20-style session (30-minute
    * inactivity gap) becomes its ordered event-type path string, and
    * the top-20 most common journeys are reported — the "what do users
    * actually do" table behind every UX funnel review.
    *
    * The ordered aggregation is collect_list over (us, event_id, type)
    * structs + array_sort + transform — the engine-portable form of an
    * ORDER BY inside an aggregate (Spark's collect_list is
    * order-nondeterministic on its own; the struct sort pins it).
    *
    * Scale posture: one user-keyed exchange shared by the session
    * window and the per-session path aggregate (session ids refine
    * users); path counting is a map-side-combinable groupBy on the
    * path string; top-20 is TakeOrdered. A pathological mega-session
    * bounds the collect — real deployments cap path length (e.g.
    * slice to the first 50 steps) exactly where this slices nothing. */
  val q93_session_paths: Query = Query(
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
      |     l AS (SELECT user_id, event_id, us, event_type,
      |                  CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |                            >= 1800000000
      |                         OR lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |                       THEN 1 ELSE 0 END AS new_s
      |           FROM e),
      |     s AS (SELECT user_id, event_id, us, event_type,
      |                  sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                                   ROWS UNBOUNDED PRECEDING) AS sid
      |           FROM l),
      |     p AS (SELECT user_id, sid,
      |                  string_agg(event_type, '>' ORDER BY us, event_id) AS path
      |           FROM s GROUP BY user_id, sid),
      |     c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY path)
      |SELECT path, n_sessions FROM c
      |ORDER BY n_sessions DESC, path LIMIT 20""") { (s, dir) =>
    val wOrd = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wRun = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(wOrd) >= 1800000000L
          || lag(col("us"), 1).over(wOrd).isNull, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(wRun))
      .groupBy("user_id", "sid")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(us, event_id, event_type))), x -> x.event_type), '>')").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Q94 — OLS trend fitting per event type: slope/intercept/R² of
    * value against the event's epoch day via the SQL regression
    * aggregates (`regr_slope`/`regr_intercept`/`regr_r2`) — "is this
    * metric drifting" as one aggregation pass, the companion readout
    * to q92's anomaly flags.
    *
    * Scale posture: regression aggregates are sum-of-moments state
    * (Σx, Σy, Σxy, Σx², n) — O(1) per group, map-side combinable,
    * exactly like q39's variance family; cround absorbs summation-order
    * noise in the final ratios. */
  val q94_ols_trend: Query = Query(
    s"""WITH e AS (SELECT event_type,
       |                  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_i,
       |                  value
       |           FROM events)
       |SELECT event_type,
       |       ${croundSql("regr_slope(value, day_i)", 6)} AS slope,
       |       ${croundSql("regr_intercept(value, day_i)")} AS intercept,
       |       ${croundSql("regr_r2(value, day_i)", 6)} AS r2,
       |       CAST(regr_count(value, day_i) AS BIGINT) AS n
       |FROM e GROUP BY event_type
       |ORDER BY event_type""") { (s, dir) =>
    t(s, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day_i"),
        col("value"))
      .groupBy("event_type")
      .agg(
        cround(expr("regr_slope(value, day_i)"), 6).as("slope"),
        cround(expr("regr_intercept(value, day_i)")).as("intercept"),
        cround(expr("regr_r2(value, day_i)"), 6).as("r2"),
        expr("regr_count(value, day_i)").cast("long").as("n"))
      .orderBy("event_type")
  }

  /** Q95 — chi-square test of independence between event type and the
    * parity cohort (q86's A/B assignment): the contingency-table
    * statistic Σ (observed − expected)²/expected with its degrees of
    * freedom — the categorical counterpart to q86's t-test.
    *
    * Determinism: observed and marginal counts are exact integers;
    * expected values are single IEEE divisions of exact products; each
    * cell's term is canonically rounded (1e-6) then DECIMAL-summed, so
    * the statistic is bit-stable across engines and partitionings (the
    * q64/q67 round-then-sum posture). Scale posture: one (type, cohort)
    * count over the fact scan, then all arithmetic on the
    * |types| × |cohorts| cell table. */
  val q95_chisq: Query = Query(
    s"""WITH c AS (SELECT event_type, user_id % 2 AS cohort, count(*) AS n
       |           FROM events GROUP BY 1, 2),
       |     rt AS (SELECT event_type, sum(n) AS rn FROM c GROUP BY 1),
       |     ct AS (SELECT cohort, sum(n) AS cn FROM c GROUP BY 1),
       |     tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t,
       |                    count(DISTINCT event_type) AS nr,
       |                    count(DISTINCT cohort) AS nc
       |             FROM c),
       |     cell AS (SELECT c.n, CAST(rt.rn * ct.cn AS DOUBLE) / tot.t AS e
       |              FROM c JOIN rt ON c.event_type = rt.event_type
       |                     JOIN ct ON c.cohort = ct.cohort, tot),
       |     term AS (SELECT ${croundSql("pow(n - e, 2e0) / e", 6)} AS term FROM cell)
       |SELECT ${croundSql(s"CAST(sum(CAST(term AS DECIMAL(30,6))) AS DOUBLE)")} AS chi2,
       |       (SELECT CAST((nr - 1) * (nc - 1) AS BIGINT) FROM tot) AS df,
       |       CAST(count(*) AS BIGINT) AS n_cells
       |FROM term""") { (s, dir) =>
    val c = t(s, dir, "events")
      .select(col("event_type"), (col("user_id") % 2).as("cohort"))
      .groupBy("event_type", "cohort").agg(count(lit(1)).as("n"))
    val rt = c.groupBy("event_type").agg(sum(col("n")).as("rn"))
    val ct = c.groupBy("cohort").agg(sum(col("n")).as("cn"))
    val tot = c.agg(sum(col("n")).cast("double").as("t"),
      countDistinct(col("event_type")).as("nr"), countDistinct(col("cohort")).as("nc"))
    val term = c.join(rt, "event_type").join(ct, "cohort").crossJoin(broadcast(tot))
      .select(cround(pow(col("n") - (col("rn") * col("cn")).cast("double") / col("t"), 2.0)
        / ((col("rn") * col("cn")).cast("double") / col("t")), 6).as("term"),
        col("nr"), col("nc"))
    term.agg(
        cround(sum(col("term").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double")).as("chi2"),
        ((first(col("nr")) - 1) * (first(col("nc")) - 1)).cast("long").as("df"),
        count(lit(1)).cast("long").as("n_cells"))
  }

  /** Q96 — value-based RANGE window frame: each customer's daily order
    * revenue with its rolling calendar-7-day total (RANGE 6 PRECEDING ..
    * CURRENT ROW over the epoch day). RANGE differs from q92's ROWS
    * frame exactly when the series has gaps — the frame covers the
    * trailing 7 CALENDAR days, not the trailing 7 observations — which
    * is the correct semantics for irregular activity. n_days_7d exposes
    * the frame width so the gap behavior is visible in the output.
    *
    * Determinism: the windowed revenue total is an exact DECIMAL sum.
    * Scale posture: one customer-keyed exchange shared by the daily
    * aggregate (key refinement) and both windows; frames are one
    * customer's day series. */
  val q96_range_frame: Query = Query(
    s"""WITH o AS (SELECT o_custkey,
       |                  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_i,
       |                  o_totalprice
       |           FROM orders),
       |     d AS (SELECT o_custkey, day_i, ${dsumSql("o_totalprice")} AS rev
       |           FROM o GROUP BY 1, 2)
       |SELECT o_custkey, day_i, rev,
       |       CAST(sum(CAST(rev AS DECIMAL(30,2))) OVER
       |              (PARTITION BY o_custkey ORDER BY day_i
       |               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d,
       |       CAST(count(*) OVER
       |              (PARTITION BY o_custkey ORDER BY day_i
       |               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_days_7d
       |FROM d
       |ORDER BY o_custkey, day_i""") { (s, dir) =>
    val win = Window.partitionBy("o_custkey").orderBy("day_i").rangeBetween(-6, 0)
    // spreadScan keyed on the WINDOW key (r13): hash(o_custkey) is a
    // subset clustering, so it serves the groupBy(o_custkey, day_i) AND
    // the two windows — below the one-split gate the plan LOSES a
    // shuffle (3 exchanges → 2: the agg and window exchanges collapse
    // into the spread) while the datediff + decimal per-row work leaves
    // the single serial scan core. Past the gate the original
    // partial-agg shape stands. Exact decimal sums: partition-invariant.
    spreadScan(s, dir, "orders",
      t(s, dir, "orders")
        .select(col("o_custkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("day_i"),
          col("o_totalprice")),
      col("o_custkey"))
      .groupBy("o_custkey", "day_i")
      .agg(dsum(col("o_totalprice")).as("rev"))
      .select(col("o_custkey"), col("day_i"), col("rev"),
        sum(col("rev").cast(org.apache.spark.sql.types.DecimalType(30, 2))).over(win)
          .cast("double").as("rev_7d"),
        count(lit(1)).over(win).cast("long").as("n_days_7d"))
      .orderBy("o_custkey", "day_i")
  }

  /** Q100 — population-stability-index (PSI) drift detection on the
    * event value distribution between two time windows: the reference
    * window (first half of the month) fixes 10 equi-width bins from its
    * own [min, max]; both windows are binned on those SAME edges
    * (current-window outliers clamp into the edge bins, the standard
    * treatment); each bin contributes (p−q)·ln((p+ε)/(q+ε)) with
    * ε = 1e-6 guarding empty bins. PSI per bin is what a training
    * pipeline monitors between ingestion batches — Σ > 0.2 is the
    * conventional "distribution shifted, investigate" alarm.
    *
    * Determinism: bin edges derive from min/max (exact doubles, no
    * quantile interpolation); the bucket expression is the identical
    * IEEE op sequence in both engines ((v−mn)·10/(mx−mn), then
    * floor/clamp); shares are single exact divisions of longs; the
    * ln() class is covered by cround-6 (the q64/q67 posture).
    *
    * Scale posture: one pass computes the reference stats (1-row
    * broadcast — the q34/q77 pattern), one pass bins both windows
    * (a single scan with conditional aggregation: each row feeds its
    * window's bucket count), and the bin join is 10 rows. No window
    * functions, no sort; everything partial-aggregates map-side. */
  val q100_psi_drift: Query = Query(
    """WITH s AS (SELECT min(value) AS mn, max(value) AS mx,
      |                  count(*) AS nr
      |           FROM events WHERE ts < TIMESTAMP '2024-01-16'),
      |     nc AS (SELECT count(*) AS n FROM events
      |            WHERE ts >= TIMESTAMP '2024-01-16'),
      |     b AS (SELECT CAST(least(9, greatest(0,
      |                    floor((e.value - s.mn) * 10e0 / (s.mx - s.mn)))) AS INT) AS bucket,
      |                  CASE WHEN e.ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
      |           FROM events e, s),
      |     g AS (SELECT bucket, CAST(sum(is_ref) AS BIGINT) AS n_ref,
      |                  CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
      |           FROM b GROUP BY bucket)
      |SELECT g.bucket, g.n_ref, g.n_cur,
      |       """ + croundSql("g.n_ref * 1e0 / s.nr", 6) + """ AS ref_share,
      |       """ + croundSql("g.n_cur * 1e0 / nc.n", 6) + """ AS cur_share,
      |       """ + croundSql(
      "(g.n_ref * 1e0 / s.nr - g.n_cur * 1e0 / nc.n) * " +
        "ln((g.n_ref * 1e0 / s.nr + 1e-6) / (g.n_cur * 1e0 / nc.n + 1e-6))", 6) + """ AS psi_term
      |FROM g, s, nc ORDER BY g.bucket""") { (s, dir) =>
    val ev = t(s, dir, "events")
    val refPred = col("ts") < lit("2024-01-16").cast("timestamp_ntz")
    val stats = ev.filter(refPred)
      .agg(min("value").as("mn"), max("value").as("mx"), count(lit(1)).as("nr"))
    val nCur = ev.filter(!refPred).agg(count(lit(1)).as("n"))
    val p = col("n_ref") * lit(1.0) / col("nr")
    val q = col("n_cur") * lit(1.0) / col("n")
    ev.crossJoin(broadcast(stats.select("mn", "mx")))
      .select(
        least(lit(9), greatest(lit(0),
          floor((col("value") - col("mn")) * lit(10.0) / (col("mx") - col("mn")))))
          .cast("int").as("bucket"),
        when(refPred, 1).otherwise(0).as("is_ref"))
      .groupBy("bucket")
      .agg(sum("is_ref").as("n_ref"), sum(lit(1) - col("is_ref")).as("n_cur"))
      .crossJoin(broadcast(stats.select("nr")))
      .crossJoin(broadcast(nCur))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        cround(p, 6).as("ref_share"), cround(q, 6).as("cur_share"),
        cround((p - q) * log((p + lit(1e-6)) / (q + lit(1e-6))), 6).as("psi_term"))
      .orderBy("bucket")
  }

  /** Q101 — point-in-time (PIT) join against the SCD2 dimension: every
    * purchase picks up the ACTIVITY-state interval (runs of the user's
    * non-purchase events, via [[scd2IntervalsOf]]) that was valid AT THE
    * PURCHASE'S EVENT TIME (valid_from <= ts < valid_to, open-ended
    * current rows) — "what was the user doing when they bought", the
    * query shape that makes q83's history table useful and the one every
    * feature store must get right to avoid train-serve leakage (joining
    * "current" state instead of as-of state trains on the future).
    * Intervals partition each user's activity timeline from their first
    * non-purchase event on, so a purchase matches at most one interval;
    * purchases before any activity drop (inner join — the spec counts
    * them).
    *
    * Scale posture: an equi-join on user_id with the interval bounds as
    * residual predicates — hash-partitioned both sides, candidates per
    * probe = that user's interval count (bounded by their run count),
    * never a cartesian. The dimension build itself is q83's one-exchange
    * pipeline, shared via [[scd2IntervalsOf]]; at 100 TB the dimension
    * is maintained incrementally (the streaming SCD2 face) and the PIT
    * join reads it as a plain table. */
  val q101_pit_join: Query = Query(
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
      |           FROM events WHERE event_type <> 'purchase'),
      |     l AS (SELECT user_id, us, event_id, event_type,
      |                  CASE WHEN lag(event_type) OVER
      |                         (PARTITION BY user_id ORDER BY us, event_id)
      |                         IS DISTINCT FROM event_type
      |                       THEN 1 ELSE 0 END AS new_run
      |           FROM e),
      |     r AS (SELECT user_id, us, event_type,
      |                  sum(new_run) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                                     ROWS UNBOUNDED PRECEDING) AS run_id
      |           FROM l),
      |     g AS (SELECT user_id, run_id, event_type,
      |                  min(us) AS valid_from_us, count(*) AS n_events
      |           FROM r GROUP BY user_id, run_id, event_type),
      |     dim AS (SELECT user_id, event_type, valid_from_us,
      |                    lead(valid_from_us) OVER
      |                      (PARTITION BY user_id ORDER BY run_id) AS valid_to_us,
      |                    n_events
      |             FROM g),
      |     f AS (SELECT event_id, user_id, epoch_us(ts) AS us, value
      |           FROM events WHERE event_type = 'purchase')
      |SELECT f.event_id, f.user_id, f.us, f.value,
      |       d.event_type AS state, d.valid_from_us AS state_since_us,
      |       d.n_events AS state_events
      |FROM f JOIN dim d
      |  ON f.user_id = d.user_id
      | AND d.valid_from_us <= f.us
      | AND (d.valid_to_us IS NULL OR f.us < d.valid_to_us)
      |ORDER BY f.event_id""") { (s, dir) =>
    val ev = t(s, dir, "events")
    val dim = scd2IntervalsOf(ev.filter(col("event_type") =!= "purchase"))
      .drop("is_current")
    val f = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("f_user"),
        unix_micros(col("ts")).as("us"), col("value"))
    f.join(dim,
      col("f_user") === col("user_id") &&
        col("valid_from_us") <= col("us") &&
        (col("valid_to_us").isNull || col("us") < col("valid_to_us")))
      .select(col("event_id"), col("user_id"), col("us"), col("value"),
        col("event_type").as("state"), col("valid_from_us").as("state_since_us"),
        col("n_events").as("state_events"))
      .orderBy("event_id")
  }

  /** Q102 — OHLC time-series resampling: events downsampled to 6-hour
    * bars per event type — open/close (first/last value in the
    * deterministic (ts, event_id) order), high/low, count, and the
    * exact-decimal mean — the resampling primitive behind any
    * "metric over time" dashboard or bar-feature pipeline. Buckets are
    * integer epoch-microsecond divisions (engine-portable, no temporal
    * truncation drift).
    *
    * Scale posture: ONE hash exchange on (event_type, bucket) — the
    * first/last window and the bar aggregate share it (the groupBy key
    * equals the window partition key). first/last are window functions,
    * not min_by, so the deterministic tiebreak is explicit in the ORDER
    * BY; everything else partial-aggregates map-side. */
  val q102_ohlc_bars: Query = Query(
    s"""WITH e AS (SELECT event_type, epoch_us(ts) // 21600000000 AS bkt,
       |                  epoch_us(ts) AS us, event_id, value
       |           FROM events),
       |     w AS (SELECT event_type, bkt, value, us, event_id,
       |                  first_value(value) OVER
       |                    (PARTITION BY event_type, bkt ORDER BY us, event_id) AS o,
       |                  last_value(value) OVER
       |                    (PARTITION BY event_type, bkt ORDER BY us, event_id
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
       |           FROM e)
       |SELECT event_type, bkt, count(*) AS n,
       |       min(o) AS open, max(value) AS high, min(value) AS low, min(c) AS close,
       |       ${davgSql("value")} AS avg_value
       |FROM w GROUP BY event_type, bkt
       |ORDER BY event_type, bkt""") { (s, dir) =>
    val wb = Window.partitionBy("event_type", "bkt").orderBy("us", "event_id")
    val wbFull = wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "events")
      .select(col("event_type"), expr("unix_micros(ts) DIV 21600000000").as("bkt"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .withColumn("o", first(col("value")).over(wb))
      .withColumn("c", last(col("value")).over(wbFull))
      .groupBy("event_type", "bkt")
      .agg(count(lit(1)).as("n"), min(col("o")).as("open"), max(col("value")).as("high"),
        min(col("value")).as("low"), min(col("c")).as("close"),
        davg(col("value")).as("avg_value"))
      .orderBy("event_type", "bkt")
  }

  /** Q103 — two-sample Kolmogorov–Smirnov test between the month
    * halves: D = max over pooled points of |F_ref(v) − F_cur(v)|, the
    * EXACT nonparametric complement to q100's binned PSI (PSI sees only
    * 10 bins; KS sees every value), plus the one-term asymptotic
    * p-value 2·exp(−2D²·nr·nc/(nr+nc)). Ties are handled by the SQL
    * standard's default RANGE frame (a point's CDF includes all equal
    * values) — identical semantics in both engines.
    *
    * Scale posture: the q99 distributed-rank machinery generalized to
    * CDFs — repartitionByRange on the value keeps ties co-located
    * (equal keys land in one range partition), per-partition
    * is-ref/total counts broadcast as offsets, the cumulative sums run
    * in pid-local RANGE windows, and D is a map-side-combinable max.
    * No data-sized single-partition sort; the only SinglePartitions are
    * the partition-count offset table and the 1-row totals, exactly as
    * in q99. */
  val q103_ks_test: Query = Query(
    s"""WITH e AS (SELECT value,
       |                  CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
       |           FROM events),
       |     n AS (SELECT CAST(sum(is_ref) AS BIGINT) AS nr,
       |                  CAST(sum(1 - is_ref) AS BIGINT) AS nc FROM e),
       |     c AS (SELECT sum(is_ref) OVER (ORDER BY value) AS cr,
       |                  sum(1 - is_ref) OVER (ORDER BY value) AS cc
       |           FROM e),
       |     d AS (SELECT max(abs(c.cr * 1e0 / n.nr - c.cc * 1e0 / n.nc)) AS d_stat
       |           FROM c, n)
       |SELECT n.nr, n.nc, ${croundSql("d.d_stat", 6)} AS d_stat,
       |       ${croundSql(
          "least(1e0, 2e0 * exp(-2e0 * d.d_stat * d.d_stat * n.nr * n.nc / (n.nr + n.nc)))", 6)}
       |         AS p_approx
       |FROM d, n""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "events").select(col("value"),
      when(col("ts") < lit("2024-01-16").cast("timestamp_ntz"), 1).otherwise(0).as("is_ref"))
    // memoized (not bare-persisted): repeated invocations in a long
    // session reuse one cached frame instead of accumulating orphaned
    // blocks, and Memo.reset()/evict covers it
    val parted = Memo("q103.parted", s, dir)(
      e.repartitionByRange(col("value"))
        .withColumn("pid", spark_partition_id()).persist())
    val pc = parted.groupBy("pid")
      .agg(sum("is_ref").as("pr"), count(lit(1)).as("pn"))
    val offs = pc.select(col("pid"),
      (sum("pr").over(Window.orderBy("pid")) - col("pr")).as("off_r"),
      (sum("pn").over(Window.orderBy("pid")) - col("pn")).as("off_n"))
    val tot = pc.agg(sum("pr").as("nr"), (sum("pn") - sum("pr")).as("nc"))
    // pid-local cumulative counts in the standard RANGE frame (ties
    // included); ties never span partitions under a single-column
    // range partitioning, so local + offset = the global CDF numerator
    val wCdf = Window.partitionBy("pid").orderBy("value")
    val dStat = parted.join(broadcast(offs), "pid")
      .select(
        (sum("is_ref").over(wCdf) + col("off_r")).as("cr"),
        (sum(lit(1) - col("is_ref")).over(wCdf) + (col("off_n") - col("off_r"))).as("cc"))
      .crossJoin(broadcast(tot))
      .agg(max(abs(col("cr") * lit(1.0) / col("nr")
        - col("cc") * lit(1.0) / col("nc"))).as("d_stat"))
    dStat.crossJoin(broadcast(tot))
      .select(col("nr"), col("nc"), cround(col("d_stat"), 6).as("d_stat"),
        cround(least(lit(1.0), lit(2.0) * exp(lit(-2.0) * col("d_stat") * col("d_stat")
          * col("nr") * col("nc") / (col("nr") + col("nc")))), 6).as("p_approx"))
  }

  val all: Map[String, Query] = Map(
    "q101_pit_join" -> q101_pit_join,
    "q102_ohlc_bars" -> q102_ohlc_bars,
    "q103_ks_test" -> q103_ks_test,
    "q96_range_frame" -> q96_range_frame,
    "q100_psi_drift" -> q100_psi_drift,
    "q83_scd2_intervals" -> q83_scd2_intervals,
    "q84_gapfill_ffill" -> q84_gapfill_ffill,
    "q86_ab_ttest" -> q86_ab_ttest,
    "q87_markov_transitions" -> q87_markov_transitions,
    "q89_retention_cohorts" -> q89_retention_cohorts,
    "q92_rolling_anomaly" -> q92_rolling_anomaly,
    "q93_session_paths" -> q93_session_paths,
    "q94_ols_trend" -> q94_ols_trend,
    "q95_chisq" -> q95_chisq)
}
