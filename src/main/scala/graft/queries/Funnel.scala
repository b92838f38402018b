package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Behavioral-analytics surface: conversion funnel and stratified
  * sampling over the events table. */
object Funnel {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.table(s, dir, "events")

  /** Q36 — ordered conversion funnel per user: view → click (after first
    * view) → purchase (after first qualifying click). One aggregation
    * pass per stage over per-user minima — no self-joins on the raw
    * events. */
  val q36_funnel: Query = Query(
    """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS v_us FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |     c AS (SELECT e.user_id, min(epoch_us(ts)) AS c_us
      |           FROM events e JOIN v ON v.user_id = e.user_id
      |           WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.v_us
      |           GROUP BY e.user_id),
      |     p AS (SELECT e.user_id, min(epoch_us(ts)) AS p_us
      |           FROM events e JOIN c ON c.user_id = e.user_id
      |           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
      |           GROUP BY e.user_id)
      |SELECT 'stage1_view' AS stage, count(*) AS n_users FROM v
      |UNION ALL SELECT 'stage2_click', count(*) FROM c
      |UNION ALL SELECT 'stage3_purchase', count(*) FROM p
      |ORDER BY stage""") { (s, dir) =>
    val e = ev(s, dir).select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("v_us"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") > col("v_us"))
      .groupBy("user_id").agg(min(col("us")).as("c_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") > col("c_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"))
    v.agg(count(lit(1)).as("n_users")).select(lit("stage1_view").as("stage"), col("n_users"))
      .unionAll(c.agg(count(lit(1)).as("n_users")).select(lit("stage2_click").as("stage"), col("n_users")))
      .unionAll(p.agg(count(lit(1)).as("n_users")).select(lit("stage3_purchase").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  /** Q35 — stratified sampling per event type: the training-data
    * downsampling primitive. Each stratum keeps a row iff the Knuth mix
    * of its event_id (the q56 engine-portable sampler) falls below the
    * stratum's threshold — deterministic and engine-independent, so the
    * driver hash-oracles the exact kept counts (previously
    * `df.stat.sampleBy`, whose RNG made it rows-only).
    * Resumable/auditable for the same reason as q56: re-running the
    * sample on any engine reproduces the identical kept set.
    *
    * Thresholds compare against the RAW 16-bit mix output (range
    * [0, 2^16)), NOT mix mod 10^4: 65536 % 10000 ≠ 0 makes low
    * residues ~6.8% over-represented, which would silently inflate
    * every stratum's realized fraction by the same factor. Against the
    * full range, round(f·2^16)/2^16 is within 2^-17 of the declared
    * fraction. (q56 documents the mod-10^4 bias for its rate grid; the
    * keep DECISION here has no grid to match, so it uses the unbiased
    * form.)
    *
    * Scale shape: the keep decision is a pure map-side filter on the
    * scan (threshold lookup is a when-chain over 5 literals — no join,
    * no broadcast, nothing shuffles but the final tiny per-type
    * aggregation). PropertySpec additionally asserts per-stratum
    * fraction tolerance at sf0.01. */
  val q35_stratified_sample: Query = {
    val fractions = Seq("view" -> 0.1, "click" -> 0.5, "purchase" -> 1.0,
      "signup" -> 1.0, "error" -> 0.25)
    def thresh(f: Double): Long = math.round(f * 65536)
    val valuesSql = fractions
      .map { case (t, f) => s"('$t', ${thresh(f)})" }.mkString(", ")
    Query(
      s"""WITH f(event_type, thresh) AS (VALUES $valuesSql),
         |     k AS (SELECT e.event_type FROM events e JOIN f USING (event_type)
         |           WHERE ${Pipeline.mixSql("event_id")} < f.thresh)
         |SELECT event_type, count(*) AS n_sampled FROM k
         |GROUP BY 1 ORDER BY event_type""") { (s, dir) =>
      val th = fractions.tail.foldLeft(
        when(col("event_type") === fractions.head._1, thresh(fractions.head._2))) {
        case (c, (t, f)) => c.when(col("event_type") === t, thresh(f))
      }
      ev(s, dir)
        .select(col("event_type"),
          expr(Pipeline.mixExpr("event_id")).as("h"))
        .filter(col("h") < th)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("event_type")
    }
  }

  /** Minimal typed event for the cogroup walk. */
  final case class Ev(user_id: Long, us: Long, event_id: Long)

  /** Q80 — per-user conversion attribution via typed `cogroupSorted`
    * (the KeyValueGroupedDataset surface): a purchase "converts" when at
    * least one click happened since the user's previous purchase. The
    * click and purchase streams are cogrouped by user and handed to the
    * merge-walk as (us, event_id)-SORTED iterators — cogroupSorted plans
    * a secondary sort inside the co-partitioned shuffle (one exchange
    * per side, same key), so per-group state is O(1) pointers, never an
    * in-group materialization: the per-user walk is safe even for a
    * mega-user with millions of events, where the plain `cogroup` +
    * in-memory sort would OOM the task. This is the genuine use case for
    * dropping out of Column expressions: a stateful two-stream walk
    * whose SQL form (the oracle) needs two window passes over an
    * interleaved union. */
  val q80_cogroup_attribution: Query = Query(
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
      |           WHERE event_type IN ('click', 'purchase')),
      |     o AS (SELECT user_id, us, event_id, event_type,
      |                  count(*) FILTER (WHERE event_type = 'click') OVER
      |                    (PARTITION BY user_id ORDER BY us, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_clicks
      |           FROM e),
      |     p AS (SELECT user_id, cum_clicks,
      |                  lag(cum_clicks, 1, 0) OVER
      |                    (PARTITION BY user_id ORDER BY us, event_id) AS prev_cum
      |           FROM o WHERE event_type = 'purchase')
      |SELECT user_id, count(*) AS n_purchases,
      |       CAST(sum(CASE WHEN cum_clicks > prev_cum THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
      |FROM p GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    cogroupAttribution(s, ev(s, dir))
  }

  /** The q80 walk over any (user_id, ts, event_id, event_type) frame —
    * exposed so FunnelSpec can feed crafted edge-case fixtures (equal
    * timestamps, purchase-before-any-click, clicks-only users) through
    * the production code path. */
  private[graft] def cogroupAttribution(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val e = events.select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
      col("event_type"))
    def side(t: String) =
      e.filter(col("event_type") === t).select("user_id", "us", "event_id").as[Ev]
        .groupByKey(_.user_id)
    side("click")
      .cogroupSorted(side("purchase"))(col("us"), col("event_id"))(col("us"), col("event_id")) {
        (uid, clicks, purchases) =>
          val c = clicks.buffered
          var clicksSeen = 0L; var clicksAtPrevPurchase = 0L
          var total = 0L; var converted = 0L
          purchases.foreach { p =>
            while (c.hasNext && (c.head.us < p.us ||
              (c.head.us == p.us && c.head.event_id < p.event_id))) {
              c.next(); clicksSeen += 1
            }
            total += 1
            if (clicksSeen > clicksAtPrevPurchase) converted += 1
            clicksAtPrevPurchase = clicksSeen
          }
          if (total == 0) Iterator.empty else Iterator((uid, total, converted))
      }
      .toDF("user_id", "n_purchases", "n_converted")
      .orderBy("user_id")
  }

  /** q104's bucket parameters, shared with the streaming twin
    * ([[graft.streaming.Streams.rateLimitStream]]). */
  private[graft] val RateCap = 21600000000L // 6 h of credit, in microseconds
  private[graft] val RateCost = 10800000000L // each admitted event spends 3 h

  /** Q104 — token-bucket rate-limiter audit: per user, replay events in
    * the deterministic (ts, event_id) order against a token bucket
    * (capacity 6 h of credit, each event costs 3 h, refill = elapsed
    * microseconds, bucket starts full at the user's first event — sized
    * so the fixture's burst structure actually throttles ~3% of events
    * at every test SF) and
    * report admitted/throttled counts plus the final balance. The
    * clamped state update tokens' = min(CAP, tokens + elapsed) − cost
    * is a SEQUENTIAL state machine — not window-expressible (the clamp
    * makes each step depend on the previous step's full state, unlike a
    * running sum) — so the engine runs it as a sorted-group fold
    * (`flatMapSortedGroups`, the q80 secondary-sort posture) in pure
    * integer arithmetic, exactly deterministic. The oracle walks the
    * same machine as a recursive CTE over per-user row numbers.
    *
    * Scale posture: ONE shuffle (groupByKey on user_id); the sort is
    * per-group inside the shuffle (secondary sort, no global sort); the
    * fold is O(events-per-user) with O(1) state. The streaming twin of
    * this shape is a transformWithState ValueState — the same machine
    * the ledger already demonstrates. */
  val q104_rate_limit: Query = {
    val Cap = RateCap
    val Cost = RateCost
    Query(
      s"""WITH RECURSIVE e AS (
         |  SELECT user_id, epoch_us(ts) AS us, event_id,
         |         row_number() OVER (PARTITION BY user_id
         |                            ORDER BY epoch_us(ts), event_id) AS rn
         |  FROM events),
         |walk AS (
         |  SELECT user_id, rn, us,
         |         $Cap - $Cost AS tokens, 0 AS throttled
         |  FROM e WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn, e.us,
         |         CASE WHEN least($Cap, w.tokens + (e.us - w.us)) >= $Cost
         |              THEN least($Cap, w.tokens + (e.us - w.us)) - $Cost
         |              ELSE least($Cap, w.tokens + (e.us - w.us)) END,
         |         CASE WHEN least($Cap, w.tokens + (e.us - w.us)) >= $Cost
         |              THEN 0 ELSE 1 END
         |  FROM e JOIN walk w ON e.user_id = w.user_id AND e.rn = w.rn + 1)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(throttled) AS BIGINT) AS n_throttled,
         |       CAST(arg_max(tokens, rn) AS BIGINT) AS final_tokens
         |FROM walk GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      import s.implicits._
      ev(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
        .as[Ev]
        .groupByKey(_.user_id)
        .flatMapSortedGroups(col("us"), col("event_id")) { (uid, events) =>
          var tokens = Cap
          var prevUs = 0L
          var n = 0L; var throttled = 0L
          events.foreach { e =>
            if (n > 0) tokens = math.min(Cap, tokens + (e.us - prevUs))
            if (tokens >= Cost) tokens -= Cost else throttled += 1
            prevUs = e.us
            n += 1
          }
          if (n == 0) Iterator.empty else Iterator((uid, n, throttled, tokens))
        }
        .toDF("user_id", "n_events", "n_throttled", "final_tokens")
        .orderBy("user_id")
    }
  }

  val all: Map[String, Query] = Map(
    "q104_rate_limit" -> q104_rate_limit,
    "q35_stratified_sample" -> q35_stratified_sample,
    "q36_funnel" -> q36_funnel,
    "q80_cogroup_attribution" -> q80_cogroup_attribution)
}
