package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Second relational batch: rich predicates, approximate distinct, bag
  * set-ops, CUBE, and tf-idf (SURVEY.md §2.2/§2.4/§2.7/§2.10 rows not
  * covered by the first batch). */
object Relational2 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.table(s, dir, n)

  /** Q1b — predicate battery: IN / BETWEEN / LIKE / IS NOT NULL / boolean
    * algebra, all pushed to the scan where the source supports it. */
  val q01b_predicates: Query = Query(
    """SELECT o_orderkey, o_orderpriority, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  AND o_totalprice BETWEEN 50000 AND 200000
      |  AND o_orderstatus LIKE 'P%'
      |  AND o_custkey IS NOT NULL
      |  AND (o_orderkey % 2 = 0 OR o_totalprice > 150000)
      |ORDER BY o_orderkey""") { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        && col("o_totalprice").between(50000, 200000)
        && col("o_orderstatus").like("P%")
        && col("o_custkey").isNotNull
        && (col("o_orderkey") % 2 === 0 || col("o_totalprice") > 150000))
      .select("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Q6b — approximate count-distinct (HLL++). Approximate by definition →
    * no SQL oracle (engines use different sketches); the ScalaTest asserts
    * ≤ 5% relative error vs the exact count. */
  val q06b_approx_distinct: Query = Query.noOracle { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("n_cust_approx"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Q10b — bag (multiset) set operations: INTERSECT ALL / EXCEPT ALL
    * preserve multiplicities, unlike their set forms in q10. */
  val q10b_setops_bag: Query = Query(
    """WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
      |     b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT 'inter_all' AS op, k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) x
      |UNION ALL
      |SELECT 'except_all' AS op, k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) y
      |ORDER BY op, k""") { (s, dir) =>
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("k"))
    val b = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("k"))
    a.intersectAll(b).select(lit("inter_all").as("op"), col("k"))
      .unionAll(a.exceptAll(b).select(lit("except_all").as("op"), col("k")))
      .orderBy("op", "k")
  }

  /** Q11b — CUBE over (returnflag, linestatus): all 4 grouping
    * combinations in one pass. */
  val q11b_cube_pricing: Query = Query(
    s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       |       coalesce(l_linestatus, 'ALL') AS linestatus,
       |       ${dsumSql("l_quantity")} AS sum_qty,
       |       count(*) AS n
       |FROM lineitem
       |GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""") { (s, dir) =>
    // spreadScan: the cube's 4-way Expand + decimal partial aggregation
    // run in the scan stage — serial on a one-split file (q11's note);
    // exact sums/counts are partition-invariant. The near-unique price
    // rides along as the spread key only (l_quantity has ~50 distinct
    // values — hashing on it would leave partitions empty, guide §2.5).
    spreadScan(s, dir, "lineitem",
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"),
      col("l_extendedprice"))
      .cube("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")
  }

  /** Q29 — tf-idf top-3 terms per document (first 20 docs): term counts,
    * document frequency, ln(N/df) weighting — two aggregations + a join
    * (SURVEY §2.10 text analysis). */
  val q29_tfidf: Query = Query(
    s"""WITH tok AS (SELECT doc_id,
      |                    unnest(string_split(${Pipeline.normSql}, ' ')) AS w
      |             FROM documents),
      |     tf AS (SELECT doc_id, w, count(*) AS tf FROM tok WHERE length(w) >= 4 GROUP BY 1, 2),
      |     df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |     n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      |     scored AS (SELECT doc_id, w, tf * ln(n.n * 1e0 / df.df) AS score
      |                FROM tf JOIN df USING (w) CROSS JOIN n
      |                WHERE doc_id < 20),
      |     rk AS (SELECT doc_id, w, score,
      |                   CAST(row_number() OVER (PARTITION BY doc_id
      |                                           ORDER BY score DESC, w) AS INT) AS rn
      |            FROM scored)
      |SELECT doc_id, rn, w, floor(score * 10000 + 0.5e0) / 10000 AS tfidf
      |FROM rk WHERE rn <= 3
      |ORDER BY doc_id, rn""") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val tok = docs.select(col("doc_id"),
        explode(split(expr(Pipeline.normExprStr), " ")).as("w"))
      .filter(length(col("w")) >= 4)
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n"))
    // Broadcast the doc_id-filtered tf side — it is the bounded one (a
    // handful of docs' terms); df is the FULL vocabulary and grows with
    // the corpus, so broadcasting it would not survive 100 TB.
    val scored = broadcast(tf.filter(col("doc_id") < 20))
      .join(df, "w")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("w"),
        (col("tf") * log(col("n") * lit(1.0) / col("df"))).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("w"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("w"), cround(col("score")).as("tfidf"))
      .orderBy("doc_id", "rn")
  }

  /** Q78 — mergeable distinct-count sketches across shards (SURVEY
    * §2.12): per-language DataSketches HLL sketches of the distinct
    * term set, then ONE `hll_union_agg` over the five sketch rows for
    * the corpus-wide estimate — the pre-aggregate-then-merge shape that
    * makes distinct counting shippable at 100 TB: each shard/partition
    * emits a kilobyte sketch, and any rollup (per-lang, per-source,
    * grand total) is a union of sketches, never a re-scan. The exact
    * distinct rides alongside for the error contract. `approx_count_
    * distinct` (q06b) gives one estimate per group; the sketch column
    * here is reusable STATE — persistable, incrementally unionable
    * with tomorrow's crawl, exactly the q60 incremental pattern but for
    * cardinality.
    *
    * No SQL oracle (sketch bytes are engine-specific); PropertySpec
    * gates estimate==exact at test-scale cardinality (HLL is exact
    * below its promotion threshold), union-of-shards == direct
    * whole-corpus sketch, and partition invariance. The grand-total
    * exact count crosses a one-row frame (AllPlansSpec whitelist). */
  val q78_hll_shards: Query = Query.noOracle { (s, dir) =>
    val toks = t(s, dir, "documents")
      .select(col("lang"), coalesce(col("text"), lit("")).as("text"))
      .select(col("lang"), explode(split(expr(Pipeline.normExprStr), " ")).as("term"))
    val perLang = toks.groupBy("lang")
      .agg(expr("hll_sketch_agg(term, 12)").as("sk"), countDistinct(col("term")).as("exact"))
    val langs = perLang.select(col("lang").as("scope"),
      expr("hll_sketch_estimate(sk)").as("est"), col("exact"))
    val totalRow = perLang
      .agg(expr("hll_union_agg(sk, true)").as("sk"))
      .select(expr("hll_sketch_estimate(sk)").as("est"))
      .crossJoin(toks.agg(countDistinct(col("term")).as("exact")))
      .select(lit("ALL").as("scope"), col("est"), col("exact"))
    langs.unionAll(totalRow).orderBy("scope")
  }

  val all: Map[String, Query] = Map(
    "q01b_predicates" -> q01b_predicates,
    "q78_hll_shards" -> q78_hll_shards,
    "q06b_approx_distinct" -> q06b_approx_distinct,
    "q10b_setops_bag" -> q10b_setops_bag,
    "q11b_cube_pricing" -> q11b_cube_pricing,
    "q29_tfidf" -> q29_tfidf)
}
