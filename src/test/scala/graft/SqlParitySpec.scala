package graft

import org.apache.spark.sql.DataFrame

import graft.engine.Tables

/** SQL-API parity (SURVEY.md §7.4; 76 statements at round 11): the declared queries exist as both
  * DataFrame pipelines and SQL text. For every oracle whose SQL is
  * ANSI-portable (no DuckDB-only functions), run the SQL through
  * spark.sql over the registered views and assert it returns exactly the
  * DataFrame pipeline's result. */
class SqlParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Oracle SQL that parses and runs identically on Spark SQL. The rest
    * use DuckDB-specific functions (epoch_us, string_split, list_*, //,
    * json_extract_string, isodow, unnest-zip) — their Spark forms are the
    * DataFrame pipelines themselves. */
  private val portable = Seq(
    "q01_filter_project", "q02_pricing_summary", "q03_segment_orders",
    "q04_revenue_by_nation", "q05_semi_anti", "q06_count_distinct",
    "q07_rank_segment_top3", "q08_order_windows", "q09_top10_orders",
    "q10_setops", "q10b_setops_bag", "q11_rollup_pricing", "q11b_cube_pricing",
    "q01b_predicates", "q09b_limit_offset", "q33_heroic_on_orders",
    "q40_global_argmax", "q41_frequent_customers", "q42_role_counts",
    "q11c_grouping_sets", "q44_pivot_events", "q44b_unpivot_lineitem",
    "q45_smoothed_avg", "q07c_window_battery", "q33b_heroic_deep",
    "q66_corpus_upsert", "q81_fuzzy_match", "q82_profile",
    "q85_pagerank", "q85b_weighted_pagerank", "q86_ab_ttest", "q90_sssp",
    "q95_chisq", "q97_dq_checks", "q98_label_prop", "q100_psi_drift",
    // round 11 (VERDICT item 6): swept mechanically by
    // ProbeSqlParity (since removed) — these ten also run on Spark SQL untouched
    "q07b_rank_battery", "q103_ks_test", "q15_topk_parts_per_brand",
    "q34_mse_on_orders", "q39_stats_moments", "q53_range_join",
    "q89_retention_cohorts", "q92_rolling_anomaly", "q94_ols_trend",
    "q96_range_frame")

  /** Mechanical DuckDB→Spark dialect mapping — pure function renames
    * and two syntax moves, NO semantic rewriting (list indexing,
    * unnest-in-SELECT and ORDER-BY-inside-aggregate stay untranslated;
    * queries needing those keep hand-written Spark forms below or are
    * excluded). Every mapped statement is verified against the
    * DataFrame pipeline's result, so a wrong mapping fails loudly. */
  private def duckToSpark(sql: String): String = sql
    .replace("epoch_us(", "unix_micros(")   // micros since epoch
    .replace(" // ", " div ")               // integer division
    .replace("string_split(", "split(")     // literal-separator split
    .replace(", 'g')", ")")                 // Spark regexp_replace is global
    .replace("quantile_cont(", "percentile(")
    .replace("arg_max(", "max_by(")
    .replace(" IGNORE NULLS)", ") IGNORE NULLS") // inside-call vs after-call

  /** Oracles that run on Spark SQL after [[duckToSpark]] (swept by
    * ProbeSqlParity at round 11, since removed): the temporal/event family
    * (epoch_us), the layout family (// integer division) and the
    * text-normalization users (string_split + the 'g' flag). */
  private val portableMapped = Seq(
    "q101_pit_join", "q102_ohlc_bars", "q104_rate_limit",
    "q105_conversion_delay", "q12_scalar_battery", "q14_interval_selfjoin",
    "q14b_asof_click_purchase", "q16_dedup_exact", "q19_tumbling_hour",
    "q20_sessionize", "q21_lang_id", "q35_stratified_sample", "q36_funnel",
    "q38_percentiles", "q55_shuffle_shard", "q74_priority_sample",
    "q75_zorder_layout", "q77_robust_clip", "q83_scd2_intervals",
    "q87_markov_transitions", "q88_triangles", "q99_rank_histogram")

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq.map {
        case d: Double => f"$d%.6f"
        case x => String.valueOf(x)
      }.mkString("\t")).toSeq.sorted
  }

  test("portable oracle SQL executes on Spark SQL with identical results") {
    Tables.registerAll(spark, dir)
    val failures = portable.flatMap { name =>
      val q = SparkEntry.registry(name)
      val sql = q.oracle.get
      try {
        val viaSql = canon(spark.sql(sql))
        val viaDf = canon(q.fn(spark, dir))
        if (viaSql == viaDf) None else Some(s"$name: result mismatch")
      } catch {
        case e: Exception => Some(s"$name: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Spark-SQL forms of the pipeline family, whose DuckDB oracles lean on
    * string_split/len/'g'-flag regexes and so can't run on Spark as-is.
    * Built from the SAME shared fragments as the DataFrame pipelines
    * (Pipeline.normExprStr, Pipeline.mixExpr, croundSql) so the three
    * surfaces — DataFrame, DuckDB oracle, Spark SQL — cannot drift apart
    * silently. */
  private def pipelineSparkSql: Map[String, String] = {
    import graft.queries.{croundSql, Pipeline}
    val norm = Pipeline.normExprStr
    def mixMod(m: Int) = s"CAST(${Pipeline.mixExpr("doc_id")} % $m AS INT)"
    val ntok = s"CAST(size(split($norm, ' ')) AS BIGINT)"
    Map(
      "q48_chunk_pack" ->
        s"""WITH d AS (SELECT doc_id, ${mixMod(32)} AS shard, $ntok AS ntok FROM documents),
           |     w AS (SELECT doc_id, shard, ntok,
           |                  coalesce(sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
           |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
           |           FROM d)
           |SELECT shard, CAST(start_tok div 256 AS INT) AS pack_id,
           |       count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
           |       min(doc_id) AS first_doc
           |FROM w GROUP BY 1, 2 ORDER BY shard, pack_id""".stripMargin,
      "q48b_pack_spans" ->
        s"""WITH d AS (SELECT doc_id, ${mixMod(32)} AS shard, $ntok AS ntok FROM documents),
           |     w AS (SELECT doc_id, shard, ntok,
           |                  coalesce(sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
           |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
           |           FROM d),
           |     sp AS (SELECT shard, doc_id, ntok, start_tok,
           |                   explode(sequence(start_tok div 256, (start_tok + ntok - 1) div 256)) AS p
           |            FROM w)
           |SELECT shard, CAST(p AS INT) AS pack_id, doc_id,
           |       greatest(start_tok, p * 256) - p * 256 AS off_tok,
           |       least(start_tok + ntok, (p + 1) * 256) - greatest(start_tok, p * 256) AS len_tok
           |FROM sp ORDER BY shard, pack_id, off_tok""".stripMargin,
      "q49_split_assign" ->
        s"""WITH d AS (SELECT doc_id, lang, n_chars, ${mixMod(100)} AS bucket, $ntok AS ntok
           |           FROM documents)
           |SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
           |       lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
           |       CAST(sum(n_chars) AS BIGINT) AS n_chars
           |FROM d GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
      "q50_pii_mask" ->
        // Spark's regexp_replace is global by default (no 'g' flag arg)
        """SELECT event_type, count(*) AS n_events,
          |       CAST(sum(length(regexp_replace(props, '[0-9]+', '#'))
          |              - length(regexp_replace(props, '[0-9]+', ''))) AS BIGINT) AS n_runs,
          |       CAST(sum(length(props)
          |              - length(regexp_replace(props, '[0-9]+', ''))) AS BIGINT) AS n_masked_chars,
          |       count(DISTINCT regexp_replace(props, '[0-9]+', '<NUM>')) AS n_distinct_masked
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q52_mixture_weights" ->
        s"""WITH per AS (SELECT lang, count(*) AS n_docs,
           |                    CAST(sum(size(split($norm, ' '))) AS BIGINT) AS n_tokens
           |             FROM documents GROUP BY lang),
           |     tot AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_tokens) AS BIGINT) AS tot FROM per)
           |SELECT lang, n_docs, n_tokens,
           |       ${croundSql("n_tokens / (tot * 1e0)")} AS natural_share,
           |       ${croundSql("least(1e0, (tot / (k * 1e0)) / n_tokens)")} AS sample_rate,
           |       CAST(floor(n_tokens * ${croundSql("least(1e0, (tot / (k * 1e0)) / n_tokens)")}) AS BIGINT) AS exp_tokens
           |FROM per, tot ORDER BY lang""".stripMargin,
      // q59 lives in TextOps, but its parity form shares this map: the
      // DuckDB oracle's unnest/string_split/list() can't run on Spark
      "q59_inverted_index" ->
        s"""WITH t AS (SELECT doc_id, doc_id div 100 AS shard,
           |                  explode(array_distinct(split(${graft.queries.Pipeline.normExprStr}, ' '))) AS term
           |           FROM documents)
           |SELECT term, shard, count(*) AS n,
           |       sum(count(*)) OVER (PARTITION BY term) AS df,
           |       array_join(transform(sort_array(collect_list(doc_id)), x -> cast(x AS string)), ',') AS postings
           |FROM t WHERE length(term) >= 4
           |GROUP BY term, shard ORDER BY term, shard""".stripMargin,
      // q68: DuckDB's list_slice/range/// become slice/sequence/div
      "q68_chunk_overlap" ->
        s"""WITH d AS (SELECT doc_id, split($norm, ' ') AS a FROM documents),
           |     c AS (SELECT doc_id, a, CAST(size(a) AS BIGINT) AS ntok,
           |                  explode(sequence(0L, (greatest(CAST(size(a) AS BIGINT) - 32L, 0L) + 23L) div 24L)) AS k
           |           FROM d)
           |SELECT doc_id, CAST(k AS INT) AS chunk_id, k * 24 AS off_tok,
           |       least(32L, ntok - k * 24) AS len_tok,
           |       array_join(slice(a, CAST(k * 24 + 1 AS INT),
           |                        CAST(least(32L, ntok - k * 24) AS INT)), ' ') AS chunk
           |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
      // q67: the DuckDB oracle's string_split/len/unnest(range)/1-based
      // list indexing become split/size/explode(sequence)/0-based here
      "q67_lm_score" ->
        s"""WITH t AS (SELECT doc_id, split($norm, ' ') AS a FROM documents),
           |     e AS (SELECT doc_id, a, explode(sequence(0, size(a) - 2)) AS i
           |           FROM t WHERE size(a) >= 2),
           |     bg AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2 FROM e),
           |     c1 AS (SELECT w1 AS w, count(*) AS c FROM bg GROUP BY 1),
           |     c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
           |     v AS (SELECT count(DISTINCT w) AS v FROM (SELECT explode(a) AS w FROM t)),
           |     nll AS (SELECT w1, w2, ${croundSql("-ln((c2.c + 1) * 1e0 / (c1.c + v.v))", 6)} AS nll
           |             FROM c2 JOIN c1 ON c1.w = c2.w1 CROSS JOIN v),
           |     sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
           |                   CAST(sum(CAST(nll AS DECIMAL(30,6))) AS DOUBLE) AS s
           |            FROM bg JOIN nll USING (w1, w2) GROUP BY 1)
           |SELECT doc_id, n_bigrams, ${croundSql("s / n_bigrams")} AS avg_nll
           |FROM sc ORDER BY doc_id""".stripMargin)
  }

  test("dialect-mapped oracle SQL executes on Spark SQL with identical results") {
    Tables.registerAll(spark, dir)
    val failures = portableMapped.flatMap { name =>
      val q = SparkEntry.registry(name)
      try {
        val viaSql = canon(spark.sql(duckToSpark(q.oracle.get)))
        val viaDf = canon(q.fn(spark, dir))
        if (viaSql == viaDf) None else Some(s"$name: result mismatch")
      } catch {
        case e: Exception => Some(s"$name: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("pipeline-family Spark SQL equals the DataFrame pipelines") {
    Tables.registerAll(spark, dir)
    val failures = pipelineSparkSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      try {
        val viaSql = canon(spark.sql(sql))
        val viaDf = canon(SparkEntry.registry(name).fn(spark, dir))
        if (viaSql == viaDf) None else Some(s"$name: result mismatch")
      } catch {
        case e: Exception => Some(s"$name: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
