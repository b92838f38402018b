package graft

/** Empty-input regression battery (VERDICT r9 item 4): every declared
  * query runs against a SCHEMA-ONLY fixture — all ten tables present
  * with their exact production schemas and 0 rows — and must (a) not
  * throw and (b) contain NO NULL cells except the documented
  * empty-case NULLs below. The round-9 advisor found q88's
  * NULL-on-empty-aggregate by reading; this sweep makes the whole
  * class mechanical. On a 100 TB pipeline an empty partition-day is
  * routine, and a query that NPEs (q31d/q34's min/avg-over-empty
  * `.first().getLong`), ANSI-aborts (q88's 0/0 clustering
  * coefficient), or leaks an undocumented NULL into downstream
  * arithmetic is a production incident, not an edge case.
  *
  * Documented empty-case values (each a deliberate decision, not an
  * accident — asserted EXACTLY, so a regression to a new NULL column
  * fails even on a whitelisted query):
  *   - q82/q82b profile: min/max/sum are NULL over zero rows — standard
  *     SQL aggregate semantics, matching the DuckDB oracle's own empty
  *     behavior (count columns stay 0, NOT NULL).
  *   - q95 chi-square: chi2 and df are NULL — a test with zero observed
  *     categories has no degrees of freedom.
  *   - q103 KS test: d_stat/nr/nc NULL — the statistic is undefined
  *     with either sample empty.
  *   - q88 triangles: global_cc NULL when the graph has no open wedges
  *     (0/0 is undefined; triangle and wedge COUNTS stay 0, NOT NULL —
  *     the round-9 coalesce fix this battery pins).
  *   - q34 MSE: 0.0 — two empty score generations have zero divergence
  *     (Heroic.fixedPoint's kernel takes the same value, so it converges
  *     at once on empty duels; FixedPointSpec pins that).
  *   - q90 SSSP: EMPTY result — an empty graph has no source node (the
  *     engine returns the well-typed empty table; the oracle SQL's
  *     min() would fabricate a NULL-node row, a shape no consumer can
  *     join on).
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val dir: String = {
    val out = "/tmp/graft_empty_spec"
    ensureFixture(out)
    out
  }

  /** Writes the schema-only fixture (idempotent): each table is the
    * sf0.001 table's NORMALIZED frame (Tables.table applies the
    * ts/date/embedding type folds) limited to 0 rows, so the empty dir
    * exercises exactly the schemas production queries bind to. */
  private def ensureFixture(out: String, src: String = "/root/testdata/sf0.001"): Unit = {
    val done = new java.io.File(out, "_FIXTURE_OK")
    if (done.isFile) return
    graft.engine.Tables.names.foreach { n =>
      graft.engine.Tables.table(spark, src, n).limit(0)
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    java.nio.file.Files.write(done.toPath, Array.empty[Byte])
  }

  /** query -> the exact set of columns whose NULL on empty input is the
    * documented value. Any other NULL anywhere fails. */
  private val documentedNulls: Map[String, Set[String]] = Map(
    "q82_profile" -> Set("min_val", "max_val", "sum_val"),
    "q82b_profile_approx" -> Set("min_val", "max_val", "sum_val"),
    "q95_chisq" -> Set("chi2", "df"),
    "q103_ks_test" -> Set("d_stat", "nr", "nc"),
    "q88_triangles" -> Set("global_cc"))

  test("all declared queries run on a 0-row fixture with only documented NULLs") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val rows = df.collect()
        val nullCols = rows.iterator.flatMap(r =>
          (0 until r.length).filter(r.isNullAt).map(df.columns)).toSet
        val undocumented = nullCols -- documentedNulls.getOrElse(name, Set.empty)
        val missing = documentedNulls.getOrElse(name, Set.empty) -- nullCols
        if (undocumented.nonEmpty)
          Some(s"$name: undocumented NULL in ${undocumented.toSeq.sorted.mkString(",")}")
        else if (missing.nonEmpty && rows.nonEmpty)
          // a whitelisted query that STOPS producing its documented NULL
          // changed its empty-case contract — surface that too
          Some(s"$name: documented empty-case NULL missing from ${missing.toSeq.sorted.mkString(",")}")
        else None
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n  ", "\n  ", ""))
  }

  test("documented empty-case scalars: q34 MSE 0, q88 zero counts, q90 empty") {
    val mse = SparkEntry.queries("q34_mse_on_orders")(spark, dir).collect()
    assert(mse.length == 1 && mse(0).getDouble(0) == 0.0)
    val tri = SparkEntry.queries("q88_triangles")(spark, dir).collect()
    assert(tri.length == 1 && tri(0).getLong(0) == 0L && tri(0).getLong(1) == 0L
      && tri(0).isNullAt(2))
    assert(SparkEntry.queries("q90_sssp")(spark, dir).count() == 0L)
    // the ANN family's documented empty value is the empty top-k frame,
    // with the full schema intact for downstream binding
    val pq = SparkEntry.queries("q79_pq_ann")(spark, dir)
    assert(pq.count() == 0L && pq.columns.length == 4)
  }

  test("past-gate graph flows equal their queries' empty-graph outputs") {
    // production routes the empty graph (n = 0) to the kernels, so only
    // direct calls reach the Catalyst flows on it; q90's must not seed a
    // phantom (Long.MaxValue, 0) source row
    import graft.queries.Graph
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    def query(name: String) = rows(SparkEntry.queries(name)(spark, dir))
    val empty = Seq(
      "q85_pagerank" -> Graph.uniformPagerankFlow(spark, dir),
      "q85b_weighted_pagerank" -> Graph.weightedPagerankFlow(spark, dir),
      "q90_sssp" -> Graph.ssspFlow(spark, dir),
      "q98_label_prop" -> Graph.labelPropFlow(spark, dir))
    empty.foreach { case (name, flow) =>
      assert(query(name).isEmpty, s"$name returns no rows on an empty graph")
      assert(rows(flow) == query(name), s"$name flow: ${rows(flow)}")
    }
    val tri = rows(Graph.trianglesIntersect(Graph.coPurchaseEdges(spark, dir)))
    assert(tri == query("q88_triangles"))
    assert(tri.length == 1 && tri(0).getLong(0) == 0L && tri(0).getLong(1) == 0L
      && tri(0).isNullAt(2))
  }
}
