package graft

import org.apache.spark.sql.catalyst
import org.apache.spark.sql.execution.ExplainMode

import graft.queries.Relational

/** Physical-plan assertions (SURVEY.md §4): the optimizations we rely on
  * must actually appear in the plan — filter/column pushdown to the
  * parquet scan, join strategy selection, and top-k via
  * TakeOrderedAndProject. Guards against silent plan regressions. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: graft.queries.Query): String = {
    val df = q.fn(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q01: predicate and projection reach the parquet scan") {
    val p = plan(Relational.q01_filter_project)
    assert(p.contains("GreaterThan(l_discount,0.05)"), p)
    assert(p.contains("LessThan(l_quantity,25.0)"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // projection pruning: untouched columns must not be read
    assert(!p.contains("l_suppkey"), "unused column in ReadSchema")
    assert(!p.contains("l_tax"), "unused column in ReadSchema")
  }

  test("q03: dimension side is broadcast") {
    val p = plan(Relational.q03_segment_orders)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "fact side must not shuffle for a broadcast dim")
  }

  test("q04: no cartesian/nested-loop anywhere in the 5-way join") {
    val p = plan(Relational.q04_revenue_by_nation)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q09: global top-10 plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(Relational.q09_top10_orders)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q02: aggregation is partial+final hash aggregate") {
    val p = plan(Relational.q02_pricing_summary)
    assert("HashAggregate".r.findAllIn(p).length >= 2, "expected partial and final stages")
  }

  test("q25 candidate generation has no partition-less window (scale guard)") {
    // round-1 VERDICT: a global Window.orderBy ran the whole shingle
    // vocabulary through one partition. The rarest-first order is now a
    // per-doc window over the global (df, g) order — every Window node in
    // the candidate plan must carry a partition spec.
    val sh = graft.queries.TextOps.shingles(spark, dir)
    val (cand, prefix) = graft.queries.TextOps.ppjoinCandidates(sh)
    prefix.unpersist() // so cache substitution can't hide the window subtree
    val wins = cand.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "expected the per-doc ranking window in the plan")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "a partition-less Window would serialize the vocabulary through one task")
  }

  // ---- broadcast-side sanity guard (round-2 VERDICT item 3) ----------
  // q29 round 2 broadcast the FULL-vocabulary document-frequency table;
  // the mistake was invisible at sf0.1 because everything fits. This
  // guard pins, for every query that hints broadcast(...), that the
  // hinted subtree is structurally bounded: a dimension-table scan, a
  // bare key-vs-literal filter (doc_id < 20), a global aggregate, or a
  // limit. Corpus-scaling sets (a vocabulary aggregate, an unfiltered
  // fact scan) satisfy none of these.

  private val dimTables = Set("region", "nation", "customer", "supplier", "part")

  private def broadcastSubtrees(
      df: org.apache.spark.sql.DataFrame): Seq[catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    df.queryExecution.analyzed.collect {
      case ResolvedHint(child, hints) if hints.strategy.contains(BROADCAST) => child
    }
  }

  private def isBounded(p: catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BinaryComparison, Cast, Expression, In, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dimScanOnly = {
      val leaves = p.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.exists(path =>
            dimTables.exists(t => path.getName == s"$t.parquet"))
          case _ => false
        }
        case _ => false
      }
    }
    // analysis wraps literals in implicit casts (doc_id < cast(20 as
    // bigint)) — strip them before shape-matching
    @annotation.tailrec
    def strip(e: Expression): Expression = e match {
      case c: Cast => strip(c.child)
      case o => o
    }
    def attrVsLit(a: Expression, b: Expression): Boolean =
      strip(a).isInstanceOf[AttributeReference] && strip(b).isInstanceOf[Literal]
    def keyLiteralFilter(f: Filter): Boolean = f.condition.exists {
      case cmp: BinaryComparison =>
        attrVsLit(cmp.left, cmp.right) || attrVsLit(cmp.right, cmp.left)
      case In(a, vs) => strip(a).isInstanceOf[AttributeReference] &&
        vs.forall(v => strip(v).isInstanceOf[Literal])
      case _ => false
    }
    dimScanOnly || p.exists {
      case a: Aggregate => a.groupingExpressions.isEmpty // <= 1 row
      case f: Filter => keyLiteralFilter(f)
      case _: GlobalLimit | _: LocalLimit => true
      case _ => false
    }
  }

  test("every broadcast hint subtree is a bounded set") {
    // Exempt, with the bound enforced elsewhere:
    //  - q28/q46: explicit runtime size gate (VectorOps.cosinePairs) —
    //    past BruteForceBroadcastLimit nothing broadcasts (DedupSpec);
    //  - heroic queries (q33, q33b, q34): avg/hs are one row per player,
    //    and these queries build their duels from o_custkey % 97, so
    //    they have at most 97 players by construction;
    //  - q77: the med/mad stat frames are one row per language (group
    //    cardinality, not corpus size — LayoutSpec gates the semantics);
    //  - (q88 needed an exemption while its closure check broadcast
    //    the edge set; the round-8 adjacency-intersect form has no
    //    broadcast at all — no exemption. Likewise q85/q85b/q90/q98:
    //    their kernels broadcast through the SparkContext, not a plan
    //    hint, and their past-gate Catalyst flows shuffle the mail);
    //  - q99: the broadcast pid-offset table is ONE ROW PER RANGE
    //    PARTITION (partition-count metadata, ~KBs at any data scale);
    //    the boundedness heuristic can't see that pid is
    //    spark_partition_id(), so the bound is pinned in LinkageSpec
    //    (SinglePartition count + range-exchange plan pins);
    //  - q103: same machinery, same bound, pinned in TemporalSpec;
    //  - q25: the two per-doc signature-table broadcasts (~300 B/doc)
    //    sit behind the SigBroadcastGate doc-count gate
    //    (TextOps.buildJaccardPairs) — past it the exact path falls
    //    back to the post-aggregation sift (pair-linear shuffle, no
    //    broadcast); DedupSpec's brute-force equivalence covers the
    //    in-gate path and the gate constant documents the fallback.
    val exempt = Set("q25_jaccard_neardup",
      "q28_cosine_top_pairs", "q46_embed_dedup",
      "q33_heroic_on_orders", "q33b_heroic_deep", "q34_mse_on_orders",
      "q77_robust_clip",
      "q99_rank_histogram", "q103_ks_test")
    val offenders = for {
      (name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)
      if !exempt(name)
      sub <- broadcastSubtrees(q(spark, dir))
      if !isBounded(sub)
    } yield name
    assert(offenders.isEmpty,
      s"unbounded broadcast subtree in: ${offenders.distinct.mkString(", ")}")
  }

  test("the guard catches a seeded wrong-side broadcast (q29's round-2 defect)") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables.table(spark, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 4)
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val vocabDf = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val bad = tf.filter(col("doc_id") < 20).join(broadcast(vocabDf), "w")
    val subs = broadcastSubtrees(bad)
    assert(subs.nonEmpty && subs.exists(!isBounded(_)),
      "a full-vocabulary broadcast must be flagged as unbounded")
    // and the FIXED orientation passes
    val good = broadcast(tf.filter(col("doc_id") < 20)).join(vocabDf, "w")
    assert(broadcastSubtrees(good).forall(isBounded))
  }

  test("spreadScan gate: multi-split input (the 100 TB shape) is untouched") {
    // ADVICE r13: the above-gate branch had no test — the q02-family
    // exchange pins only exercise the below-gate fixture. Force the gate
    // both ways by moving maxPartitionBytes around the fixture's size.
    import org.apache.spark.sql.functions.col
    val li = graft.engine.Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // gate OPEN (file > one split): spreadScan must return the input
      // frame itself — not an equivalent plan, the SAME object, so the
      // claim "past the gate the plan is byte-identical" is structural
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      val above = graft.queries.spreadScan(spark, dir, "lineitem", li, col("l_orderkey"))
      assert(above eq li, "above the gate spreadScan must be the identity")
      // gate CLOSED (whole file fits one split): the hash repartition appears
      spark.conf.set("spark.sql.files.maxPartitionBytes", (1L << 40).toString)
      val below = graft.queries.spreadScan(spark, dir, "lineitem", li, col("l_orderkey"))
      assert(below ne li)
      assert(below.queryExecution.logical.toString.contains("RepartitionByExpression"),
        below.queryExecution.logical.toString)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }

  test("exchange counts of the headline queries are pinned (shuffle budget guard)") {
    // The cheapest shuffle is the one that never happens: these are the
    // five headline bench queries, pinned at their current (optimal)
    // exchange counts so a refactor can't silently add a shuffle. Counts
    // come from the FINAL adaptive plan after execution.
    //   q02/q19: partial+final agg exchange + output-order sort exchange
    //   q04: one agg + one sort exchange; all four dims broadcast
    //   q08: one window-partitioning exchange + output-order sort
    //   q44b: unpivot is narrow — only the output-order sort shuffles
    val expected = Map(
      // q02/q44b (+1 exchange, round 13): spreadScan's DELIBERATE
      // narrow repartition below the one-split file gate — on this
      // fixture the whole table is one scan split, so the decimal
      // partial agg / unpivot Expand would serialize on one core
      // (measured 1.51 s → 0.70 s at sf0.1, ProbeDsum, since removed).
      // Past the gate
      // (multi-split input, the cluster shape) the exchange vanishes
      // and the counts return to 2/1.
      "q02_pricing_summary" -> (3, 0),
      // q04 back to 2 exchanges (round 14): round 13's spreadScan call
      // was reverted — ProbeQ04AB (since removed) measured the spread at 2.4× CPU and
      // +0.2 s wall (driver: 1.46 -> 2.20 s); a broadcast-probe above
      // the scan is too cheap per row to buy back the exchange.
      "q04_revenue_by_nation" -> (2, 4),
      "q08_order_windows" -> (2, 0),
      "q19_tumbling_hour" -> (2, 0),
      "q44b_unpivot_lineitem" -> (2, 0),
      // corpus-build ops (round 3): per-row maps + one agg + output sort,
      // except q48 which adds the per-shard window exchange and q50 whose
      // count(DISTINCT) plans as a two-phase expand aggregate
      // (q48's groupBy(shard, pack_id) reuses the window's hash(shard)
      // partitioning — ClusteredDistribution needs only a subset)
      "q48_chunk_pack" -> (2, 0),
      "q49_split_assign" -> (2, 0),
      "q50_pii_mask" -> (3, 0),
      "q51_repetition" -> (2, 0),
      // round-5 corpus ops: q58 is a pure map until its (lang, reason)
      // agg + output sort; q56 adds the rate-table build — the per-lang
      // agg subtree appears TWICE (the tot branch prunes to n_tokens
      // only, so exchange reuse can't fire across the differently-pruned
      // scans) + grand-total agg + final agg + output sort = 5. All five
      // move ≤ language-cardinality rows except the final agg — fine at
      // any scale; the row-data keep filter itself rides the broadcasts.
      "q56_mixture_resample" -> (5, 2),
      "q58_corpus_filter" -> (2, 0))
    val mismatches = expected.toSeq.sortBy(_._1).flatMap { case (name, (wantShuffle, wantBroadcast)) =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize the adaptive plan
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .split("== Initial Plan ==")(0) // tree section of the FINAL plan
      val shuffles = raw"(?<!Broadcast)(?<!Reused)Exchange \(\d+\)".r.findAllIn(p).length
      val broadcasts = raw"BroadcastExchange \(\d+\)".r.findAllIn(p).length
      if ((shuffles, broadcasts) == ((wantShuffle, wantBroadcast))) None
      else Some(s"$name: expected ($wantShuffle shuffle, $wantBroadcast broadcast), got ($shuffles, $broadcasts)")
    }
    assert(mismatches.isEmpty, mismatches.mkString("; "))
  }

  test("q57 BM25: global top-10 is TakeOrdered; df/stats broadcast; no cartesian row blowup") {
    val df = graft.queries.TextOps.q57_bm25.fn(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), "stats must join as broadcast, not cartesian")
    // the one-row stats frame and the |query|-row df frame ride broadcasts
    assert(raw"BroadcastExchange \(\d+\)".r.findAllIn(p).length >= 2, p)
  }

  test("q54b passage near-dup: hash joins only, no cartesian, no sort of the fat verify stream") {
    // At this fixture q54b's accounting runs nearDupRepsKernel (below
    // PassageBroadcastGate), a broadcast map pass with no join at all.
    // The PPJoin side of PassageCountJoinGate is pinned directly: its
    // rep shingle-array attach must stay free of any sort of the
    // array-carrying stream (the q25 argument: sorting that stream is
    // the spill risk).
    val df = graft.queries.TextOps.q54b_passage_neardup.fn(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val pp = graft.queries.TextOps.ppjoinPassagePairs(spark, dir)
    pp.collect()
    val p2 = pp.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==")(0)
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"), p2)
    // the verify attach joins carry the gs arrays: they must be hash
    // joins (broadcast of the skinny cand side under AQE, or shuffled
    // hash), never a sort-merge that sorts the fat side — at this
    // fixture no join in the pair pipeline has any business sort-merging
    assert(!p2.contains("SortMergeJoin"),
      "no SMJ anywhere in the ppjoin pair pipeline: " + p2)
  }

  test("q66 upsert: one full-outer join on the key, no cartesian, filters pushed to both scans") {
    val df = graft.queries.Pipeline.q66_corpus_upsert.fn(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly one join, and it is the FullOuter merge on the primary key
    // (tree lines carry a trailing node id "(n)"; details headers don't,
    // so the suffix form counts each join node once)
    val joins = raw"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*\(\d+\)".r
      .findAllIn(p).toSeq
    assert(joins.length == 1 && joins.head.contains("FullOuter"),
      s"the merge must be a single full-outer join: $joins")
  }

  test("q67 LM scoring: model joins are hash/broadcast; only the one-row vocab cross-joins") {
    val df = graft.queries.Pipeline.q67_lm_score.fn(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the scalar vocab-size broadcast (one row by
    // construction: a global aggregate) — same budget as q47's scalar cut
    assert(raw"BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
  }

  test("q59 inverted index: sharded postings agg, no cartesian, single window over tiny rows") {
    val df = graft.queries.TextOps.q59_inverted_index.fn(spark, dir)
    df.collect()
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the scale claim: postings are collected per (term, shard), never per
    // term — the groupBy keys must include the shard (details section
    // lives after the trees, hence the `full` match)
    assert(raw"Keys(?: \[\d+\])?: \[term#\d+, shard".r
      .findFirstIn(full).nonEmpty, s"postings agg must key on (term, shard):\n$full")
    // df comes from ONE window over the post-agg rows, not a second token scan
    assert(raw"Window \(\d+\)".r.findAllIn(p).length == 1, p)
  }

  test("q60 incremental dedup: candidates via band equi-join, verify stays hash-join") {
    val df = graft.queries.TextOps.q60_incremental_neardup.fn(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the shingle-array attach keeps the rawJaccard SHUFFLE_HASH shape
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("near-dup verify joins stay hash joins — the fat stream is never sorted") {
    // the round-2 driver regression was a sort-merge join sorting the
    // array-carrying candidate stream (570 MB of sort spill); the
    // SHUFFLE_HASH hints in rawJaccard pin the join strategy, and this
    // guard pins the hints' effect so a refactor can't silently drop them
    val df = graft.queries.TextOps.q25_jaccard_neardup.fn(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // require ShuffledHashJoin SPECIFICALLY: at this fixture size AQE
    // would happily broadcast an unhinted doc-set side, so accepting
    // BroadcastHashJoin would make the guard vacuous — dropping the
    // hints would stay green here while the sf0.1 sort-spill shape
    // returned
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "near-dup verify must not sort-merge the array-carrying stream")
    graft.engine.Memo.reset()
  }

  test("q47 contamination: hash joins only, no cartesian beyond the scalar cut") {
    val df = graft.queries.Pipeline.q47_contamination.fn(spark, dir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), "gram self-join must be an equi-join")
    // the only nested-loop join allowed is the one-row eval-boundary
    // broadcast; the pair join itself must be hash-based
    assert(p.contains("HashJoin"), p.linesIterator.take(40).mkString("\n"))
  }

  test("q47b bloom prefilter sits in the train scan, before any exchange") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    val df = graft.queries.Pipeline.q47b_contamination_bloom.fn(spark, dir)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("might_contain"), "bloom prefilter must survive optimization")
    // position, not just presence (a regression that re-ordered the filter
    // past the pair join would still contain the string): every
    // might_contain Filter must sit directly on the scan side — nothing
    // below it but the cached gram relation, no join or aggregation. The
    // exchange feeding the pair join sits above the join inputs, so
    // "no join below the filter" pins the filter before that exchange.
    val bloomFilters = df.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    assert(bloomFilters.nonEmpty, "expected a might_contain Filter node")
    bloomFilters.foreach { f =>
      assert(!f.child.exists { case _: Join | _: Aggregate => true; case _ => false },
        s"bloom prefilter must precede the pair join, not follow it:\n$f")
    }
  }

  test("whole-stage codegen spans the scalar battery") {
    val df = Relational.q12_scalar_battery.fn(spark, dir)
    df.collect() // finalize the adaptive plan so codegen stages materialize
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("* Project") || p.contains("[codegen id"), p)
  }

  test("q65 prefix sum: the corpus-side window is bucket-partitioned, " +
      "only the 16-row offsets side collapses to one partition") {
    val df = graft.queries.Pipeline.q65_token_shard.fn(spark, dir)
    df.collect()
    // exchange partitionings live in the details section after the plan
    // trees, so match the FULL formatted output (the q59 precedent)
    val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // exactly ONE SinglePartition exchange — the per-bucket totals (16
    // rows, model state). A second one would mean the document stream
    // itself was globally sorted, the thing this operator exists to avoid.
    // The details section lists each exchange once for the final plan and
    // once for the initial plan, so one distinct exchange = 2 hits.
    val singles = raw"Arguments: SinglePartition".r.findAllIn(full).length
    assert(singles >= 1 && singles <= 2, s"$singles SinglePartition exchanges:\n$full")
    // the big-side running sum shuffles BY BUCKET (hashpartitioning on
    // the range-cut key), keeping the cumsum parallel across 16 groups
    assert(raw"hashpartitioning\(bucket".r.findFirstIn(full).nonEmpty, full)
    assert(!full.contains("CartesianProduct") && !full.contains("BroadcastNestedLoopJoin"), full)
  }

  test("q72: vocab encoding joins hash/broadcast only — no cartesian, no corpus-width rewrite") {
    val p = plan(graft.queries.TextOps.q72_bpe_encode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the merge rules are closure state: no extra scan of documents
    // beyond the token stream + the distinct-vocab derivation (formatted
    // mode lists each scan once in the details section as "(n) Scan")
    assert(raw"\(\d+\) Scan parquet".r.findAllIn(p).length <= 2,
      s"unexpected extra scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab side should broadcast at this scale:\n$p")
  }

  test("q73: duplicate-window detection aggregates partially before the digest exchange") {
    val p = plan(graft.queries.TextOps.q73_substring_dedup)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the collect_list dedup agg must have partial+final stages so the
    // exchange ships grouped (digest -> positions) state, and the window
    // text itself must never appear past the scan (digests only)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final digest aggregate:\n$p")
    assert(raw"hashpartitioning\(h".r.findFirstIn(p).nonEmpty, p)
  }

  test("q70: the sketch aggregates partially BEFORE the lang exchange") {
    // the scale claim: sketches merge map-side, so the shuffle carries
    // bounded sketch state — the plan must show partial + final
    // ObjectHashAggregate stages (TypedImperativeAggregate) around ONE
    // lang exchange, with the token explode strictly below the partial
    val p = plan(graft.queries.TextOps.q70_topk_sketch)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final sketch aggregate stages:\n$p")
    assert(raw"hashpartitioning\(lang".r.findFirstIn(p).nonEmpty, p)
    assert(p.contains("approx_top_k"), p)
  }
}
