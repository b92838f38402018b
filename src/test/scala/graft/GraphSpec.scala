package graft

import org.apache.spark.sql.execution.ExplainMode

import graft.queries.Graph

/** Gates for the graph surface (q85 PageRank): an exact sequential
  * replay of the synchronous iteration (same per-round rounding and
  * decimal summation, so equality is BITWISE, not tolerance), mass
  * conservation, and the edge-builder's plan shape. */
class GraphSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def cround12(x: Double): Double = math.floor(x * 1e12 + 0.5) / 1e12
  private def cround4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4

  test("q85 equals a sequential driver-side replay, bitwise") {
    val edges = Graph.coPurchaseEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.map(_._1).distinct.sorted
    val n = nodes.length
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 3) {
      // mirror the distributed round exactly: per-edge contribution =
      // cround12(r/outdeg) cast to DECIMAL(30,12) (Spark's double cast
      // rounds the SHORTEST repr, which BigDecimal(d) reproduces),
      // exact decimal sum, then the damped update rounded to 12 digits
      val mail = edges.groupBy(_._2).map { case (dst, es) =>
        val s = es.map { case (src, _) =>
          BigDecimal(cround12(rank(src) / outdeg(src))).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        dst -> cround12(0.15 / n + 0.85 * s.toDouble)
      }
      rank = mail
    }
    val got = Graph.q85_pagerank.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.length == n)
    got.foreach { case (node, r) =>
      assert(r == rank(node), s"node $node: $r != sequential ${rank(node)}")
    }
  }

  test("q85 is bit-identical under a different shuffle parallelism") {
    // the round-then-DECIMAL-sum discipline claims bit-stability under
    // ANY partitioning; run the same query in a sibling session with a
    // different shuffle width and compare exactly
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "7")
    val a = Graph.q85_pagerank.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Graph.q85_pagerank.fn(s2, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b, "rank vectors must be bitwise equal across partitionings")
  }

  test("q85 conserves rank mass (sums to ~1 up to per-node rounding)") {
    val got = Graph.q85_pagerank.fn(spark, dir).collect().map(_.getDouble(1))
    val mass = got.sum
    assert(math.abs(mass - 1.0) < got.length * 1e-12 + 1e-9, s"mass=$mass")
    assert(got.forall(r => r > 0 && r < 1))
  }

  test("graphStat scalars equal direct recomputation over the edge frame") {
    // the edge-memo action records (nEdges, nNodes, minNode) for every
    // graph consumer (no per-query scalar barrier); pin them against
    // independent aggregations so a drifted stat can't silently skew
    // the PageRank init, the q90 source, or a size gate
    val e = Graph.coPurchaseEdges(spark, dir)
    val (ne, nn, mn) = Graph.graphStat("coPurchaseEdges", spark, dir)
    assert(ne == e.count(), "edge count")
    assert(nn == e.select("src").distinct().count(), "node count")
    assert(mn == e.agg(org.apache.spark.sql.functions.min("src")).head().getLong(0), "min node")
  }

  test("q85 edge builder plans equi-joins only (no product) and is symmetric") {
    val e = Graph.buildCoPurchaseEdges(spark, dir)
    val p = e.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"co-purchase candidates must come from the order-key equi-join:\n$p")
    val set = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(set.nonEmpty && set.forall { case (a, b) => set((b, a)) },
      "symmetrized edges: every (src,dst) has its reverse")
  }

  test("q85b weighted ranks equal a sequential replay and differ from unweighted") {
    val edges = Graph.coPurchaseEdgesW(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodes = edges.map(_._1).distinct
    val n = nodes.length
    val wsum = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 3) {
      rank = edges.groupBy(_._2).map { case (dst, es) =>
        val s = es.map { case (src, _, w) =>
          BigDecimal(cround12(rank(src) * w / wsum(src)))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        dst -> cround12(0.15 / n + 0.85 * s.toDouble)
      }
    }
    val got = Graph.q85b_weighted_pagerank.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == n)
    got.foreach { case (node, r) => assert(r == rank(node), s"node $node") }
    val unweighted = Graph.q85_pagerank.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got != unweighted, "edge support must actually change the ranking")
  }

  test("q85b kernel equals the flat-frame rank-shuffle dataflow bitwise") {
    // the weighted flat frame + shuffle rounds are the documented
    // past-the-gate path (round 10: below the part-count gate the
    // kernel builds straight from the pair stream and the flat frame is
    // never touched) — run the flat dataflow here and equate it
    // against the kernel default so the scale path keeps a bitwise pin
    val flat = Graph.weightedPagerankFlow(spark, dir).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val kern = Graph.q85b_weighted_pagerank.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kern == flat, "weighted rank vectors must be bitwise equal across paths")
  }

  test("q85 rank-shuffle fallback (node set past the broadcast gate) is bitwise identical") {
    val flow = Graph.uniformPagerankFlow(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val kern = Graph.q85_pagerank.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(flow == kern, "rank vectors must be bitwise equal across the gate")
  }

  test("q88 equals a brute-force triangle enumeration and the wedge accounting holds") {
    val und = Graph.coPurchaseEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 < p._2).toSet
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val brute = (for {
      (a, b) <- und; c <- adj(b) if c > b && und((a, c))
    } yield (a, b, c)).size
    // oriented wedges Σ C(outdeg⁺, 2) under the (degree, id) orientation,
    // and open wedges Σ C(d, 2) over the undirected degrees
    val deg = adj.map { case (k, v) => k -> v.size.toLong }
    val orientOut = und.toSeq.groupBy { case (u, v) =>
      if (deg(u) < deg(v) || (deg(u) == deg(v) && u < v)) u else v
    }.values.map(_.size.toLong)
    val wedges = orientOut.map(d => d * (d - 1) / 2).sum
    val open = deg.values.map(d => d * (d - 1) / 2).sum
    val r = Graph.q88_triangles.fn(spark, dir).collect().head
    assert(r.getLong(0) == brute, s"triangles: got ${r.getLong(0)}, brute $brute")
    assert(r.getLong(1) == wedges, s"wedges: got ${r.getLong(1)}, brute $wedges")
    assert(r.getDouble(2) == cround4(3.0 * brute / open),
      s"global_cc: got ${r.getDouble(2)}, brute ${cround4(3.0 * brute / open)}")
    assert(r.getLong(1) >= r.getLong(0), "every triangle closes one counted wedge")
    val cc = r.getDouble(2)
    assert(cc >= 0 && cc <= 1 + 1e-9, s"clustering coefficient in [0,1], got $cc")
  }

  test("q88 orientation caps two-path fanout below the raw degree blowup") {
    val e = Graph.coPurchaseEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val und = e.filter(p => p._1 < p._2)
    val orientOut = und.groupBy { case (u, v) =>
      if (deg(u) < deg(v) || (deg(u) == deg(v) && u < v)) u else v
    }.map(_._2.size)
    val wedges = orientOut.map(d => d.toLong * (d - 1) / 2).sum
    val rawWedges = deg.values.map(d => d * (d - 1) / 2).sum
    assert(wedges < rawWedges,
      s"oriented wedge volume $wedges must undercut the raw $rawWedges")
  }

  test("q88 CSR kernel (below-gate default) equals the intersect dataflow") {
    // round 10: the default below TriangleCsrEdgeLimit (128M edges — q88's
    // own gate, sized by the 4 B/edge CSR broadcast; budget measured by
    // ProbeCsrPack, since removed) is the broadcast-CSR kernel; the intersect
    // dataflow is the past-gate path and must agree exactly (pure integer
    // counts + the same cround)
    val e = Graph.coPurchaseEdges(spark, dir)
    val kern = Graph.q88_triangles.fn(spark, dir).collect().head
    val flow = Graph.trianglesIntersect(e).collect().head
    assert(kern.getLong(0) == flow.getLong(0), "triangle counts must match")
    assert(kern.getLong(1) == flow.getLong(1), "wedge counts must match")
    assert(kern.getDouble(2) == flow.getDouble(2), "global_cc must match bitwise")
    assert(kern.getLong(0) > 0, "the fixture graph has triangles")
  }

  test("q90 equals a sequential 4-round BFS from the min node") {
    val e = Graph.coPurchaseEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val source = e.map(_._1).min
    var dist = Map(source -> 0)
    for (k <- 1 to 4) {
      val next = dist.toSeq.flatMap { case (n, d) => adj(n).map(_ -> (d + 1)) }
      dist = (dist.toSeq ++ next).groupBy(_._1).map { case (n, ds) => n -> ds.map(_._2).min }
    }
    val got = Graph.q90_sssp.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == dist, "hop distances equal the sequential BFS")
    assert(got.values.exists(_ > 1), "the fixture graph has nodes beyond one hop")
  }

  test("q85 edge builder shuffles only at the explicit repartitions, no edge-wide sort") {
    // the explicit repartitions (l_orderkey — appearing once per self-join
    // branch in the static plan, AQE-reused at runtime — then src) must be
    // the ONLY exchanges: both dropDuplicates reuse them because
    // hashpartitioning on a subset of the grouping keys satisfies the
    // clustering requirement. Degrees live on the node-sized stats table
    // (joined onto the RANK side per round), so the E-row build must
    // carry NO window — an edge-wide sort would be the 100 TB regression
    val p = Graph.buildCoPurchaseEdges(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 3, s"dedups must not add exchanges, got $n:\n$p")
    assert(!p.contains("Window"), s"edge build must not sort the edge stream:\n$p")
  }
  test("q98 equals a sequential 4-round synchronous min-label propagation") {
    val e = Graph.coPurchaseEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val inN = e.groupBy(_._2).map { case (n, es) => n -> es.map(_._1) }
    var lbl = e.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      val old = lbl
      lbl = old.map { case (n, l) =>
        n -> (inN.getOrElse(n, Array.empty[Long]).map(old) :+ l).min
      }
    }
    val got = Graph.q98_label_prop.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lbl, "communities equal the sequential synchronous replay")
    assert(lbl.values.toSet.size < lbl.size, "labels actually coalesce")
    assert(lbl.forall { case (n, l) => l <= n }, "labels only decrease")
  }

  test("q98 label-shuffle fallback (node set past the broadcast gate) is identical") {
    val flow = Graph.labelPropFlow(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kern = Graph.q98_label_prop.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flow == kern, "label tables must be identical across the gate")
  }

  test("q90 frontier-shuffle fallback (node set past the broadcast gate) is identical") {
    val flow = Graph.ssspFlow(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kern = Graph.q90_sssp.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(flow == kern, "hop distances must be identical across the gate")
  }
}
