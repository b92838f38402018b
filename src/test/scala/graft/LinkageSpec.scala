package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.queries.{Linkage, TextOps}

/** Gates for the record-linkage/profiling surface (q81/q82) and the
  * dedup-cluster representative policy (q37b): plan-shape pins for the
  * scale claims plus brute-force semantic recomputations. */
class LinkageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  // ---- q97 data-quality audit ------------------------------------------

  test("q97 violation counts equal direct recomputation; suite mixes pass and fail") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val got = graft.queries.Linkage.q97_dq_checks.fn(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    val vq = li.filter(col("l_quantity") < 1 || col("l_quantity") > 30).count()
    val vd = li.filter(col("l_discount") < 0.0 || col("l_discount") > 0.08).count()
    assert(got("quantity_range") == (vq, if (vq == 0) 1 else 0))
    assert(got("discount_range") == (vd, if (vd == 0) 1 else 0))
    assert(got("shipdate_complete")._1 == li.filter(col("l_shipdate").isNull).count())
    assert(got("pk_unique")._1 ==
      li.groupBy("l_orderkey", "l_linenumber").count().filter(col("count") > 1).count())
    assert(got.values.exists(_._2 == 0), "some check must FAIL on the fixture")
    assert(got.values.exists(_._2 == 1), "and some check must pass")
    assert(got.size == 5)
  }

  // ---- q81 fuzzy entity matching ---------------------------------------

  test("q81 candidates come from a blocking equi-join, never a product") {
    val p = Linkage.q81_fuzzy_match.fn(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match must block, not cross:\n$p")
    // the join key is the blocking key: hashpartitioning/broadcast on blk
    assert(p.contains("blk"), s"no blocking key in plan:\n$p")
  }

  test("q81 equals the brute-force all-pairs edit-distance scan") {
    val names = spark.read.parquet(s"$dir/part.parquet")
      .groupBy("p_name").agg(count(lit(1)).as("support")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (a, sa) <- names; (b, sb) <- names
      if a < b && lev(a, b) <= 2
    } yield (a, b, lev(a, b), sa, sb)).toSet
    val got = Linkage.q81_fuzzy_match.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    // blocking on the noun can only MISS pairs whose noun differs; on this
    // vocabulary (adjective+noun, noun edit distance >= 2 between nouns)
    // the block is lossless — assert exact equality, which also proves
    // the blocking key choice is recall-complete here
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(got.nonEmpty)
  }

  // ---- q82 single-pass profile -----------------------------------------

  test("q82 profiles in ONE aggregation job over one scan") {
    val p = Linkage.q82_profile.fn(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val tree = p.split("\n\n").head
    assert("Scan parquet".r.findAllIn(tree).length == 1, s"expected one scan:\n$tree")
    assert(tree.contains("Expand"), s"multi-distinct should plan one Expand pass:\n$tree")
  }

  test("q82 stats match direct per-column recomputation incl. real NULLs") {
    val rows = Linkage.q82_profile.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("l_quantity", "l_extendedprice", "l_discount", "tax_nz"))
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val n = li.count()
    assert(rows.values.forall(_.getLong(1) == n))
    val tax = rows("tax_nz")
    val nzExpected = li.where(col("l_tax") =!= 0.0).count()
    assert(tax.getLong(2) == nzExpected && nzExpected < n,
      "tax_nz must exercise real NULL accounting")
    val q = rows("l_quantity")
    assert(q.getLong(2) == n) // no nulls
    assert(q.getLong(3) == li.select(countDistinct(col("l_quantity"))).head().getLong(0))
    val qs = li.agg(min("l_quantity"), max("l_quantity"), sum("l_quantity")).head()
    assert(q.getDouble(4) == qs.getDouble(0) && q.getDouble(5) == qs.getDouble(1))
    assert(math.abs(q.getDouble(6) - qs.getDouble(2)) < 1e-6)
  }


  test("q82b approx profile: exact columns equal q82, distinct estimates within 5%, no Expand") {
    val exact = Linkage.q82_profile.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = Linkage.q82b_profile_approx.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (c, a) =>
      val e = exact(c)
      assert(a.getLong(1) == e.getLong(1) && a.getLong(2) == e.getLong(2), s"$c counts")
      assert(a.getDouble(4) == e.getDouble(4) && a.getDouble(5) == e.getDouble(5), s"$c min/max")
      assert(a.getDouble(6) == e.getDouble(6), s"$c sum")
      val (nd, ndE) = (a.getLong(3).toDouble, e.getLong(3).toDouble)
      assert(math.abs(nd - ndE) <= 0.05 * ndE + 1, s"$c distinct: $nd vs exact $ndE")
    }
    // the whole point of the swap: the 5-way Expand disappears
    val p = Linkage.q82b_profile_approx.fn(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.split("\n\n").head.contains("Expand"),
      s"approx profile must plan a plain aggregation, no Expand:\n$p")
  }

  // ---- q37b cluster representatives ------------------------------------

  test("q37b picks the max-quality member of every q37 cluster") {
    val clusters = TextOps.q37_dup_clusters.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap // cluster_id -> n_docs
    val reps = TextOps.q37b_cluster_reps.fn(spark, dir).collect()
    assert(reps.nonEmpty && reps.length == clusters.size,
      s"one representative per cluster: got ${reps.length}, want ${clusters.size}")
    val quality = TextOps.q22_quality_score.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap // doc_id -> quality
    reps.foreach { r =>
      val (cid, rep, repQ, nDocs) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      assert(clusters(cid) == nDocs, s"cluster $cid size drifted")
      assert(quality(rep) == repQ, s"rep quality must be the q22 score for doc $rep")
    }
    // global argmax check on one recomputed cluster: rebuild membership
    // via the pair list and verify the rep dominates its cluster
    val pairs = TextOps.q25_jaccard_neardup.fn(spark, dir).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find)
    val repSet = reps.map(r => r.getLong(1)).toSet
    members.values.foreach { ms =>
      val best = ms.minBy(d => (-quality(d), d))
      assert(repSet.contains(best), s"best-quality member $best not chosen as a representative")
    }
  }
  test("q99 distributed global rank equals the single-window form; one metadata-sized SinglePartition only") {
    val dir = "/root/testdata/sf0.001"
    val got = Linkage.q99_rank_histogram.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // sequential oracle: global sort by (price, key), integer-decile ranks
    val rows = graft.engine.Tables.table(spark, dir, "orders")
      .select(col("o_totalprice"), col("o_orderkey"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sorted
    val n = rows.length
    val brute = rows.zipWithIndex.groupBy { case (_, i) => (i.toLong * 10 / n).toInt }
      .map { case (b, rs) =>
        (b, rs.length.toLong, rs.map(_._1._1).min, rs.map(_._1._1).max) }
      .toSeq.sortBy(_._1)
    assert(got.toSeq == brute, "deciles equal the sequential global rank")
    assert(got.map(_._2).sum == n, "every row lands in exactly one bucket")
    // plan pin: the DATA path must never collapse to one partition — the
    // only SinglePartition exchange feeds the partition-count-sized
    // offset table (metadata), and the base ranking window is
    // partitioned by pid over a range exchange
    val p = Linkage.q99_rank_histogram.fn(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("rangepartitioning(p"), s"range exchange on (p, k) missing:\n$p")
    // two metadata-sized SinglePartitions are legitimate: the pid-count
    // offset window (~one row per partition) and the 1-row grand total n
    val single = "SinglePartition".r.findAllIn(p).size
    assert(single <= 2, s"only metadata-sized tables may SinglePartition, got $single:\n$p")
  }
}
