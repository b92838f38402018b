package graft

import org.apache.spark.sql.functions._

import graft.queries.{TextOps, VectorOps}

/** Consistency checks for the hash-based near-dup / ANN operators that
  * have no SQL oracle (SURVEY.md §5.2.1-2): each approximate/banded
  * implementation is compared against its exact counterpart. */
class DedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q26 MinHash+LSH verified pairs equal the exact jaccard pairs") {
    val exact = TextOps.q25_jaccard_neardup.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = TextOps.q26_minhash_lsh.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    assert(lsh == exact)
  }

  private def jacTriples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("d1", "d2", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  // siftedJaccard is the past side of SigBroadcastGate (1M docs) and of
  // LshRawVerifyMax (100k docs), so no fixture reaches it through q25 or
  // q26; these call it directly on each query's own candidates.
  test("q25 past SigBroadcastGate: unsifted PPJoin + siftedJaccard equal rawJaccard and q25") {
    val sets = TextOps.shingleSets(spark, dir)
    val (cand, prefix) = TextOps.ppjoinCandidates(TextOps.shingles(spark, dir), None)
    val sifted = jacTriples(TextOps.siftedJaccard(sets, cand))
    val raw = jacTriples(TextOps.rawJaccard(sets, cand))
    prefix.unpersist()
    assert(sifted.nonEmpty, "fixture should contain near-dup pairs")
    assert(sifted == raw)
    assert(sifted == jacTriples(TextOps.jaccardPairs(spark, dir)))
  }

  test("q26 past LshRawVerifyMax: siftedJaccard equals rawJaccard on the banded candidates") {
    val sets = TextOps.shingleSets(spark, dir)
    val cand = TextOps.bandedCandidates(sets).persist()
    val sifted = jacTriples(TextOps.siftedJaccard(sets, cand))
    val raw = jacTriples(TextOps.rawJaccard(sets, cand))
    cand.unpersist()
    assert(sifted.nonEmpty, "fixture should contain near-dup pairs")
    assert(sifted == raw)
    assert(sifted == jacTriples(TextOps.lshJaccardPairs(spark, dir)))
  }

  test("q27 SimHash chunk-banded pairs equal brute-force hamming pairs") {
    val sigs = TextOps.simhashSignatures(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (d1, s1) <- sigs; (d2, s2) <- sigs if d1 < d2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= 3
    } yield (d1, d2, h)).toSet
    val banded = TextOps.q27_simhash.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute)
  }

  test("q54 passage dedup: keeps exactly one occurrence per distinct passage, non-vacuously") {
    val perDoc = TextOps.q54_passage_dedup.fn(spark, dir).collect()
    val totalPass = perDoc.map(_.getLong(1)).sum
    val totalDup = perDoc.map(_.getLong(2)).sum
    assert(totalDup > 0, "fixture should contain duplicated aligned passages")
    // Independent ground truth: kept occurrences (n_pass - n_dup) must
    // equal the number of DISTINCT passage texts, recomputed here from
    // scratch with a different plan (distinct over the exploded set).
    val distinctPassages = graft.engine.Tables.table(spark, dir, "documents")
      .select(explode(expr(
        "transform(sequence(0, cast(ceil(size(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '))/20.0) as int) - 1)," +
          " i -> array_join(slice(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), i*20+1, 20), ' '))")).as("p"))
      .distinct().count()
    assert(totalPass - totalDup == distinctPassages)
  }

  test("connected components survive adversarial diameter (path graph, O(log n) rounds)") {
    import spark.implicits._
    // near-dup components are normally tiny cliques; a pathological
    // CHAIN A~B~C~… has diameter = n and would cost n rounds under
    // plain min-label propagation. The pointer-doubling loop must label
    // a diameter-100 path correctly in ~log2(100) rounds.
    // componentsByPropagation is the DISTRIBUTED side — the size gate
    // would finish these toy graphs on the driver and make the doubling
    // bound vacuous
    def propagate(edges: org.apache.spark.sql.DataFrame) = {
      val forest = TextOps.componentForest(edges)
      val out = TextOps.componentsByPropagation(forest)
      forest.unpersist()
      out
    }
    val path = (0L until 100L).map(i => (i, i + 1)).toDF("d1", "d2")
    val (labels, rounds) = propagate(path)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 101 && got.forall(_._2 == 0L),
      "every vertex of the path must carry the component-min label")
    // propagation distance after k rounds is d(k) = 2(d(k-1) + 1): 10
    // rounds cover diameter ~2000, so 100 must fit well inside
    assert(rounds <= 10, s"doubling must converge logarithmically; took $rounds rounds")
    // disjoint chains must keep distinct labels (no cross-component bleed)
    val two = ((0L until 50L).map(i => (i, i + 1))
      ++ (1000L until 1050L).map(i => (i, i + 1))).toDF("d1", "d2")
    val (labels2, _) = propagate(two)
    val byLbl = labels2.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._2)
    assert(byLbl.keySet == Set(0L, 1000L))
    assert(byLbl(0L).map(_._1).toSet == (0L to 50L).toSet)
    assert(byLbl(1000L).map(_._1).toSet == (1000L to 1050L).toSet)
  }

  test("q54b prefix-filtered passage near-dup pairs equal brute-force trigram jaccard, non-vacuously") {
    // brute force: ALL rep pairs sharing >= 1 trigram, exact jaccard —
    // a different plan (shared-shingle join + groupBy, no prefix
    // filtering) over the same rep sets, against the PPJoin side of
    // PassageCountJoinGate (the fixture's default is the counted join).
    // Round 11: banding lost marginal jac~tau pairs at 30x, so this
    // equality is a THEOREM (prefix filtering is lossless), and any
    // miss is a bug in the prefix/positional bounds.
    val psets = TextOps.passageRepSets(spark, dir).persist()
    val tg = psets.select(col("doc_id"), explode(col("gs")).as("g"))
    val cnt = psets.select(col("doc_id"), col("n"))
    val brute = tg.select(col("doc_id").as("o1"), col("g"))
      .join(tg.select(col("doc_id").as("o2"), col("g")), "g")
      .filter(col("o1") < col("o2"))
      .groupBy("o1", "o2").agg(count(lit(1)).as("inter"))
      .join(cnt.select(col("doc_id").as("o1"), col("n").as("n1")), "o1")
      .join(cnt.select(col("doc_id").as("o2"), col("n").as("n2")), "o2")
      .filter(col("inter") * 1.0 / (col("n1") + col("n2") - col("inter")) >= TextOps.JaccardTau)
      .select("o1", "o2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = TextOps.ppjoinPassagePairs(spark, dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    psets.unpersist()
    assert(found == brute)
    assert(brute.nonEmpty, "fixture should contain near-dup passage reps")
  }

  test("q54b flags kernel equals the distinct d2 of the pair frame, non-vacuously") {
    // nearDupRepsKernel answers q54b's accounting question DIRECTLY
    // ("is this rep dominated by an earlier one?") without ever
    // materializing pairs — so a wrong flag set that happened to
    // preserve per-doc counts would slip past the q54b oracle rollup.
    // Pin the flag set itself against the pair route (ADVICE r12: the
    // kernel's scaladoc claimed this test existed; now it does). The
    // flow side reads the counted trigram join on this fixture, which
    // does NOT share the kernel's broadcast partner index, so a bug in
    // the index itself cannot cancel out of the equality
    assert(graft.queries.tableBytes(dir, "documents") <= TextOps.PassageCountJoinGate)
    val flags = TextOps.nearDupRepsKernel(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val viaPairs = TextOps.nearDupRepsFlow(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(flags == viaPairs)
    assert(flags.nonEmpty, "fixture should contain dominated passage reps")
  }

  test("q54b counted trigram join equals PPJoin pair-for-pair") {
    // both sides of PassageCountJoinGate are EXACT by construction — the
    // shuffle-counted trigram join below it and the prefix-filtered
    // PPJoin (the 100 TB shape) past it — and must agree on the full
    // (d1, d2, jac) set, not just the oracle's per-doc rollup.
    val counted = jacTriples(TextOps.countedPassagePairs(spark, dir))
    val pp = jacTriples(TextOps.ppjoinPassagePairs(spark, dir))
    assert(counted == pp)
    assert(counted.nonEmpty, "fixture should contain near-dup passage reps")
  }

  test("connected components: driver-finish path equals the distributed loop") {
    import spark.implicits._
    // mixed shapes — a clique, a cross-partition chain, an isolated pair —
    // must label identically through both sides of the driver-finish
    // gate: the driver union-find and the distributed propagation loop
    val edges = ((10L until 20L).flatMap(i => (i + 1 to 20L).map(j => (i, j)))
      ++ (100L until 140L).map(i => (i, i + 1))
      ++ Seq((500L, 501L))).toDF("d1", "d2")
    assert(TextOps.connectedComponents(edges)._2 == 0,
      "small forest must take the driver-finish path")
    val forest = TextOps.componentForest(edges)
    val (viaDriver, _) = TextOps.componentsOnDriver(forest)
    val (viaLoop, loopRounds) = TextOps.componentsByPropagation(forest)
    forest.unpersist()
    assert(loopRounds > 0)
    val a = viaDriver.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = viaLoop.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    assert(a.filter(_._2 == 10L).map(_._1) == (10L to 20L).toSet)
  }

  test("q30 LSH ANN recall gate is sharp: >= 0.78, degraded tables fail it, < 30% corpus touched") {
    val exact = VectorOps.q17_cosine_topk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = VectorOps.q30_ann_lsh.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // measured 0.80 on this fixture, deterministically (seeded planes,
    // exact rescoring). The scaladoc's ~0.93 design point assumes
    // neighbors at cos≈0.5; THIS fixture's top-5 sit at cos 0.27-0.39
    // (synthetic near-random embeddings), where no (k, L) reaches 0.85
    // under the 30% candidate ceiling below — sign-LSH selectivity
    // (ρ = ln p_nbr/ln p_rand ≈ 0.75 here) caps recall ≈ 0.8 at 27%
    // volume. The gate is pinned just under the measured value; the
    // degraded-index check below is what makes it sharp.
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.78, s"recall $recall")
    // the candidate set (same lshCells the query joins on), for the
    // ceiling and for the degraded-index comparison
    val e = graft.engine.Tables.table(spark, dir, "embeddings")
    val nVecs = e.count()
    val cells = VectorOps.lshCells(e.select(col("vec_id"), col("embedding"), lit(1.0).as("nrm")))
    val candPairs = cells.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("tbl"), col("bkt"))
      .join(cells.select(col("vec_id").as("cand_id"), col("tbl"), col("bkt")), Seq("tbl", "bkt"))
      .filter(col("cand_id") =!= col("probe_id"))
      .select(col("probe_id"), col("cand_id"), col("tbl"))
    // recall must not be bought by degenerate buckets: no probe may
    // touch more than ~30% of the corpus
    val candPerProbe = candPairs.select("probe_id", "cand_id").distinct()
      .groupBy("probe_id").count().collect().map(_.getLong(1))
    assert(candPerProbe.nonEmpty && candPerProbe.max < (nVecs * 0.30).toLong,
      s"a probe touched ${candPerProbe.max} of $nVecs vectors — recall via full scan")
    // sharpness: the silent-bug class the gate exists for (losing hash
    // tables to a bucketing slip) must FAIL it. Final recall is bounded
    // by candidate recall, so candidate recall under half the tables
    // dropping below the gate proves the bug could not stay green.
    def candRecall(pairs: Set[(Long, Long)]): Double = (exact & pairs).size.toDouble / exact.size
    val full = candPairs.select("probe_id", "cand_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val halved = candPairs.filter(col("tbl") < 32).select("probe_id", "cand_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(candRecall(full) >= recall, "sanity: candidates bound final recall")
    assert(candRecall(halved) < 0.70,
      f"losing half the tables kept candidate recall at ${candRecall(halved)}%.2f — gate not sharp")
  }

  test("q43 IVF ANN reaches >= 0.75 recall vs exact q17 top-5, probing a bounded corpus slice") {
    val exact = VectorOps.q17_cosine_topk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = VectorOps.q43_ann_ivf.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // nprobe/nlist = 4/16 bounds candidates at ~25% of the corpus; on
    // this fixture the probed cells hold the true neighbors well above
    // 0.75 — a silently broken quantizer (bad seeding, a Lloyd round
    // reading stale centroids) drops far below it
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.75, s"recall $recall")
  }

  test("q79 PQ ANN: codes are 8 bytes (32x), ADC shortlist + exact re-rank reaches >= 0.8 recall vs q17") {
    // the 32× compression claim IS the code schema: 8 tinyint codes per
    // 64-float vector
    val e = graft.engine.Tables.table(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val cb = VectorOps.fitPq(e, m = 8, ksub = 256, rounds = 3)
    assert(cb.length == 8 && cb.forall(_.length == 256) && cb.flatten.forall(_.length == 8),
      "codebooks must be 8 subspaces x 256 codes x 8 dims")
    val codes = e.select(PqReferenceUdfs.encodePqUdf(cb)(
      org.apache.spark.sql.functions.col("embedding")).as("codes"))
    assert(codes.schema("codes").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType,
      "PQ codes must be array<tinyint>")
    val sampled = codes.collect().map(_.getSeq[Byte](0))
    assert(sampled.forall(_.length == 8), "every vector must encode to exactly 8 code bytes")
    // the fit must actually spread vectors across codes — a degenerate
    // codebook (all vectors on one centroid) would still pass the shape
    // checks but carries no ranking signal
    assert(sampled.flatMap(_.zipWithIndex).distinct.size > 64,
      "codes collapsed onto too few centroids")
    // recall: the ADC shortlist (40 of 500 = 8% of the corpus) must hold
    // the true top-5 well enough that exact re-rank recovers >= 0.8 —
    // a broken codebook fit (stale centroids, subspace slicing off by
    // one) collapses ADC ranking to noise and recall with it
    val exact = VectorOps.q17_cosine_topk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = VectorOps.q79_pq_ann.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
    // survivors must carry EXACT cosines: every returned (probe, cand)
    // that is also in exact top-5 must agree with q17's score bitwise
    val exactScores = VectorOps.q17_cosine_topk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val pqScores = VectorOps.q79_pq_ann.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val common = exactScores.keySet & pqScores.keySet
    assert(common.forall(k => exactScores(k) == pqScores(k)),
      "re-ranked scores must be the exact cosines, not ADC approximations")
  }

  test("ADC dot equals the exact dot against the PQ reconstruction (LUT indexing identity)") {
    import org.apache.spark.sql.functions.col
    val e = graft.engine.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cb = VectorOps.fitPq(e, m = 8, ksub = 256, rounds = 1)
    val rows = e.filter(col("vec_id") < 30)
      .select(col("vec_id"), col("embedding"),
        PqReferenceUdfs.encodePqUdf(cb)(col("embedding")).as("codes"),
        VectorOps.pqLutUdf(cb)(col("embedding")).as("lut"))
      .withColumn("self_adc", PqReferenceUdfs.adcDotUdf(256)(col("lut"), col("codes")))
      .collect()
    // ADC(probe, cand) must be EXACTLY dot(probe_grid, reconstruct(cand))
    // — the algebraic contract of the lookup table, now an EXACT LONG
    // identity over the 1e-6 grid (round-8: == , not an epsilon); any
    // flattening or signed-byte slip breaks it by whole centroids
    for (p <- rows.take(5); c <- rows) {
      val lut = p.getSeq[Long](3)
      val codes = c.getSeq[Byte](2)
      val adc = codes.indices.map(j => lut(j * 256 + (codes(j) & 0xff))).sum
      val probe = p.getSeq[Float](1)
      val vn = probe.map(x => VectorOps.rndAway(x.toDouble * 1e6))
      val recon = codes.indices.flatMap(j => cb(j)(codes(j) & 0xff))
      val exactDot = vn.indices.map(i => vn(i) * recon(i)).sum
      assert(adc == exactDot,
        s"probe ${p.getLong(0)} cand ${c.getLong(0)}: adc $adc vs $exactDot")
    }
    // and the production UDF computes the same sum as the driver replica
    // (self-pair: each row's lut against its own codes)
    for (r <- rows) {
      val lut = r.getSeq[Long](3); val codes = r.getSeq[Byte](2)
      val driver = codes.indices.map(j => lut(j * 256 + (codes(j) & 0xff))).sum
      assert(r.getLong(4) == driver, s"adcDotUdf diverged on vec ${r.getLong(0)}")
    }
  }

  test("q79b IVF-PQ: cell-pruned code scan reaches >= 0.7 recall vs q17 with equi-join candidates only") {
    val exact = VectorOps.q17_cosine_topk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = VectorOps.q79b_ivf_pq.fn(spark, dir)
    val ivfpq = got.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // recall is bounded above by BOTH prunings (q43's cell recall gate
    // is 0.75; ADC adds a little loss) — 0.7 still fails hard if either
    // the cell assignment or the codebooks silently break
    val recall = (exact & ivfpq).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall")
    // the candidate generator must be the cell equi-join, never a
    // nested loop over the corpus — the scale claim of the index
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "IVF-PQ candidates must come from the cell equi-join")
  }

  test("q28 past-the-gate LSH fallback recovers >= 0.8 of the brute-force top-50") {
    val e = graft.engine.Tables.table(spark, dir, "embeddings")
    val brute = VectorOps.topCosinePairs(VectorOps.bruteCosinePairs(e)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fallback = VectorOps.topCosinePairs(VectorOps.lshCosinePairs(e))
    val got = fallback.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
    // the fallback path must not broadcast the corpus — no hint at all
    val hints = fallback.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, "past the gate nothing may be broadcast-hinted")
  }

  test("PPJoin pipeline finds exactly the planted near-dup pairs") {
    import spark.implicits._
    // adversarial set: near-identical pair, case-variant exact dup,
    // multi-edit sibling below threshold, unrelated doc — truth computed
    // brute-force on the driver, pipeline must match it exactly
    val base = "the quick brown fox jumps over the lazy dog while the rain " +
      "in spain falls mainly on the plain and all good men come to the aid of the party"
    val docsDf = Seq(
      1L -> base,
      2L -> (base + " tail"),
      3L -> base.replace("quick", "slow").replace("lazy", "busy")
        .replace("rain", "snow").replace("plain", "hill").replace("party", "town"),
      4L -> base.toUpperCase,
      5L -> ("completely different content about spark partitions shuffles " +
        "and codegen stages for analytics engines running at cluster scale"))
      .toDF("doc_id", "text")
    // production shingling + threshold, not a copy — so this test keeps
    // exercising exactly what q25 runs if either ever changes
    val sh = TextOps.shinglesOf(docsDf)
    // g is the shingle's xxhash64 (long); hashed sets have the same
    // jaccard as string sets absent collisions, which the 5-doc fixture
    // cannot produce
    val sets = sh.collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = (sets(a) & sets(b)).size.toDouble / (sets(a) | sets(b)).size
      if j >= TextOps.JaccardTau
    } yield (a, b)).toSet
    assert(want.nonEmpty, "test must plant at least one true near-dup pair")
    val (cand, prefix) = TextOps.ppjoinCandidates(sh)
    val got = TextOps.rawJaccard(TextOps.shingleSetsOf(docsDf), cand)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    prefix.unpersist()
    assert(got == want, s"pipeline $got vs brute force $want")
  }

  test("PPJoin keeps pairs at jac EXACTLY tau with 5|n lengths (τ-boundary regression)") {
    import spark.implicits._
    // A ⊂ B with |A| = 20, |B| = 25: jac = 20/25 = 0.8 = τ exactly, and
    // both lengths are multiples of 5 — the float-ceil bounds this
    // round replaced (ceil(0.8d·n), ceil((τ/(1+τ))d·(na+nb))) overshoot
    // by one exactly here and silently rejected such pairs (45 of them
    // on the 10× dense fixture). The bounds must be integer-exact.
    val sh = (
      (1L to 20L).map(g => (1L, g)) ++        // A
      (1L to 25L).map(g => (2L, g)) ++        // B ⊃ A
      ((1L to 10L) ++ (300L to 309L)).map(g => (3L, g)) // C: jac(A,C) = 10/30 < τ
    ).toDF("doc_id", "g")
    val docSets = Seq(
      (1L, (1L to 20L).toArray), (2L, (1L to 25L).toArray),
      (3L, ((1L to 10L) ++ (300L to 309L)).toArray))
      .toDF("doc_id", "gs")
      .select(col("doc_id"), col("gs"), size(col("gs")).cast("long").as("n"))
    val (cand, prefix) = TextOps.ppjoinCandidates(sh)
    val got = TextOps.rawJaccard(docSets, cand)
      .select("d1", "d2", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    prefix.unpersist()
    assert(got.keySet == Set((1L, 2L)), s"exactly the boundary pair: $got")
    assert(got((1L, 2L)) == 0.8, s"jac must be exactly tau: $got")
  }

  test("q61 int8-quantized top-k: storage is bytes, recall >= 0.9 vs exact, cosine error <= 0.02") {
    // the 4× storage claim IS the element type — pin it
    val qvecType = VectorOps.quantized(spark, dir).schema("qvec").dataType
    assert(qvecType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = false)
      || qvecType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = true),
      s"quantized vectors must be array<tinyint>, got $qvecType")
    val exact = VectorOps.q17_cosine_topk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val quant = VectorOps.q61_int8_topk.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // int8 over 64 dims perturbs cosine by O(1/127) — top-5 membership
    // should survive nearly intact
    val recall = (exact.keySet & quant.keySet).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
    // where both agree on membership, the quantized score must sit within
    // the quantization error bound of the exact one
    val worst = (exact.keySet & quant.keySet)
      .map(k => math.abs(exact(k) - quant(k))).max
    assert(worst <= 0.02, s"max |cos - cos_q| = $worst")
  }

  test("q62 SemDeDup: drop set ⊂ exact q46, best_cos bounded, recall >= 0.5, deterministic") {
    def collectDrops(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val exact = collectDrops(VectorOps.q46_embed_dedup.fn(spark, dir))
    val sem = collectDrops(VectorOps.q62_semdedup.fn(spark, dir))
    assert(exact.nonEmpty, "fixture must contain exact near-dup pairs at EmbedDupTau")
    assert(sem.nonEmpty, "cluster-scoped dedup must fire non-vacuously")
    // precision is 1 by construction: a within-cell pair is a real pair,
    // so every SemDeDup drop must appear in the exact drop set
    assert(sem.keySet.subsetOf(exact.keySet),
      s"phantom drops: ${sem.keySet -- exact.keySet}")
    // a within-cell best match can never beat the global best match
    sem.foreach { case (v, bc) =>
      assert(bc <= exact(v) + 1e-12, s"vec $v: within-cell best_cos $bc > exact ${exact(v)}")
    }
    // cross-cluster pairs are the only recall loss. This fixture is
    // adversarial for SemDeDup — its planted pairs sit at cos 0.46–0.48,
    // barely over tau, so they straddle Voronoi boundaries far more than
    // real dups at ~0.95 would. Measured: nprobe=2 gives 4/7 = 0.571;
    // single-probe gives 3/7 = 0.43 and FAILS this bound, so the bound is
    // sharp against losing the multi-probe assignment.
    val recall = sem.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall (${sem.size}/${exact.size})")
    // deterministic init + fixed Lloyd rounds => bit-stable reruns
    val again = collectDrops(VectorOps.q62_semdedup.fn(spark, dir))
    assert(again == sem, "SemDeDup must be deterministic across runs")
  }

  test("exact dedup drops a planted duplicate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello   World", "en", "s", 11L),
      (2L, "hello world", "en", "s", 11L),
      (3L, "different doc", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val n = docs.select(norm.as("n")).distinct().count()
    assert(n == 2, "case/whitespace variants must normalize together")
  }

  test("q70 sketch top-5 is a valid exact-count top-5 per language (≡ q18b up to ties)") {
    val sketch = TextOps.q70_topk_sketch.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // exact per-(lang, w) counts, same token definition as q18b/q70
    val exact = engine.Tables.table(spark, dir, "documents")
      .select(col("lang"), explode(split(expr(graft.queries.Pipeline.normExprStr), " ")).as("w"))
      .filter(length(col("w")) >= 4)
      .groupBy("lang", "w").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(sketch.nonEmpty)
    // vocabulary is far under the 8192 tracked capacity, so the sketch
    // never evicts: every reported count must be EXACT
    sketch.foreach { case (lang, w, n) =>
      assert(exact((lang, w)) == n, s"($lang,$w) sketch $n != exact")
    }
    // and the 5 returned per language must be a top-5 under count order
    // (tie-agnostic: multiset of returned counts == multiset of the 5
    // largest exact counts)
    sketch.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length == 5, s"$lang: ${rows.length} rows")
      val got = rows.map(_._3).sorted.toSeq
      val want = exact.collect { case ((l, _), n) if l == lang => n }
        .toSeq.sorted(Ordering[Long].reverse).take(5).sorted
      assert(got == want, s"$lang: counts $got not the top-5 $want")
    }
  }
}
