package graft

import org.apache.spark.sql.functions.udf

import graft.queries.VectorOps.rndAway

/** The PQ UDFs that graft_pq_encode and graft_adc_dot replaced on the
  * hot path, kept as bitwise references for PqEncodeSpec, AdcDotSpec
  * and DedupSpec. */
object PqReferenceUdfs {

  /** PQ encode: vector → `m` 8-bit codes (one byte each, read back
    * unsigned): per subspace, the L2-nearest codebook entry. A fused primitive loop:
    * the interpreted HOF formulation would allocate per element.
    *
    * r14: retained as PqEncodeSpec's REFERENCE implementation only —
    * the hot path uses the graft_pq_encode codegen expression
    * ([[graft.functions.PqEncode]]), which pins bitwise equality
    * against this UDF. */
  private[graft] def encodePqUdf(cb: Array[Array[Array[Long]]]) = udf { (v: Seq[Float]) =>
    val m = cb.length; val dsub = cb(0)(0).length
    // round 13: quantize ONCE per row into a primitive array — the old
    // form re-ran rndAway(v(…)) inside the per-centroid loop (m·ksub
    // redundant re-quantizations through boxed Seq.apply: measured
    // ~0.5 ms/row, ~1 s of the q79 encode stage at sf0.1). Same grid
    // values, so every distance and argmin below is bitwise unchanged.
    val vn = new Array[Long](v.length)
    var x = 0
    while (x < v.length) { vn(x) = rndAway(v(x).toDouble * 1e6); x += 1 }
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0; var bestD = Long.MaxValue
      var k = 0
      while (k < cb(j).length) {
        val ct = cb(j)(k); var d = 0L; var i = 0
        while (i < dsub) {
          val diff = vn(j * dsub + i) - ct(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      out(j) = best.toByte
      j += 1
    }
    // Seq[Byte], not Array[Byte]: the latter maps to BINARY, this to
    // array<tinyint> — which element_at and the schema claim need
    out.toIndexedSeq
  }

  /** ‖reconstruction‖ from codes alone: subspaces are an orthogonal
    * decomposition, so ‖concat of centroids‖² = Σⱼ ‖centroidⱼ‖² — read
    * from a precomputed m×ksub squared-norm table of EXACT longs
    * (Σ cn² ≤ 64·1e14 < 2^53, so the final double conversion is exact
    * and sqrt is deterministic in both engines). Grid units — a
    * per-probe-constant scale away from the float norm, which ranking
    * never sees.
    *
    * r14: retained as PqEncodeSpec's REFERENCE implementation only —
    * the hot path computes the same value as
    * sqrt(graft_adc_dot([[graft.queries.VectorOps.pqN2Flat]], codes, ksub)). */
  private[graft] def pqRecNormUdf(cb: Array[Array[Array[Long]]]) = {
    val n2 = cb.map(_.map(ct => ct.map(x => x * x).sum))
    udf { (codes: Seq[Byte]) =>
      var acc = 0L; var j = 0
      while (j < codes.length) { acc += n2(j)(codes(j) & 0xff); j += 1 }
      math.sqrt(acc.toDouble)
    }
  }

  /** ADC approximate dot: Σⱼ lut(j*ksub + codeⱼ) — m table lookups per
    * (probe, candidate), EXACT integer arithmetic end to end
    * (Σ ≤ 8·8e14 = 6.4e15 < 2^53, so even the double view is exact). */
  private[graft] def adcDotUdf(ksub: Int) = udf { (lut: Seq[Long], codes: Seq[Byte]) =>
    var acc = 0L; var j = 0
    while (j < codes.length) { acc += lut(j * ksub + (codes(j) & 0xff)); j += 1 }
    acc
  }
}
