package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Memo, Tables}

/** Multimodal-column plumbing (builder-prompt surface): media payloads as
  * opaque `binary` columns with typed metadata, decoded per-partition.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic stub ([[decodeStub]]); everything the
  * engine is responsible for — binary columns end-to-end, partition-wise
  * batched decode via `mapPartitions` (the Scala analog of a pandas
  * `mapInPandas` batch UDF), typed output schema — is real and oracled.
  * Swapping [[decodeStub]] for a real codec is the only change needed in
  * production.
  */
object Multimodal {

  case class MediaMeta(doc_id: Long, source: String, n_bytes: Long,
      width: Long, height: Long, n_frames: Long)

  /** STUB decoder: derives fake media dimensions from the payload size
    * with pure arithmetic so the DuckDB oracle can reproduce it. A real
    * deployment replaces this body with an actual codec call. */
  def decodeStub(payload: Array[Byte]): (Long, Long, Long) = {
    val n = payload.length.toLong
    (64 + n % 512, 64 + (n * 31) % 512, n / 1024 + 1)
  }

  /** Q31 — binary-column metadata extraction: text payload → binary →
    * per-partition decode → typed metadata rows. */
  val q31_multimodal_meta: Query = Query(
    """SELECT doc_id, source,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       64 + octet_length(encode(text)) % 512 AS width,
      |       64 + (octet_length(encode(text)) * 31) % 512 AS height,
      |       octet_length(encode(text)) // 1024 + 1 AS n_frames
      |FROM documents
      |ORDER BY doc_id""") { (s, dir) =>
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text").cast("binary").as("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, src, payload) =>
          val (w, h, frames) = decodeStub(payload)
          MediaMeta(id, src, payload.length.toLong, w, h, frames)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Q31b — frame sampling: expand each media payload into one row per
    * sampled frame (every 4th frame), with a deterministic per-frame
    * byte offset — the generator/explode shape a video pipeline needs.
    * The decode stub supplies n_frames; the expansion itself (sequence +
    * explode, predicate on the generated column) is the real machinery. */
  val q31b_frame_sample: Query = Query(
    """WITH m AS (SELECT doc_id,
      |                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |                  octet_length(encode(text)) // 1024 + 1 AS n_frames
      |           FROM documents),
      |     f AS (SELECT doc_id, n_bytes, unnest(range(n_frames)) AS frame_no FROM m)
      |SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
      |       frame_no * 1024 AS byte_offset
      |FROM f
      |WHERE frame_no % 4 = 0
      |ORDER BY doc_id, frame_no""") { (s, dir) =>
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        (id, payload.length.toLong, decodeStub(payload)._3)
      })
      .toDF("doc_id", "n_bytes", "n_frames")
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_no"))
      .filter(col("frame_no") % 4 === 0)
      .select(col("doc_id"), col("frame_no").cast("int").as("frame_no"),
        (col("frame_no") * 1024).as("byte_offset"))
      .orderBy("doc_id", "frame_no")
  }

  /** Q31c — resize + feature-extract stages of the media pipeline:
    * aspect-preserving integer resize of the (stub-)decoded dimensions to
    * a 224-long edge, plus a small char-class histogram over the payload
    * standing in for a codec-derived feature vector (a real deployment
    * extracts features from the decoded pixels; the batch shape —
    * per-partition decode, then columnar arithmetic — is identical). */
  val q31c_resize_features: Query = Query(
    """WITH m AS (SELECT doc_id, text,
      |                  64 + octet_length(encode(text)) % 512 AS width,
      |                  64 + (octet_length(encode(text)) * 31) % 512 AS height
      |           FROM documents)
      |SELECT doc_id, width, height,
      |       CASE WHEN width >= height THEN 224
      |            ELSE greatest(1, (width * 224) // height) END AS rw,
      |       CASE WHEN width >= height THEN greatest(1, (height * 224) // width)
      |            ELSE 224 END AS rh,
      |       CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
      |       CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
      |       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_space
      |FROM m
      |ORDER BY doc_id""") { (s, dir) =>
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("text").cast("binary").as("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, text, payload) =>
        val (w, h, _) = decodeStub(payload)
        val (rw, rh) =
          if (w >= h) (224L, math.max(1L, h * 224 / w))
          else (math.max(1L, w * 224 / h), 224L)
        (id, text, w, h, rw, rh)
      })
      .toDF("doc_id", "text", "width", "height", "rw", "rh")
      .select(col("doc_id"), col("width"), col("height"), col("rw"), col("rh"),
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long").as("n_alpha"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digit"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long").as("n_space"))
      .orderBy("doc_id")
  }

  /** Q31d — frame-level similarity search: every sampled frame (q31b's
    * expansion) gets an embedding, and each probe frame retrieves its
    * top-3 most-similar frames from OTHER documents by cosine — the
    * video-retrieval shape (decode → frame sample → embed → ANN) with
    * the q17 search machinery on frame granularity. Probes are the
    * frames of docs with id below min(doc_id)+3 — a bounded probe
    * window (the three lowest docs on the contiguous-id fixture).
    *
    * The embedding is the STUB step (no codec/model in the container):
    * 8 dims of the engine-portable arithmetic mix hash over
    * (doc_id, frame_no, dim), centered to [-0.5, 0.5) — deterministic,
    * well-spread, and reproducible in the DuckDB oracle, exactly like
    * [[decodeStub]]'s dimensions. A real deployment swaps in a model
    * forward pass per frame batch; every Spark-side shape — the frame
    * fanout, the HOF dot product (`aggregate`/`zip_with`), the
    * broadcast probe side, the per-probe top-k window — is real.
    *
    * Scale posture: the probe side is ONE clip's frames (bounded
    * broadcast, q17's posture); the corpus side streams; per-probe
    * top-3 is a window over probe-keyed partitions. At 100 TB the
    * brute-force scan swaps for the q30/q43 LSH/IVF blocking with the
    * same probe/corpus roles. */
  val q31d_frame_ann: Query = {
    val dimHash = graft.queries.Pipeline.mixSql("(doc_id * 131 + frame_no * 7 + dim)")
    Query(
      s"""WITH m AS (SELECT doc_id, octet_length(encode(text)) // 1024 + 1 AS n_frames
         |           FROM documents),
         |     f AS (SELECT doc_id, unnest(range(n_frames)) AS frame_no FROM m),
         |     sf AS (SELECT doc_id, frame_no FROM f WHERE frame_no % 4 = 0),
         |     u AS (SELECT doc_id, frame_no, unnest(range(8)) AS dim FROM sf),
         |     ve AS (SELECT doc_id, frame_no, dim,
         |                   ($dimHash % 1000) / 1000.0e0 - 0.5e0 AS v
         |            FROM u),
         |     nrm AS (SELECT doc_id, frame_no, sqrt(sum(v * v)) AS nrm
         |             FROM ve GROUP BY 1, 2),
         |     mn AS (SELECT min(doc_id) + 3 AS p FROM documents),
         |     d AS (SELECT p.doc_id AS probe_doc, p.frame_no AS probe_frame,
         |                  c.doc_id AS cand_doc, c.frame_no AS cand_frame,
         |                  sum(p.v * c.v) AS dot
         |           FROM ve p JOIN ve c ON p.dim = c.dim
         |             AND p.doc_id < (SELECT p FROM mn)
         |             AND c.doc_id >= (SELECT p FROM mn)
         |           GROUP BY 1, 2, 3, 4),
         |     cos AS (SELECT probe_doc, probe_frame, cand_doc, cand_frame,
         |                    d.dot / (np.nrm * nc.nrm) AS cos
         |             FROM d JOIN nrm np ON np.doc_id = d.probe_doc
         |                                AND np.frame_no = d.probe_frame
         |                    JOIN nrm nc ON nc.doc_id = d.cand_doc
         |                                AND nc.frame_no = d.cand_frame),
         |     rk AS (SELECT probe_doc, probe_frame, cand_doc, cand_frame, cos,
         |                   CAST(row_number() OVER (PARTITION BY probe_doc, probe_frame
         |                        ORDER BY cos DESC, cand_doc, cand_frame) AS INT) AS rn
         |            FROM cos)
         |SELECT probe_doc, probe_frame, rn, cand_doc, cand_frame,
         |       floor(cos * 10000 + 0.5e0) / 10000 AS cos_sim
         |FROM rk WHERE rn <= 3
         |ORDER BY probe_doc, probe_frame, rn""") { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docsT = Tables.table(s, dir, "documents")
      // min over an EMPTY documents table is NULL (the empty-aggregate
      // class, EmptyInputSpec): any sentinel works — both branch filters
      // run over the equally-empty frame table — so use 0
      val minDocRow = docsT.agg(min(col("doc_id"))).first()
      val minDoc = if (minDocRow.isNullAt(0)) 0L else minDocRow.getLong(0)
      val embExpr = graft.queries.Pipeline.mixExpr("(doc_id * 131 + frame_no * 7 + d)")
      // the decoded + embedded frame table is memoized-persisted so the
      // probe and candidate branches read ONE decode/fanout pass instead
      // of each re-running the full corpus decode ([[Memo]];
      // the bench's cache reset still charges the full build)
      val fe = Memo("q31dFrames", s, dir) {
        val frames = docsT
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, payload) => (id, decodeStub(payload)._3) })
          .toDF("doc_id", "n_frames")
          .select(col("doc_id"),
            explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_no"))
          .filter(col("frame_no") % 4 === 0)
          .withColumn("femb",
            expr(s"transform(sequence(0L, 7L), d -> ($embExpr % 1000) / 1000.0e0 - 0.5e0)"))
          .withColumn("nrm",
            expr("sqrt(aggregate(femb, cast(0 as double), (a, x) -> a + x * x))"))
          .persist()
        frames.count()
        frames
      }
      val probes = fe.filter(col("doc_id") < minDoc + 3)
        .select(col("doc_id").as("probe_doc"), col("frame_no").as("probe_frame"),
          col("femb").as("p"), col("nrm").as("pn"))
      val cands = fe.filter(col("doc_id") >= minDoc + 3)
        .select(col("doc_id").as("cand_doc"), col("frame_no").as("cand_frame"),
          col("femb").as("c"), col("nrm").as("cn"))
      val dotExpr = expr("aggregate(zip_with(p, c, (x, y) -> x * y), cast(0 as double), (a, x) -> a + x)")
      val w = Window.partitionBy("probe_doc", "probe_frame")
        .orderBy(col("cos").desc, col("cand_doc"), col("cand_frame"))
      cands.crossJoin(broadcast(probes))
        .select(col("probe_doc"), col("probe_frame"), col("cand_doc"), col("cand_frame"),
          (dotExpr / (col("pn") * col("cn"))).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_doc"), col("probe_frame"), col("rn"), col("cand_doc"),
          col("cand_frame"), cround(col("cos")).as("cos_sim"))
        .orderBy("probe_doc", "probe_frame", "rn")
    }
  }

  /** Wrap a frame carrying a binary payload column with the batched-
    * columnar embedding-inference stage ([[graft.plans.EmbedInference]]):
    * appends `embedding array<float>(dim)` computed ColumnarBatch-at-a-
    * time directly off the scan's batches — the JVM analog of a
    * `mapInArrow` inference UDF, as a first-class plan node. */
  def embedStub(df: DataFrame, dim: Int): DataFrame =
    org.apache.spark.sql.graft.PlanBridge.ofRows(df.sparkSession,
      graft.plans.EmbedInference(dim, df.queryExecution.analyzed))

  /** Q31e — batched-columnar embedding inference over the media
    * payloads: the custom columnar operator appends a stub embedding per
    * document (batch-at-a-time off the parquet scan — MultimodalSpec
    * pins the plan: no ColumnarToRow below the stage), exploded to
    * (doc_id, pos, value) for the oracle. The stub arithmetic runs in
    * FLOAT on both engines, so the doubles compared are bit-equal. */
  val q31e_embed_infer: Query = Query(
    """WITH m AS (SELECT doc_id,
      |                  coalesce(octet_length(encode(text)), 0) AS len
      |           FROM documents),
      |     f AS (SELECT doc_id, len, unnest(range(8)) AS pos FROM m)
      |SELECT doc_id, CAST(pos AS INT) AS pos,
      |       CAST(CAST((len + 31 * pos) % 127 AS REAL) / CAST(127 AS REAL) AS DOUBLE) AS emb_val
      |FROM f
      |ORDER BY doc_id, pos""") { (s, dir) =>
    // read the string column directly: a cast/alias would interpose a
    // row-wise Project between the scan and the columnar stage
    val payload = Tables.table(s, dir, "documents").select(col("doc_id"), col("text"))
    embedStub(payload, 8)
      .select(col("doc_id"), posexplode(col("embedding")))
      .select(col("doc_id"), col("pos"), col("col").cast("double").as("emb_val"))
      .orderBy("doc_id", "pos")
  }

  val all: Map[String, Query] = Map(
    "q31_multimodal_meta" -> q31_multimodal_meta,
    "q31b_frame_sample" -> q31b_frame_sample,
    "q31c_resize_features" -> q31c_resize_features,
    "q31d_frame_ann" -> q31d_frame_ann,
    "q31e_embed_infer" -> q31e_embed_infer)
}
