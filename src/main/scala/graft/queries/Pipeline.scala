package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Memo, Tables}

/** Training-data pipeline operators beyond the reference's own surface
  * (SURVEY.md §2.12): benchmark-contamination detection, concat-and-chunk
  * sequence packing, deterministic split assignment, and identifier
  * masking. These are the ops a 100 TB pretraining corpus build needs
  * around the dedup/quality stack in [[TextOps]].
  *
  * Scale posture: every operator here is either a pure per-row map + one
  * aggregation (q48/q49/q50) or an equi-join whose per-key fanout is
  * capped by construction (q47's document-frequency cap), so nothing is
  * quadratic and nothing unbounded broadcasts.
  */
object Pipeline {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.table(s, dir, "documents")
  private def events(s: SparkSession, dir: String): DataFrame = Tables.table(s, dir, "events")

  /** The text normalization every text operator shares: lower +
    * collapse whitespace + trim, as a Spark expression and as the
    * oracle's DuckDB SQL. The one definition: TextOps, the streaming
    * decontamination filter and the specs read it rather than
    * re-spelling the regex. `final` makes both compile-time constants,
    * so TextOps reads them without initializing this object, whose own
    * initialization reads TextOps. */
  private[graft] final val normExprStr = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
  private def norm: Column = expr(normExprStr)
  private[graft] final val normSql = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  /** Word-trigram xxhash64 array over a pre-split token array column
    * named `a`; empty for docs under 3 tokens. Single source of truth
    * for the gram definition: batch contamination (q47/q47b/q71) and
    * the streaming decontamination filter both use it, so the two
    * can't drift apart. One fused codegen pass
    * ([[graft.functions.WordNgramHashes]]) — the HOF transform form it
    * replaced was interpreted and allocated a UTF8String per gram
    * (WordNgramHashesSpec pins hash-set equality with it). */
  private[graft] val trigramHashExpr: String = "graft_word_ngram_hashes(a, 3)"

  /** Deterministic integer hash both engines compute identically in pure
    * BIGINT arithmetic (Knuth multiplicative over the key's low 32 bits,
    * high half): h = (k · 2654435761) mod 2^32, mixed = h div 2^16. No
    * engine hash builtin is shared between Spark and DuckDB, so the
    * splitter/sharder must be arithmetic to be oracle-checkable.
    *
    * The product is computed by 16-bit split — with a = k mod 2^16 and
    * b = (k div 2^16) mod 2^16, k·M ≡ a·M + (b·M mod 2^16)·2^16
    * (mod 2^32) — so every intermediate stays below 2^48: the direct
    * k * 2654435761 overflows Long (throwing under ANSI mode) once
    * k ≥ ~3.47e9, exactly the key range a 100 TB corpus reaches. Results
    * are identical to the direct form wherever that form is defined.
    * Domain: k >= 0, keyed on k's low 32 bits. */
  private val MixM = 2654435761L
  private def mix(col: String, intDiv: String): String = {
    val lo = s"(($col % 65536) * $MixM)"
    val hi = s"(((($col $intDiv 65536) % 65536) * $MixM % 65536) * 65536)"
    s"((($lo + $hi) % 4294967296) $intDiv 65536)"
  }
  private[graft] def mixExpr(col: String): String = mix(col, "div")
  private[graft] def mixSql(col: String): String = mix(col, "//")

  /** Train/eval gram sides shared by q47 and q47b. The persisted tagged
    * gram table is registered in the [[Memo]] (NOT a
    * bare .persist()), so the session-wide release paths — Bench/Verify's
    * resetCaches between queries, evalBloomBlob's targeted evict — all
    * see it; a bare persist here would pin the materialization for the
    * session in any embedding application. */
  private def contaminationSides(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir)
      .select(col("doc_id"), split(norm, " ").as("a"))
      .filter(size(col("a")) >= 3)
    // word trigrams as 64-bit hashes ([[trigramHashExpr]]). array_distinct
    // BEFORE explode makes (doc_id, g) globally distinct with zero
    // shuffles: doc_id is unique per row, so per-doc dedup IS global dedup.
    val grams = d.select(col("doc_id"), explode(expr(trigramHashExpr)).as("g"))
    // df cap as groupBy + join back (not a count-over-g window): the
    // count's map-side partials compress a boilerplate gram that appears
    // in millions of docs down to one row per mapper, where a window
    // would sort that gram's full row set into a single task (skew). The
    // join back drops hot grams via hash lookup (SHUFFLE_HASH: stream
    // side is never sorted), keeping memory bounded at any corpus size.
    val rare = grams.groupBy("g").agg(count(lit(1)).as("df")).filter(col("df") <= 10).select("g")
    val gg = grams.join(rare.hint("shuffle_hash"), "g")
    // eval cut contract: the last 4% of the ID RANGE — (max(doc_id)+1) *
    // 96 div 100 — which equals the last 4% of documents only while
    // doc_ids are (near-)contiguous, as the fixture's and any
    // assign-at-ingest corpus's are. On a sparse-id corpus (e.g. ids are
    // content hashes) this still splits deterministically but the eval
    // FRACTION follows the id density, not 4% of rows; such a corpus
    // should pass an explicit boundary or use the q49 hash-split instead.
    val cut = docs(s, dir).agg(expr("(max(doc_id)+1) * 96 div 100").as("cut"))
    // memoized + persisted tagged gram table: the self-join below reads it
    // twice, and without the cache the whole scan+explode+count+join chain
    // runs once per side (measured 4x cost). Two longs per gram.
    val tagged = Memo("q47grams", s, dir)(
      gg.crossJoin(broadcast(cut)).persist())
    val train = tagged.filter(col("doc_id") < col("cut")).select(col("doc_id").as("train_id"), col("g"))
    val ev = tagged.filter(col("doc_id") >= col("cut")).select(col("doc_id").as("eval_id"), col("g"))
    (train, ev)
  }

  private def contaminationPairs(train: DataFrame, ev: DataFrame): DataFrame =
    train.join(ev, "g")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("train_id", "eval_id")

  private val contaminationOracleSql =
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents),
       |     g0 AS (SELECT doc_id, unnest(range(1, len(a)-1)) AS i, a FROM d WHERE len(a) >= 3),
       |     g AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS gram FROM g0),
       |     cut AS (SELECT (max(doc_id)+1) * 96 // 100 AS cut FROM documents),
       |     rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 10),
       |     gg AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
       |     p AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS n_shared
       |           FROM gg t JOIN gg e ON t.gram = e.gram, cut c
       |           WHERE t.doc_id < c.cut AND e.doc_id >= c.cut
       |           GROUP BY 1, 2)
       |SELECT train_id, eval_id, n_shared FROM p WHERE n_shared >= 3
       |ORDER BY train_id, eval_id""".stripMargin

  /** Q47 — benchmark contamination check (SURVEY §2.12): the last 4% of
    * doc_ids form the held-out eval set; report (train, eval) pairs
    * sharing >= 3 distinct word trigrams, over trigrams with corpus
    * document frequency <= 10.
    *
    * The df cap is the scale control (standard decontamination practice:
    * boilerplate n-grams carry no signal): it bounds per-gram join fanout
    * at 10x10 pairs, so candidate volume is linear in corpus size and no
    * hot gram key can skew the shuffle. Grams travel as xxhash64 longs
    * (8 bytes, collision odds ~n^2/2^64 — the q25 argument); the eval
    * boundary is a one-row aggregate joined via broadcast, never a driver
    * collect. */
  val q47_contamination: Query = Query(contaminationOracleSql) { (s, dir) =>
    val (train, ev) = contaminationSides(s, dir)
    contaminationPairs(train, ev)
  }

  /** Q47b — the 100 TB shape of q47: before the shuffle join, the train
    * side is prefiltered through a Bloom filter built over the eval gram
    * hashes (one ~1 MB binary blob, broadcast). A contamination check in
    * practice joins a petabyte train corpus against kilobyte benchmarks —
    * the bloom prefilter drops ~all train grams map-side so only the
    * (tiny) plausible-overlap stream reaches the exchange. Bloom filters
    * have no false negatives, and false positives are discarded by the
    * exact join that follows, so the result is IDENTICAL to q47 — which
    * is why it carries q47's oracle verbatim (the prefilter is a
    * physical optimization, not a semantic one; PipelineSpec asserts the
    * equality independently). */
  val q47b_contamination_bloom: Query = Query(contaminationOracleSql) { (s, dir) =>
    val (train, ev) = contaminationSides(s, dir)
    // BloomFilterMightContain only accepts a constant or scalar-subquery
    // bloom side (never a joined column), so the eval blob rides a scalar
    // subquery: executed once, its ~1 MB result is shipped to every task
    // like a broadcast variable.
    ev.createOrReplaceTempView("graft_q47_eval_grams")
    val pre = train.filter(expr(
      "graft_bloom_contains((SELECT graft_bloom_agg(g, 1048576L, 8388608L) FROM graft_q47_eval_grams), g)"))
    contaminationPairs(pre, ev)
  }

  /** Q48 — concat-and-chunk sequence packing (SURVEY §2.12): the GPT-style
    * pretraining layout — documents are concatenated in deterministic
    * order and cut into fixed 256-token chunks; a doc belongs to the pack
    * where it starts. Sharding first (32 deterministic hash shards) keeps
    * the running sum a per-shard window, so at 100 TB each shard packs
    * independently — no global sort, no single-partition window. */
  val q48_chunk_pack: Query = Query(
    s"""WITH d AS (SELECT doc_id,
       |                  CAST(${mixSql("doc_id")} % 32 AS INT) AS shard,
       |                  len(string_split($normSql, ' ')) AS ntok
       |           FROM documents),
       |     w AS (SELECT doc_id, shard, ntok,
       |                  coalesce(sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
       |           FROM d)
       |SELECT shard, CAST(start_tok // 256 AS INT) AS pack_id,
       |       count(*) AS n_docs,
       |       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS first_doc
       |FROM w GROUP BY 1, 2
       |ORDER BY shard, pack_id""") { (s, dir) =>
    val d = docs(s, dir).select(
      col("doc_id"),
      expr(s"CAST(${mixExpr("doc_id")} % 32 AS INT)").as("shard"),
      size(split(norm, " ")).cast("long").as("ntok"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("start_tok", coalesce(sum(col("ntok")).over(w), lit(0L)))
      .groupBy(col("shard"), expr("CAST(start_tok div 256 AS INT)").as("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("shard", "pack_id")
  }

  /** Q48b — true packing spans (the production face of q48): where q48
    * assigns each doc to the pack it STARTS in, a packer actually splits
    * docs across 256-token chunk boundaries. One row per (doc, pack)
    * slice — (shard, pack_id, doc_id, off_tok, len_tok) with off_tok the
    * slice's offset inside the pack — so full packs tile to exactly 256
    * tokens (PipelineSpec asserts the accounting). Same per-shard window
    * as q48 plus a sequence+explode over the packs each doc touches:
    * still no global sort, fanout per doc = ceil(ntok/256) + 1, linear
    * in corpus tokens. */
  val q48b_pack_spans: Query = Query(
    s"""WITH d AS (SELECT doc_id,
       |                  CAST(${mixSql("doc_id")} % 32 AS INT) AS shard,
       |                  len(string_split($normSql, ' ')) AS ntok
       |           FROM documents),
       |     w AS (SELECT doc_id, shard, ntok,
       |                  coalesce(sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
       |           FROM d),
       |     sp AS (SELECT shard, doc_id, ntok, start_tok,
       |                   unnest(range(CAST(start_tok // 256 AS BIGINT),
       |                                CAST((start_tok + ntok - 1) // 256 + 1 AS BIGINT))) AS p
       |            FROM w)
       |SELECT shard, CAST(p AS INT) AS pack_id, doc_id,
       |       CAST(greatest(start_tok, p * 256) - p * 256 AS BIGINT) AS off_tok,
       |       CAST(least(start_tok + ntok, (p + 1) * 256)
       |              - greatest(start_tok, p * 256) AS BIGINT) AS len_tok
       |FROM sp
       |ORDER BY shard, pack_id, off_tok""") { (s, dir) =>
    val d = docs(s, dir).select(
      col("doc_id"),
      expr(s"CAST(${mixExpr("doc_id")} % 32 AS INT)").as("shard"),
      size(split(norm, " ")).cast("long").as("ntok"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("start_tok", coalesce(sum(col("ntok")).over(w), lit(0L)))
      // every doc has ntok >= 1 (split of an empty string is [""]), so the
      // pack range is never empty
      .withColumn("p", explode(expr("sequence(start_tok div 256, (start_tok + ntok - 1) div 256)")))
      .select(col("shard"), col("p").cast("int").as("pack_id"), col("doc_id"),
        (greatest(col("start_tok"), col("p") * 256) - col("p") * 256).as("off_tok"),
        (least(col("start_tok") + col("ntok"), (col("p") + 1) * 256)
          - greatest(col("start_tok"), col("p") * 256)).as("len_tok"))
      .orderBy("shard", "pack_id", "off_tok")
  }

  /** Q68 — sliding-window chunking with overlap (the RAG/embedding
    * chunker): each doc's token stream is cut into 32-token windows at
    * stride 24 (8-token overlap), so every token appears in at least one
    * chunk and chunk boundaries never lose cross-boundary context. A doc
    * with ntok <= 32 is one chunk; otherwise ceil((ntok-32)/24)+1
    * chunks, the last one 9..32 tokens (stride < window forces the
    * final offset within 24 of the end). Pure per-row fanout of
    * ~ntok/24 — no shuffle at all before the presentation sort, so at
    * 100 TB this is a map-only pass whose output lands partitioned
    * exactly like its input (the chunk text is sliced from the SAME
    * token array the count came from — one split per doc, not three). */
  val q68_chunk_overlap: Query = Query(
    s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents),
       |     c AS (SELECT doc_id, a, len(a) AS ntok,
       |                  unnest(range(((greatest(len(a) - 32, 0) + 23) // 24) + 1)) AS k
       |           FROM d)
       |SELECT doc_id, CAST(k AS INT) AS chunk_id,
       |       CAST(k * 24 AS BIGINT) AS off_tok,
       |       CAST(least(32, ntok - k * 24) AS BIGINT) AS len_tok,
       |       array_to_string(list_slice(a, k * 24 + 1,
       |                                  k * 24 + least(32, ntok - k * 24)), ' ') AS chunk
       |FROM c
       |ORDER BY doc_id, chunk_id""") { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), split(norm, " ").as("a"))
      .withColumn("ntok", size(col("a")).cast("long"))
      .withColumn("k", explode(expr(
        "sequence(0L, (greatest(ntok - 32L, 0L) + 23L) div 24L)")))
      .withColumn("len_tok", least(lit(32L), col("ntok") - col("k") * 24L))
      .select(col("doc_id"), col("k").cast("int").as("chunk_id"),
        (col("k") * 24L).as("off_tok"), col("len_tok"),
        concat_ws(" ", slice(col("a"), (col("k") * 24 + 1).cast("int"),
          col("len_tok").cast("int"))).as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Q49 — deterministic train/val/test split assignment (SURVEY §2.12):
    * bucket = mixed-hash(doc_id) mod 100; <90 train, <95 val, else test.
    * Re-runnable on any engine, stable under re-partitioning (pure
    * arithmetic on the key), and auditable: per (split, lang) doc, token
    * and char totals. One map + one aggregation — embarrassingly
    * parallel at any scale. */
  val q49_split_assign: Query = Query(
    s"""WITH d AS (SELECT doc_id, lang, n_chars,
       |                  CAST(${mixSql("doc_id")} % 100 AS INT) AS bucket,
       |                  len(string_split($normSql, ' ')) AS ntok
       |           FROM documents)
       |SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
       |       lang,
       |       count(*) AS n_docs,
       |       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM d GROUP BY 1, 2
       |ORDER BY split, lang""") { (s, dir) =>
    docs(s, dir).select(
        col("lang"), col("n_chars"),
        expr(s"CAST(${mixExpr("doc_id")} % 100 AS INT)").as("bucket"),
        size(split(norm, " ")).cast("long").as("ntok"))
      .withColumn("split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy("split", "lang")
  }

  /** Q55 — deterministic corpus shuffle + sharding: the "global shuffle"
    * every training run needs, without a global sort. Each doc hashes to
    * h = mix(doc_id) (the q49 engine-portable Knuth mix, so ANY engine
    * reproduces the exact order), shard = h % 8, position = row_number
    * within the shard ordered by (h, doc_id). Reading shards round-robin
    * by position yields a reproducible pseudo-random visit order.
    *
    * Scale: the window sorts per SHARD, never globally — with shards
    * sized to executors the sort is n/shards per task, and the production
    * sink is write.partitionBy(shard) + sortWithinPartitions(h), which
    * never materializes a total order. Re-seeding = adding a salt
    * constant into the mix input. */
  val q55_shuffle_shard: Query = Query(
    s"""WITH d AS (SELECT doc_id, ${mixSql("doc_id")} AS h FROM documents)
       |SELECT CAST(h % 8 AS INT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos,
       |       doc_id
       |FROM d ORDER BY shard, pos""") { (s, dir) =>
    val d = docs(s, dir).select(col("doc_id"), expr(mixExpr("doc_id")).as("h"))
      .withColumn("shard", (col("h") % 8).cast("int"))
    val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
    d.select(col("shard"), row_number().over(w).cast("long").as("pos"), col("doc_id"))
      .orderBy("shard", "pos")
  }

  /** Q50 — identifier masking (SURVEY §2.12): the PII-scrub pass shape —
    * replace digit runs in event payloads with a sentinel before the text
    * reaches a training corpus; account masked runs / chars / distinct
    * masked payloads per event type. Pure per-row regex + one aggregation
    * (the regex subset used is identical under Java regex and RE2). The
    * same shape handles email/phone/SSN patterns on real corpora. */
  val q50_pii_mask: Query = Query(
    """SELECT event_type,
      |       count(*) AS n_events,
      |       CAST(sum(length(regexp_replace(props, '[0-9]+', '#', 'g'))
      |              - length(regexp_replace(props, '[0-9]+', '', 'g'))) AS BIGINT) AS n_runs,
      |       CAST(sum(length(props)
      |              - length(regexp_replace(props, '[0-9]+', '', 'g'))) AS BIGINT) AS n_masked_chars,
      |       count(DISTINCT regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS n_distinct_masked
      |FROM events GROUP BY event_type
      |ORDER BY event_type""") { (s, dir) =>
    events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(length(regexp_replace(col("props"), "[0-9]+", "#"))
          - length(regexp_replace(col("props"), "[0-9]+", ""))).cast("long").as("n_runs"),
        sum(length(col("props"))
          - length(regexp_replace(col("props"), "[0-9]+", ""))).cast("long").as("n_masked_chars"),
        countDistinct(regexp_replace(col("props"), "[0-9]+", "<NUM>")).as("n_distinct_masked"))
      .orderBy("event_type")
  }

  /** Max run length in the sorted token array `a` == max token frequency:
    * a single O(n) pass instead of an O(distinct·len) nested-lambda scan
    * (higher-order lambdas are interpreted — no codegen — so the nested
    * form measured ~10× slower). Shared by q51 and q58. */
  private[graft] val maxRunExpr: Column = expr(
    """aggregate(sort_array(a),
      |  named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
      |  (acc, x) -> named_struct(
      |    'prev', x,
      |    'run',  IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1),
      |    'best', GREATEST(acc.best,
      |                     IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1))),
      |  acc -> acc.best)""".stripMargin)

  /** Q51 — repetition-quality statistics (SURVEY §2.12): the C4/Gopher
    * family of repetition filters — per-doc distinct-token ratio and
    * top-token dominance (max token frequency / doc length), aggregated
    * per source. Zero shuffles before the final per-source aggregation:
    * the dominance is a single O(n) pass over the doc's sorted token
    * array (max run length), not an O(distinct·len) nested-lambda scan —
    * higher-order lambdas are interpreted (no codegen), so the nested
    * form measured ~10x slower. The oracle states the same semantics the
    * natural SQL way (unnest + per-doc max frequency). Per-doc ratios
    * are canonically rounded then decimal-summed so the per-source
    * averages are bit-stable under any partition order. */
  val q51_repetition: Query = {
    Query(
      s"""WITH d AS (SELECT doc_id, source, string_split($normSql, ' ') AS a FROM documents),
         |     tok AS (SELECT doc_id, source, len(a) AS n, unnest(a) AS w FROM d),
         |     freq AS (SELECT doc_id, source, n, w, count(*) AS c FROM tok GROUP BY 1, 2, 3, 4),
         |     per AS (SELECT doc_id, source,
         |                    ${croundSql("count(*) / CAST(any_value(n) AS DOUBLE)")} AS distinct_ratio,
         |                    ${croundSql("max(c) / CAST(any_value(n) AS DOUBLE)")} AS top_share
         |             FROM freq GROUP BY 1, 2)
         |SELECT source,
         |       count(*) AS n_docs,
         |       ${croundSql(s"${dsumSql("distinct_ratio", 4)} / count(*)")} AS avg_distinct_ratio,
         |       ${croundSql(s"${dsumSql("top_share", 4)} / count(*)")} AS avg_top_share,
         |       CAST(sum(CASE WHEN distinct_ratio < 0.55 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_rep
         |FROM per GROUP BY source
         |ORDER BY source""") { (s, dir) =>
      val d = docs(s, dir).select(col("source"), split(norm, " ").as("a"))
      val maxRun = maxRunExpr
      val r = d.select(
        col("source"),
        cround(expr("size(array_distinct(a))") / expr("CAST(size(a) AS DOUBLE)")).as("distinct_ratio"),
        cround(maxRun / expr("CAST(size(a) AS DOUBLE)")).as("top_share"))
      r.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          cround(dsum(col("distinct_ratio"), 4) / count(lit(1))).as("avg_distinct_ratio"),
          cround(dsum(col("top_share"), 4) / count(lit(1))).as("avg_top_share"),
          sum(when(col("distinct_ratio") < 0.55, 1L).otherwise(0L)).as("n_high_rep"))
        .orderBy("source")
    }
  }

  /** Q52 — domain-mixing weights (SURVEY §2.12): the sampling-rate table
    * a corpus mixer needs to hit a uniform per-language token budget —
    * natural token share, the capped sampling rate
    * min(1, target_tokens / lang_tokens), and the resulting expected
    * token count. One aggregation plus a one-row grand-total broadcast
    * (the q29 scalar pattern); rates are canonically rounded before the
    * expected-count multiply so both engines floor the same product. */
  val q52_mixture_weights: Query = Query(
    s"""WITH per AS (SELECT lang, count(*) AS n_docs,
       |                    CAST(sum(len(string_split($normSql, ' '))) AS BIGINT) AS n_tokens
       |             FROM documents GROUP BY lang),
       |     tot AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_tokens) AS BIGINT) AS tot FROM per)
       |SELECT lang, n_docs, n_tokens,
       |       ${croundSql("n_tokens / (tot * 1e0)")} AS natural_share,
       |       ${croundSql("least(1e0, (tot / (k * 1e0)) / n_tokens)")} AS sample_rate,
       |       CAST(floor(n_tokens * ${croundSql("least(1e0, (tot / (k * 1e0)) / n_tokens)")}) AS BIGINT) AS exp_tokens
       |FROM per, tot
       |ORDER BY lang""") { (s, dir) =>
    val per = docs(s, dir)
      .select(col("lang"), size(split(norm, " ")).cast("long").as("ntok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
    val tot = per.agg(count(lit(1)).cast("long").as("k"), sum(col("n_tokens")).as("tot"))
    val rate = cround(least(lit(1d), (col("tot") / (col("k") * lit(1d))) / col("n_tokens")))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        cround(col("n_tokens") / (col("tot") * lit(1d))).as("natural_share"),
        rate.as("sample_rate"),
        floor(col("n_tokens") * rate).cast("long").as("exp_tokens"))
      .orderBy("lang")
  }

  /** Q56 — mixture resampling (SURVEY §2.12): EXECUTES q52's sampling
    * plan. Every doc keeps or drops deterministically — the
    * engine-portable Knuth mix of its doc_id (mod 10^4) against its
    * language's capped sampling rate at 4-decimal granularity — so any
    * engine reproduces the exact kept set: resumable, auditable, no RNG
    * state to checkpoint. Emits per-language accounting proving the
    * realized token rate tracks the q52 target.
    *
    * Shapes: one aggregation builds the rate table (languages × 1 row),
    * which broadcasts; the keep decision is then a map-side filter on
    * the scan — no shuffle touches row data beyond the final per-lang
    * aggregation. The 16-bit mix hash mod 10^4 carries a small
    * per-cell bias (65536 % 10000 ≠ 0); a production corpus would
    * widen the mix to 64 bits — same plan, same portability. */
  val q56_mixture_resample: Query = Query(
    s"""WITH per AS (SELECT lang,
       |                    CAST(sum(len(string_split($normSql, ' '))) AS BIGINT) AS n_tokens
       |             FROM documents GROUP BY lang),
       |     tot AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_tokens) AS BIGINT) AS tot FROM per),
       |     rates AS (SELECT lang,
       |                      CAST(floor(${croundSql("least(1e0, (tot / (k * 1e0)) / n_tokens)")} * 10000 + 0.5e0) AS BIGINT) AS thresh
       |               FROM per, tot),
       |     d AS (SELECT doc_id, lang, len(string_split($normSql, ' ')) AS ntok,
       |                  ${mixSql("doc_id")} % 10000 AS h
       |           FROM documents),
       |     kpt AS (SELECT d.lang, d.ntok, CASE WHEN d.h < r.thresh THEN 1 ELSE 0 END AS keep
       |             FROM d JOIN rates r USING (lang))
       |SELECT lang, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_kept,
       |       CAST(sum(keep * ntok) AS BIGINT) AS kept_tokens,
       |       ${croundSql("sum(keep * ntok) * 1e0 / sum(ntok)")} AS realized_rate
       |FROM kpt GROUP BY 1 ORDER BY lang""") { (s, dir) =>
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      size(split(norm, " ")).cast("long").as("ntok"),
      expr(s"${mixExpr("doc_id")} % 10000").as("h"))
    val per = d.groupBy("lang").agg(sum(col("ntok")).as("n_tokens"))
    val tot = per.agg(count(lit(1)).cast("long").as("k"), sum(col("n_tokens")).as("tot"))
    val rates = per.crossJoin(broadcast(tot))
      .select(col("lang"),
        floor(cround(least(lit(1d), (col("tot") / (col("k") * lit(1d))) / col("n_tokens")))
          * 10000 + lit(0.5)).cast("long").as("thresh"))
    d.join(broadcast(rates), "lang")
      .select(col("lang"), col("ntok"),
        when(col("h") < col("thresh"), 1L).otherwise(0L).as("keep"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("long").as("n_kept"),
        sum(col("keep") * col("ntok")).cast("long").as("kept_tokens"),
        cround(sum(col("keep") * col("ntok")) * lit(1.0) / sum(col("ntok")))
          .as("realized_rate"))
      .orderBy("lang")
  }

  /** q58's stopword list + occurrence-count fragments, shared with the
    * q71 end-to-end composition so the two cannot drift. */
  private val CurationStops = Seq("the", "a", "of", "and")
  private def hitsDiffSql(p: String) =
    s"(length(padded) - length(replace(padded, ' $p ', '')))"
  private[graft] val stopHitsSql = CurationStops.map(hitsDiffSql).mkString(" + ")

  /** Adds `n_tok` and `reason` (the q58 verdict) to any frame with a
    * `text` column, preserving its other columns — the streaming
    * curation filter runs this on micro-batch survivors. Works on the
    * temp columns norm/a/padded/atl/dr/ts/stop_hits and drops them. */
  private[graft] def withQualityReason(df: DataFrame): DataFrame = {
    // plain (non-regex) replace on both engines so non-overlapping
    // occurrence counting is semantics-identical by construction
    def hitsDiff(p: String): Column =
      length(col("padded")) - length(expr(s"replace(padded, ' $p ', '')"))
    df.withColumn("norm", norm)
      .withColumn("a", split(col("norm"), " "))
      .withColumn("padded", concat(lit(" "), col("norm"), lit(" ")))
      .withColumn("n_tok", size(col("a")))
      .withColumn("atl", length(regexp_replace(col("norm"), " ", "")) * lit(1.0) / col("n_tok"))
      .withColumn("dr", expr("size(array_distinct(a))") * lit(1.0) / col("n_tok"))
      .withColumn("ts", maxRunExpr * lit(1.0) / col("n_tok"))
      .withColumn("stop_hits", CurationStops.map(hitsDiff).reduce(_ + _))
      .withColumn("reason",
        when(col("n_tok") < 15, "1_too_short")
          .when(col("atl") < 3.75 || col("atl") > 5.25, "2_bad_tok_len")
          .when(col("dr") < 0.30, "3_repetitive")
          .when(col("ts") > 0.20, "4_dominated")
          .when(col("stop_hits") === 0, "5_no_stopwords")
          .otherwise("6_kept"))
      .drop("norm", "a", "padded", "atl", "dr", "ts", "stop_hits")
  }

  /** Per-doc q58 quality verdict: (doc_id, lang, n_tok, reason) with
    * reason the FIRST failing filter ('6_kept' when all pass). q58
    * aggregates this; q71 consumes it per-doc. All signals are per-row
    * array expressions — no shuffle. */
  private[graft] def qualityReasons(s: SparkSession, dir: String): DataFrame =
    withQualityReason(docs(s, dir)).select("doc_id", "lang", "n_tok", "reason")

  /** Q58 — composite corpus quality filter (the C4/Gopher keep-or-drop
    * pass, SURVEY §2.12): ONE scan computes every per-doc signal — token
    * count, mean token length, distinct-token ratio, top-token dominance
    * (the q51 O(n) sorted-run pass), stopword hits — and assigns each
    * doc its FIRST matching drop reason in fixed priority order:
    * too_short → bad_tok_len → repetitive → dominated → no_stopwords →
    * kept (reason codes carry a priority prefix so output order is
    * deterministic). Emits per-(lang, reason) doc/token accounting.
    *
    * Scale shape: the Spark side derives ALL signals from per-row array
    * expressions (array_distinct / sorted-run / padded-replace counts) —
    * a pure map with NO shuffle before the final tiny (lang, reason)
    * aggregation, i.e. one pass over a 100 TB corpus. The oracle states
    * the repetition signals the natural SQL way (unnest + groupBy);
    * both reduce to exact integer ratios and identical IEEE divisions,
    * so threshold comparisons agree bit-for-bit. Thresholds are tuned
    * so every reason fires non-vacuously on the fixture (profiled:
    * n_tok 10–99, avg_tok_len 3.71–5.30, distinct_ratio 0.28–1.0,
    * top_share ≤ 0.30, zero-stopword docs exist in every lang). */
  val q58_corpus_filter: Query = {
    Query(
      s"""WITH d AS (SELECT doc_id, lang, $normSql AS norm,
         |                  string_split($normSql, ' ') AS a,
         |                  ' ' || $normSql || ' ' AS padded
         |           FROM documents),
         |     tok AS (SELECT doc_id, unnest(a) AS w FROM d),
         |     freq AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
         |     rep AS (SELECT doc_id, count(*) AS n_distinct, max(c) AS top_c FROM freq GROUP BY 1),
         |     f AS (SELECT d.doc_id, lang, len(a) AS n_tok,
         |                  length(replace(norm, ' ', '')) * 1e0 / len(a) AS atl,
         |                  n_distinct * 1e0 / len(a) AS dr,
         |                  top_c * 1e0 / len(a) AS ts,
         |                  $stopHitsSql AS stop_hits
         |           FROM d JOIN rep USING (doc_id)),
         |     r AS (SELECT lang, n_tok,
         |                  CASE WHEN n_tok < 15 THEN '1_too_short'
         |                       WHEN atl < 3.75e0 OR atl > 5.25e0 THEN '2_bad_tok_len'
         |                       WHEN dr < 0.30e0 THEN '3_repetitive'
         |                       WHEN ts > 0.20e0 THEN '4_dominated'
         |                       WHEN stop_hits = 0 THEN '5_no_stopwords'
         |                       ELSE '6_kept' END AS reason
         |           FROM f)
         |SELECT lang, reason, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM r GROUP BY 1, 2 ORDER BY lang, reason""") { (s, dir) =>
      qualityReasons(s, dir)
        .groupBy("lang", "reason")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("n_tokens"))
        .orderBy("lang", "reason")
    }
  }

  /** Q64 — DSIR-style importance scoring (Xie et al., "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much more likely its unigram bag is under a TARGET
    * domain's language model than under the raw corpus's, and keep the
    * top-scored docs. Models are add-1-smoothed unigram LMs; the score is
    * sum over token occurrences of ln(p_target(w)) − ln(p_raw(w)).
    *
    * Determinism across engines: the per-token log ratio is canonically
    * rounded to 6 decimals, then per-doc summed as DECIMAL (exact, any
    * partition order) and re-rounded to 4 — ln() agrees between JVM and
    * DuckDB on these inputs (the q57 BM25 precedent) and the decimal sum
    * removes float associativity entirely. Top-k is totally ordered by
    * (score DESC, doc_id).
    *
    * Scale posture: ONE token-stream aggregation builds both models
    * (target count and raw count in the same groupBy); scoring joins the
    * token stream with the log-ratio table on the token — deliberately
    * UNHINTED, because an exact-vocabulary model is not a provably
    * bounded set (the PlanSpec broadcast guard would rightly flag it):
    * AQE broadcasts it while it is small and falls back to a shuffle
    * join when it is not. At 100 TB the vocabulary is hashed to a fixed
    * 2^20-bucket feature space first (the paper's hashed n-gram trick),
    * which IS bounded and broadcasts unconditionally — identical plan,
    * bucket ids instead of words. */
  val q64_dsir_score: Query = {
    val targets = Seq("src0", "src1", "src2", "src3")
    val targetsSql = targets.map(t => s"'$t'").mkString(", ")
    Query(
      s"""WITH tok AS (SELECT doc_id, source, unnest(string_split($normSql, ' ')) AS w
         |             FROM documents),
         |     m AS (SELECT w, count(*) AS cr,
         |                  CAST(sum(CASE WHEN source IN ($targetsSql) THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |           FROM tok GROUP BY 1),
         |     tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
         |                    CAST(sum(cr) AS BIGINT) AS nr,
         |                    CAST(sum(ct) AS BIGINT) AS nt FROM m),
         |     lr AS (SELECT w, ${croundSql(
               "ln((ct + 1) * 1e0 / (nt + v)) - ln((cr + 1) * 1e0 / (nr + v))", 6)} AS lr
         |           FROM m, tot),
         |     sc AS (SELECT tok.doc_id, any_value(tok.source) AS source,
         |                   ${dsumSql("lr", 6)} AS score
         |            FROM tok JOIN lr USING (w) GROUP BY 1)
         |SELECT doc_id, source, ${croundSql("score")} AS dsir_score
         |FROM sc ORDER BY dsir_score DESC, doc_id LIMIT 20""") { (s, dir) =>
      val tok = docs(s, dir)
        .select(col("doc_id"), col("source"), explode(split(norm, " ")).as("w"))
      val m = tok.groupBy("w").agg(
        count(lit(1)).as("cr"),
        sum(when(col("source").isin(targets: _*), 1L).otherwise(0L)).as("ct"))
      val tot = m.agg(count(lit(1)).cast("long").as("v"),
        sum(col("cr")).cast("long").as("nr"), sum(col("ct")).cast("long").as("nt"))
      val lr = m.crossJoin(broadcast(tot)).select(col("w"),
        cround(log((col("ct") + 1) * lit(1.0) / (col("nt") + col("v")))
          - log((col("cr") + 1) * lit(1.0) / (col("nr") + col("v"))), 6).as("lr"))
      tok.join(lr, "w")
        .groupBy("doc_id")
        .agg(first(col("source")).as("source"), dsum(col("lr"), 6).as("score"))
        .select(col("doc_id"), col("source"), cround(col("score")).as("dsir_score"))
        .orderBy(col("dsir_score").desc, col("doc_id")).limit(20)
    }
  }

  /** Q65 — token-budget sharding via a DISTRIBUTED PREFIX SUM: lay the
    * q55-shuffled corpus out into shards of ~`Cap` tokens each (the
    * "pack shards to a byte/token budget" step every corpus writer
    * runs), where a doc's shard is floor(tokens-before-it / Cap) in the
    * deterministic shuffle order (h = Knuth mix of doc_id, ties by
    * doc_id).
    *
    * The cumulative sum is the whole point: a global-order window is a
    * single-partition sort at scale, so instead the order space [0, 2^16)
    * is range-cut into 16 buckets (bucket = h div 4096 — RANGE, not mod,
    * so bucket order IS global order), each bucket cumsums independently
    * under `Window.partitionBy(bucket)`, and the 16 per-bucket totals —
    * model state, not data — get a partition-less window to produce
    * bucket prefix offsets that broadcast back. cum_before(doc) =
    * bucket_offset + within-bucket running sum. Two passes, no global
    * sort, shard boundaries bit-identical to the serial order. The
    * oracle states the same semantics as the naive global window. */
  val q65_token_shard: Query = {
    val cap = 2048L
    Query(
      s"""WITH d AS (SELECT doc_id, ${mixSql("doc_id")} AS h,
         |                  len(string_split($normSql, ' ')) AS ntok
         |           FROM documents),
         |     c AS (SELECT doc_id, ntok,
         |                  coalesce(sum(ntok) OVER (ORDER BY h, doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |           FROM d)
         |SELECT CAST(cum_before // $cap AS INT) AS shard,
         |       CAST(cum_before % $cap AS BIGINT) AS shard_off,
         |       doc_id, CAST(ntok AS BIGINT) AS ntok
         |FROM c ORDER BY shard, shard_off, doc_id""") { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        expr(mixExpr("doc_id")).as("h"),
        size(split(norm, " ")).cast("long").as("ntok"))
        .withColumn("bucket", (col("h") / 4096).cast("int"))
      val wLocal = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = d.withColumn("local_before", coalesce(sum(col("ntok")).over(wLocal), lit(0L)))
      // 16 rows: the partition-less window is the model-state step
      val wOff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
      // bucket < 16 is an invariant (h < 2^16, cut at 4096), not a data
      // filter — stated as a predicate so the broadcast-boundedness guard
      // (PlanSpec) can PROVE the broadcast side is a bounded set
      val offsets = d.groupBy("bucket").agg(sum(col("ntok")).as("btok"))
        .filter(col("bucket") < 16)
        .withColumn("offset", coalesce(sum(col("btok")).over(wOff), lit(0L)))
        .select("bucket", "offset")
      local.join(broadcast(offsets), "bucket")
        .withColumn("cum_before", col("offset") + col("local_before"))
        .select((col("cum_before") / cap).cast("int").as("shard"),
          (col("cum_before") % cap).as("shard_off"),
          col("doc_id"), col("ntok"))
        .orderBy("shard", "shard_off", "doc_id")
    }
  }

  /** Q66 — corpus upsert (MERGE-style crawl-over-crawl snapshot
    * refresh): fold an incoming crawl batch into the corpus snapshot and
    * classify every document as insert (new doc_id), update (content
    * changed), noop (re-crawled but byte-identical), or keep (not in the
    * batch). This is the snapshot-maintenance step between crawls — q60
    * answers "which incoming docs are near-dups of the corpus"; q66
    * actually APPLIES a batch, the copy-on-write merge every corpus store
    * (Delta/Iceberg MERGE INTO) runs. The batch here is carved from the
    * documents table itself (doc_id % 3 picks re-crawls, % 10 = 9 picks
    * genuinely new ids, % 2 revises half the re-crawled texts) so the
    * oracle sees the same inputs.
    *
    * Scale shape: ONE full-outer equi-join on the primary key — no
    * window, no skew (doc_id is unique on both sides, so every join key
    * matches at most 1×1). At 100 TB the snapshot side is stored bucketed
    * by doc_id, which turns the merge into a shuffle of the (much
    * smaller) incoming batch only; change detection compares content
    * digests (xxhash64) instead of full text so the shuffled payload per
    * row is 8 bytes — here the texts ride along because the oracle needs
    * engine-portable equality, and the join is the plan either way. */
  val q66_corpus_upsert: Query = Query(
    s"""WITH snap AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 9),
       |     inc AS (SELECT doc_id,
       |                    CASE WHEN doc_id % 2 = 0 THEN text || ' rev2' ELSE text END AS text
       |             FROM documents WHERE doc_id % 3 = 0 OR doc_id % 10 = 9)
       |SELECT COALESCE(s.doc_id, i.doc_id) AS doc_id,
       |       CASE WHEN s.doc_id IS NULL THEN 'insert'
       |            WHEN i.doc_id IS NULL THEN 'keep'
       |            WHEN i.text = s.text THEN 'noop'
       |            ELSE 'update' END AS action,
       |       CAST(length(COALESCE(i.text, s.text)) AS BIGINT) AS n_chars_final
       |FROM snap s FULL OUTER JOIN inc i ON s.doc_id = i.doc_id
       |ORDER BY doc_id""") { (s, dir) =>
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val snap = base.filter(col("doc_id") % 10 < 9)
    val inc = base.filter(col("doc_id") % 3 === 0 || col("doc_id") % 10 === 9)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    snap.as("s").join(inc.as("i"), col("s.doc_id") === col("i.doc_id"), "full_outer")
      .select(
        coalesce(col("s.doc_id"), col("i.doc_id")).as("doc_id"),
        when(col("s.doc_id").isNull, "insert")
          .when(col("i.doc_id").isNull, "keep")
          .when(col("i.text") === col("s.text"), "noop")
          .otherwise("update").as("action"),
        length(coalesce(col("i.text"), col("s.text"))).cast("long").as("n_chars_final"))
      .orderBy("doc_id")
  }

  /** The bigram-LM CTE block (token arrays → bigram stream → counts →
    * smoothed nll model → per-doc score) shared by q67, q67b and q91 —
    * ends with `sc(doc_id, n_bigrams, s)`. */
  private val lmCtesSql: String =
    s"""t AS (SELECT doc_id, string_split($normSql, ' ') AS a FROM documents),
       |     e AS (SELECT doc_id, a, unnest(range(len(a) - 1)) AS i FROM t WHERE len(a) >= 2),
       |     bg AS (SELECT doc_id, a[CAST(i AS INT) + 1] AS w1, a[CAST(i AS INT) + 2] AS w2 FROM e),
       |     c1 AS (SELECT w1 AS w, count(*) AS c FROM bg GROUP BY 1),
       |     c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
       |     v AS (SELECT count(DISTINCT w) AS v FROM (SELECT doc_id, unnest(a) AS w FROM t)),
       |     nll AS (SELECT w1, w2, ${croundSql("-ln((c2.c + 1) * 1e0 / (c1.c + v.v))", 6)} AS nll
       |             FROM c2 JOIN c1 ON c1.w = c2.w1, v),
       |     sc AS (SELECT bg.doc_id, count(*) AS n_bigrams, ${dsumSql("nll", 6)} AS s
       |            FROM bg JOIN nll USING (w1, w2) GROUP BY 1)""".stripMargin

  /** (doc_id, a) token arrays for docs with >= 2 tokens — the Spark twin
    * of the `t`+len-filter CTE. */
  private def tokenArrays(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), split(norm, " ").as("a"))
      .filter(size(col("a")) >= 2)

  /** The corpus bigram stream (doc_id, w1, w2) — one fused
    * transform+explode, no shuffle. */
  private def bigramsOf(t: DataFrame): DataFrame =
    t.select(col("doc_id"),
      explode(expr("transform(sequence(0, size(a) - 2), i -> struct(a[i] AS w1, a[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Per-doc LM scores (doc_id, n_bigrams, avg_nll) — q67's body, shared
    * with the q67b bucketing pass. */
  private def lmScoresOf(s: SparkSession, dir: String): DataFrame = {
    val t = tokenArrays(s, dir)
    val bg = bigramsOf(t)
    // one-row vocabulary size — model state, provably bounded broadcast
    val v = docs(s, dir).select(explode(split(norm, " ")).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    // Context counts come from the bigram counts themselves — c(w1,·) =
    // Σ_w2 c(w1,w2) exactly, as a window sum over the model table — so
    // the model needs ONE corpus tokenize+explode pass, not two (r13,
    // ProbeQ67, since removed: the separate c1 pass re-ran scan+regex+explode because
    // the null-filter asymmetry of the former c1 join blocked exchange
    // reuse; the window runs on the distinct-bigram table, which stays
    // model-sized at 100 TB while the saved pass is corpus-sized. Warm
    // sf0.1 CPU 1.10 → 0.95 s, cold wall 3.45 → 2.28 s).
    // Skew note (ADVICE r13): WindowExec buffers each w1 group, so
    // per-task work is proportional to the hottest context word's
    // DISTINCT continuation count (stopwords) — a shape the old
    // partial-aggregate c1 did not have. The bound is |V| rows per
    // group (distinct w2 per w1, not corpus occurrences), model-sized
    // at any corpus scale under the q64 hash-bucket posture; if the
    // hot-key task ever dominates, compute c1 as a groupBy(w1)
    // re-aggregation of c2 joined back (same single corpus pass,
    // no windowed sort).
    val wByCtx = org.apache.spark.sql.expressions.Window.partitionBy("w1")
    val model = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .withColumn("c1", sum(col("c2")).over(wByCtx))
      .crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        cround(-log((col("c2") + 1) * lit(1.0) / (col("c1") + col("v"))), 6).as("nll"))
    bg.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), dsum(col("nll"), 6).as("s"))
      .select(col("doc_id"), col("n_bigrams").cast("long").as("n_bigrams"),
        cround(col("s") / col("n_bigrams")).as("avg_nll"))
  }

  /** Q67 — bigram-LM document scoring (the CCNet/RedPajama "perplexity
    * filter" shape): train an add-one-smoothed bigram language model on
    * the corpus itself, then score every document by its mean negative
    * log-likelihood −(1/n)·Σ ln P(wᵢ | wᵢ₋₁) with
    * P(w₂|w₁) = (c(w₁,w₂) + 1) / (c(w₁·) + V). Reported as avg_nll
    * rather than perplexity = exp(avg_nll): the monotone transform ranks
    * identically and avoids trusting two engines' exp() to round alike.
    *
    * Determinism: each bigram's nll is rounded to 6 dp FIRST, then summed
    * as DECIMAL(30,6) (exact, partition-order-free — the q64 trick), so
    * the per-doc mean is bit-identical across engines and shuffle
    * layouts.
    *
    * Scale shape: the model is two count aggregations (unigram contexts,
    * bigrams) — map-side partial, no skew beyond natural token frequency;
    * the scoring pass is ONE equi-join of the corpus bigram stream
    * against the model table (1:1 per key — the model side is unique by
    * (w1, w2)), then a per-doc aggregation. Nothing broadcasts unbounded:
    * AQE broadcasts the model only while it is small; at 100 TB the
    * standard move is hashing the vocabulary into a fixed 2^20 bucket
    * space (as q64 documents), which bounds the model table regardless of
    * corpus size. */
  val q67_lm_score: Query = Query(
    s"""WITH $lmCtesSql
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |       ${croundSql("s / n_bigrams")} AS avg_nll
       |FROM sc ORDER BY doc_id""") { (s, dir) =>
    lmScoresOf(s, dir).orderBy("doc_id")
  }

  /** Q67b — CCNet-style perplexity bucketing: per LANGUAGE, docs are cut
    * into head/middle/tail terciles of the q67 bigram-LM score (lower
    * avg_nll = more fluent = head) — the bucket label CCNet's pipeline
    * uses to sample training data toward the fluent end. Docs with < 2
    * tokens have no bigram score and are out of scope (q67's contract).
    *
    * Boundary determinism: tercile thresholds are interpolated
    * quantiles over canonically-rounded scores. A doc's score can only
    * EQUAL a threshold when the quantile lands exactly on an element
    * (zero interpolation fraction or tied neighbors) — in that case
    * both engines compare the identical stored double; a genuinely
    * interpolated threshold lies strictly between adjacent scores, so
    * an ulp of interpolation noise cannot flip any comparison.
    *
    * Scale posture: scoring is q67's plan; the threshold table is
    * |languages| rows (broadcast); the bucket label is a map-side CASE.
    * At 100 TB exact quantile_cont swaps for the q38b GK sketch, the
    * same trade q63 documents. */
  val q67b_ppl_buckets: Query = Query(
    s"""WITH $lmCtesSql,
       |     lm AS (SELECT doc_id, ${croundSql("s / n_bigrams")} AS avg_nll FROM sc),
       |     l AS (SELECT lm.doc_id, d.lang, lm.avg_nll
       |           FROM lm JOIN documents d ON lm.doc_id = d.doc_id),
       |     th AS (SELECT lang, quantile_cont(avg_nll, 1e0/3) AS t1,
       |                   quantile_cont(avg_nll, 2e0/3) AS t2
       |            FROM l GROUP BY lang)
       |SELECT l.doc_id, l.lang, l.avg_nll,
       |       CASE WHEN l.avg_nll <= th.t1 THEN 'head'
       |            WHEN l.avg_nll <= th.t2 THEN 'middle'
       |            ELSE 'tail' END AS ppl_bucket
       |FROM l JOIN th ON l.lang = th.lang
       |ORDER BY l.doc_id""") { (s, dir) =>
    val l = lmScoresOf(s, dir)
      .join(docs(s, dir).select("doc_id", "lang"), "doc_id")
      .select("doc_id", "lang", "avg_nll")
    val th = l.groupBy("lang").agg(
      expr("percentile(avg_nll, 1e0/3)").as("t1"),
      expr("percentile(avg_nll, 2e0/3)").as("t2"))
    l.join(broadcast(th), "lang")
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        when(col("avg_nll") <= col("t1"), "head")
          .when(col("avg_nll") <= col("t2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** Q91 — collocation mining: the top-50 bigrams by LIFT
    * (observed/expected co-occurrence, the exponentiated PMI) with
    * support >= 5. Lift instead of log-PMI keeps the statistic pure
    * rational arithmetic on exact integer counts — no cross-engine
    * transcendental in the ORDERING statistic (the q67 nll already
    * covers the ln() class under 1e-6 rounding; here the round trips
    * through a ranking, so the safer form wins). Ties (equal rounded
    * lift) break on (w1, w2), making the top-50 totally ordered.
    *
    * Scale posture: unigram and bigram counts are map-side-combinable
    * aggregations; the lift join is 1:1 equi on the model keys; the two
    * corpus totals are a 1-row broadcast (scalar-cross whitelist); the
    * final top-50 is a TakeOrdered, never a global sort. */
  val q91_collocations: Query = Query(
    s"""WITH $lmCtesSql,
       |     u AS (SELECT unnest(a) AS w FROM t),
       |     cu AS (SELECT w, count(*) AS c FROM u GROUP BY w),
       |     ntok AS (SELECT count(*) AS n FROM u),
       |     nbg AS (SELECT count(*) AS n FROM bg),
       |     j AS (SELECT c2.w1, c2.w2, c2.c AS support,
       |                  ${croundSql("CAST(c2.c AS DOUBLE) * (SELECT n FROM ntok) * (SELECT n FROM ntok) / (SELECT n FROM nbg) / a.c / b.c")} AS lift
       |           FROM c2 JOIN cu a ON c2.w1 = a.w JOIN cu b ON c2.w2 = b.w
       |           WHERE c2.c >= 5)
       |SELECT w1, w2, support, lift FROM j
       |ORDER BY lift DESC, w1, w2 LIMIT 50""") { (s, dir) =>
    val t = tokenArrays(s, dir)
    val bg = bigramsOf(t)
    // unigram stats come from the WHOLE corpus (the oracle's unfiltered
    // `t` CTE) — single-token docs contribute to cu/ntok even though
    // they produce no bigram.
    //
    // r14 (guide §2.4, the q67 lesson applied here): ntok and nbg are
    // derivable from the MODEL tables — ntok = Σ_w cu.c and
    // nbg = Σ_(w1,w2) c2.c over the PRE-filter bigram counts — so the
    // separate u.agg / bg.agg total branches, each of which re-ran the
    // corpus-sized tokenize+explode scan (exchange reuse cannot fire:
    // a global agg has no hash exchange to share with the groupBy),
    // are gone: 5 documents-scans → 3. Each total rides its count table
    // as an unbounded window sum — a single-partition pass over a
    // MODEL-sized frame (vocabulary / distinct bigrams, bounded at
    // 100 TB by the q64 hash-bucket posture), same exact long
    // arithmetic, while the two saved passes were corpus-sized.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val u = docs(s, dir).select(explode(split(norm, " ")).as("w"))
    val cu = u.groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("ntok", sum("c").over(wAll))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("support"))
      .withColumn("nbg", sum("support").over(wAll))
      .filter(col("support") >= 5)
    c2.join(cu.select(col("w").as("w1"), col("c").as("ca"), col("ntok")), "w1")
      .join(cu.select(col("w").as("w2"), col("c").as("cb")), "w2")
      .select(col("w1"), col("w2"), col("support"),
        cround(col("support").cast("double") * col("ntok") * col("ntok")
          / col("nbg") / col("ca") / col("cb")).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** The q47b eval-set Bloom blob as driver-side bytes — the "model
    * state" handed to the streaming decontamination filter
    * ([[graft.streaming.Streams.decontaminate]]). One aggregated value
    * (~1 MB) crosses the driver, never row data. */
  def evalBloomBlob(s: SparkSession, dir: String): Array[Byte] = {
    val (_, ev) = contaminationSides(s, dir)
    val blob = ev.agg(expr("graft_bloom_agg(g, 1048576L, 8388608L)").as("bf"))
      .head.getAs[Array[Byte]](0)
    // a blob consumer (e.g. a long-lived streaming decontamination job)
    // has no further use for the gram materialization — release it from
    // the registry instead of pinning it for the session lifetime
    Memo.evict("q47grams", s, dir)
    blob
  }

  /** Q71 — the END-TO-END curation pipeline, composed from the already-
    * oracled stages so a reference user sees the whole corpus build as
    * ONE call: per document, the first-applicable disposition in the
    * order a production pipeline applies them —
    *
    *   1. eval_holdout    — last 4% of the id range (q47's cut)
    *   2. dup_exact       — not the min-id doc of its normalized text (q16)
    *   3. dup_near        — not the min-id member of its near-dup cluster
    *                        (q25 pairs restricted to exact-dedup keepers,
    *                        q37 connected components; jaccard is invariant
    *                        under exact duplication, so filtering the full
    *                        pair set to keepers equals re-running near-dup
    *                        on the deduped corpus)
    *   4. contaminated    — shares >= 3 rare trigrams with any eval doc (q47)
    *   5. low_quality     — first failing C4/Gopher filter (q58)
    *   6. kept            — assigned its q49 hash split (train/val/test)
    *
    * The DuckDB oracle replays the SAME composition from the proven
    * per-stage CTE fragments (TextOps.pairCtesSql + the q37 recursive
    * CTE + q47's gram pipeline + q58's signal CTEs), so the cross-engine
    * hash check covers the COMPOSITION, not just the parts.
    *
    * Scale posture: nothing new — every stage is the operator already
    * graded (exact dedup's groupBy(norm) swaps the full text for a
    * digest at 100 TB, the q16 note); the disposition joins are
    * equi-joins on doc_id against frames no bigger than the corpus, and
    * statuses come from ONE pass over the left-joined flags. */
  val q71_curate_corpus: Query = Query(
    s"""WITH RECURSIVE
       | dd AS (SELECT doc_id, lang, $normSql AS norm,
       |               string_split($normSql, ' ') AS a,
       |               ' ' || $normSql || ' ' AS padded FROM documents),
       | cutt AS (SELECT (max(doc_id)+1) * 96 // 100 AS cut FROM documents),
       | kp AS (SELECT norm, min(doc_id) AS keeper FROM dd, cutt
       |        WHERE doc_id < cut GROUP BY norm),
       | ek AS (SELECT dd.doc_id, kp.keeper FROM dd JOIN kp USING (norm), cutt
       |        WHERE dd.doc_id < cut),
       | ${TextOps.pairCtesSql},
       | e AS (SELECT d1, d2 FROM j WHERE jac >= ${TextOps.JaccardTau}),
       | ke AS (SELECT d1, d2 FROM e
       |        JOIN ek ka ON ka.doc_id = e.d1 AND ka.keeper = e.d1
       |        JOIN ek kb ON kb.doc_id = e.d2 AND kb.keeper = e.d2),
       | bi AS (SELECT d1 AS x, d2 AS y FROM ke UNION SELECT d2, d1 FROM ke),
       | verts AS (SELECT DISTINCT x AS v FROM bi),
       | reach(v, r) AS (SELECT v, v FROM verts
       |                 UNION
       |                 SELECT bi.y, reach.r FROM reach JOIN bi ON bi.x = reach.v),
       | comp AS (SELECT v, min(r) AS lbl FROM reach GROUP BY v),
       | ndrop AS (SELECT v AS doc_id FROM comp WHERE v <> lbl),
       | g0 AS (SELECT doc_id, unnest(range(1, len(a)-1)) AS i, a FROM dd WHERE len(a) >= 3),
       | gq AS (SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS gram FROM g0),
       | rare AS (SELECT gram FROM gq GROUP BY gram HAVING count(*) <= 10),
       | gg AS (SELECT gq.doc_id, gq.gram FROM gq JOIN rare USING (gram)),
       | cp AS (SELECT t.doc_id AS train_id, ev.doc_id AS eval_id
       |        FROM gg t JOIN gg ev ON t.gram = ev.gram, cutt c
       |        WHERE t.doc_id < c.cut AND ev.doc_id >= c.cut
       |        GROUP BY 1, 2 HAVING count(*) >= 3),
       | contam AS (SELECT DISTINCT train_id AS doc_id FROM cp),
       | tokq AS (SELECT doc_id, unnest(a) AS w FROM dd),
       | freqq AS (SELECT doc_id, w, count(*) AS c FROM tokq GROUP BY 1, 2),
       | repq AS (SELECT doc_id, count(*) AS n_distinct, max(c) AS top_c FROM freqq GROUP BY 1),
       | fq AS (SELECT dd.doc_id, len(a) AS n_tok,
       |               length(replace(norm, ' ', '')) * 1e0 / len(a) AS atl,
       |               n_distinct * 1e0 / len(a) AS dr,
       |               top_c * 1e0 / len(a) AS ts,
       |               $stopHitsSql AS stop_hits
       |        FROM dd JOIN repq USING (doc_id)),
       | rq AS (SELECT doc_id,
       |               CASE WHEN n_tok < 15 THEN '1_too_short'
       |                    WHEN atl < 3.75e0 OR atl > 5.25e0 THEN '2_bad_tok_len'
       |                    WHEN dr < 0.30e0 THEN '3_repetitive'
       |                    WHEN ts > 0.20e0 THEN '4_dominated'
       |                    WHEN stop_hits = 0 THEN '5_no_stopwords'
       |                    ELSE '6_kept' END AS reason
       |        FROM fq),
       | ssc AS (SELECT dd.doc_id, a FROM dd CROSS JOIN cutt c
       |         LEFT JOIN ek ON ek.doc_id = dd.doc_id
       |         LEFT JOIN ndrop nd ON nd.doc_id = dd.doc_id
       |         WHERE dd.doc_id >= c.cut
       |            OR (dd.doc_id = ek.keeper AND nd.doc_id IS NULL)),
       | ss_t AS (SELECT doc_id, a, len(a) AS n FROM ssc),
       | ss_w AS (SELECT doc_id, i, md5(array_to_string(a[i:i+19], ' ')) AS h
       |          FROM (SELECT doc_id, a, unnest(range(1, n - 18)) AS i FROM ss_t WHERE n >= 20)),
       | ss_dh AS (SELECT h FROM ss_w GROUP BY h HAVING count(*) >= 2),
       | ss_dw AS (SELECT doc_id, i FROM ss_w JOIN ss_dh USING (h)),
       | ss_cov AS (SELECT DISTINCT doc_id, tp
       |            FROM (SELECT doc_id, unnest(range(i, i + 20)) AS tp FROM ss_dw)),
       | ss_cnt AS (SELECT doc_id, count(*) AS n_dup_tok FROM ss_cov GROUP BY 1),
       | ssd AS (SELECT t.doc_id FROM ss_t t LEFT JOIN ss_cnt USING (doc_id)
       |         WHERE ${croundSql("coalesce(n_dup_tok, 0) * 1e0 / n")} >= 0.5),
       | st AS (SELECT dd.doc_id,
       |               CASE WHEN dd.doc_id >= c.cut THEN 'eval_holdout'
       |                    WHEN dd.doc_id <> ek.keeper THEN 'dup_exact'
       |                    WHEN nd.doc_id IS NOT NULL THEN 'dup_near'
       |                    WHEN sd.doc_id IS NOT NULL THEN 'dup_substring'
       |                    WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
       |                    WHEN rq.reason <> '6_kept' THEN 'low_quality'
       |                    ELSE 'kept' END AS status
       |        FROM dd CROSS JOIN cutt c
       |        LEFT JOIN ek ON ek.doc_id = dd.doc_id
       |        LEFT JOIN ndrop nd ON nd.doc_id = dd.doc_id
       |        LEFT JOIN ssd sd ON sd.doc_id = dd.doc_id
       |        LEFT JOIN contam ct ON ct.doc_id = dd.doc_id
       |        LEFT JOIN rq ON rq.doc_id = dd.doc_id)
       |SELECT doc_id, status,
       |       CASE WHEN status = 'kept' THEN
       |         CASE WHEN ${mixSql("doc_id")} % 100 < 90 THEN 'train'
       |              WHEN ${mixSql("doc_id")} % 100 < 95 THEN 'val'
       |              ELSE 'test' END END AS split
       |FROM st ORDER BY doc_id""") { (s, dir) =>
    val d = docs(s, dir)
    val cut = d.agg(expr("(max(doc_id)+1) * 96 div 100").as("cut"))
    val base = d.select(col("doc_id"), norm.as("norm")).crossJoin(broadcast(cut))
    val trainDocs = base.filter(col("doc_id") < col("cut"))
    val keepers = trainDocs.groupBy("norm").agg(min("doc_id").as("keeper"))
    // two consumers each (disposition join + substring scope): persist
    // the tiny per-doc frames so the norm groupBy and the LSH + label
    // propagation subtrees run once — through the memo, whose release
    // paths free them (a bare persist pins its blocks for the session)
    val ek = Memo("q71.ek", s, dir)(
      trainDocs.join(keepers, "norm").select(col("doc_id"), col("keeper")).persist())
    // EXACT pair finder (round 12): q71's oracle replays the exact
    // brute-force pair set, and the q54b 30× episode proved 8×6 MinHash
    // banding loses marginal jac≈τ pairs once the corpus mints them
    // (p≈0.91 per pair) — so the composed pipeline's near-dup stage
    // must be exact too. jaccardPairs IS q25's verified PPJoin frame,
    // memoized: a session running the pipeline after q25/q37 reuses the
    // already-persisted pairs instead of paying a second finder.
    // Banding remains in the operators whose semantics are DECLARED
    // approximate (q26's MinHash demo, q60's incremental dedup).
    val nearDrop = Memo("q71.nearDrop", s, dir) {
      val keeperIds = ek.filter(col("doc_id") === col("keeper")).select("doc_id")
      val kEdges = TextOps.jaccardPairs(s, dir).select(col("d1"), col("d2"))
        .join(keeperIds.select(col("doc_id").as("d1")), "d1")
        .join(keeperIds.select(col("doc_id").as("d2")), "d2")
        .select("d1", "d2")
      val (labels, _) = TextOps.connectedComponents(kEdges)
      labels.filter(col("v") =!= col("lbl"))
        .select(col("v").as("doc_id"), lit(1).as("nd")).persist()
    }
    val contam = {
      val (tr, ev) = contaminationSides(s, dir)
      contaminationPairs(tr, ev)
        .select(col("train_id").as("doc_id")).distinct()
        .withColumn("ct", lit(1))
    }
    val reasons = qualityReasons(s, dir).select(col("doc_id"), col("reason"))
    // substring-dup stage over the DEDUP SURVIVORS (eval holdout +
    // exact keepers not near-dropped): counting windows of already-
    // dropped duplicates would flag every keeper via its own dropped
    // copies. q73's machinery verbatim; threshold on the canonical
    // rounded fraction so the oracle comparison is bit-identical.
    // materialized once: the near-dup labels feed BOTH the disposition
    // join and the substring scope below — without the persist the
    // whole LSH + label-propagation subtree executes twice
    val dedupSurvivorIds = Memo("q71.survivors", s, dir)(base.select(col("doc_id"), col("cut"))
      .join(ek, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .filter(col("doc_id") >= col("cut")
        || (col("doc_id") === col("keeper") && col("nd").isNull))
      .select("doc_id")
      .persist())
    // windows stay a scan-side pass over the full corpus (no join
    // barrier in front of the md5 projection); the survivor scope is a
    // semi-join on the digest rows, same semantics as scoping the docs
    val survivorToks = TextOps.substringToks(d)
      .join(dedupSurvivorIds, Seq("doc_id"), "left_semi")
    val substringDrop = {
      val k = 20
      val wins = TextOps.substringWindows(survivorToks, k)
      val covered = wins.groupBy("h")
        .agg(collect_list(struct(col("doc_id"), col("i"))).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(col("ws")).as("w"))
        .select(col("w.doc_id").as("doc_id"),
          explode(sequence(col("w.i"), col("w.i") + lit(k - 1))).as("tp"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tok"))
      survivorToks.select(col("doc_id"), col("n"))
        .join(covered, Seq("doc_id"))
        .filter(cround(col("n_dup_tok").cast("double") / col("n")) >= 0.5)
        .select(col("doc_id"), lit(1).as("sd"))
    }
    val bucket = expr(s"CAST(${mixExpr("doc_id")} % 100 AS INT)")
    base.select(col("doc_id"), col("cut"))
      .join(ek, Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .join(substringDrop, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(reasons, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") >= col("cut"), "eval_holdout")
          .when(col("doc_id") =!= col("keeper"), "dup_exact")
          .when(col("nd") === 1, "dup_near")
          .when(col("sd") === 1, "dup_substring")
          .when(col("ct") === 1, "contaminated")
          .when(col("reason") =!= "6_kept", "low_quality")
          .otherwise("kept").as("status"))
      .select(col("doc_id"), col("status"),
        when(col("status") === "kept",
          when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
          .as("split"))
      .orderBy("doc_id")
  }

  val all: Map[String, Query] = Map(
    "q47_contamination" -> q47_contamination,
    "q47b_contamination_bloom" -> q47b_contamination_bloom,
    "q48_chunk_pack" -> q48_chunk_pack,
    "q48b_pack_spans" -> q48b_pack_spans,
    "q49_split_assign" -> q49_split_assign,
    "q50_pii_mask" -> q50_pii_mask,
    "q51_repetition" -> q51_repetition,
    "q52_mixture_weights" -> q52_mixture_weights,
    "q55_shuffle_shard" -> q55_shuffle_shard,
    "q56_mixture_resample" -> q56_mixture_resample,
    "q58_corpus_filter" -> q58_corpus_filter,
    "q64_dsir_score" -> q64_dsir_score,
    "q65_token_shard" -> q65_token_shard,
    "q66_corpus_upsert" -> q66_corpus_upsert,
    "q67_lm_score" -> q67_lm_score,
    "q67b_ppl_buckets" -> q67b_ppl_buckets,
    "q91_collocations" -> q91_collocations,
    "q68_chunk_overlap" -> q68_chunk_overlap,
    "q71_curate_corpus" -> q71_curate_corpus)
}
