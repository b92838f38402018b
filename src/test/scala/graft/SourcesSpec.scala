package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.ops.Duels

/** Source/sink coverage (SURVEY.md §2.1): reference-format TSV reading,
  * and CSV/JSON/parquet round-trips preserving schema + values. */
class SourcesSpec extends SparkSpec {

  private val tmp = Files.createTempDirectory("graft-sources").toString

  private val origin = "/root/reference/origin"

  test("reference TSV scan applies the declared schema") {
    assumeFixture(origin)
    val d = Duels.readOrigin(spark, origin)
    assert(d.count() == 518)
    assert(d.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq ==
      Seq("challenger" -> "long", "challenged" -> "long",
        "score" -> "long", "duration" -> "long"))
  }

  test("parquet round-trip preserves schema and rows") {
    val src = Tables.table(spark, "/root/testdata/sf0.001", "customer")
    src.write.mode("overwrite").parquet(s"$tmp/cust_pq")
    val back = spark.read.parquet(s"$tmp/cust_pq")
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("csv round-trip with header and explicit schema") {
    val src = Tables.table(spark, "/root/testdata/sf0.001", "nation")
    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/nation_csv")
    val back = spark.read.schema(src.schema).option("header", "true").csv(s"$tmp/nation_csv")
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("json lines round-trip") {
    val src = Tables.table(spark, "/root/testdata/sf0.001", "region")
    src.write.mode("overwrite").json(s"$tmp/region_json")
    val back = spark.read.schema(src.schema).json(s"$tmp/region_json")
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("orc round-trip preserves schema and rows") {
    val src = Tables.table(spark, "/root/testdata/sf0.001", "supplier")
    src.write.mode("overwrite").orc(s"$tmp/supp_orc")
    val back = spark.read.orc(s"$tmp/supp_orc")
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("binaryFile source ingests raw media blobs with path/length metadata") {
    // the multimodal ingest path upstream of q31: raw image/audio blobs
    // land as files; binaryFile turns a directory into (path, length,
    // content) rows which then join typed metadata by filename — all
    // distributed, content never through the driver
    val mediaDir = Files.createDirectory(java.nio.file.Paths.get(s"$tmp/media"))
    val payloads = (1 to 5).map { i =>
      val bytes = Array.tabulate[Byte](i * 10)(j => ((i * 31 + j) % 127).toByte)
      Files.write(mediaDir.resolve(f"blob_$i%03d.bin"), bytes)
      (f"blob_$i%03d.bin", bytes)
    }
    val rows = spark.read.format("binaryFile").load(s"$tmp/media")
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"), col("length"), col("content"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2))).sortBy(_._1)
    assert(rows.map(_._1).sameElements(payloads.map(_._1)))
    rows.zip(payloads).foreach { case ((n, len, content), (_, expected)) =>
      assert(len == expected.length, n)
      assert(content.sameElements(expected), s"$n content mismatch")
    }
  }

  test("events ts loads as TimestampType under all three shipped encodings; q19 agrees") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val base = Tables.table(spark, "/root/testdata/sf0.001", "events")
    // The generator has shipped ts as TIMESTAMP(NANOS), micros-UTC and
    // micros-NTZ across rounds; materialize each physical variant and
    // assert Tables normalizes all of them to the same TimestampType data.
    base.write.mode("overwrite").parquet(s"$tmp/ev_utc/events.parquet")
    base.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$tmp/ev_ntz/events.parquet")
    // TIMESTAMP(NANOS) arrives as Long nanos under nanosAsLong=true;
    // writing the Long form directly exercises that reader branch.
    base.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(s"$tmp/ev_nanos/events.parquet")
    assert(spark.read.parquet(s"$tmp/ev_ntz/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(s"$tmp/ev_nanos/events.parquet")
      .schema("ts").dataType == LongType)
    val want = graft.queries.EventOps.q19_tumbling_hour
      .fn(spark, "/root/testdata/sf0.001").collect().map(_.toSeq).toSeq
    for (d <- Seq(s"$tmp/ev_utc", s"$tmp/ev_ntz", s"$tmp/ev_nanos")) {
      val loaded = Tables.table(spark, d, "events")
      assert(loaded.schema("ts").dataType == TimestampType, s"dir=$d")
      val got = graft.queries.EventOps.q19_tumbling_hour
        .fn(spark, d).collect().map(_.toSeq).toSeq
      assert(got == want, s"q19 mismatch for $d")
    }
  }

  test("embeddings load under float and double encodings; q17 agrees") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val base = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    base.write.mode("overwrite").parquet(s"$tmp/emb_f/embeddings.parquet")
    base.withColumn("embedding", col("embedding").cast("array<double>"))
      .write.mode("overwrite").parquet(s"$tmp/emb_d/embeddings.parquet")
    assert(spark.read.parquet(s"$tmp/emb_d/embeddings.parquet")
      .schema("embedding").dataType == ArrayType(DoubleType, true))
    def q17(d: String) = graft.queries.VectorOps.q17_cosine_topk
      .fn(spark, d).collect().map(_.toSeq).toSeq
    val want = q17("/root/testdata/sf0.001")
    for (d <- Seq(s"$tmp/emb_f", s"$tmp/emb_d")) {
      assert(Tables.table(spark, d, "embeddings")
        .schema("embedding").dataType == ArrayType(FloatType, true), s"dir=$d")
      assert(q17(d) == want, s"q17 mismatch for $d")
    }
  }

  test("orders/lineitem dates load under NTZ and UTC encodings; q03 agrees") {
    import org.apache.spark.sql.types.TimestampNTZType
    val src = "/root/testdata/sf0.001"
    val d = s"$tmp/rel_utc"
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")) {
      val base = Tables.table(spark, src, t)
      val out = t match {
        case "orders" => base.withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        case "lineitem" => base.withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
        case _ => base
      }
      out.write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    assert(Tables.table(spark, d, "orders")
      .schema("o_orderdate").dataType == TimestampNTZType)
    def q03(dir: String) = graft.queries.Relational.q03_segment_orders
      .fn(spark, dir).collect().map(_.toSeq).toSeq
    assert(q03(d) == q03(src))
  }

  test("orc scan pushes predicates and prunes columns") {
    val src = Tables.table(spark, "/root/testdata/sf0.001", "customer")
    src.write.mode("overwrite").orc(s"$tmp/cust_orc")
    val q = spark.read.orc(s"$tmp/cust_orc")
      .filter(col("c_acctbal") > 5000)
      .select("c_custkey", "c_acctbal")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("c_acctbal"), p)
    assert(q.count() == src.filter(col("c_acctbal") > 5000).count())
  }

  test("DSv2 graft-tsv source equals the csv reader and prunes/pushes in the reader") {
    assumeFixture(origin)
    val v2 = graft.ops.Duels.readOriginV2(spark, origin)
    val v1 = graft.ops.Duels.readOrigin(spark, origin)
    assert(v2.collect().map(_.toSeq).toSet == v1.collect().map(_.toSeq).toSet)
    assert(v2.schema == v1.schema)

    // column pruning reaches the reader: the scan's read schema is the
    // projection, not the full 4-column layout
    val pruned = v2.select("challenger")
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("ReadSchema=challenger") &&
      !prunedPlan.contains("ReadSchema=challenger,challenged"), prunedPlan)

    // filter pushdown: the predicate runs inside the reader (declared
    // fully handled), so NO post-scan Filter node remains in the plan
    val filtered = v2.filter(col("score") > 2000L)
    val fPlan = filtered.queryExecution.executedPlan.toString
    assert(fPlan.contains("GreaterThan(score,2000)") && fPlan.contains("PushedFilters=["), fPlan)
    assert(!fPlan.contains("Filter "), s"pushed predicate must leave no residual Filter:\n$fPlan")
    assert(filtered.count() == v1.filter(col("score") > 2000L).count())
    assert(filtered.count() > 0)

    // a non-pushable predicate stays a residual Catalyst Filter
    val residual = v2.filter(col("score") % 2 === 0)
    val rPlan = residual.queryExecution.executedPlan.toString
    assert(rPlan.contains("Filter "), rPlan)
    assert(residual.count() == v1.filter(col("score") % 2 === 0).count())
  }

  test("DSv2 graft-tsv source parallelizes a sharded directory one partition per file") {
    assumeFixture(s"$origin/origin.txt")
    val shardDir = new java.io.File(s"$tmp/tsv_shards")
    shardDir.mkdirs()
    val lines = scala.io.Source.fromFile(s"$origin/origin.txt")("latin1")
      .getLines().toSeq
    lines.grouped((lines.size + 2) / 3).zipWithIndex.foreach { case (chunk, i) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/tsv_shards/shard$i.tsv"),
        chunk.mkString("\n").getBytes("ISO-8859-1"))
    }
    val v2 = graft.ops.Duels.readOriginV2(spark, s"$tmp/tsv_shards")
    assert(v2.rdd.getNumPartitions == 3, "one input partition per shard file")
    val whole = graft.ops.Duels.readOriginV2(spark, origin)
    assert(v2.collect().map(_.toSeq).toSet == whole.collect().map(_.toSeq).toSet,
      "sharded read equals the single-file read")
  }

  test("partitioned parquet write prunes partitions on read") {
    val src = Tables.table(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("yr", year(col("o_orderdate")))
    src.write.mode("overwrite").partitionBy("yr").parquet(s"$tmp/orders_part")
    val back = spark.read.parquet(s"$tmp/orders_part").filter(col("yr") === 1996)
    val plan = back.queryExecution.executedPlan.toString
    assert(back.count() == src.filter(col("yr") === 1996).count())
    assert(plan.contains("PartitionFilters: [isnotnull(yr"), plan)
  }

  test("dynamic partition pruning: a dimension filter prunes the fact scan at runtime") {
    // the 100 TB posture for star joins: the fact side is partitioned on
    // the join key, the dim side carries the selective predicate, and
    // Spark injects the dim's key set into the fact scan's partition
    // filters AT RUNTIME (no static literal anywhere) — the fact scan
    // reads only matching partitions. Static pruning (test above) covers
    // literal predicates; this covers predicates only a join can deliver.
    import spark.implicits._
    val src = Tables.table(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("yr", year(col("o_orderdate")))
    src.write.mode("overwrite").partitionBy("yr").parquet(s"$tmp/orders_dpp")
    val fact = spark.read.parquet(s"$tmp/orders_dpp")
    // the dim must be a real source (a LocalRelation constant-folds its
    // filter away and the pruning rule sees no selective predicate)
    Seq((1996, "keep"), (1997, "drop")).toDF("yr", "tag")
      .write.mode("overwrite").parquet(s"$tmp/dim_dpp")
    val dim = spark.read.parquet(s"$tmp/dim_dpp")
    val joined = fact.join(dim.filter(col("tag") === "keep"), "yr")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"fact scan must carry a runtime partition filter:\n$plan")
    assert(joined.count() == src.filter(col("yr") === 1996).count())
  }

  test("runtime bloom-filter join: the build side's key bloom filters the probe scan") {
    // the second runtime-pruning shape: when the join key is NOT the
    // partition column, Spark can still build a bloom filter from the
    // (filtered, small) build side and inject might_contain into the
    // probe scan — rows that cannot join die at the scan instead of
    // traveling through the shuffle. Thresholds are sized for real
    // clusters (10 MB build / 10 GB probe), so the fixture forces them
    // down in a sibling session; the assertion is shape + equality.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // keep the join a shuffle join so the filter has a shuffle to save
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = Tables.table(s2, "/root/testdata/sf0.001", "lineitem")
    val ords = Tables.table(s2, "/root/testdata/sf0.001", "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val probe = li.join(ords, col("l_orderkey") === col("o_orderkey"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("bloom"), s"probe side must carry the runtime bloom filter:\n$plan")
    val want = Tables.table(spark, "/root/testdata/sf0.001", "lineitem")
      .join(Tables.table(spark, "/root/testdata/sf0.001", "orders")
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(probe.count() == want)
  }
  test("DSv2 graft-tsv aggregate pushdown: MIN/MAX/COUNT collapse to one partial row per file") {
    assumeFixture(origin)
    val v2 = graft.ops.Duels.readOriginV2(spark, origin)
    val agg = v2.agg(count(lit(1)).as("n"), min("score").as("mn"),
      max("duration").as("mx"), count("challenger").as("nc"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[count_star, min_score, max_duration, count_challenger]"),
      s"aggregates must reach the reader:\n$plan")
    val want = graft.ops.Duels.readOrigin(spark, origin)
      .agg(count(lit(1)), min("score"), max("duration"), count("challenger"))
      .collect().head
    assert(agg.collect().head == want, "pushed partials finalize to the csv reader's answer")
    // composes with pushed filters; a filter that kills every row yields
    // count 0 and NULL extrema (the empty-partition contract)
    val none = v2.filter(col("score") > Long.MaxValue - 1)
      .agg(count(lit(1)).as("n"), min("score").as("mn"))
    val nonePlan = none.queryExecution.executedPlan.toString
    assert(nonePlan.contains("PushedAggregates=[count_star, min_score]"), nonePlan)
    val r = none.collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(1), s"empty partials must finalize to (0, NULL): $r")
    // grouped aggregation is NOT pushed — it stays a normal scan + shuffle agg
    val grouped = v2.groupBy("challenger").agg(min("score"))
    assert(!grouped.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "grouped aggregation must not push")
    assert(grouped.count() == graft.ops.Duels.readOrigin(spark, origin)
      .groupBy("challenger").agg(min("score")).count())
  }
}
