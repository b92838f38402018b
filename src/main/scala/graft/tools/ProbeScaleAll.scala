package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build a FOREIGN-KEY-CONSISTENT K× replica of the whole testdata
  * database (K disjoint shards: every surrogate key offset by
  * rep·stride uniformly across all referencing tables; tiny dims
  * region/nation kept 1×; document text sparse-perturbed and embedding
  * vectors epsilon-perturbed so replicas are distinct content, not
  * byte-copies) — then the ENTIRE bench can run against it:
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/scaleall10 sbt "runMain graft.Bench"
  *
  * This is the sf≈1 evidence the driver's sf0.1 bench can't give:
  * per-query wall/spill for the full 133-query surface at 10× data.
  * Derived /tmp fixture only — correctness oracles keep running
  * exclusively against the driver's testdata. */
object ProbeScaleAll {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.GraftSession.get()
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val base = graft.Bench.DriverSfDir
    val out = s"/tmp/scaleall$k"
    val C = 100000000L // custkey/user stride
    val O = 1000000000L // orderkey stride
    val P = 10000000L // partkey stride
    val S = 1000000L // suppkey stride
    val E = 10000000L // event id stride
    val D = 10000000L // doc id stride

    def rep(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(k).select(col("id").as("rep")))

    def write(name: String, df: DataFrame): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[all] wrote $name")
    }
    def t(n: String): DataFrame = graft.engine.Tables.table(spark, base, n)

    // tiny dims unchanged (their keys are not offset anywhere)
    write("region", t("region"))
    write("nation", t("nation"))
    write("customer", rep(t("customer"))
      .withColumn("c_custkey", col("c_custkey") + col("rep") * C).drop("rep"))
    write("supplier", rep(t("supplier"))
      .withColumn("s_suppkey", col("s_suppkey") + col("rep") * S).drop("rep"))
    write("part", rep(t("part"))
      .withColumn("p_partkey", col("p_partkey") + col("rep") * P).drop("rep"))
    write("orders", rep(t("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * O)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * C).drop("rep"))
    write("lineitem", rep(t("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * O)
      .withColumn("l_partkey", col("l_partkey") + col("rep") * P)
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * S).drop("rep"))
    write("events", rep(t("events"))
      .withColumn("event_id", col("event_id") + col("rep") * E)
      .withColumn("user_id", col("user_id") + col("rep") * C).drop("rep"))
    write("documents", rep(t("documents"))
      .withColumn("doc_id", col("doc_id") + col("rep") * D)
      .withColumn("text", array_join(expr("transform(split(text, ' '), (w, i) -> " +
        "CASE WHEN i % 2 = 0 THEN concat(w, '_s', rep) ELSE w END)"), " "))
      .drop("rep"))
    write("embeddings", rep(t("embeddings"))
      .withColumn("vec_id", col("vec_id") + col("rep") * D)
      // perturb one dimension per replica so vectors are distinct but
      // the geometry (norms, neighborhoods) stays realistic
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> CASE WHEN i = CAST(rep % 64 AS INT) " +
          "THEN x + 0.003f * (rep + 1) ELSE x END)"))
      .drop("rep"))
    println(s"[all] fixture complete at $out")
    spark.stop()
  }
}
