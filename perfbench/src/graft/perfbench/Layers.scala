package graft.perfbench

import scala.collection.mutable

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.{GraftSession, Tables}
import graft.functions.{AdcDot, NearestCells, PqEncode}
import graft.queries.VectorOps
import graft.ops.Duels

/** Per-layer metrics of a traced run, derived from the tracer's spans
  * and listener records. Layers carry the repo's module names; Spark's
  * own planner, scheduler and executor appear as `catalyst`, `sched`
  * and `exec`. Per-pass figures are medians over the traced passes. */
final class Layers(t: Tracer, cores: Int) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def spansOf(pass: Int, name: String): Seq[Span] =
    t.spans.filter(s => s != null && s.pass == pass && s.name == name).toSeq
  private def ids(roots: Seq[Span]): Set[Int] = roots.flatMap(r => t.subtree(r.id).map(_.id)).toSet
  private def jobsIn(spanIds: Set[Int]): Seq[JobRec] = t.jobs.values.filter(j => spanIds(j.span)).toSeq
  private def stagesOf(jobs: Seq[JobRec]): Seq[StageRec] = {
    val js = jobs.map(_.id).toSet
    t.stages.filter(s => t.stageJob.get(s.id).exists(js)).toSeq
  }
  private def tasksOf(jobs: Seq[JobRec]): TaskAgg = {
    val sum = new TaskAgg
    stagesOf(jobs).map(_.id).distinct.flatMap(t.taskAgg.get).foreach { a =>
      sum.tasks += a.tasks; sum.retried += a.retried; sum.runMs += a.runMs; sum.cpuNs += a.cpuNs
      sum.gcMs += a.gcMs; sum.shuffleBytes += a.shuffleBytes; sum.spillBytes += a.spillBytes
      sum.peakMem = math.max(sum.peakMem, a.peakMem)
    }
    sum
  }
  private def phasesWithin(s: Span): Seq[PhaseRec] =
    t.phases.filter(p => p.start >= s.start - 1 && p.start <= s.end).toSeq
  private def jobIv(js: Seq[JobRec]) = js.map(j => (j.start, if (j.end.isNaN) j.start else j.end))
  private def phaseIv(ps: Seq[PhaseRec]) = ps.map(p => (p.start, p.end))

  /** Layers seen from the workload's own traced passes. The tracing
    * overhead compares them with the untraced passes that alternate with
    * them (the first pass, which may still be warming up, excluded). */
  def fromPasses(passIds: Seq[Int], walls: Map[Int, Double], untracedWalls: Seq[Double]): Unit = {
    val per = passIds.map { p =>
      val m = mutable.LinkedHashMap.empty[String, Double]
      val stmts = spansOf(p, "stmt")
      val builds = spansOf(p, "build")
      val actions = spansOf(p, "exec.action")
      val passJobs = jobsIn(ids(stmts))
      val buildJobs = jobsIn(ids(builds))
      val tasks = tasksOf(passJobs)
      val n = math.max(1, stmts.length).toDouble
      m("queries.build_s") = builds.map(_.dur).sum / 1e3
      m("queries.build_self_s") = builds.map { b =>
        val js = jobsIn(ids(Seq(b)))
        b.dur - Tracer.covered(jobIv(js) ++ phaseIv(phasesWithin(b)), b.start, b.end)
      }.sum / 1e3
      m("queries.build_jobs") = buildJobs.length
      m("queries.build_exec_cpu_s") = tasksOf(buildJobs).cpuNs / 1e9
      val ph = stmts.flatMap(phasesWithin)
      m("catalyst.analysis_s") = ph.filter(_.phase == "analysis").map(x => x.end - x.start).sum / 1e3
      m("catalyst.optimizer_s") = ph.filter(_.phase == "optimization").map(x => x.end - x.start).sum / 1e3
      m("catalyst.planning_s") = ph.filter(_.phase == "planning").map(x => x.end - x.start).sum / 1e3
      m("sched.jobs") = passJobs.length / n
      m("sched.stages") = stagesOf(passJobs).length / n
      m("sched.tasks") = tasks.tasks / n
      m("sched.gap_s") = actions.map { a =>
        val st = stagesOf(jobsIn(ids(Seq(a)))).map(s => (s.start, s.end))
        a.dur - Tracer.covered(st ++ phaseIv(phasesWithin(a)), a.start, a.end)
      }.sum / 1e3
      m("sched.task_retry_frac") = if (tasks.tasks == 0) 0.0 else tasks.retried.toDouble / tasks.tasks
      m("exec.cpu_s") = tasks.cpuNs / 1e9
      m("exec.run_s") = tasks.runMs / 1e3
      m("exec.gc_s") = tasks.gcMs / 1e3
      m("exec.busy_frac") = tasks.runMs / 1e3 / (walls(p) * cores)
      m("exec.shuffle_bytes") = tasks.shuffleBytes.toDouble
      m("exec.spill_bytes") = tasks.spillBytes.toDouble
      m("exec.peak_mem_mb") = tasks.peakMem / 1048576.0
      m("stmt.self_s") = stmts.map { s =>
        val kids = t.spans.filter(c => c != null && c.parent == s.id).map(c => (c.start, c.end)).toSeq
        s.dur - Tracer.covered(kids, s.start, s.end)
      }.sum / 1e3
      m
    }
    per.headOption.foreach(_.keys.foreach(k => metrics(k) = median(per.map(_(k)))))
    val traced = median(passIds.map(walls))
    metrics("trace.pass_s") = traced
    metrics("trace.untraced_pass_s") = median(untracedWalls)
    metrics("trace.overhead_frac") = traced / median(untracedWalls) - 1
  }

  /** `engine`: session creation (this JVM's cold set-up) and resolving
    * the 10 tables after Tables.clearCache(), with the jobs that launches. */
  def engine(spark: SparkSession, sfDir: String, sessionS: Double): Unit = {
    t.start(spark)
    (0 until 3).foreach { i =>
      Tables.clearCache()
      t.beginStatement("engine.tables", 2000 + i)
      t.span("engine.tables")(Main.resolveTables(spark, sfDir))
    }
    t.stop(spark)
    val sp = (0 until 3).flatMap(i => spansOf(2000 + i, "engine.tables"))
    metrics("engine.session_s") = sessionS
    metrics("engine.table_s") = median(sp.map(_.dur / 1e3))
    metrics("engine.table_jobs") = median(sp.map(s => jobsIn(Set(s.id)).length.toDouble))
  }

  /** `functions`: each native expression of the sf0.1 near-duplicate
    * and vector queries (q26_minhash_lsh, q79b_ivf_pq), projected
    * alone over its sf0.1 input (replicated and cached first) into the
    * noop sink; executor CPU per input row, median of five. */
  def functions(spark: SparkSession, sf01: String): Unit = {
    def replicate(df: DataFrame, times: Int): DataFrame =
      df.crossJoin(spark.range(times).toDF("rep")).drop("rep")
    val text = replicate(Tables.table(spark, sf01, "documents")
      .select(lower(col("text")).as("text")), 4)
    val grams = text.select(call_function("graft_shingle_hashes", col("text"), lit(5)).as("gs"))
    val vecs = replicate(Tables.table(spark, sf01, "embeddings").select(col("embedding")), 25)
      .select(col("embedding"), VectorOps.gridVec(col("embedding")).as("vn"))
    val (m, ksub, dsub, nlist) = (8, 256, 8, 16)
    val rng = new scala.util.Random(7)
    val cbflat = Array.fill(m * ksub * dsub)(rng.nextInt(2000000).toLong - 1000000L)
    val lut = Array.fill(m * ksub)(rng.nextInt(1000000).toLong)
    val cells = Array.fill(nlist, 64)(rng.nextInt(20000000).toLong - 10000000L)
    val codes = vecs.select(PqEncode.pqEncode(col("embedding"), cbflat, ksub, dsub).as("codes"))
    val cached = Seq(text, grams, vecs, codes).map(_.persist(StorageLevel.MEMORY_ONLY))
    val rows = cached.map(_.count())
    val cases: Seq[(String, DataFrame, Long)] = Seq(
      ("graft_shingle_hashes", text.select(call_function("graft_shingle_hashes", col("text"), lit(5))), rows(0)),
      ("graft_minhashes", grams.select(call_function("graft_minhashes", col("gs"))), rows(1)),
      ("graft_nearest_cells_grid", vecs.select(NearestCells.nearestCellsGrid(col("vn"), cells, 1)), rows(2)),
      ("graft_pq_encode", vecs.select(PqEncode.pqEncode(col("embedding"), cbflat, ksub, dsub)), rows(2)),
      ("graft_adc_dot", codes.select(AdcDot.adcDot(typedlit(lut), col("codes"), ksub)), rows(3)))
    t.start(spark)
    cases.zipWithIndex.foreach { case ((name, df, n), i) =>
      val ns = (0 until 5).map { r =>
        val pass = 3000 + 10 * i + r
        t.beginStatement(name, pass)
        t.span("functions")(df.write.format("noop").mode("overwrite").save())
        t.drain()
        tasksOf(jobsIn(ids(spansOf(pass, "functions")))).cpuNs.toDouble / n
      }
      metrics(s"functions.$name.ns_per_row") = median(ns)
    }
    t.stop(spark)
    cached.foreach(_.unpersist())
  }

  /** `sources`: a full TSV scan of the duels log into the noop sink. */
  def sources(spark: SparkSession, dir: String): Unit = {
    val rows = Duels.readOriginV2(spark, dir).count()
    val scans = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Duels.readOriginV2(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    metrics("sources.scan_s") = median(scans)
    metrics("sources.rows_per_s") = rows / median(scans)
    metrics("sources.partitions") = Duels.readOriginV2(spark, dir).rdd.getNumPartitions
  }

  /** `ops`, `golden` and the output sink, from traced duels pipeline
    * passes. */
  def ops(passIds: Seq[Int], pipelines: Map[Int, DuelsPipeline]): Unit = {
    val r1r5 = Set("r1_challenger", "r1_challenged", "r2_argmax", "r3_avg", "r4_pairs", "r5_frequent")
    val per = passIds.map { p =>
      val stmts = spansOf(p, "stmt")
      val fpBuild = spansOf(p, "build").filter(_.stmt == "r6_r8_fixedpoint")
      val rounds = pipelines(p).rounds.toDouble
      val fpS = fpBuild.map(_.dur).sum / 1e3
      Map(
        "ops.r1_r5_s" -> stmts.filter(s => r1r5(s.stmt)).map(_.dur).sum / 1e3,
        "ops.fixedpoint_s" -> fpS,
        "ops.rounds" -> rounds,
        "ops.round_s" -> fpS / rounds,
        "ops.jobs_per_round" -> jobsIn(ids(fpBuild)).length / rounds,
        "golden.format_s" -> spansOf(p, "golden.format").map(_.dur).sum / 1e3,
        "sink.write_s" -> spansOf(p, "sink.write").map(_.dur).sum / 1e3,
        "sink.bytes" -> pipelines(p).bytesWritten.toDouble)
    }
    per.headOption.foreach(_.keys.foreach(k => metrics(k) = median(per.map(_(k)))))
  }
}

/** The `functions` layer alone, in a JVM of its own that keeps the
  * default tiered compilation: the harness JVM runs C1 only, and a
  * native expression's cost per row is the figure C2 moves most.
  * Usage: FunctionsLayer SF0.1_DIR RESULT.json */
object FunctionsLayer {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val layers = new Layers(new Tracer(spark.sparkContext), spark.sparkContext.defaultParallelism)
    layers.functions(spark, args(0))
    spark.stop()
    Files.writeString(Paths.get(args(1)), Json.value(layers.metrics))
  }
}
