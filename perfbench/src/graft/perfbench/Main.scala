package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.{GraftSession, Tables}
import graft.ops.Duels

/** Benchmark harness: one JVM runs one workload for a fixed time and
  * writes a JSON record of what it measured. `perfbench/run.py` builds
  * this, prepares the inputs, launches it and turns the record into the
  * benchmark's result line.
  *
  * Closed loop, one client thread: each statement starts only after the
  * previous one returned. A statement starts at the call into its
  * builder and ends when its action returns; caches are reset between
  * statements, untimed. Usage:
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR [--duels DIR] --work DIR --result FILE
  *     [--setup-only 1] [--min-passes 3|4]
  *
  * It sets up once (session, tables, one warm statement) and records
  * when set-up ended, so run.py can time set-up from the JVM's launch;
  * with `--setup-only 1` it stops there. Then it runs at least
  * `--min-passes` timed passes (3, or 4 when traced: untraced and traced
  * passes alternate), and starts another only while that is expected to
  * end within S seconds of the first. run.py runs this JVM with C1
  * only, which is flat from a workload's second pass: the short mix's
  * check pass warms its statements up; the duels pipeline's first timed
  * pass runs cold, and the median over passes discounts it.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: Path, duels: Option[Path], work: Path, result: Path, setupOnly: Boolean,
      minPasses: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("data")), m.get("duels").map(Paths.get(_)), Paths.get(need("work")),
      Paths.get(need("result")), m.get("setup-only").contains("1"),
      m.get("min-passes").map(_.toInt).getOrElse(if (need("trace") == "1") 4 else 3))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads(o.workload)
    if (w.isEmpty) { System.err.println(s"unknown workload ${o.workload}"); sys.exit(2) }
    val wl = w.get
    Files.createDirectories(o.work)
    val rec = new Json.Obj
    rec("workload") = o.workload
    rec("seed") = o.seed
    rec("trace") = o.trace
    rec("host") = Host.describe()

    val sfDir = o.data.resolve(wl.sf).toString
    val sf001 = o.data.resolve("sf0.01").toString
    val duelsIn = o.duels.map(_.toString)
    var spark: SparkSession = null
    def reset(): Unit = {
      graft.queries.TextOps.resetCaches()
      Tables.clearCache()
      spark.catalog.clearCache()
    }

    /** Set-up: session, table resolution, one warm statement. Returns
      * the seconds of the first two. */
    def setUp(): (Double, Double) = {
      val t0 = System.nanoTime()
      spark = GraftSession.get()
      val t1 = System.nanoTime()
      resolveTables(spark, sfDir)
      if (wl.duels) duelsIn.foreach(d => Duels.readOriginV2(spark, d).schema)
      val t2 = System.nanoTime()
      warm(spark, wl, sf001, duelsIn)
      reset()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val (sessionS, tablesS) = setUp()
    rec("setup_end_ms") = System.currentTimeMillis()
    rec("setup_session_s") = sessionS
    rec("setup_tables_s") = tablesS
    if (o.setupOnly) {
      spark.stop()
      Files.writeString(o.result, rec.render)
      return
    }

    val tracer = new Tracer(spark.sparkContext)
    val failed = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    // ── untimed check pass (short mix): every statement's output as
    // parquet, for run.py's canonical-hash check. The duels pipeline is
    // checked after the timed phase, on the output of its last pass. ──
    val checkDir = o.work.resolve("check")
    val checked = mutable.ArrayBuffer.empty[String]
    val t0check = System.nanoTime()
    if (!wl.duels) wl.statements.foreach { name =>
      attempted += 1
      reset()
      try {
        SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite")
          .parquet(checkDir.resolve(name).toString)
        checked += name
      } catch { case NonFatal(e) => failed += s"check $name: $e" }
    }
    rec("check_dir") = checkDir.toString
    rec("checked") = checked.toSeq
    if (!wl.duels) rec("check_s") = (System.nanoTime() - t0check) / 1e9

    // ── timed phase: whole passes over the statement list ──
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val rnd = new Random(o.seed)
    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val tracedPassIds = mutable.ArrayBuffer.empty[Int]
    val pipelines = mutable.HashMap.empty[Int, DuelsPipeline]
    val phaseStart = System.nanoTime()
    def elapsed = (System.nanoTime() - phaseStart) / 1e9
    def more: Boolean = passes.length < o.minPasses ||
      elapsed + passWalls.sorted.apply(passWalls.length / 2) <= o.seconds
    while (more) {
      val passNo = passes.length
      val traced = o.trace && passNo % 2 == 1
      val (stmts, pipeline) =
        if (wl.duels) {
          val p = new DuelsPipeline(spark, duelsIn.get, o.work.resolve("out"))
          (p.statements, Some(p))
        } else (rnd.shuffle(wl.statements).map(n => n -> mixStatement(spark, n, sfDir)), None)
      if (traced) { tracer.start(spark); tracedPassIds += passNo }
      val lat = mutable.ArrayBuffer.empty[(String, Double)]
      val cpu0 = cpuBean.getProcessCpuTime
      val p0 = System.nanoTime()
      stmts.foreach { case (name, run) =>
        if (!wl.duels) reset()
        attempted += 1
        tracer.beginStatement(name, passNo)
        val t = System.nanoTime()
        try tracer.span("stmt")(run(tracer))
        catch { case NonFatal(e) => failed += s"$name: $e" }
        lat += name -> (System.nanoTime() - t) / 1e9
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      if (traced) tracer.stop(spark)
      pipeline.foreach { p => pipelines(passNo) = p; p.cleanup() }
      if (!wl.duels) reset()
      val po = new Json.Obj
      po("wall") = wall
      po("cpu") = cpu
      po("traced") = traced
      po("stmts") = lat.map { case (n, l) => Seq[Any](n, l) }.toSeq
      passes += po
      passWalls += wall
    }
    rec("passes") = passes.toSeq
    rec("timed_s") = elapsed

    if (wl.duels) {
      val t0 = System.nanoTime()
      val rounds = pipelines.values.map(_.rounds).toSeq.distinct
      val oracle = new DuelsOracle(Paths.get(duelsIn.get), DuelsPipeline.Alpha, DuelsPipeline.Eps)
      failed ++= oracle.check(o.work.resolve("out"), pipelines(passes.length - 1).rounds).map("check " + _)
      if (rounds.length != 1) failed += s"check rounds differ between passes: $rounds"
      rec("rounds") = rounds.head
      rec("check_s") = (System.nanoTime() - t0) / 1e9
    }

    // ── live heap after the timed phase ──
    reset()
    System.gc(); System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    rec("live_heap_mb") = mem.getUsed / 1048576.0

    if (o.trace) {
      val cores = spark.sparkContext.defaultParallelism
      val layers = new Layers(tracer, cores)
      val untraced = passWalls.indices.drop(1).filterNot(tracedPassIds.contains).map(passWalls)
      layers.fromPasses(tracedPassIds.toSeq, tracedPassIds.map(i => i -> passWalls(i)).toMap, untraced)
      layers.engine(spark, sf001, sessionS)
      duelsIn.foreach { d =>
        layers.sources(spark, d)
        if (wl.duels) layers.ops(tracedPassIds.toSeq, pipelines.toMap)
        else {
          // short-mix never calls the ops layer: measure it on the same
          // seeded duels log, one traced pipeline pass
          val p = new DuelsPipeline(spark, d, o.work.resolve("probe"))
          val passNo = 1000
          tracer.start(spark)
          p.statements.foreach { case (n, f) =>
            tracer.beginStatement(n, passNo)
            tracer.span("stmt")(f(tracer))
          }
          tracer.stop(spark)
          p.cleanup()
          layers.ops(Seq(passNo), Map(passNo -> p))
        }
      }
      Json.writeSpans(o.work.resolve("spans.jsonl"), tracer.spans.toSeq)
      // warm re-setups: the same set-up again in this JVM after stopping
      // its session, with classes loaded and code compiled
      val resetups = (0 until 3).map { _ =>
        reset()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        val t = System.nanoTime()
        setUp()
        (System.nanoTime() - t) / 1e9
      }
      layers.metrics("engine.resetup_s") = resetups.sorted.apply(1)
      rec("layers") = layers.metrics
    }

    rec("attempted") = attempted
    rec("failed") = failed.toSeq
    spark.stop()
    Files.writeString(o.result, rec.render)
  }

  /** Resolve every table present in the data directory (file listing
    * and footer read), as the first statement of a session would. */
  def resolveTables(spark: SparkSession, sfDir: String): Unit =
    Tables.names.filter(n => Files.exists(Paths.get(sfDir, s"$n.parquet")))
      .foreach(n => Tables.table(spark, sfDir, n).schema)

  /** The short mix's timed statement: builder call, then the action into the
    * noop sink so every projected column is computed. */
  def mixStatement(spark: SparkSession, name: String, sfDir: String): Tracer => Unit = {
    val fn = SparkEntry.queries(name)
    t => {
      val df = t.span("build")(fn(spark, sfDir))
      t.span("exec.action")(df.write.format("noop").mode("overwrite").save())
    }
  }

  /** One light warm statement, so class loading and the first code
    * generation are part of set-up. */
  private def warm(spark: SparkSession, wl: Workload, sf001: String, duelsIn: Option[String]): Unit =
    if (wl.duels) Duels.readOriginV2(spark, duelsIn.get).write.format("noop").mode("overwrite").save()
    else mixStatement(spark, Workloads.warmStatement, sf001)(new Tracer(spark.sparkContext))
}

/** Host descriptor recorded with every result. */
object Host {
  def describe(): Json.Obj = {
    val o = new Json.Obj
    o("nproc") = Runtime.getRuntime.availableProcessors()
    o("spark_cores") = GraftSession.cpus
    o("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    o("load_avg_start") = read("/proc/loadavg").split(" ").headOption.map(_.toDouble).getOrElse(-1.0)
    o
  }
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case NonFatal(_) => "" }
}
