package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Profiles registered queries (the [[graft.SparkEntry.queries]] map, so
  * no query body is ever copied here):
  *
  *   tools/run.sh graft.tools.Profile <sfDir> <query…> [--reps N] [--ab k=v1|v2]
  *
  * Each run starts from reset memo caches, builds the query inside the
  * timed window — jobs a query launches while its plan is built, such
  * as size-gate counts, are counted — and writes it to the noop sink.
  * The listener bus is drained through BusDrain before the counters are
  * read. Per run it prints wall, executor CPU, jobs, stages, spill,
  * shuffle bytes (read + write) and peak task execution memory; per
  * query the min-of-N run and that run's per-stage table. A run whose
  * query throws is logged as failed and the remaining runs go on.
  *
  * The run loop ([[runQueries]]) is shared with graft.Bench, which runs
  * every query [[DefaultReps]] times through it and commits the min-wall
  * run. Bench passes a `setup` hook that prebuilds the shared frame an
  * incremental query rides, after the reset and outside the timed
  * window; the CLI passes none, so every CLI run pays its composed-cold
  * cost.
  *
  * `--ab k=v1|v2` alternates the values of one runtime SQL conf run by
  * run in one JVM and restores the session's own value after each run.
  * Static settings come from SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM and
  * SPARK_GRAFT_BYPASS, as for every other entry point. */
object Profile {

  /** Runs per query: the CLI's `--reps` default and graft.Bench's fixed
    * count. The first run carries the JVM's first-touch costs (class
    * loading, codegen, JIT), and min-of-N discards it. */
  val DefaultReps = 3

  type QueryFn = (SparkSession, String) => DataFrame

  final case class Stage(id: Int, cpuS: Double, runS: Double, gcS: Double,
      shuffleBytes: Long, spill: Long, rowsIn: Long, tasks: Int)

  /** One timed run; a run whose query threw carries the error, a NaN
    * wall and no figures. */
  final case class Run(query: String, variant: Option[String], rep: Int,
      wallS: Double, jobs: Int, stages: Seq[Stage], peakMem: Long,
      error: Option[Throwable] = None) {
    def ok: Boolean = error.isEmpty
    def cpuS: Double = stages.map(_.cpuS).sum
    def gcS: Double = stages.map(_.gcS).sum
    def spill: Long = stages.map(_.spill).sum
    def shuffleBytes: Long = stages.map(_.shuffleBytes).sum
  }

  /** The min-wall run among those that did not fail. */
  def best(runs: Seq[Run]): Option[Run] = runs.filter(_.ok).minByOption(_.wallS)

  /** Drops every memo cache a query run can leave behind (the session
    * [[graft.engine.Memo]], Tables' cached frames, the catalog cache), so
    * the next timed run pays its own builds. */
  private[graft] def resetCaches(spark: SparkSession): Unit = {
    graft.engine.Memo.reset()
    graft.engine.Tables.clearCache()
    spark.catalog.clearCache()
  }

  private final class Listener extends SparkListener {
    val jobs = new AtomicInteger
    val peakMem = new AtomicLong
    private val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(t.taskMetrics).foreach(m => peakMem.getAndAccumulate(m.peakExecutionMemory, math.max))
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      Option(si.taskMetrics).foreach { m =>
        val st = Stage(si.stageId, m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
          m.jvmGCTime / 1e3,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead, si.numTasks)
        stages.synchronized(stages += st)
      }
    }
    def reset(): Unit = { jobs.set(0); peakMem.set(0); stages.synchronized(stages.clear()) }
    def snapshot(): Seq[Stage] = stages.synchronized(stages.toList)
  }

  /** [[runQueries]] over registered queries, by name. */
  def run(spark: SparkSession, dir: String, queries: Seq[String], reps: Int,
      ab: Option[(String, Seq[String])] = None,
      log: String => Unit = println): Seq[Run] = {
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    runQueries(spark, dir, queries.map(q => q -> SparkEntry.queries(q)), reps, ab, log)
  }

  /** Runs each query `reps` times (each rep once per `--ab` value),
    * logging every run and each query's min-of-N summary; returns every
    * run in order. `setup(query)` runs before each timed run, after the
    * cache reset and outside the timed window. */
  def runQueries(spark: SparkSession, dir: String, queries: Seq[(String, QueryFn)],
      reps: Int, ab: Option[(String, Seq[String])] = None,
      log: String => Unit = println, setup: String => Unit = _ => ()): Seq[Run] = {
    ab.foreach { case (k, _) =>
      require(spark.conf.isModifiable(k), s"$k is not a runtime SQL conf; static " +
        "settings come from SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM and SPARK_GRAFT_BYPASS")
    }
    val variants = ab.fold(Seq(Option.empty[String]))(_._2.map(Some(_)))
    def tag(v: Option[String]): String =
      ab.map(_._1).zip(v).fold("") { case (k, x) => s" [$k=$x]" }
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    try queries.flatMap { case (q, fn) =>
      val runs = for (rep <- 1 to reps; v <- variants) yield {
        val r = withConf(spark, ab.map(_._1).zip(v))(
          once(spark, dir, q, fn, v, rep, listener, setup))
        log(s"[profile] $q${tag(v)} #$rep ${figures(r)}")
        r
      }
      variants.foreach { v =>
        best(runs.filter(_.variant == v)) match {
          case None => log(s"[profile] $q${tag(v)} every run failed")
          case Some(b) =>
            log(s"[profile] $q${tag(v)} min-of-$reps (#${b.rep}) ${figures(b)}")
            log("[profile]   stage  cpu_s  run_s  shufMB  spillMB    rowsIn tasks  (top 12 by cpu)")
            b.stages.sortBy(-_.cpuS).take(12).foreach { st =>
              log(f"[profile] ${st.id}%7d ${st.cpuS}%6.2f ${st.runS}%6.2f ${mb(st.shuffleBytes)}%7.1f " +
                f"${mb(st.spill)}%8.1f ${st.rowsIn}%9d ${st.tasks}%5d")
            }
        }
      }
      runs
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def mb(bytes: Long): Double = bytes / 1e6

  private def figures(r: Run): String = r.error.fold(
    f"wall ${r.wallS}%.3f s cpu ${r.cpuS}%.3f s jobs ${r.jobs} stages ${r.stages.size} " +
      f"spill ${mb(r.spill)}%.1f MB shuffle ${mb(r.shuffleBytes)}%.1f MB peak ${mb(r.peakMem)}%.1f MB"
  )(e => s"failed: $e")

  /** Sets `k=v` for the body's duration, then restores the session's own
    * value (or unsets it if the session had none). */
  private def withConf[T](spark: SparkSession, kv: Option[(String, String)])(body: => T): T =
    kv.fold(body) { case (k, v) =>
      val before = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try body finally before.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }

  private def once(spark: SparkSession, dir: String, q: String, fn: QueryFn,
      variant: Option[String], rep: Int, listener: Listener, setup: String => Unit): Run = {
    resetCaches(spark)
    // any Throwable: a query that overflows the stack while planning, or
    // runs the driver out of heap, is that query's failure, not the run's
    try {
      setup(q)
      BusDrain.drain(spark.sparkContext)
      listener.reset()
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      BusDrain.drain(spark.sparkContext)
      Run(q, variant, rep, wall, listener.jobs.get, listener.snapshot(), listener.peakMem.get)
    } catch { case e: Throwable => Run(q, variant, rep, Double.NaN, 0, Nil, 0L, Some(e)) }
  }

  private val usage =
    "usage: graft.tools.Profile <sfDir> <query...> [--reps N] [--ab k=v1|v2]"

  def main(args: Array[String]): Unit = {
    def parse(a: List[String], pos: Vector[String], reps: Int,
        ab: Option[(String, Seq[String])]): (Vector[String], Int, Option[(String, Seq[String])]) =
      a match {
        case "--reps" :: n :: rest => parse(rest, pos, n.toInt, ab)
        case "--ab" :: kv :: rest if kv.contains('=') =>
          val (k, vs) = kv.splitAt(kv.indexOf('='))
          parse(rest, pos, reps, Some(k -> vs.drop(1).split('|').toSeq))
        case flag :: _ if flag.startsWith("--") => sys.error(usage)
        case x :: rest => parse(rest, pos :+ x, reps, ab)
        case Nil => (pos, reps, ab)
      }
    val (pos, reps, ab) = parse(args.toList, Vector.empty, DefaultReps, None)
    if (pos.size < 2 || reps < 1) { System.err.println(usage); sys.exit(2) }
    val spark = graft.engine.GraftSession.get()
    val runs = try run(spark, pos.head, pos.tail, reps, ab) finally spark.stop()
    if (runs.exists(!_.ok)) sys.exit(1)
  }
}
