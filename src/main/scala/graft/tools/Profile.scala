package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Profiles registered queries (the [[graft.SparkEntry.queries]] map, so
  * no query body is ever copied here):
  *
  *   tools/run.sh graft.tools.Profile <sfDir> <query…> [--reps N] [--ab k=v1|v2]
  *
  * Each run starts from reset memo caches (as in graft.Bench), builds
  * the query inside the timed window — jobs a query launches while its
  * plan is built, such as size-gate counts, are counted — and writes it
  * to the noop sink. The listener bus is drained through BusDrain before
  * the counters are read. Per run it prints wall, executor CPU, jobs,
  * stages, spill, shuffle bytes (read + write) and peak task execution
  * memory; per query the min-of-N run and that run's per-stage table.
  * Unlike graft.Bench no query rides a prewarmed shared frame: every run
  * pays its composed-cold cost.
  *
  * `--ab k=v1|v2` alternates the values of one runtime SQL conf run by
  * run in one JVM and restores the session's own value after each run.
  * Static settings come from SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM and
  * SPARK_GRAFT_BYPASS, as for every other entry point. */
object Profile {

  final case class Stage(id: Int, cpuS: Double, runS: Double,
      shuffleBytes: Long, spill: Long, rowsIn: Long, tasks: Int)

  final case class Run(query: String, variant: Option[String], rep: Int,
      wallS: Double, jobs: Int, stages: Seq[Stage], peakMem: Long) {
    def cpuS: Double = stages.map(_.cpuS).sum
    def spill: Long = stages.map(_.spill).sum
    def shuffleBytes: Long = stages.map(_.shuffleBytes).sum
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
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead, si.numTasks)
        stages.synchronized(stages += st)
      }
    }
    def reset(): Unit = { jobs.set(0); peakMem.set(0); stages.synchronized(stages.clear()) }
    def snapshot(): Seq[Stage] = stages.synchronized(stages.toList)
  }

  /** Runs each query `reps` times (each rep once per `--ab` value),
    * logging every run and each query's min-of-N summary; returns every
    * run in order. */
  def run(spark: SparkSession, dir: String, queries: Seq[String], reps: Int,
      ab: Option[(String, Seq[String])] = None,
      log: String => Unit = println): Seq[Run] = {
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    ab.foreach { case (k, _) =>
      require(spark.conf.isModifiable(k), s"$k is not a runtime SQL conf; static " +
        "settings come from SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM and SPARK_GRAFT_BYPASS")
    }
    val variants = ab.fold(Seq(Option.empty[String]))(_._2.map(Some(_)))
    def tag(v: Option[String]): String =
      ab.map(_._1).zip(v).fold("") { case (k, x) => s" [$k=$x]" }
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    try queries.flatMap { q =>
      val runs = for (rep <- 1 to reps; v <- variants) yield {
        val r = withConf(spark, ab.map(_._1).zip(v))(once(spark, dir, q, v, rep, listener))
        log(s"[profile] $q${tag(v)} #$rep ${figures(r)}")
        r
      }
      variants.foreach { v =>
        val best = runs.filter(_.variant == v).minBy(_.wallS)
        log(s"[profile] $q${tag(v)} min-of-$reps (#${best.rep}) ${figures(best)}")
        log("[profile]   stage  cpu_s  run_s  shufMB  spillMB    rowsIn tasks  (top 12 by cpu)")
        best.stages.sortBy(-_.cpuS).take(12).foreach { st =>
          log(f"[profile] ${st.id}%7d ${st.cpuS}%6.2f ${st.runS}%6.2f ${mb(st.shuffleBytes)}%7.1f " +
            f"${mb(st.spill)}%8.1f ${st.rowsIn}%9d ${st.tasks}%5d")
        }
      }
      runs
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def mb(bytes: Long): Double = bytes / 1e6

  private def figures(r: Run): String =
    f"wall ${r.wallS}%.3f s cpu ${r.cpuS}%.3f s jobs ${r.jobs} stages ${r.stages.size} " +
      f"spill ${mb(r.spill)}%.1f MB shuffle ${mb(r.shuffleBytes)}%.1f MB peak ${mb(r.peakMem)}%.1f MB"

  /** Sets `k=v` for the body's duration, then restores the session's own
    * value (or unsets it if the session had none). */
  private def withConf[T](spark: SparkSession, kv: Option[(String, String)])(body: => T): T =
    kv.fold(body) { case (k, v) =>
      val before = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try body finally before.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }

  private def once(spark: SparkSession, dir: String, q: String, variant: Option[String],
      rep: Int, listener: Listener): Run = {
    graft.Bench.resetCaches(spark)
    BusDrain.drain(spark.sparkContext)
    listener.reset()
    val t0 = System.nanoTime()
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    BusDrain.drain(spark.sparkContext)
    Run(q, variant, rep, wall, listener.jobs.get, listener.snapshot(), listener.peakMem.get)
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
    val (pos, reps, ab) = parse(args.toList, Vector.empty, 3, None)
    if (pos.size < 2 || reps < 1) { System.err.println(usage); sys.exit(2) }
    val spark = graft.engine.GraftSession.get()
    try run(spark, pos.head, pos.tail, reps, ab)
    finally spark.stop()
  }
}
