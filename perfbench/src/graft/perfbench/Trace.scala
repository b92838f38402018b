package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond resolution, on the same clock as Spark's event times. */
final case class Span(id: Int, parent: Int, name: String, stmt: String, pass: Int,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** What the Spark listeners saw, keyed so that each job, stage and task
  * can be charged to the span that was open when its job started. */
final case class JobRec(id: Int, span: Int, start: Double, var end: Double)
final case class StageRec(id: Int, start: Double, end: Double)
final class TaskAgg {
  var tasks = 0L; var retried = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var peakMem = 0L
}
final case class PhaseRec(phase: String, start: Double, end: Double)

/** In-memory trace of one run: spans recorded by the harness around each
  * layer call, plus job/stage/task and Catalyst-phase records from
  * Spark's public listener APIs. Nothing is written until the run ends. */
final class Tracer(sc: SparkContext) {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val taskAgg = mutable.HashMap.empty[Int, TaskAgg]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]

  private var open: List[Int] = Nil
  private var stmt = ""
  private var pass = -1
  var enabled = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .map(_.toInt).getOrElse(-1)
      Tracer.this.synchronized {
        jobs(e.jobId) = JobRec(e.jobId, tag, e.time.toDouble, Double.NaN)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) Tracer.this.synchronized {
        stages += StageRec(i.stageId, s.toDouble, c.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = taskAgg.getOrElseUpdate(e.stageId, new TaskAgg)
      a.tasks += 1
      if (e.taskInfo.attemptNumber > 0 || e.taskInfo.failed || e.stageAttemptId > 0) a.retried += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    // Phase times have millisecond resolution, and re-analysing an
    // already analysed plan takes well under 1 ms: the analysis phase is
    // stretched to at least the analyzer rules' own (nanosecond) time.
    private def record(qe: QueryExecution): Unit = {
      val analyzerNs = qe.tracker.rules.collect {
        case (rule, r) if rule.contains(".analysis.") => r.totalTimeNs }.sum
      val ph = qe.tracker.phases.toSeq.map { case (p, s) =>
        val end = if (p == "analysis") math.max(s.endTimeMs.toDouble, s.startTimeMs + analyzerNs / 1e6)
          else s.endTimeMs.toDouble
        PhaseRec(p, s.startTimeMs.toDouble, end)
      }
      Tracer.this.synchronized(phases ++= ph)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Attach the listeners; everything between [[start]] and [[stop]] is
    * traced. Untraced passes run with no listener registered at all. */
  def start(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  def stop(spark: org.apache.spark.sql.SparkSession): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    enabled = false
  }

  /** Wait until Spark has delivered every queued listener event. */
  def drain(): Unit = org.apache.spark.graft.BusDrain.drain(sc)

  def beginStatement(name: String, passNo: Int): Unit = { stmt = name; pass = passNo }

  /** Time `body` as a call into `name`. When tracing is off this is a
    * plain call: no clock read, nothing recorded. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += null
    open = id :: open
    sc.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      spans(id) = Span(id, parent, name, stmt, pass, t0, t1)
      open = open.tail
      sc.setLocalProperty(Tracer.Prop, open.headOption.map(_.toString).orNull)
    }
  }

  /** Spans whose ancestor chain includes `root` (and root itself). */
  def subtree(root: Int): Seq[Span] = {
    val ids = mutable.HashSet(root)
    spans.iterator.filter { s =>
      if (s.id == root || ids.contains(s.parent)) { ids += s.id; true } else false
    }.toSeq
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
