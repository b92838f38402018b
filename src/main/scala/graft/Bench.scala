package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession
import graft.tools.Profile

/** Benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query wall
  * seconds. Results are materialized through the noop sink so the full
  * plan (all projected columns) executes — `count()` would let Catalyst
  * prune most of the work and flatter the numbers. Passing query names
  * as args restricts the run to that subset (local iteration aid; the
  * driver always runs the full set).
  *
  * Measurement is graft.tools.Profile's run loop: each query runs
  * [[Profile.DefaultReps]] times, every run from reset caches, and the
  * artifact commits the min-wall run with that run's metrics. The first
  * run doubles as the query's warm-up (class loading, codegen, JIT) and
  * min-of-N discards it; host noise that stretches one run is discarded
  * the same way, and `attempt_secs` keeps every wall. Because every
  * number is the query's own self-contained cost, it is
  * order-independent and free of accumulated memory pressure.
  *
  * A query any of whose runs fails records NO time: it is listed in
  * `errors`, `n_ok` counts the timed queries (so totals are only
  * compared across equal query sets), and the exit code flips to 1
  * (loud, but the artifact still lands).
  *
  * One deliberate exception to the reset rule: some queries consume a
  * frame another query builds, and in any real session the memoized
  * frame is shared — so the bench pre-builds it UNTIMED after the reset
  * and times the consumer as the INCREMENT over the query that carries
  * the build. Those queries are listed in the JSON's `incremental` list
  * with their carriers in `cost_carriers` (see [[prewarm]]).
  *
  * Per query the artifact also carries, from the committed run,
  * executor `cpu_sec` and `gc_sec`, `spill_bytes` (memory + disk),
  * `shuffle_bytes` (read + write), `peak_mem_bytes` (max per-task peak
  * execution memory), `jobs` and `stages`: wall time alone can't tell a
  * bad plan from environment memory pressure or CPU contention. One
  * run-level `host` object records the cores, the max heap, the peak
  * 1-min load average and the machine's steal % over the whole run. */
object Bench {

  /** The canonical full-bench fixture, shared by every tool and by the
    * round-stamp gate. */
  private[graft] val DriverSfDir = "/root/testdata/sf0.1"

  /** Untimed per-query setup run AFTER the cache reset — declares the
    * query incremental over the frames the warmer builds. q37/q37b/q71
    * ride q25's exact near-dup pair frame (q25's own number IS the
    * pipeline's full cost — a session's memo makes the second consumer
    * free, which is exactly how a user pays). q85/q90/q98 ride the
    * memoized co-purchase edge frame whose full build cost is carried
    * by q88 — the designated carrier, which does NOT prewarm and pays
    * the build standalone (its DuckDB counterpart also rebuilds the
    * edges in-statement, so the carrier pairing stays fair). q85b
    * builds its own WEIGHTED edge frame and pays it itself. Each rider's
    * timed number is its own increment: CC rounds, windows, PageRank
    * rounds, the curation stages — never the shared frame twice. */
  private val prewarm: Map[String, (SparkSession, String) => Unit] = Map(
    "q37_dup_clusters" -> ((s, d) => { graft.queries.TextOps.jaccardPairs(s, d); () }),
    "q37b_cluster_reps" -> ((s, d) => { graft.queries.TextOps.jaccardPairs(s, d); () }),
    "q71_curate_corpus" -> ((s, d) => { graft.queries.TextOps.jaccardPairs(s, d); () }),
    "q85_pagerank" -> ((s, d) => { graft.queries.Graph.coPurchaseEdges(s, d); () }),
    "q90_sssp" -> ((s, d) => { graft.queries.Graph.coPurchaseEdges(s, d); () }),
    "q98_label_prop" -> ((s, d) => { graft.queries.Graph.coPurchaseEdges(s, d); () }))

  /** Which timed query CARRIES the shared frame each incremental query
    * rides (emitted as `cost_carriers`): an incremental query's
    * COMPOSED-COLD wall — what a session running it alone would pay, and
    * what Profile's CLI measures — is bounded by its own wall + its
    * carrier's wall, computable in place by any artifact reader. */
  private val carrier: Map[String, String] = Map(
    "q37_dup_clusters" -> "q25_jaccard_neardup",
    "q37b_cluster_reps" -> "q25_jaccard_neardup",
    "q71_curate_corpus" -> "q25_jaccard_neardup",
    "q85_pagerank" -> "q88_triangles",
    "q90_sssp" -> "q88_triangles",
    "q98_label_prop" -> "q88_triangles")

  /** The run each query commits: its min-wall run when every run
    * succeeded; None when any run failed. */
  private[graft] def committed(runs: Seq[Profile.Run]): Option[Profile.Run] =
    if (runs.nonEmpty && runs.forall(_.ok)) Profile.best(runs) else None

  /** 1-min load average; None where /proc is unreadable. */
  private def load1m(): Option[Double] =
    Try(Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble).toOption

  /** (steal, total) jiffies of the whole machine from /proc/stat's
    * aggregate cpu line (user nice system idle iowait irq softirq
    * steal); None where /proc is unreadable. */
  private def jiffies(): Option[(Long, Long)] = Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong)
    (f(7), f.sum)
  }.toOption

  private def r3(d: Double): Double = math.rint(d * 1000) / 1000

  /** Runs `selected` through Profile's loop, prints the full JSON and
    * the compact summary line through `out` (both `{"metric":"total",…}`
    * objects: the first and last lines a caller reads), and writes the
    * full JSON to `docs/BENCH_driver_last.json` — plus the round-stamped
    * copy when the run is the full suite at [[DriverSfDir]]. Returns every
    * run. */
  private[graft] def run(spark: SparkSession, sfDir: String,
      selected: Seq[(String, Profile.QueryFn)], docs: Path,
      out: String => Unit, log: String => Unit): Seq[Profile.Run] = {
    val j0 = jiffies()
    var peakLoad = Option.empty[Double]
    val runs = Profile.runQueries(spark, sfDir, selected, Profile.DefaultReps, log = log,
      setup = q => {
        peakLoad = (peakLoad ++ load1m()).maxOption
        prewarm.get(q).foreach(_(spark, sfDir))
      })
    val steal = for ((s0, t0) <- j0; (s1, t1) <- jiffies() if t1 > t0)
      yield 100.0 * (s1 - s0) / (t1 - t0)
    val names = selected.map(_._1)
    val byQuery = names.map(q => q -> runs.filter(_.query == q))
    val results = byQuery.flatMap { case (_, rs) => committed(rs) }
    val failed = names.filterNot(results.map(_.query).toSet)
    failed.foreach { q =>
      val e = runs.find(r => r.query == q && !r.ok).flatMap(_.error)
      log(s"[bench] $q failed: ${e.map(_.getMessage).orNull}")
    }
    def obj[T](f: Profile.Run => T): String =
      results.map(r => "\"" + r.query + "\":" + f(r)).mkString("{", ",", "}")
    def strs(xs: Iterable[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_.wallS).sum
    val errs = strs(failed)
    val walls = byQuery.map { case (q, rs) =>
      s""""$q":""" + rs.map(r => if (r.ok) r.wallS.toString else "null").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val carriers = carrier.view.filterKeys(names.contains)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val host = s"""{"cores":${Runtime.getRuntime.availableProcessors},""" +
      s""""spark_cores":${spark.sparkContext.defaultParallelism},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""load_1m_max":${peakLoad.fold("null")(r3(_).toString)},""" +
      s""""steal_pct":${steal.fold("null")(r3(_).toString)}}"""
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","n_ok":${results.size},""" +
      s""""queries":${obj(_.wallS)},"attempt_secs":$walls,""" +
      s""""cpu_sec":${obj(r => r3(r.cpuS))},"gc_sec":${obj(r => r3(r.gcS))},""" +
      s""""spill_bytes":${obj(_.spill)},"shuffle_bytes":${obj(_.shuffleBytes)},""" +
      s""""peak_mem_bytes":${obj(_.peakMem)},"jobs":${obj(_.jobs)},""" +
      s""""stages":${obj(_.stages.size)},"incremental":${strs(prewarm.keys.filter(names.contains))},""" +
      s""""cost_carriers":$carriers,"errors":$errs,"host":$host,"sf":"$sfDir"}"""
    out(fullJson)
    // a tail-truncated capture of the (long) full JSON loses the headline
    // numbers, so the run also persists it and ends with a compact summary
    // line; only the full suite at DriverSfDir stamps the round artifact,
    // so a subset or scale-fixture run never clobbers the round's history
    try {
      Files.createDirectories(docs)
      Files.writeString(docs.resolve("BENCH_driver_last.json"), fullJson + "\n")
      if (names.size == SparkEntry.queries.size && sfDir == DriverSfDir)
        RoundStamp.current().foreach { round =>
          Files.writeString(docs.resolve(f"BENCH_driver_r$round%02d.json"), fullJson + "\n")
        }
    } catch { case NonFatal(e) =>
      log(s"[bench] could not write ${docs.resolve("BENCH_driver_last.json")}: ${e.getMessage}")
    }
    val slowest = results.sortBy(-_.wallS).take(5)
      .map(r => "\"" + r.query + "\":" + r.wallS).mkString("{", ",", "}")
    out(s"""{"metric":"total","value":$total,"unit":"sec","n_ok":${results.size},""" +
      s""""errors":$errs,"slowest":$slowest,"full_json":"docs/BENCH_driver_last.json","sf":"$sfDir"}""")
    runs
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DriverSfDir)
    val selected = SparkEntry.queries.toSeq
      .filter { case (q, _) => args.isEmpty || args.contains(q) }.sortBy(_._1)
    val spark = GraftSession.get()
    val runs = try run(spark, sfDir, selected, Paths.get("docs"), println, System.err.println)
      finally spark.stop()
    if (runs.exists(!_.ok)) sys.exit(1)
  }
}
