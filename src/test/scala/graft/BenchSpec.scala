package graft

import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.tools.Profile

/** graft.Bench measures through Profile's run loop: each query's
  * committed figures are its min-wall run's, a throwing query is an
  * error that records no time while the rest of the selection still
  * runs, a prewarmed incremental query pays less in its timed window
  * than Profile's composed-cold run of it, and stdout keeps its
  * contract of a `{"metric":"total",…}` first and last line. */
class BenchSpec extends SparkSpec {

  private val dir = PlanFingerprints.SfDir
  private val quiet: String => Unit = _ => ()
  private implicit val formats: Formats = DefaultFormats

  private def bench(selected: Seq[(String, Profile.QueryFn)]): (Seq[String], Seq[Profile.Run]) = {
    val docs = Files.createTempDirectory("bench-spec")
    val lines = Vector.newBuilder[String]
    val runs = Bench.run(spark, dir, selected, docs, lines += _, quiet)
    assert(Files.exists(docs.resolve("BENCH_driver_last.json")))
    (lines.result(), runs)
  }

  private def registered(names: String*): Seq[(String, Profile.QueryFn)] =
    names.map(q => q -> SparkEntry.queries(q))

  private lazy val twoQueries = bench(registered("q02_pricing_summary", "q04_revenue_by_nation"))

  test("each query commits its min-wall run, with that run's cpu_sec and jobs") {
    val (lines, runs) = twoQueries
    val full = JsonMethods.parse(lines.head)
    for (q <- Seq("q02_pricing_summary", "q04_revenue_by_nation")) {
      val reps = runs.filter(_.query == q)
      assert(reps.size == Profile.DefaultReps && reps.forall(_.ok))
      val best = reps.minBy(_.wallS)
      assert((full \ "queries" \ q).extract[Double] == best.wallS)
      assert((full \ "attempt_secs" \ q).extract[Seq[Double]] == reps.map(_.wallS))
      assert((full \ "cpu_sec" \ q).extract[Double] == math.rint(best.cpuS * 1000) / 1000)
      assert((full \ "jobs" \ q).extract[Int] == best.jobs)
      assert((full \ "stages" \ q).extract[Int] == best.stages.size)
    }
  }

  test("a 2-query run prints metric-total first and last lines keyed by the selection") {
    val (lines, _) = twoQueries
    assert(lines.size == 2)
    val (first, last) = (JsonMethods.parse(lines.head), JsonMethods.parse(lines.last))
    for (j <- Seq(first, last)) {
      assert((j \ "metric").extract[String] == "total")
      assert((j \ "n_ok").extract[Int] == 2)
      assert((j \ "errors").extract[Seq[String]].isEmpty)
    }
    assert((first \ "queries").extract[Map[String, Double]].keySet ==
      Set("q02_pricing_summary", "q04_revenue_by_nation"))
    assert((first \ "host" \ "cores").extract[Int] > 0)
  }

  test("a throwing query lands in errors with no time and the others still run") {
    val boom: Profile.QueryFn = (_, _) => throw new IllegalStateException("boom")
    val (lines, runs) = bench(("a_boom" -> boom) +: registered("q04_revenue_by_nation"))
    val full = JsonMethods.parse(lines.head)
    assert((full \ "errors").extract[Seq[String]] == Seq("a_boom"))
    assert((full \ "queries").extract[Map[String, Double]].keySet == Set("q04_revenue_by_nation"))
    assert((full \ "cpu_sec" \ "a_boom") == JNothing)
    assert((full \ "attempt_secs" \ "a_boom") == JArray(List.fill(Profile.DefaultReps)(JNull)))
    assert(runs.count(r => r.query == "q04_revenue_by_nation" && r.ok) == Profile.DefaultReps)
  }

  test("prewarmed q85 runs fewer timed jobs than Profile's composed-cold run") {
    val (_, benchRuns) = bench(registered("q85_pagerank"))
    val coldRuns = Profile.run(spark, dir, Seq("q85_pagerank"), reps = 1, log = quiet)
    val benched = Bench.committed(benchRuns).get
    assert(benched.jobs < coldRuns.head.jobs, (benched.jobs, coldRuns.head.jobs))
  }
}
