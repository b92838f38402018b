package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's witness/retry tier logic (round 10): which windows
  * earn a second attempt and in what priority. Pure-function tests —
  * no SparkSession — so the thresholds that decide what the committed
  * artifact looks like can't drift silently under a refactor.
  *
  * Tier semantics under test (Bench.Timed):
  *   - jvm_degraded: cpu_inflation > 4 AND ≥5 extra cpu-s (the JVM's
  *     self-incrimination; external load cannot inflate executor CPU)
  *   - contended: steal >5%, sys >20%, foreign-user >25%, or load
  *     >1.5× cores (the environment's fault, not the plan's); foreign
  *     user CPU is machine user CPU minus this JVM's process CPU
  *   - suspect: cpu_inflation 1.8–4× with ≥1 extra cpu-s (round-9
  *     advice: the gray band that hid q60's 2.01× blip)
  *   - cpu_phantom (round 14): listener-claimed executor CPU >2× what
  *     the machine's user jiffies executed in the same window — the
  *     counters are inconsistent, the window is garbage
  *   - wall_inflated (round 14): >2× the committed clean wall AND
  *     ≥0.5 s over, with every causal witness silent (ambient stalls)
  *   - priority: jvm_degraded > contended > cpu_phantom > suspect >
  *     wall_inflated (causal witnesses explain the wall better than a
  *     bare baseline comparison does)
  */
class BenchWitnessSpec extends AnyFunSuite {

  private val cores = 32

  /** A quiet window: idle machine, cpu at baseline. */
  private def quiet(name: String = "q", cpuSec: Double = 10.0,
      cpuBase: Double = 10.0): Bench.Timed =
    Bench.Timed(name, secs = 2.0, spill = 0, shuffle = 0, peakMem = 0,
      cpuSec = cpuSec, gcSec = 0.1, load = 2.0,
      userPct = 100.0 * cpuSec / (2.0 * cores), sysPct = 3.0, stealPct = 0.0,
      codeCache = 20.0, metaMb = 150.0, cpuBase = cpuBase)

  test("a quiet window earns no retry") {
    assert(quiet().retryReason(cores).isEmpty)
  }

  test("jvm_degraded needs BOTH >4x inflation AND >=5 extra cpu-s") {
    // 5x inflation but only 2 extra cpu-s: small-query noise, not a flag
    val small = quiet(cpuSec = 2.5, cpuBase = 0.5)
    assert(!small.jvmDegraded)
    // 4.5x inflation with 35 extra cpu-s: the r8 JIT-death shape
    val dead = quiet(cpuSec = 45.0, cpuBase = 10.0)
    assert(dead.jvmDegraded)
    assert(dead.retryReason(cores).contains("jvm_degraded"))
  }

  test("suspect tier catches the 1.8-4x gray band and not 1x noise") {
    assert(quiet(cpuSec = 20.0, cpuBase = 10.0).suspect) // 2.0x, q60's shape
    assert(!quiet(cpuSec = 12.0, cpuBase = 10.0).suspect) // 1.2x: clean
    assert(!quiet(cpuSec = 45.0, cpuBase = 10.0).suspect) // 4.5x: degraded, not suspect
    assert(quiet(cpuSec = 20.0, cpuBase = 10.0)
      .retryReason(cores).contains("suspect_cpu_inflation"))
    // sub-0.5-cpu-s baselines have no meaningful ratio: never suspect
    assert(!quiet(cpuSec = 2.0, cpuBase = 0.3).suspect)
    assert(quiet(cpuSec = 2.0, cpuBase = 0.3).cpuInflation == -1.0)
  }

  test("contended triggers on steal, sys, foreign user, or run queue") {
    assert(quiet().copy(stealPct = 6.0).contended(cores))
    assert(quiet().copy(sysPct = 25.0).contended(cores))
    assert(quiet().copy(load = 1.6 * cores).contended(cores))
    // foreign user: machine 80% user while our own tasks account for ~16%
    assert(quiet().copy(userPct = 80.0).contended(cores))
    // unknown (-1) witnesses never flag
    assert(!quiet().copy(userPct = -1.0, sysPct = -1.0, stealPct = -1.0,
      load = -1.0).contended(cores))
  }

  test("on 4 cores the JVM's own driver/JIT/GC CPU is not foreign load") {
    // a sub-second statement on a 4-core host: executor tasks burned
    // 0.5 cpu-s, the whole JVM 3.0 (driver planning, JIT, GC), and the
    // machine's user CPU is exactly that JVM — nobody else ran
    val own = quiet(cpuSec = 0.5, cpuBase = 0.5).copy(
      userPct = 100.0 * 3.0 / (2.0 * 4), procCpuSec = 3.0)
    assert(own.otherUserPct(4) == 0.0)
    assert(!own.contended(4))
    assert(own.retryReason(4).isEmpty)
    // a real neighbour on top of it still flags
    assert(own.copy(userPct = 90.0).contended(4))
  }

  test("retry priority: a degraded JVM outranks ambient contention") {
    val both = quiet(cpuSec = 45.0, cpuBase = 10.0).copy(stealPct = 10.0)
    assert(both.retryReason(cores).contains("jvm_degraded"))
    val contendedOnly = quiet().copy(stealPct = 10.0)
    assert(contendedOnly.retryReason(cores).contains("contended"))
  }

  test("cpu_phantom flags listener CPU the machine never executed (q92-q95 signature)") {
    // r13 official artifact, q93's window: 8.11 claimed executor cpu-s
    // inside a 9.1 s wall whose machine-wide user CPU was 0.6% of
    // 32 cores = 1.75 cpu-s. The listener's claim is physically
    // impossible — flag it. The sub-0.5 cpu baseline (q93 is a light
    // aggregate) is exactly why the cpu_inflation witness read -1 and
    // r13's artifact sailed through unflagged.
    val phantom = quiet(cpuSec = 8.11, cpuBase = 0.4)
      .copy(secs = 9.1, userPct = 0.6)
    assert(phantom.cpuPhantom(cores))
    assert(phantom.retryReason(cores).contains("cpu_phantom"))
    // a busy-but-consistent window: claimed cpu within what the machine
    // user jiffies cover — no flag
    val honest = quiet(cpuSec = 8.0, cpuBase = 8.0).copy(secs = 9.1,
      userPct = 100.0 * 8.0 / (9.1 * cores))
    assert(!honest.cpuPhantom(cores))
    // sub-1-cpu-s windows never flag (jiffy granularity), nor unknown inputs
    assert(!quiet(cpuSec = 0.8, cpuBase = 0.8).copy(userPct = 0.1).cpuPhantom(cores))
    assert(!quiet().copy(userPct = -1.0).cpuPhantom(cores))
  }

  test("wall_inflated is the last-resort weather witness vs the clean snapshot") {
    // r13's q12b shape: committed clean wall 0.53 s, window wall 4.93 s,
    // machine near-idle, cpu flat — every causal witness silent
    val stalled = quiet(cpuSec = 0.4, cpuBase = 0.4)
      .copy(secs = 4.93, wallBase = 0.53, userPct = 1.0)
    assert(stalled.wallInflated)
    assert(stalled.retryReason(cores).contains("wall_inflated"))
    // 2x on a sub-second query but only +0.4 s absolute: noise, no flag
    assert(!quiet().copy(secs = 0.7, wallBase = 0.3).wallInflated)
    // 1.5x on a big query: real but under the 2x bar — geomean math, not retry
    assert(!quiet().copy(secs = 3.0, wallBase = 2.0).wallInflated)
    // no baseline (new query): never flags
    assert(!quiet().copy(secs = 9.0).wallInflated)
    assert(quiet().copy(secs = 9.0).wallInflation == -1.0)
    // causal witnesses outrank the baseline comparison
    val alsoContended = stalled.copy(stealPct = 10.0)
    assert(alsoContended.retryReason(cores).contains("contended"))
  }

  test("baselineWall parses the committed snapshot's queries object") {
    val base = Bench.baselineWall()
    assert(base.nonEmpty, "docs/BENCH_local_sf0.1.json must carry queries")
    assert(base.contains("q04_revenue_by_nation"))
    assert(base.values.forall(v => v >= 0 && v < 10000))
    assert(Bench.baselineWall("docs/definitely_missing.json").isEmpty)
  }

  test("baselineCpu parses the committed snapshot's cpu_sec object") {
    val base = Bench.baselineCpu()
    assert(base.nonEmpty, "docs/BENCH_local_sf0.1.json must carry cpu_sec")
    assert(base.contains("q85_pagerank"))
    assert(base.values.forall(v => v >= 0 && v < 10000))
    // a missing/garbled file degrades to empty, never throws
    assert(Bench.baselineCpu("docs/definitely_missing.json").isEmpty)
  }
}
