#!/usr/bin/env python3
"""graft benchmark: one command per workload run, outputs checked.

    python3 perfbench/run.py --workload short-mix|duels \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. An untraced run launches the
harness JVM (Spark local[nproc], heap from MemTotal, C1 JIT only) three
times: twice only to set up, then once to set up, run an untimed check
pass and warm pass (short-mix) and whole passes over the workload's
statement list for about S seconds, in a closed loop with one client
thread. setup_s is the median over the three JVMs of the time from
launch to the end of set-up. A traced run launches only the last JVM,
then one with the default JIT for the functions layer.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics (BENCHMARK.json
names both). The line before it describes the host and the run: the
statement latency tail with its percentile and sample count, failed_frac,
every set-up time.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duels_gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
CDS = os.path.join(BUILD, "perfbench.jsa")
JVM_TIMEOUT_S = 170
SETUPS = 3  # JVMs launched per run; setup_s is the median of their set-ups
# The harness JVM runs C1 only. With the default tiered compilation C2
# was still compiling through every pass a run can afford: on 4 cores,
# short-mix pass CPU fell ~25% across a run's timed passes, and over five
# seeds its pass wall and CPU varied 15-26% (IQR/median) between runs.
# With C1 alone passes are flat from the second. The functions layer,
# whose per-row costs C2 moves most, runs in a default-JIT JVM of its own.
C1_ONLY = ["-XX:TieredStopAtLevel=1"]
LOCALVERIFY = os.path.join(os.path.dirname(HERE), "tools", "localverify.py")
BUILD_TIMEOUT_S = 840

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, log, **kw):
    """Run cmd in its own process group with output to `log`; on timeout
    kill the whole group and wait for it. Returns the exit code."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("Spark not found: set SPARK_HOME")
    return home


def build():
    """Compile the engine and the harness unless the build is current."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(JAR) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S, log,
                   cwd=HERE, env=env)
    if rc != 0:
        sys.stderr.write(tail(log))
        die(f"build failed (exit {rc}); log in {log}")
    make_jar()
    dump_class_archive()
    with open(stamp_file, "w") as f:
        f.write(stamp)


def make_jar():
    """Pack the compiled classes into one jar (class-data sharing only
    archives classes loaded from jars)."""
    tmp = JAR + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(CLASSES)):
            for f in sorted(fs):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, CLASSES))
    os.replace(tmp, JAR)


def dump_class_archive():
    """Record the classes a short-mix run loads into a class-data sharing
    archive, which later runs map instead of loading and
    verifying those classes again: the JVM's cold start drops by ~8 s a
    run. The harness and results are the same with or without it (the
    JVM ignores an archive that does not match its classpath)."""
    if os.path.exists(CDS):
        os.remove(CDS)
    work = os.path.join(BUILD, "work", "cds")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", "short-mix", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--min-passes", "1", "--work", work,
            "--result", os.path.join(work, "result.json")]
    rc = run_group(harness_cmd([f"-XX:ArchiveClassesAtExit={CDS}"], args), JVM_TIMEOUT_S,
                   os.path.join(BUILD, "logs", "cds.log"), cwd=BUILD, env=java_env())
    if rc != 0 and os.path.exists(CDS):
        os.remove(CDS)


def host_sizing():
    """Cores from nproc; heap by the repo's tier-1 formula: MemTotal/2,
    clamped to 2..8 GiB."""
    cores = len(os.sched_getaffinity(0))
    heap = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    heap = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cores, f"{heap}g"


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return 0, 0


def duels_input(seed):
    """The seeded duels log, generated once per checkout and seed."""
    d = os.path.join(BUILD, "inputs", f"duels-{seed}")
    done = d + ".done"
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        duels_gen.generate(seed, d)
        open(done, "w").close()
    return d


def java_env():
    cores, heap = host_sizing()
    for d in ("tmp", "spark-local", "warehouse", "logs"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_DRIVER_MEM=heap,
                SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))


def java_cmd(jvm_extra, main, args):
    _, heap = host_sizing()
    return ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(BUILD, 'tmp')}"] + jvm_extra + [
        "-cp", f"{JAR}:{os.path.join(spark_home(), 'jars')}/*", main] + args


def harness_cmd(jvm_extra, harness_args):
    return java_cmd(C1_ONLY + jvm_extra, "graft.perfbench.Main",
                    ["--data", os.path.join(HERE, "data")] + harness_args)


def class_archive():
    return [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []


def run_jvm(cmd, tag, result, deadline):
    """Run one JVM until `deadline`; returns the JSON record it wrote to
    `result`, or ends the run when it failed."""
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    rc = run_group(cmd, max(1.0, deadline - time.time()), log, cwd=BUILD, env=java_env())
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(tail(log))
        print(f"perfbench: {tag} {'timed out' if rc is None else f'exited {rc}'}; log in {log}",
              file=sys.stderr)
        sys.exit(1)
    with open(result) as f:
        return json.load(f)


def launch(args, tag, work, deadline):
    """One harness JVM. Returns its record, with setup_cold_s: the
    seconds from its launch to the end of its set-up."""
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    launched = time.time()
    rec = run_jvm(harness_cmd(class_archive(), args + ["--work", work, "--result", result]),
                  tag, result, deadline)
    rec["setup_cold_s"] = rec["setup_end_ms"] / 1e3 - launched
    return rec


def run_harness(a, duels_dir):
    """SETUPS - 1 set-up-only JVMs, then the measuring one. A traced run,
    which does not report setup_s, skips the set-up-only ones and then
    measures the functions layer in a JVM of its own."""
    deadline = time.time() + JVM_TIMEOUT_S
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if duels_dir:
        args += ["--duels", duels_dir]
    setups = [launch(args + ["--setup-only", "1"], f"{tag}-setup{i}", os.path.join(work, f"setup{i}"),
                     deadline)["setup_cold_s"] for i in range(0 if a.trace else SETUPS - 1)]
    rec = launch(args, tag, os.path.join(work, "run"), deadline)
    rec["setup_cold_s"] = setups + [rec["setup_cold_s"]]
    if a.trace:
        result = os.path.join(work, "functions.json")
        rec["layers"].update(run_jvm(
            java_cmd(class_archive(), "graft.perfbench.FunctionsLayer",
                     [os.path.join(HERE, "data", "sf0.1"), result]),
            f"{tag}-functions", result, deadline))
    return rec


def oracle_canon():
    """canon() of the repo's DuckDB oracle check, tools/localverify.py:
    columns sorted by name, floats rounded to 4 places, rows sorted,
    SHA-256; returns (hash, row count)."""
    spec = importlib.util.spec_from_file_location("localverify", LOCALVERIFY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def schema(df):
    """Sorted [column, pandas dtype] pairs, as tools/localverify.py
    compares them."""
    return sorted([c, str(t)] for c, t in zip(df.columns, df.dtypes))


def check_mix(rec, expected):
    """Row count, schema and canonical hash of every check-pass output
    against those of the DuckDB oracle, committed in expected.json;
    returns the mismatches."""
    import duckdb
    canon = oracle_canon()
    con = duckdb.connect()
    bad = []
    for name in rec["checked"]:
        path = os.path.join(rec["check_dir"], name, "*.parquet")
        df = con.sql(f"SELECT * FROM read_parquet('{path}')").df()
        sha, rows = canon(df)
        got = {"rows": rows, "schema": schema(df), "sha": sha}
        exp = expected.get(name)
        if exp is None or any(exp.get(k) != v for k, v in got.items()):
            bad.append(f"check {name}: got {got}, expected {exp}")
    return bad


def end_to_end(rec):
    """The end-to-end metrics from the untraced passes of one run, and the
    latency tail for the info line. The tail is the highest order
    statistic with 10 samples beyond it; a run collects 24-32 statement
    latencies, so that is about the 58th-69th percentile, not a far tail,
    and it swings between runs as its rank moves from one statement's
    latencies to the next one's. BENCHMARK.json leaves it out."""
    passes = [p for p in rec["passes"] if not p["traced"]]
    lat = sorted(l for p in passes for _, l in p["stmts"])
    n = len(lat)
    k = max(0, n - 11)  # highest order statistic with at least 10 samples beyond it
    return {
        "pass_s": statistics.median([p["wall"] for p in passes]),
        "stmt_p50_s": statistics.median(lat),
        "cpu_s": statistics.median([p["cpu"] for p in passes]),
        "setup_s": statistics.median(rec["setup_cold_s"]),
        "live_heap_mb": rec["live_heap_mb"],
    }, {"stmt_tail_s": lat[k], "stmt_tail_pct": round(100.0 * (k + 1) / n, 1), "stmt_n": n}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["short-mix", "duels"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found; run from the root of a checkout")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("engine sources (src/main/scala/graft) not found; run from the root of a checkout")
    if not os.path.exists(LOCALVERIFY):
        die("tools/localverify.py not found; run from the root of a checkout")
    for sf in ("sf0.01", "sf0.1"):
        if not os.path.isdir(os.path.join(HERE, "data", sf)):
            die(f"input tables perfbench/data/{sf} not found")
    with open(spec_path) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    build()
    duels_dir = duels_input(a.seed) if (a.workload == "duels" or a.trace) else None
    steal0, total0 = cpu_ticks()
    rec = run_harness(a, duels_dir)
    steal1, total1 = cpu_ticks()

    failures = list(rec["failed"])
    if a.workload != "duels":
        failures += check_mix(rec, expected)
    attempted = rec["attempted"]
    failed = len(failures)
    e2e, dist = end_to_end(rec)
    if a.trace:
        wanted, got = spec["per_layer"], rec["layers"]
    else:
        wanted, got = spec["end_to_end"], e2e
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        die(f"harness did not measure {missing}")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": rec["host"],
            "passes": len(rec["passes"]), "failed_frac": failed / attempted, **dist,
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "setup_cold_s": rec["setup_cold_s"],
            "check_s": rec["check_s"], "failures": failures[:20]}
    if "rounds" in rec:
        info["rounds"] = rec["rounds"]
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
