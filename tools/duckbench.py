#!/usr/bin/env python3
"""Baseline timing harness: run every oracle SQL in DuckDB and compare
against the engine's per-query bench wall times.

Usage: tools/duckbench.py <sfDir> <oracle_sql.json|verifyOutDir> [benchJson]

  sfDir      parquet table dir (e.g. /root/testdata/sf0.1)
  arg2       either the oracle_sql.json path or a Verify out dir
             containing one
  benchJson  optional engine bench output (docs/BENCH_driver_last.json);
             when given, prints per-query engine/duckdb ratios and a
             comparable-subset total

Each statement runs single-threaded? No — DuckDB gets the whole machine
(default thread count), the same hardware budget the engine's local[32]
gets. A per-statement wall cap (default 60 s, DUCKBENCH_CAP to override)
keeps the recursive-CTE unrolls from stalling the run. Spill goes under
the system temp dir, bounded by SPILL_MAX; a statement that outgrows it
is capped too. Capped statements are reported as `timeout` and excluded
from the comparable subset.

Output: one JSON line {"metric":"duckdb_total", "value":..,
"queries":{..}, "timeouts":[..]} — the same artifact discipline as
graft.Bench, so every round's 2x-of-baseline ratio is reproducible from
committed tools instead of a judge-side measurement.
"""
import sys, json, os, shutil, tempfile, time, threading
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

# DuckDB's default spill directory is `.tmp/` under the working directory,
# with no size limit: an oracle statement that spills without bound (q71
# at sf0.1) fills the disk before the wall cap fires. Spill goes under the
# system temp dir instead, bounded, and running out of it counts as a cap.
SPILL_DIR = os.path.join(tempfile.gettempdir(), f"duckbench-{os.getpid()}")
SPILL_MAX = "8GB"

def run_capped(sf_dir, sql, cap):
    """Run one statement in a fresh connection; interrupt at cap seconds
    or when its spill outgrows SPILL_MAX. Returns (seconds, capped)."""
    con = duckdb.connect(config={"temp_directory": SPILL_DIR,
                                 "max_temp_directory_size": SPILL_MAX})
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    hit = []
    timer = threading.Timer(cap, lambda: (hit.append(1), con.interrupt()))
    timer.start()
    t0 = time.monotonic()
    try:
        con.sql(sql).fetchall()
        return time.monotonic() - t0, False
    except (duckdb.InterruptException, duckdb.OutOfMemoryException):
        # OutOfMemoryException is also what a spill past SPILL_MAX raises
        return time.monotonic() - t0, True
    except Exception:
        # duckdb surfaces interrupts of some operators as generic errors;
        # only treat as timeout if the timer actually fired
        if hit:
            return time.monotonic() - t0, True
        raise
    finally:
        timer.cancel()
        con.close()
        shutil.rmtree(SPILL_DIR, ignore_errors=True)

def sweep(sf_dir, oracle, cap, skip=()):
    """One pass over every statement. `skip` names statements already
    known to cap out — recorded as timeouts without burning another cap
    window on them."""
    times, timeouts = {}, []
    for name in sorted(oracle):
        if name in skip:
            timeouts.append(name)
            continue
        try:
            secs, out = run_capped(sf_dir, oracle[name], cap)
        except Exception as e:
            print(f"[duckbench] {name} ERROR {e}", file=sys.stderr)
            timeouts.append(name)  # treat errors like caps: not comparable
            continue
        if out:
            print(f"[duckbench] {name} capped after {secs:.1f}s", file=sys.stderr)
            timeouts.append(name)
        else:
            times[name] = round(secs, 3)
    return times, timeouts

def main():
    sf_dir, src = sys.argv[1], sys.argv[2]
    bench_json = sys.argv[3] if len(sys.argv) > 3 else None
    cap = float(os.environ.get("DUCKBENCH_CAP", "60"))
    path = src if src.endswith(".json") else f"{src}/oracle_sql.json"
    oracle = json.load(open(path))
    # TWO full passes (round-8 advice): DuckDB's heavy dedup statements
    # swing 2-4x run-to-run, so a single pass leaves the paired ratio's
    # variance unbounded inside the artifact. Pass B skips statements
    # that already capped in pass A (a second 60 s cap window would buy
    # no information). Headline fields report pass A (artifact shape
    # unchanged for older tooling); pass B and the per-pass ratios ride
    # alongside.
    times, timeouts = sweep(sf_dir, oracle, cap)
    # pass-B timeouts are RECORDED (round-9 advice: discarding them made
    # value_b silently cover a different statement set than value), and
    # value_b sums only the statements BOTH passes completed so the two
    # headline numbers are always same-set comparable; n_b names the set.
    times_b, timeouts_b = sweep(sf_dir, oracle, cap, skip=set(timeouts))
    both_ab = set(times) & set(times_b)
    result = {"metric": "duckdb_total", "value": round(sum(times.values()), 3),
              "unit": "sec", "n_ok": len(times), "cap_sec": cap,
              "queries": times, "timeouts": timeouts, "sf": sf_dir,
              "value_b": round(sum(times_b[k] for k in both_ab), 3),
              "n_b": len(both_ab), "timeouts_b": sorted(timeouts_b),
              "queries_b": times_b}
    if bench_json:
        eng = json.load(open(bench_json))["queries"]
        both = sorted(set(times) & set(times_b) & set(eng))
        etot = sum(eng[k] for k in both)
        dtot = sum(times[k] for k in both)
        dtot_b = sum(times_b[k] for k in both)
        result["comparable"] = {
            "n": len(both),
            "engine_total": round(etot, 3),
            "duckdb_total": round(dtot, 3),
            "duckdb_total_b": round(dtot_b, 3),
            "engine_over_duckdb": round(etot / dtot, 3) if dtot else None,
            "engine_over_duckdb_b": round(etot / dtot_b, 3) if dtot_b else None,
            "ratios": {k: round(eng[k] / times[k], 2) if times[k] > 0.001
                       else None for k in both},
            "engine_only_wins": sorted(
                (k for k in both if eng[k] < times[k]),
                key=lambda k: eng[k] - times[k])[:10],
        }
    print(json.dumps(result))

if __name__ == "__main__":
    main()
