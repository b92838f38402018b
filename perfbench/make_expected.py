#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: for every short-mix statement, the
row count, schema and canonical hash (tools/localverify.py's) of DuckDB
running that statement's oracle SQL on the benchmark's committed tables.

    python3 perfbench/make_expected.py      (from the checkout root)

Builds the harness if needed to read the oracle SQL from the engine."""
import json
import os
import subprocess

import run

SF = "sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    run.build()
    canon = run.oracle_canon()
    sql_file = os.path.join(run.BUILD, "oracle-short-mix.json")
    subprocess.run(["java", "-cp", f"{run.JAR}:{run.spark_home()}/jars/*",
                    "graft.perfbench.OracleSql", sql_file, "short-mix"], check=True)
    with open(sql_file) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    data = os.path.join(run.HERE, "data", SF)
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {}
    for name in sorted(oracle):
        df = con.sql(oracle[name]).df()
        sha, rows = canon(df)
        out[name] = {"sf": SF, "rows": rows, "schema": run.schema(df), "sha": sha}
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
