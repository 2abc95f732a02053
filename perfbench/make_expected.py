#!/usr/bin/env python3
"""Regenerates perfbench/expected_gates.json: the row count and
order-insensitive hash of every benchmarked gate's result, computed by
DuckDB from the gate's `SparkEntry.oracleSql` over the committed sf0.1
fixtures. Run it only when the gate lists, the fixtures or the oracle SQL
change:

    python3 perfbench/make_expected.py
"""
import json
import os
import subprocess
import tempfile

import duckdb

import run
import benchlib
from workloads import WORKLOADS

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    gates = sorted({g for w in WORKLOADS.values() for g in w.get("gates", [])})
    launch = run.ensure_build()
    with tempfile.TemporaryDirectory(dir=run.HERE) as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", *launch["javaOptions"], "-cp", os.pathsep.join(launch["classpath"]),
                        "perfbench.Main", "--dump-oracle", out, "--gates", ",".join(gates)],
                       check=True, stdin=subprocess.DEVNULL)
        with open(out) as f:
            oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(run.FIXTURES, t)}.parquet'")
    expected = {g: benchlib.frame_digest(con.execute(oracle[g]).df()) for g in gates}
    with open(run.EXPECTED, "w") as f:
        json.dump({"fixtures": "sf0.1", "engine": f"duckdb {duckdb.__version__}",
                   "gates": expected}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(expected)} expectations to {os.path.relpath(run.EXPECTED, run.REPO)}")


if __name__ == "__main__":
    main()
