#!/usr/bin/env python3
"""Regenerate perfbench/oracle/analytics.json: the DuckDB answer digest of
every analytics panel query over perfbench/data/sf0.1.

    python3 perfbench/gen_oracle.py

Run from the repository root after a benchmark run has compiled the
classes. The oracle SQL comes from SparkEntry.oracleSql (dumped by
perfbench.Main --dump-oracle); the digest is oracle.digest, the same
function the benchmark applies to Spark's answers.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
from oracle import digest  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = run.spark_jars(root)
    app, _ = run.build(root, out, jars)
    with tempfile.NamedTemporaryFile(suffix=".json", dir=out) as f:
        subprocess.run(["java", "-cp", app + os.pathsep + os.path.join(jars, "*"),
                        "perfbench.Main", "--dump-oracle", f.name], check=True)
        sql = json.load(open(f.name))
    data = os.path.join(HERE, "data", "sf0.1")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    res = {q: digest(con.sql(s).df()) for q, s in sorted(sql.items())}
    os.makedirs(os.path.join(HERE, "oracle"), exist_ok=True)
    with open(os.path.join(HERE, "oracle", "analytics.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
        f.write("\n")
    for q, d in res.items():
        print(f"{q}: {d['rows']} rows")


if __name__ == "__main__":
    main()
