#!/usr/bin/env python3
"""Regenerate the golden result digests the benchmark checks against.

Usage (from the repository root):

    python3 perfbench/golden/regen.py sf0.01 sf0.001

For every query op of star_olap and corpus_dedup, runs the op's DuckDB
oracle (graft.SparkEntry.oracleSql, dumped by the harness) over the test
tables of each scale and writes <scale>.json beside this script:
{op: {"rows": n, "digest": sha256 of the canonical result}}. The digest is
the canonical form of perfbench/canon.py, so a Spark result matches exactly
when the oracle's does. Some oracles take tens of seconds, which is why the
benchmark checks against these files instead of running DuckDB live.
"""
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import canon  # noqa: E402
import run  # noqa: E402

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_sql(root):
    jars = run.spark_jars(root)
    cp, _ = run.build(root, jars)
    with tempfile.TemporaryDirectory(dir=root) as tmp:
        out = os.path.join(tmp, "oracles.json")
        subprocess.run([run.java_bin(), "-cp", cp, "graftperf.Main",
                        "mode=oracles", f"out={out}"], check=True)
        return json.load(open(out))


def main():
    root = os.getcwd()
    sqls = oracle_sql(root)
    missing = sorted(op for op, sql in sqls.items() if not sql)
    if missing:
        sys.exit(f"ops without an oracle: {missing}")
    for sf in sys.argv[1:]:
        con = duckdb.connect()
        d = run.testdata(root, sf)
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        golden = {}
        for op in sorted(sqls):
            t0 = time.monotonic()
            golden[op] = canon.digest(con.sql(sqls[op]).arrow())
            print(f"{sf} {op}: {golden[op]['rows']} rows "
                  f"({time.monotonic() - t0:.1f} s)", flush=True)
        with open(os.path.join(HERE, f"{sf}.json"), "w") as f:
            json.dump(golden, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
