#!/usr/bin/env python3
"""Diff two graft.Verify output directories query by query.

Usage: python3 tools/diff_verify.py <before_dir> <after_dir> [--schema-only]

For every query directory in <before_dir> it compares, against the same
query in <after_dir>:
  - the Spark schema Spark wrote into the parquet footer (column names,
    types and nullability, as org.apache.spark.sql.parquet.row.metadata);
  - unless --schema-only, the rows, as an order-free multiset of stringified
    values.
It prints one line per difference and exits non-zero if there is any, so a
behaviour-neutral refactor can show that no query's schema or result moved.
"""
import glob
import json
import os
import sys

import pyarrow.parquet as pq

SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def load(qdir, with_rows):
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return None, None
    meta = pq.read_schema(files[0]).metadata or {}
    schema = json.loads(meta.get(SPARK_SCHEMA_KEY, b"{}"))
    if not with_rows:
        return schema, None
    df = pq.read_table(qdir).to_pandas().astype(str)
    rows = df.sort_values(list(df.columns)).reset_index(drop=True)
    return schema, rows


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    before, after = args
    with_rows = "--schema-only" not in sys.argv
    queries = sorted(d for d in os.listdir(before)
                     if os.path.isdir(os.path.join(before, d)))
    bad = 0
    for q in queries:
        qa = os.path.join(after, q)
        if not os.path.isdir(qa):
            print(f"MISSING {q}")
            bad += 1
            continue
        sb, rb = load(os.path.join(before, q), with_rows)
        sa, ra = load(qa, with_rows)
        if sb != sa:
            print(f"SCHEMA {q}: {json.dumps(sb)} -> {json.dumps(sa)}")
            bad += 1
        elif with_rows and rb is not None and not rb.equals(ra):
            print(f"ROWS {q}: {len(rb)} -> {len(ra)} rows, values differ")
            bad += 1
    print(f"compared {len(queries)} queries, {bad} differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
