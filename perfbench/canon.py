"""Result canonicalization and digests shared by the benchmark and the
golden regenerator.

`canon` is the same canonical form tools/check_oracle.py compares Spark and
DuckDB results in: columns sorted by name, every cell rendered to a string
(floats by repr, decimals through float, NULL/NaN as "NULL"), rows sorted.
`digest` hashes that form, so a Spark result and its DuckDB oracle agree
exactly when their digests do.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import pyarrow.parquet as pq


def canon(tbl):
    """pyarrow Table -> (sorted column names, sorted canonical rows)."""
    cols = sorted(tbl.column_names)
    rows = []
    for rec in tbl.select(cols).to_pylist():
        row = []
        for c in cols:
            v = rec[c]
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("NULL")
            elif isinstance(v, float):
                row.append(repr(v))
            elif isinstance(v, decimal.Decimal):
                row.append(repr(float(v)))
            elif isinstance(v, (datetime.datetime, datetime.date)):
                row.append(v.isoformat())
            elif isinstance(v, bytes):
                row.append(v.hex())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    rows.sort()
    return cols, rows


def digest(tbl):
    """{"rows": n, "digest": sha256 of the canonical form}."""
    cols, rows = canon(tbl)
    h = hashlib.sha256(json.dumps([cols, rows]).encode())
    return {"rows": len(rows), "digest": h.hexdigest()}


def read_result(directory):
    """The table a Spark parquet write left in `directory`, or None."""
    files = sorted(glob.glob(os.path.join(directory, "*.parquet")))
    if not files:
        return None
    return pq.ParquetDataset(files).read()
