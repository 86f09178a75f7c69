#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage:

    python3 perfbench/diff.py A [A ...] -- B [B ...]

Each A/B is a result.json written by perfbench/run.py, or a directory
searched for them (.perfbench_out/ holds one directory per run). With one
file on each side the `--` may be left out.

Counters that should repeat exactly (jobs, stages, tasks, exchanges, scans,
files and bytes read or written, rows) are compared per op as exact deltas;
a counter that already differs between runs of one side is flagged
"varies". Timings and the other metrics are compared as medians, each side
with its run-to-run spread (interquartile range over median).
"""
import glob
import json
import os
import statistics
import sys

EXACT = [
    "operators.checkpoints", "plans.query_executions", "plans.scans",
    "plans.exchanges", "plans.reused_exchanges", "plans.broadcast_joins",
    "exec.jobs", "exec.stages", "exec.tasks", "Tables.scan_files",
    "Tables.scan_bytes", "Tables.repartition_exchanges",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "sources.loaded_rows", "sources.rejected_rows", "sources.staged_bytes",
    "sources.ctas_files", "sources.ctas_bytes", "sources.readback.scan_files",
]


def load(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(glob.glob(os.path.join(p, "**", "result.json"),
                                      recursive=True))
        else:
            files.append(p)
    if not files:
        sys.exit(f"no result.json under {paths}")
    return [json.load(open(f)) for f in files]


def metric_values(runs):
    """metric -> list of values over runs (printed and end-to-end ones)."""
    vals = {}
    for r in runs:
        seen = {k: v["value"] for k, v in r["end_to_end"].items()}
        seen.update({k: v["value"] for k, v in r["result"]["metrics"].items()})
        for k, v in seen.items():
            vals.setdefault(k, []).append(v)
    return vals


def counters(runs):
    """(op, counter) -> set of values over every traced warm execution."""
    out = {}
    for r in runs:
        for row in r["ledger"]:
            if not row.get("traced"):
                continue
            for c in EXACT:
                if c in row:
                    out.setdefault((row["op"], c), set()).add(row[c])
    return out


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else 0.0


def main():
    args = sys.argv[1:]
    if "--" in args:
        i = args.index("--")
        a_paths, b_paths = args[:i], args[i + 1:]
    elif len(args) == 2:
        a_paths, b_paths = args[:1], args[1:]
    else:
        sys.exit(__doc__)
    a, b = load(a_paths), load(b_paths)
    print(f"A: {len(a)} run(s)  B: {len(b)} run(s)")

    ca, cb = counters(a), counters(b)
    print("\ncounters (exact, per op):")
    changed = 0
    for key in sorted(set(ca) | set(cb)):
        va, vb = ca.get(key, set()), cb.get(key, set())
        if va == vb and len(va) == 1:
            continue
        changed += 1
        fmt = lambda v: ("varies " + str(sorted(v))) if len(v) > 1 else (
            str(next(iter(v))) if v else "-")
        delta = ""
        if len(va) == 1 and len(vb) == 1:
            delta = f"  delta {next(iter(vb)) - next(iter(va)):+g}"
        print(f"  {key[0]:28s} {key[1]:30s} A={fmt(va)}  B={fmt(vb)}{delta}")
    if not changed:
        print(f"  all {len(ca)} identical")

    ma, mb = metric_values(a), metric_values(b)
    print("\nmetrics (median, spread = IQR/median):")
    for k in sorted(set(ma) | set(mb)):
        xa, xb = ma.get(k, []), mb.get(k, [])
        if not xa or not xb:
            print(f"  {k:36s} only in {'A' if xa else 'B'}")
            continue
        da, db = statistics.median(xa), statistics.median(xb)
        rel = f"{(db - da) / da:+.1%}" if da else "n/a"
        print(f"  {k:36s} A={da:<12.6g} (±{spread(xa):.1%})  "
              f"B={db:<12.6g} (±{spread(xb):.1%})  {rel}")


if __name__ == "__main__":
    main()
