#!/usr/bin/env python3
"""Fast self-test of the benchmark at sf0.001.

Usage (from the repository root):

    python3 perfbench/selftest.py

Runs every workload (corpus_dedup too) once, traced, at sf0.001 for one
second. Asserts that the printed per-layer metrics and the end-to-end
metrics in result.json carry exactly the names and units BENCHMARK.json
declares, and that nothing failed. Then runs star_olap against a golden
file with one digest altered and asserts the correctness check reports it.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

SF = "sf0.001"


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--seed", "7", "--seconds", "1", "--sf", SF, *args],
                       capture_output=True, text=True)
    assert r.returncode == 0, f"run.py {args} exited {r.returncode}:\n{r.stderr[-3000:]}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def names_units(spec):
    return {m["name"]: m["unit"] for m in spec}


def main():
    spec = json.load(open("BENCHMARK.json"))
    e2e, layer = names_units(spec["end_to_end"]), names_units(spec["per_layer"])
    for w in run.WORKLOADS:
        res = bench("--workload", w, "--trace", "1")
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == layer, f"{w}: per-layer metrics differ: {set(got) ^ set(layer)}"
        n_layer = len(got)
        full = json.load(open(os.path.join(".perfbench_out", f"{w}-7-t1", "result.json")))
        got = {k: v["unit"] for k, v in full["end_to_end"].items()}
        assert got == e2e, f"{w}: end-to-end metrics differ: {set(got) ^ set(e2e)}"
        assert res["correct"] and res["failed"] == 0 and full["fail_frac"] == 0, res
        print(f"ok {w}: {res['attempted']} ops, {n_layer} per-layer metrics")

    golden = json.load(open(os.path.join(HERE, "golden", f"{SF}.json")))
    victim = sorted(golden)[0]
    golden[victim] = dict(golden[victim], digest="0" * 64)
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=".", delete=False) as f:
        json.dump(golden, f)
    try:
        res = bench("--workload", "star_olap", "--trace", "0", "--golden", f.name)
    finally:
        os.remove(f.name)
    assert not res["correct"] and res["failed"] >= 1, res
    print(f"ok: a wrong digest for {victim} fails the run ({res['failed']} failed)")


if __name__ == "__main__":
    main()
