#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload star_olap --seed 1 --seconds 5 --trace 0

Builds graft and the benchmark harness from source into the build directory
($CARGO_TARGET_DIR, default .bench_build; reused while the sources are
unchanged), runs the workload in one JVM (perfbench/harness), checks every
op's output, and prints the metrics as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Every run also leaves result.json (metrics, environment, per-op ledger) in
.perfbench_out/<workload>-<seed>-t<trace>/; a traced run adds spans.json.
Workloads, metrics and the layer map are described in perfbench/README.md.

Inputs: the repository's test tables, found through $GRAFT_TESTDATA or the
directory TESTDATA.md documents; Spark and the Scala compiler from the jars
directory of $SPARK_HOME (or build.sbt's unmanagedBase).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import canon  # noqa: E402

WORKLOADS = ("star_olap", "load_ctas", "corpus_dedup")
SF = "sf0.01"  # the table scale every workload reads
SETUP_REPS = 3
NPROC = len(os.sched_getaffinity(0))  # what `nproc` reports
# A fixed-size heap under the parallel collector: the generations do not
# resize with load, so peak RSS follows the program's live data, not the
# collector's sizing heuristics.
JVM_HEAP = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g"]
JVM_TIMEOUT_S = 165
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- locate

def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BenchError("no Spark jars: set SPARK_HOME")


def testdata(root, sf):
    base = os.environ.get("GRAFT_TESTDATA")
    if base:
        d = os.path.join(base, sf)
    else:
        doc = os.path.join(root, "TESTDATA.md")
        if not os.path.exists(doc):
            raise BenchError("no TESTDATA.md and no GRAFT_TESTDATA")
        m = re.search(r"`([^`]*/" + re.escape(sf) + r")/?`", open(doc).read())
        if not m:
            raise BenchError(f"TESTDATA.md names no {sf} directory")
        d = m.group(1)
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        raise BenchError(f"test tables missing under {d}")
    return d


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BenchError("no java on PATH")
    return found


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def git_sha(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- build

def source_files(root):
    files = []
    for base in ("src/main", "perfbench/harness"):
        for d, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(root, jars):
    """Compile graft and the harness unless the sources are unchanged.
    Returns (classpath, source digest)."""
    files = source_files(root)
    if not any(f.endswith(".scala") and "/src/main/" in f for f in files):
        raise BenchError("no graft sources under src/main")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    graft_cls = os.path.join(out, "graft-classes")
    harness_cls = os.path.join(out, "harness-classes")
    stamp_file = os.path.join(out, "stamp")
    jar_cp = os.path.join(jars, "*")
    cp = os.pathsep.join([harness_cls, graft_cls, jar_cp])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, stamp
    log("building graft and the harness (first run in this checkout)")
    for d in (graft_cls, harness_cls):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)

    def scalac(dest, classpath, sources):
        cmd = [java_bin(), "-Xss8m", "-Xmx3g", "-cp", jar_cp,
               "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
               "-d", dest] + sources
        r = subprocess.run(cmd, capture_output=True, text=True)
        if r.returncode != 0:
            raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])

    jar_list = os.pathsep.join(
        os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
    t0 = time.monotonic()
    scalac(graft_cls, jar_list,
           [f for f in files if "/src/main/" in f and f.endswith(".scala")])
    res = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, graft_cls, dirs_exist_ok=True)
    scalac(harness_cls, os.pathsep.join([graft_cls, jar_list]),
           [f for f in files if "/perfbench/harness/" in f and f.endswith(".scala")])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.monotonic() - t0:.0f} s")
    return cp, stamp


# ---------------------------------------------------------------- run

def run_jvm(root, cp, args, work):
    cmd = [java_bin()] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *JVM_HEAP, "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "graftperf.Main"] + [f"{k}={v}" for k, v in args.items()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"harness exceeded {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(args["out"]):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise BenchError(f"harness exited {rc}:\n{tail}")
    with open(args["out"]) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check(ledger, work, golden):
    """Mark each ledger row's `correct`; returns the number of failures."""
    failed = 0
    exp = ledger.get("expected") or {}
    for r in ledger["rows"]:
        ok = r["ok"]
        if ok and ledger["workload"] == "load_ctas":
            rows = exp["rows"]
            ok = (r["check.loaded"] == rows and r["check.stats"] == rows
                  and r["sources.rejected_rows"] == r["sources.planted_rows"]
                  and r["check.readback"] == exp["readback"])
        elif ok and r["pass"] == 0:
            got = canon.read_result(os.path.join(work, "results", r["op"]))
            want = golden.get(r["op"])
            ok = (got is not None and want is not None
                  and canon.digest(got) == want)
            if not ok:
                log(f"{r['op']}: result does not match its golden digest")
        if not r["ok"]:
            log(f"{r['op']} (pass {r['pass']}) failed: {r['error']}")
        r["correct"] = bool(ok)
        failed += 0 if ok else 1
    return failed


# ---------------------------------------------------------------- metrics

TAIL_PCT = 90


def tail(xs):
    """Nearest-rank p90: (value, samples beyond it). A run's budget gives
    too few warm samples for a percentile with ten beyond it."""
    s = sorted(xs)
    k = max(0, -(-TAIL_PCT * len(s) // 100) - 1)
    return s[k], len(s) - k - 1


def interval_union(ivs):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span name: duration minus the part its children cover (ms)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        cov = interval_union([(max(c["start_ms"], lo), min(c["end_ms"], hi))
                              for c in kids.get(s["id"], [])
                              if min(c["end_ms"], hi) > max(c["start_ms"], lo)])
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - cov
    return out


def end_to_end(ledger):
    setups = [s["session_build_s"] + s["staging_s"] for s in ledger["setup"]]
    warm = [r for r in ledger["rows"] if r["pass"] > 0]
    times = [r["wall_s"] for r in warm]
    t, beyond = tail(times)
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": (sum(r["wall_s"] for r in ledger["rows"]
                            if r["pass"] == 0), "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "op_tail_s": (t, "s"),
        "ops_per_s": (len(warm) / sum(times), "1/s"),
        "peak_rss_mb": (ledger["peak_rss_mb"], "MB"),
    }, {"tail_percentile": TAIL_PCT, "tail_samples_beyond": beyond,
        "warm_samples": len(times)}


COUNTERS = [
    ("operators.build_s", "s"), ("operators.checkpoints", "count"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"),
    ("plans.planning_ms", "ms"), ("plans.query_executions", "count"),
    ("plans.scans", "count"), ("plans.exchanges", "count"),
    ("plans.reused_exchanges", "count"), ("plans.broadcast_joins", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.no_job_s", "s"), ("exec.scheduler_delay_s", "s"),
    ("exec.slot_idle_frac", "ratio"), ("exec.executor_run_s", "s"),
    ("exec.executor_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("Tables.scan_files", "count"),
    ("Tables.scan_bytes", "bytes"), ("Tables.repartition_exchanges", "count"),
    ("sources.load_s", "s"), ("sources.rejected_rows", "count"),
    ("sources.staged_bytes", "bytes"), ("sources.ctas_s", "s"),
    ("sources.ctas_files", "count"), ("sources.ctas_bytes", "bytes"),
]
# self time per layer: span name -> layer
SPAN_LAYER = {
    "op": "harness", "operators.build": "operators", "operators.run": "operators",
    "sources.load": "sources", "sources.ctas": "sources",
    "sources.readback": "sources", "sql.execution": "sql",
    "plans.parsing": "plans", "plans.analysis": "plans",
    "plans.optimization": "plans", "plans.planning": "plans",
    "exec.job": "exec.job", "exec.stage": "exec.stage",
}
LAYERS = ["harness", "operators", "sources", "sql", "plans", "exec.job", "exec.stage"]


def per_layer(ledger):
    """Per-layer metrics: each counter summed over one traced warm pass,
    median over the traced passes. Ratios are averaged over the pass's
    ops instead of summed."""
    rows = ledger["rows"]
    traced = sorted({r["pass"] for r in rows if r["traced"]})
    untraced = sorted({r["pass"] for r in rows
                       if r["pass"] > 0 and not r["traced"]})

    def per_pass(f, passes):
        return statistics.median(f([r for r in rows if r["pass"] == p])
                                 for p in passes)

    out = {}
    for name, unit in COUNTERS:
        if name == "exec.slot_idle_frac":
            f = lambda rs: statistics.fmean(r.get(name, 0.0) for r in rs)
        else:
            f = lambda rs, n=name: sum(r.get(n, 0.0) for r in rs)
        out[name] = (per_pass(f, traced), unit)
    out["Session.build_s"] = (statistics.median(
        s["session_build_s"] for s in ledger["setup"]), "s")
    exp = ledger.get("expected") or {}
    if ledger["workload"] == "load_ctas":
        out["sources.load_rows_per_s"] = (per_pass(
            lambda rs: sum(r["sources.loaded_rows"] for r in rs)
            / sum(r["sources.load_s"] for r in rs), traced), "1/s")
        out["sources.stored_bytes_per_input_byte"] = (
            per_pass(lambda rs: statistics.fmean(r["sources.ctas_bytes"] for r in rs),
                     traced) / exp["input_parquet_bytes"], "ratio")
        out["sources.readback_scan_files"] = (per_pass(
            lambda rs: sum(r.get("sources.readback.scan_files", 0.0) for r in rs),
            traced), "count")
    else:
        out["sources.load_rows_per_s"] = (0.0, "1/s")
        out["sources.stored_bytes_per_input_byte"] = (0.0, "ratio")
        out["sources.readback_scan_files"] = (0.0, "count")
    # self time per layer, per traced pass (only traced passes have spans)
    per_layer_ms = dict.fromkeys(LAYERS, 0.0)
    for name, ms in self_times(ledger["spans"]).items():
        per_layer_ms[SPAN_LAYER[name]] += ms
    for layer in LAYERS:
        out[f"self_s.{layer}"] = (per_layer_ms[layer] / 1000.0 / len(traced), "s")
    pass_wall = {p: sum(r["wall_s"] for r in rows if r["pass"] == p)
                 for p in traced + untraced}
    out["trace.overhead_frac"] = (
        statistics.median(pass_wall[p] for p in traced)
        / statistics.median(pass_wall[p] for p in untraced) - 1.0, "ratio")
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=SF, help=f"table scale to read (default {SF})")
    ap.add_argument("--golden", help="golden digest file (default: golden/<sf>.json)")
    a = ap.parse_args()

    root = os.getcwd()
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    jars = spark_jars(root)
    sf = a.sf
    sf_dir = testdata(root, sf)
    golden_path = a.golden or os.path.join(HERE, "golden", f"{sf}.json")
    golden = json.load(open(golden_path)) if a.workload != "load_ctas" else {}
    cp, stamp = build(root, jars)

    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        ledger = run_jvm(root, cp, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "sf": sf_dir, "cores": NPROC,
            "work": work, "out": os.path.join(work, "ledger.json"),
            "setup_reps": SETUP_REPS}, work)
        wall = time.monotonic() - t0
        failed = check(ledger, work, golden)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ticks_end = cpu_ticks()
    e2e, tail_info = end_to_end(ledger)
    metrics = per_layer(ledger) if a.trace else e2e
    env = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "sf": sf, "nproc": NPROC,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        # CPU time the hypervisor gave to other tenants during the run
        "steal_frac": round((ticks_end[0] - ticks_start[0])
                            / max(1, ticks_end[1] - ticks_start[1]), 4),
        "jvm_heap": " ".join(JVM_HEAP), "git_sha": git_sha(root),
        "source_digest": stamp, "process_s": round(wall, 3),
        "warm_passes": ledger["warm_passes"], **tail_info,
    }
    attempted = len(ledger["rows"])
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    out_dir = os.path.join(root, ".perfbench_out", tag)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump({"env": env, "result": result,
                   "end_to_end": {k: {"value": v, "unit": u}
                                  for k, (v, u) in e2e.items()},
                   "fail_frac": failed / attempted,
                   "ledger": [{k: v for k, v in r.items() if not k.startswith("check.")}
                              for r in ledger["rows"]]}, f, indent=1)
    if a.trace:
        with open(os.path.join(out_dir, "spans.json"), "w") as f:
            json.dump(ledger["spans"], f)
    print("env: " + json.dumps(env))
    print(json.dumps(result))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
