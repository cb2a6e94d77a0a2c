#!/usr/bin/env python3
"""The repository benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the library and the
benchmark's JVM side from source (cached in .bench_build/), generates the
workload's inputs from the seed (in .bench_work/), runs the workload in
one JVM on local[4], checks every output against the generator's
manifest, and prints each metric with its unit. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Exit code 0 only when every check passed. See README.md.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ("fs_index", "api_search", "stream_dedup")

# (name, unit): every workload reports all of them; README.md gives what
# an "operation" and an "item" are on each workload
END_TO_END = [("setup_s", "s"), ("peak_live_mb", "MiB"), ("throughput", "1/s"),
              ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms")]

# percentile reported as latency_tail_ms. On api_search a run makes at
# least 50 requests, so ten or more samples lie beyond it; fs_index (8
# steps) and stream_dedup (6 batches) make too few operations for that
# (README.md).
TAIL_PCT = {"fs_index": 75, "api_search": 80, "stream_dedup": 90}

API_KINDS = ("search_offset", "search_keyset", "duplicates", "stats", "visualization")
PER_LAYER = (
    [("fs.scan_s", "s"), ("fs.scan_files", "count"), ("fs.hash_s", "s"), ("fs.hash_mb", "MiB"),
     ("fs.publish_s", "s"), ("fs.snapshot_bytes_per_row", "B"), ("fs.snapshot_files", "count"),
     ("fs.load_s", "s"), ("fs.phase2_hashed", "count"), ("fs.phase2_yield", "ratio"),
     ("fs.incr_rehashed", "count")]
    + [(f"serve.{k}_p50_ms", "ms") for k in API_KINDS]
    + [("serve.load_ms", "ms"), ("serve.query_ms", "ms"), ("serve.transport_ms", "ms")]
    + [("stream.add_batch_ms", "ms"), ("stream.plan_ms", "ms"), ("stream.compact_ms", "ms"),
       ("stream.state_bytes_per_kept_doc", "B"), ("stream.live_deltas", "count")]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_mb", "MiB"),
       ("spark.spill_mb", "MiB"), ("spark.parallelism", "ratio")]
    + [("trace.overhead_pct", "%")])

JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


# ------------------------------------------------------------- statistics

def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def min_ops_for(pct, beyond=10):
    """Fewest samples for which `pct` has `beyond` samples above it."""
    return math.ceil(beyond * 100.0 / (100 - pct)) if pct < 100 else 1


# ------------------------------------------------------------ environment

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("no Spark distribution with a Scala compiler (set SPARK_HOME)")
    return jars


def build(root):
    """Compile the library (src/main/scala) and the benchmark's JVM side
    into .bench_build/, keyed by a hash of every source file."""
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not lib:
        raise BenchError("no library sources under src/main/scala: not a checkout of the repo")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in lib + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, ".bench_build", "perfbench", h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "OK")):
        return out, jars
    shutil.rmtree(out, ignore_errors=True)
    cp = os.path.join(jars, "*")
    for name, srcs, extra in (("lib", lib, []), ("bench", bench, [os.path.join(out, "lib")])):
        os.makedirs(os.path.join(out, name))
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-cp", os.pathsep.join(extra + [cp]), "-d", os.path.join(out, name)] + srcs
        t0 = time.time()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise BenchError(f"compiling {name} failed")
        print(f"built {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    open(os.path.join(out, "OK"), "w").close()
    return out, jars


def cpu_jiffies():
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except OSError:
        return 0, 0


def load_avg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


# --------------------------------------------------------------- evaluate

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _untraced(ops):
    return [o for o in ops if not o.get("traced")]


def overhead_pct(ops):
    """Tracing overhead from one traced run, whose traced and untraced
    operations are interleaved: per operation kind, median traced over
    median untraced; the geometric mean of those ratios, - 1, in %."""
    ratios = []
    for kind in sorted({o["kind"] for o in ops}):
        on = [o["ms"] for o in ops if o["kind"] == kind and o.get("traced")]
        off = [o["ms"] for o in ops if o["kind"] == kind and not o.get("traced")]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    if not ratios:
        return 0.0
    return 100.0 * (math.exp(statistics.fmean(math.log(r) for r in ratios)) - 1.0)


def eval_fs(res, man):
    problems, failed_kinds = [], []
    for t, (obs, exp) in enumerate(zip(res["observed"]["trees"], man["trees"])):
        for step in ("full", "two_phase", "incremental", "cleanup"):
            diff = {k: (obs[step].get(k), v) for k, v in exp[step].items()
                    if obs[step].get(k) != v}
            if diff:
                problems.append(f"tree {t} {step}: observed/expected {diff}")
                failed_kinds.append((t, step))
        if obs["sample_sha256"] != exp["sample_sha256"]:
            problems.append(f"tree {t}: sampled checksums differ from recomputed ones")
            failed_kinds.append((t, "full"))
    if len(res["observed"]["trees"]) != len(man["trees"]):
        problems.append("not every tree was indexed")
    ops = res["ops"]
    per_tree = 4
    failed = sum(1 for i, o in enumerate(ops) if (i // per_tree, o["kind"]) in failed_kinds)
    un = _untraced(ops)
    fps = sum(o["files"] for o in un) / (sum(o["ms"] for o in un) / 1e3)
    info = {}
    for kind, name in (("full", "index_full_fps"), ("two_phase", "index_two_phase_fps"),
                       ("incremental", "index_incr_fps"), ("cleanup", "cleanup_fps")):
        rates = [o["files"] / (o["ms"] / 1e3) for o in un if o["kind"] == kind]
        info[name] = (_median(rates), "files/s")
    info["tree_files"] = (man["trees"][0]["full"]["rows"], "count")
    info["tree_mib"] = (man["trees"][0]["bytes"] / 1048576.0, "MiB")
    return ops, failed, problems, fps, info


def eval_api(res, man):
    problems, failed = [], 0
    exp = man["requests"]
    for o in res["ops"]:
        want, got = exp[o["req"]], o["fields"]
        bad = o["status"] != 200
        for k, v in want.items():
            g = got.get(k)
            if isinstance(v, bool):
                g = {"true": True, "false": False}.get(g, g)
            elif g is not None:
                g = int(g)
            if g != v:
                bad = True
        if bad:
            failed += 1
            if len(problems) < 10:
                problems.append(f"request {o['req']} ({o['kind']}): status {o['status']}, "
                                f"fields {got}, expected {want}")
    return res["ops"], failed, problems, len(res["ops"]) / res["wall_s"], {}


def eval_stream(res, man):
    problems = []
    batches = {b["batch"]: b for b in res["observed"]["batches"]}
    ops = res["ops"]
    bad = set()
    for o in ops:
        b = o["batch"]
        got = batches.get(b)
        want = {"docs": man["docs"][b], "kept": man["kept"][b], "distinct": man["docs"][b]}
        if got is None or any(got[k] != v for k, v in want.items()) or o["docs"] != want["docs"]:
            bad.add(b)
            if len(problems) < 10:
                problems.append(f"batch {b}: decisions {got}, expected {want}")
    if len(batches) != len(ops):
        problems.append(f"{len(batches)} batches wrote decisions, {len(ops)} ran")
    un = _untraced(ops)
    docs_per_s = sum(o["docs"] for o in un) / (sum(o["ms"] for o in un) / 1e3)
    kept = sum(man["kept"][o["batch"]] for o in ops)
    info = {"batches": (len(ops), "count"), "kept_docs": (kept, "count")}
    return ops, len(bad), problems, docs_per_s, info


def evaluate(workload, res, man, trace):
    """Checks and metrics from one JVM result. Returns (attempted,
    failed, problems, metrics {name: (value, unit)}, info)."""
    if workload == "fs_index":
        ops, failed, problems, rate, info = eval_fs(res, man)
    elif workload == "api_search":
        ops, failed, problems, rate, info = eval_api(res, man)
    else:
        ops, failed, problems, rate, info = eval_stream(res, man)
    un = [o["ms"] for o in _untraced(ops)]
    pct = TAIL_PCT[workload]
    need = min_ops_for(pct) if workload == "api_search" and not trace else 1
    if len(un) < need:
        problems.append(f"{len(un)} untraced operations, the tail needs {need}")
    info["operations"] = (len(un), "count")
    info["tail_percentile"] = (pct, "pct")
    if not trace:
        metrics = {"setup_s": (res["setup_s"], "s"), "peak_live_mb": (res["peak_live_mb"], "MiB"),
                   "throughput": (rate, "1/s"), "latency_p50_ms": (_median(un), "ms"),
                   "latency_tail_ms": (percentile(un, pct) if un else 0.0, "ms")}
    else:
        layers = dict(res["layers"])
        if workload == "api_search":
            http = ops
            for k in API_KINDS:
                layers[f"serve.{k}_p50_ms"] = _median([o["ms"] for o in http if o["kind"] == k])
            layers["serve.transport_ms"] = (_median([o["ms"] for o in http])
                                            - layers["serve.load_ms"] - layers["serve.query_ms"])
        layers["trace.overhead_pct"] = overhead_pct(ops)
        units = dict(PER_LAYER)
        metrics = {n: (float(layers.get(n, 0.0)), units[n]) for n, _ in PER_LAYER}
    return len(ops), failed, problems, metrics, info


# ------------------------------------------------------------------- main

def run(args):
    root = os.getcwd()
    classes, jars = build(root)
    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    spec, man = gen.generate(args.workload, args.seed, work)
    with open(os.path.join(work, "spec.json"), "w") as f:
        json.dump(spec, f)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           # a fixed heap size, so the collector's resizing stays out of the timings
           + ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}",
              "-cp", os.pathsep.join([os.path.join(classes, "bench"), os.path.join(classes, "lib"),
                                      os.path.join(jars, "*")]),
              "perfbench.Main", "--workload", args.workload, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-id", f"{args.workload}-{args.seed}-{args.trace}"])
    j0, l0 = cpu_jiffies(), load_avg()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"workload did not finish in {JVM_TIMEOUT_S} s")
    j1, l1 = cpu_jiffies(), load_avg()
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"workload JVM exited with {p.returncode}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    attempted, failed, problems, metrics, info = evaluate(args.workload, res, man, args.trace)
    steal = 100.0 * (j1[0] - j0[0]) / (j1[1] - j0[1]) if j1[1] > j0[1] else -1.0
    info["vm_hwm_mb"] = (res["vm_hwm_mb"], "MiB")
    info["cpu_steal_pct"] = (steal, "%")
    info["load_avg_start"] = (l0, "")
    info["load_avg_end"] = (l1, "")

    out = os.path.join(root, ".bench_work", "out",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "spans.json"), "w") as f:
        json.dump(res.pop("spans"), f)
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "contended": steal > 1.0, "manifest_digest": man["digest"],
               "metrics": metrics, "info": info, "problems": problems}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    shutil.copy(os.path.join(work, "jvm.log"), out)
    shutil.rmtree(work, ignore_errors=True)  # inputs and scratch

    for name, (v, unit) in metrics.items():
        print(f"{name} = {v:.6g} {unit}")
    for name, (v, unit) in info.items():
        print(f"  ({name} = {v:.6g} {unit})")
    state = "CONTENDED" if steal > 1.0 else "comparable"
    print(f"  (run is {state}: cpu steal {steal:.2f}%, limit 1%)")
    for pr in problems:
        print(f"CHECK FAILED: {pr}", file=sys.stderr)
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        sys.exit(run(args))
    except BenchError as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
