#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness (build.py),
runs one JVM for the workload on the fixture tables in perfbench/data,
checks every output against perfbench/expected.json (or, for table
operations, against the harness's reference model) and prints, as the last
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.  The line before it
records the run's conditions (cores, scale, seed, heap, sample counts).

Options used by pin.py (see README.md): --pin <file> records the
fingerprints instead of checking them; --dump <dir> also writes every key's
output as parquet, with the keys' oracle SQL.
"""
import argparse
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

import build  # noqa: E402

# the harness JVM is stopped this many seconds after the build (check)
RUN_LIMIT_S = 170.0
# the repository's sf0.01 fixture tables, copied unchanged (see README.md)
DATA = os.path.join(HERE, "data")
SCALE_FACTOR = 0.01
# pinned driver heap
HEAP = "2g"
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def rank(n, q):
    """0-based nearest rank of quantile q among n sorted samples."""
    return min(n - 1, max(0, math.ceil(q * n) - 1))


def pct(xs, q):
    """Nearest-rank percentile; beyond(len(xs), q) samples lie above it."""
    return sorted(xs)[rank(len(xs), q)]


def beyond(n, q):
    return n - 1 - rank(n, q)


def run_jvm(args, wl, classes, work, t_start):
    keys_file = os.path.join(work, "keys.tsv")
    with open(keys_file, "w") as f:
        for module, keys in wl["modules"].items():
            for k in keys:
                f.write(f"{module}\t{k}\n")
    for d in ("scratch", "tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = os.path.join(work, "records.jsonl")
    jars = build.spark_jars()
    nproc = len(os.sched_getaffinity(0))
    # fixed heap and a throughput collector with bounded helper threads:
    # on a small host this keeps run-to-run spread and resident memory down
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--keys", keys_file, "--out", out,
            "--warehouse", f"{work}/warehouse", "--local-dir", f"{work}/local",
            "--nproc", str(nproc), "--dump", args.dump or "-"]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{work}/scratch", SPARK_LOCAL_DIRS=f"{work}/local")
    log = os.path.join(work, "jvm.log")
    budget = RUN_LIMIT_S - (time.time() - t_start)
    with open(log, "w") as lf:
        cmd += ["--launched-ms", str(int(time.time() * 1000))]
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = p.wait(timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")
    recs = []
    with open(out) as f:
        for line in f:
            recs.append(json.loads(line))
    return recs, nproc


def evaluate(recs, expected, pin):
    """Correctness: every call's fingerprint against the pinned one, every
    table operation against the model. Returns (attempted, failed, notes)."""
    attempted = failed = 0
    notes = []
    for r in recs:
        if r["kind"] == "call":
            attempted += 1
            if pin is not None and r["err"] is None:
                if pin.setdefault(r["key"], r["fp"]) != r["fp"]:
                    notes.append(f"{r['key']}: unstable fingerprint")
                    failed += 1
                continue
            want = expected.get(r["key"])
            if r["err"] is not None or want != r["fp"]:
                failed += 1
                notes.append(f"{r['key']}: " + (r["err"] or f"fingerprint {r['fp']} != {want}"))
        elif r["kind"] == "op":
            attempted += 1
            if not r["ok"]:
                failed += 1
                notes.append(f"table {r['class']}: {r['err']}")
    return attempted, failed, notes


def of(recs, kind):
    return [r for r in recs if r["kind"] == kind]


def timed_ops(recs):
    return [o for o in of(recs, "op") if o["class"] != "final"]


def call_walls(recs):
    """Wall of every timed call: key calls and table operations."""
    return ([c["build_s"] + c["action_s"] for c in of(recs, "call")]
            + [o["ms"] / 1000 for o in timed_ops(recs)])


def end_to_end(recs):
    return {
        "setup_s": (of(recs, "setup")[0]["setup_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in of(recs, "pass")), "s"),
        "query_p50_s": (pct(call_walls(recs), 0.5), "s"),
        "peak_rss_mb": (of(recs, "end")[0]["vmhwm_kb"] / 1024, "MB"),
    }


def per_layer(recs, conf, nproc):
    passes = of(recs, "pass")
    n = len(passes)
    calls = of(recs, "call")
    ops = timed_ops(recs)
    layer = of(recs, "layer")[0]
    stream = of(recs, "stream")[0]
    end = of(recs, "end")[0]
    jobs = of(recs, "job")
    traced_wall = sum(p["wall_s"] for p in passes)
    # job-active time inside the timed calls and operations only
    windows = [(c["start_ms"], c["end_ms"]) for c in calls]
    windows += [(o["start_ms"], o["start_ms"] + o["ms"]) for o in ops]
    active = 0.0
    for lo, hi in windows:
        iv = sorted((max(j["start_ms"], lo), min(j["end_ms"], hi)) for j in jobs
                    if j["start_ms"] < hi and j["end_ms"] > lo)
        cur_lo = cur_hi = None
        for a, b in iv:
            if cur_hi is not None and a <= cur_hi:
                cur_hi = max(cur_hi, b)
            else:
                if cur_hi is not None:
                    active += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
        if cur_hi is not None:
            active += cur_hi - cur_lo
    active_s = active / 1000
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    put("trace.pass_s", statistics.median(p["wall_s"] for p in passes), "s")
    put("catalyst.analysis_ms", layer["analysis_ms"] / n, "ms")
    put("catalyst.optimizer_ms", layer["optimizer_ms"] / n, "ms")
    put("catalyst.planning_ms", layer["planning_ms"] / n, "ms")
    put("spark.jobs", layer["jobs"] / n, "count")
    put("spark.stages", layer["stages"] / n, "count")
    put("spark.tasks", layer["tasks"] / n, "count")
    put("spark.failed_tasks", layer["failed_tasks"] / n, "count")
    put("spark.driver_only_s", (traced_wall - active_s) / n, "s")
    put("spark.task_s", layer["task_ms"] / 1000 / n, "s")
    put("spark.core_utilization",
        layer["task_ms"] / 1000 / (active_s * nproc) if active_s > 0 else 0.0, "ratio")
    put("spark.serial_stage_s", layer["serial_stage_ms"] / 1000 / n, "s")
    put("spark.shuffle_write_bytes", layer["shuffle_write"] / n, "bytes")
    put("spark.shuffle_read_bytes", layer["shuffle_read"] / n, "bytes")
    put("spark.spill_bytes", layer["spill"] / n, "bytes")
    put("jvm.gc_s", layer["gc_ms"] / 1000 / n, "s")
    for module in conf["modules"]:
        put(f"ops.{module}.wall_s",
            sum(c["build_s"] + c["action_s"] for c in calls if c["module"] == module) / n, "s")
    put("ops.build_s", sum(c["build_s"] for c in calls) / n, "s")
    put("ops.action_s", sum(c["action_s"] for c in calls) / n, "s")
    put("sources.table_ops_wall_s", sum(o["ms"] for o in ops) / 1000 / n, "s")
    kern = {k["name"]: k for k in of(recs, "kernel")}
    for name in conf["kernels"]:
        put(f"kernel.{name}_s", kern[name]["s"] if name in kern else 0.0, "s")
    lsh = kern.get("lshCcLabels")
    put("kernel.starContract_rounds", max(0, lsh["checksum_jobs"] - 1) if lsh else 0, "count")
    put("kernel.lshCcLabels_jobs", lsh["jobs"] if lsh else 0, "count")
    put("memos.builds", layer["memo_builds"] / n, "count")
    put("scratch.bytes", end["scratch_bytes"], "bytes")

    def med(xs):
        return statistics.median(xs) if xs else 0.0
    for cls in ("append", "replace", "delete", "optimize", "scan_point", "scan_range",
                "scan_partition", "scan_full", "time_travel"):
        put(f"sources.{cls}_ms", med([o["ms"] for o in ops if o["class"] == cls]), "ms")
    writes = [o["ms"] for o in ops if o["rw"] == "write"]
    reads = [o["ms"] for o in ops if o["rw"] == "read"]
    put("sources.write_p50_ms", pct(writes, 0.5) if writes else 0.0, "ms")
    put("sources.write_p90_ms", pct(writes, 0.9) if writes else 0.0, "ms")
    put("sources.read_p50_ms", pct(reads, 0.5) if reads else 0.0, "ms")
    put("sources.read_p90_ms", pct(reads, 0.9) if reads else 0.0, "ms")
    t = (of(recs, "table") or [None])[-1]
    put("sources.bytes_stored_per_input_byte",
        t["stored_bytes"] / t["input_bytes"] if t and t["input_bytes"] else 0.0, "ratio")
    put("sources.files_written", t["files_written"] if t else 0, "count")
    put("sources.bytes_written", t["bytes_written"] if t else 0, "bytes")
    put("sources.files_live", t["files_live"] if t else 0, "count")
    put("sources.skip_ratio",
        1 - t["files_scanned"] / t["files_seen"] if t and t["files_seen"] else 0.0, "ratio")
    put("sources.decoded_per_returned_row",
        t["decoded"] / t["returned"] if t and t["returned"] else 0.0, "ratio")
    put("sources.manifest_folds", t["manifest_folds"] if t else 0, "count")
    put("stream.batches", stream["batches"] / n, "count")
    for k in ("trigger_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
              "query_planning_ms"):
        put(f"stream.{k}", stream[k], "ms")
    put("stream.state_rows", stream["state_rows"] / n, "count")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin")
    ap.add_argument("--dump")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala", "perfbench/workloads.json", "perfbench/data/lineitem.parquet"):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"perfbench: run from the repository root ({need} is missing)")
    conf = load_json("workloads.json")
    if args.workload not in conf["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    wl = conf["workloads"][args.workload]
    expected = load_json("expected.json")

    classes = build.build()
    t_start = time.time()
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        recs, nproc = run_jvm(args, wl, classes, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    pin = None
    if args.pin:
        pin = json.load(open(args.pin)) if os.path.exists(args.pin) else {}
    attempted, failed, notes = evaluate(recs, expected, pin)
    if pin is not None:
        with open(args.pin, "w") as f:
            json.dump(dict(sorted(pin.items())), f, indent=1)
    e2e = end_to_end(recs)
    metrics = per_layer(recs, conf, nproc) if args.trace else e2e
    for n in notes[:20]:
        sys.stderr.write(f"perfbench: FAILED {n}\n")
    walls = call_walls(recs)
    print(json.dumps({"run": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": nproc,
        "scale_factor": SCALE_FACTOR, "heap_mb": of(recs, "end")[0]["heap_max_mb"],
        "passes": len(of(recs, "pass")), "calls": len(walls),
        "query_p90_s": pct(walls, 0.9), "calls_beyond_p90": beyond(len(walls), 0.9),
        "setup": of(recs, "setup")[0],
        "end_to_end": {k: round(v[0], 6) for k, v in e2e.items()}}}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
