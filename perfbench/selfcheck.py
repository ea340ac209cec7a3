#!/usr/bin/env python3
"""Self-checks of the benchmark (run from the repository root):

  python3 perfbench/selfcheck.py

1. Fingerprints (graft.perfbench.SelfCheck): row order does not change a
   fingerprint; a changed value, a lost or duplicated row, or a changed
   column type does.
2. The table_rw reference model agrees with graft-sink on two seeds, and a
   model that lost one row fails the whole-table check.
3. A perturbed fingerprint fails the check in run.evaluate, and percentiles
   come with their sample counts.
Exits 1 if any check fails.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

OPS = 40


def main():
    failed = []
    classes = build.build()
    work = os.path.join(build.BUILD, "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "scratch"))
    cmd = ["java", "-Xmx1g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.SelfCheck",
            "--work", work, "--ops", str(OPS)]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{work}/scratch",
               SPARK_LOCAL_DIRS=f"{work}/scratch")
    p = subprocess.run(cmd, cwd=work, env=env, capture_output=True, text=True, timeout=170)
    for line in p.stdout.splitlines():
        if line.startswith(("ok", "FAIL")):
            print(line)
    if p.returncode != 0:
        failed.append(f"SelfCheck exited {p.returncode}: {p.stderr[-2000:]}")

    for seed, want_fail in (("1", False), ("2", False), ("3", True)):
        path = os.path.join(work, f"selfcheck-{seed}.jsonl")
        recs = [json.loads(x) for x in open(path)] if os.path.exists(path) else []
        ops = run.of(recs, "op")
        bad = [o for o in ops if not o["ok"]]
        ok = len(ops) == OPS + 1 and (bool(bad) if want_fail else not bad)
        what = ("a model that lost a row is caught" if want_fail
                else f"model agrees with graft-sink, seed {seed}")
        print(f"{'ok  ' if ok else 'FAIL'} table: {what} ({len(ops)} ops, {len(bad)} mismatches)")
        if not ok:
            failed.append(what)

    rec = {"kind": "call", "key": "k", "err": None, "fp": "3:00000000:0000000000000001"}
    perturbed = dict(rec, fp="3:00000000:0000000000000002")
    _, n_bad, _ = run.evaluate([perturbed], {"k": rec["fp"]}, None)
    _, n_good, _ = run.evaluate([rec], {"k": rec["fp"]}, None)
    ok = n_bad == 1 and n_good == 0
    print(f"{'ok  ' if ok else 'FAIL'} evaluate: a perturbed fingerprint fails, the pinned one passes")
    if not ok:
        failed.append("evaluate")

    for n, p50, p90, over in ((100, 50, 90, 10), (10, 5, 9, 1), (7, 4, 7, 0)):
        recs = [{"kind": "call", "build_s": x / 2, "action_s": x / 2} for x in range(1, n + 1)]
        walls = run.call_walls(recs)
        ok = (len(walls) == n and run.pct(walls, 0.5) == p50 and run.pct(walls, 0.9) == p90
              and run.beyond(n, 0.9) == over)
        print(f"{'ok  ' if ok else 'FAIL'} percentiles: p50/p90 of 1..{n} are {p50}/{p90} "
              f"over {n} calls, {over} beyond p90 (the run line reports both counts)")
        if not ok:
            failed.append(f"percentiles of 1..{n}")

    shutil.rmtree(work, ignore_errors=True)
    for f in failed:
        print("FAILED:", f)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
