#!/usr/bin/env python3
"""Re-pins perfbench/expected.json: the fingerprint every benchmark key must
reproduce.

For each workload it runs the benchmark twice (seeds 1 and 2, so two key
orders), with every key's output also written as parquet. A key is pinned
only when
  - both runs give the same fingerprint, and
  - its output matches its DuckDB oracle (SparkEntry.oracleSql) on the same
    fixture tables: the dump is laid out as graft.Verify writes it and
    checked by tools/parity.py; keys without an oracle are pinned from the
    run alone and listed as such.

Usage (from the repository root): python3 perfbench/pin.py [workload ...]
Keys that fail are reported and left out of expected.json, so the benchmark
counts them as failed until the engine is fixed.
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def parity(dump):
    """Runs tools/parity.py on a dump; returns {key: None if ok, else the
    failure} for the oracled keys (keys without an oracle are absent)."""
    out = subprocess.run([sys.executable, "tools/parity.py", dump, run.DATA],
                         capture_output=True, text=True).stdout
    verdicts = {}
    for line in out.splitlines():
        m = re.match(r"(ok|FAIL)\s+([\w.-]+)(.*)", line)
        if m:
            verdicts[m.group(2)] = None if m.group(1) == "ok" else m.group(3).strip(": ")
    return verdicts


def main(workloads):
    conf = run.load_json("workloads.json")
    listed = {k for wl in conf["workloads"].values() for ks in wl["modules"].values() for k in ks}
    expected = {k: v for k, v in run.load_json("expected.json").items() if k in listed}
    failures = []
    for w in workloads or conf["workloads"]:
        dump = os.path.join(build.BUILD, f"pin-{w}")
        pins = os.path.join(build.BUILD, f"pin-{w}.json")
        shutil.rmtree(dump, ignore_errors=True)
        if os.path.exists(pins):
            os.remove(pins)
        for seed in (1, 2):
            subprocess.check_call(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed",
                 str(seed), "--seconds", "1", "--pin", pins, "--dump", dump],
                stdout=subprocess.DEVNULL)
        with open(pins) as f:
            fps = json.load(f)
        verdicts = parity(dump)
        keys = [k for ks in conf["workloads"][w]["modules"].values() for k in ks]
        for k in keys:
            if k not in fps:
                failures.append(f"{w}/{k}: no stable output")
                expected.pop(k, None)
            elif verdicts.get(k):
                failures.append(f"{w}/{k}: oracle mismatch: {verdicts[k]}")
                expected.pop(k, None)
            else:
                expected[k] = fps[k]
                print(f"pinned {w}/{k} {fps[k]}" + ("" if k in verdicts else " (no oracle)"))
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")
    for x in failures:
        print("FAIL", x)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
