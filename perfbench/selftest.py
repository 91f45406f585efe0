#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (sf0.001, a few hundred ops).

    python3 perfbench/selftest.py

For every workload it runs the benchmark three times at `--tiny`: once
untraced, once traced, once with `--inject-wrong`. It checks that
  * the last stdout line has exactly the keys correct/attempted/failed/metrics;
  * every end-to-end (untraced) or per-layer (traced) metric named in
    BENCHMARK.json is emitted, with its unit, as a finite number;
  * the deliberately wrong expected value is counted as a failure.
Exits 0 when every check holds. Takes a few minutes.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-1]), p.stdout


def check_metrics(result, wanted, label):
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{label}: keys {sorted(result)}")
    if not (isinstance(result.get("attempted"), int) and result["attempted"] >= 1):
        problems.append(f"{label}: attempted {result.get('attempted')!r}")
    if not isinstance(result.get("failed"), int):
        problems.append(f"{label}: failed {result.get('failed')!r}")
    got = result.get("metrics", {})
    if set(got) != {m["name"] for m in wanted}:
        problems.append(f"{label}: metric names differ: missing "
                        f"{sorted({m['name'] for m in wanted} - set(got))}, extra "
                        f"{sorted(set(got) - {m['name'] for m in wanted})}")
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            continue
        if v.get("unit") != m["unit"]:
            problems.append(f"{label}: {m['name']} unit {v.get('unit')!r}, expected {m['unit']!r}")
        if not (isinstance(v.get("value"), (int, float)) and math.isfinite(v["value"])):
            problems.append(f"{label}: {m['name']} value {v.get('value')!r}")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        plain, _ = run(w, "--trace", "0")
        problems += check_metrics(plain, spec["end_to_end"], f"{w} trace 0")
        traced, _ = run(w, "--trace", "1")
        problems += check_metrics(traced, spec["per_layer"], f"{w} trace 1")
        wrong, out = run(w, "--trace", "0", "--inject-wrong")
        if wrong["failed"] < 1 or wrong["correct"] or "(injected)" not in out:
            problems.append(f"{w}: the deliberately wrong expected value was not counted as a failure")
        print(f"{w}: trace0 correct={plain['correct']} failed={plain['failed']}/{plain['attempted']}; "
              f"trace1 correct={traced['correct']}; injected failed={wrong['failed']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "passed" if not problems else "FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
