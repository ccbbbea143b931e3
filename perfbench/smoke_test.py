#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001 with short runs.

    python3 perfbench/smoke_test.py

Runs every workload untraced and traced and requires a correct result
line carrying every metric BENCHMARK.json names, then proves that a wrong
value in an expected result and a failing statement each make a run fail,
counted in `failed` and not dropped from `attempted`. The wrong value
keeps the expected row count, so the run must fail on a compared value,
never on a row count. Exits 0 when all hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd + list(extra), cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else None
    detail = json.loads(lines[-2]) if len(lines) > 1 else {}
    return p.returncode, res, detail.get("failures", {}), p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in sorted(workloads.WORKLOADS):
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            code, res, _, err = run(w, trace)
            want = {m["name"] for m in bench[key]}
            if code != 0 or not res or not res["correct"] or res["failed"]:
                problems.append("%s trace=%d: not correct (exit %d) %s %s"
                                % (w, trace, code, res, err[-2000:]))
            elif set(res["metrics"]) != want:
                problems.append("%s trace=%d: metrics %s, want %s"
                                % (w, trace, sorted(res["metrics"]), sorted(want)))
            else:
                print("ok   %s trace=%d: %d statements" % (w, trace, res["attempted"]))
        for inject in ["wrong", "error"]:
            code, res, why, err = run(w, 0, "--inject", inject)
            if code == 0 or not res or res["correct"] or res["failed"] < 1 or res["attempted"] < 1:
                problems.append("%s --inject %s: the run did not fail: exit %d %s"
                                % (w, inject, code, res))
            elif inject == "wrong" and any(r.startswith("rows ") for r in why.values()):
                problems.append("%s --inject wrong: failed on a row count, not a value: %s"
                                % (w, why))
            else:
                print("ok   %s --inject %s: %d of %d statements failed"
                      % (w, inject, res["failed"], res["attempted"]))
    for p in problems:
        print("FAIL " + p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
