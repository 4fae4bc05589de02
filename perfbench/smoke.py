#!/usr/bin/env python3
"""Smoke test of the benchmark.

    python3 perfbench/smoke.py

1. The gates oracle comparison (DuckDB only, no Spark) accepts the
   oracle's own rows and rejects a perturbed copy.
2. Every workload runs at a tiny size (``--scale tiny``), untraced and
   traced: each run exits 0, is correct with no failed call, and prints
   exactly the metrics that ``BENCHMARK.json`` names.

Exits 0 when all of this holds. Takes three to four minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_gate_comparison() -> None:
    sys.path[:0] = [ROOT, HERE]
    from tracing import Tracer
    from workloads import GATES, Gates

    wl = Gates(None, Tracer(False), None, 0, {})
    want = wl.oracle()
    # feed the oracle's own normalised rows back as results
    wl.results = [(g, want[g][0], want[g][1]) for g in GATES]
    assert wl.check() == [], wl.check()
    g = GATES[0]
    cols, rows = want[g]
    bad = [tuple("0" if i == 0 else c for i, c in enumerate(rows[0]))]
    wl.results = [(g, cols, bad + rows[1:])]
    errs = wl.check()
    assert errs and g in errs[0], errs
    print("gate comparison: ok")


def run_workloads() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = {0: {m["name"] for m in bench["end_to_end"]},
             1: {m["name"] for m in bench["per_layer"]}}
    failures = 0
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = bench["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--scale", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=300)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            got = set(res["metrics"])
            ok = (p.returncode == 0 and res["correct"]
                  and res["failed"] == 0 and res["attempted"] >= 1
                  and got == names[trace])
            print(f"{w['name']:14s} trace={trace}: "
                  f"{'ok' if ok else 'FAILED'}")
            if not ok:
                failures += 1
                print(p.stderr[-3000:], file=sys.stderr)
                print(f"metrics missing {sorted(names[trace] - got)}, "
                      f"extra {sorted(got - names[trace])}", file=sys.stderr)
    return failures


def main() -> int:
    check_gate_comparison()
    return 1 if run_workloads() else 0


if __name__ == "__main__":
    sys.exit(main())
