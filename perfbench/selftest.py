#!/usr/bin/env python3
"""Self-test of the benchmark on the tiny sf0.001 tables.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` untraced and traced through
``run.py`` and checks that:

1. every metric named in ``BENCHMARK.json`` is printed with its unit, and
   no end-to-end metric reads 0;
2. checksums verify: the run is correct and no request failed;
3. spans nest: each child span lies inside its parent (to 5 ms, the
   resolution of Spark's status-store clocks);
4. self times are non-negative.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import Span, self_times  # noqa: E402

TOLERANCE_S = 0.005


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "3", "--trace", str(trace), "--sf", "0.001",
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_spans(path: str) -> None:
    with open(path) as fh:
        spans = [Span(**s) for s in json.load(fh)]
    for s in spans:
        if s.end < s.start:
            sys.exit(f"FAIL span {s.name} of {s.rid} ends before it starts")
        if s.parent is None:
            continue
        p = spans[s.parent]
        if s.rid != p.rid or s.start < p.start - TOLERANCE_S or s.end > p.end + TOLERANCE_S:
            sys.exit(f"FAIL span {s.name} [{s.start}, {s.end}] not inside {p.name} "
                     f"[{p.start}, {p.end}] of {p.rid}")
    roots = {i for i, s in enumerate(spans) if s.parent is None}
    phases = {(spans[s.parent].rid, s.name) for s in spans if s.parent in roots}
    for i in roots:
        for name in ("build", "plan", "exec"):
            if (spans[i].rid, name) not in phases:
                sys.exit(f"FAIL request {spans[i].rid} has no {name} span")
    negative = {k: v for k, v in self_times(spans).items() if v < -1e-9}
    if negative:
        sys.exit(f"FAIL negative self times {negative}")


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = _run(wl, trace)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                sys.exit(f"FAIL {wl} trace={trace}: checksums did not verify: {res}")
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    sys.exit(f"FAIL {wl} trace={trace}: metric {m['name']} missing or "
                             f"not in {m['unit']}: {got}")
                if trace == 0 and not got["value"] > 0:
                    sys.exit(f"FAIL {wl}: end-to-end metric {m['name']} is {got['value']}")
            if trace:
                _check_spans(os.path.join(
                    root, ".bench_build", "perfbench", f"trace-{wl}-seed7.json"
                ))
            print(f"ok {wl} trace={trace}: {res['attempted']} requests")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
