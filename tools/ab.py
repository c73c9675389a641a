"""Paired A/B of two query arms under the checksum protocol.

Usage: python tools/ab.py ARM_A ARM_B [--mult N] [--pairs N]

An arm is a registry query name or ``module:function``, a callable with
the ``(spark, sf_dir)`` signature importable from the working directory.
Either form may end in ``@k=v[,k=v]``: runtime SQL confs set for that
arm's calls only and restored afterwards (unset again if they were
unset). The data is sf0.1, or its ``--mult``-x twin staged by
``volume_bench.ensure_scaled_dir``.

Protocol:

1. Equivalence first: the column names must match and ``exceptAll``
   must be empty both ways. Otherwise the JSON line reads
   ``rows_equal: false`` and the exit status is 1, before any timed rep.
2. One untimed checksum pass per arm (code generation, file cache).
3. ``--pairs`` interleaved pairs, alternating which arm goes first,
   with ``clearCache`` before every rep. A rep runs under job group
   ``ab:<A|B>:<pair>`` and times build (the arm call), plan
   (``executedPlan`` of the checksum aggregate) and exec (``collect``).

Output is one JSON line: per arm the rep wall times and phases, their
median, and a layer block (Catalyst phase ms, the rep's jobs, stages,
tasks and shuffle bytes written, and the Exchange count of the
executed plan, each a median over reps); B's wins out of all pairs;
``rows_equal``; both checksums.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import math
import os
import re
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, ROOT)

from layers import catalyst_phases, read_jobs

from lens_warehouse_spark import registry
from tools.volume_bench import checksum, ensure_scaled_dir

# Plan lines whose node is a shuffle or broadcast exchange; a
# ReusedExchange line names the exchange it reuses after its own name.
_EXCHANGE = re.compile(r"^[ :+-]*(?:Broadcast)?Exchange\b", re.M)


def parse_arm(spec: str):
    """``name|module:function[@k=v[,k=v]]`` -> (callable, {conf: value})."""
    target, _, conf_text = spec.partition("@")
    confs = dict(kv.split("=", 1) for kv in conf_text.split(",") if kv)
    if ":" in target:
        module, _, fn = target.partition(":")
        return getattr(importlib.import_module(module), fn), confs
    registry.load_all()
    return registry.QUERIES[target], confs


@contextlib.contextmanager
def arm_confs(spark, confs: dict[str, str]):
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _build(spark, arm, sf_dir: str):
    fn, confs = arm
    with arm_confs(spark, confs):
        return fn(spark, sf_dir)


def _rep(spark, arm, sf_dir: str, group: str) -> dict:
    """One timed rep; ``start`` (epoch s, floored to the ms the job
    clock keeps) separates this rep's jobs from older ones of the same
    group name."""
    fn, confs = arm
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(group, group)
    start = math.floor(time.time() * 1000) / 1000
    t0 = time.perf_counter()
    with arm_confs(spark, confs):
        t1 = time.perf_counter()
        agg = checksum(fn(spark, sf_dir))
        t2 = time.perf_counter()
        qe = agg._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        t3 = time.perf_counter()
        agg.collect()
        t4 = time.perf_counter()
    return {
        "group": group,
        "start": start,
        "wall_s": time.perf_counter() - t0,
        "build_s": t2 - t1,
        "plan_s": t3 - t2,
        "exec_s": t4 - t3,
        "layers": {
            **{f"{k}_ms": v for k, v in catalyst_phases(qe).items()},
            "exchanges": len(_EXCHANGE.findall(plan)),
        },
    }


def _job_layers(spark, reps: list[dict]) -> None:
    """Add each rep's jobs, stages, tasks and shuffle bytes written."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = read_jobs(spark)
    for rep in reps:
        mine = [j for j in jobs if j["group"] == rep["group"] and (j["start"] or 0) >= rep["start"]]
        stages = [s for j in mine for s in j["stages"] if not s["skipped"]]
        rep["layers"].update(
            jobs=len(mine),
            stages=len(stages),
            tasks=sum(s["tasks"] for s in stages),
            shuffle_bytes_written=sum(s["shuffle_bytes_written"] for s in stages),
        )


def _summary(spec: str, value: tuple, reps: list[dict]) -> dict:
    out = {"arm": spec, "checksum": list(value)}
    for key in ("wall_s", "build_s", "plan_s", "exec_s"):
        out[key] = [round(r[key], 4) for r in reps]
    out["median_s"] = round(statistics.median(out["wall_s"]), 4)
    out["layers"] = {k: statistics.median(r["layers"][k] for r in reps) for k in reps[0]["layers"]}
    return out


def run(spark, spec_a: str, spec_b: str, sf_dir: str, pairs: int) -> dict:
    """The A/B record ``main`` prints; see the module docstring."""
    specs = {"A": spec_a, "B": spec_b}
    arms = {k: parse_arm(spec) for k, spec in specs.items()}
    a, b = (_build(spark, arms[k], sf_dir) for k in "AB")
    equal = a.columns == b.columns and a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    if not equal:
        return {"rows_equal": False, "columns": {"A": a.columns, "B": b.columns}}

    sums = {}
    for k, (fn, confs) in arms.items():
        spark.catalog.clearCache()
        with arm_confs(spark, confs):
            n, h = checksum(fn(spark, sf_dir)).collect()[0]
        sums[k] = (int(n), str(h))

    reps = {"A": [], "B": []}
    try:
        for p in range(pairs):
            for k in ("AB" if p % 2 == 0 else "BA"):
                reps[k].append(_rep(spark, arms[k], sf_dir, f"ab:{k}:{p}"))
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    _job_layers(spark, reps["A"] + reps["B"])
    wins = sum(rb["wall_s"] < ra["wall_s"] for ra, rb in zip(reps["A"], reps["B"]))
    return {
        "sf_dir": sf_dir,
        "pairs": pairs,
        "rows_equal": True,
        "b_wins": wins,
        **{k: _summary(specs[k], sums[k], reps[k]) for k in "AB"},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="Paired A/B of two query arms.")
    ap.add_argument("arm_a")
    ap.add_argument("arm_b")
    ap.add_argument("--mult", type=int, default=None, help="stage the N-x twin of sf0.1")
    ap.add_argument("--pairs", type=int, default=5)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())  # where `module:function` arms live
    from lens_warehouse_spark.session import get_spark

    spark = get_spark("ab")
    sf_dir = "/root/testdata/sf0.1"
    if args.mult:
        sf_dir = ensure_scaled_dir(sf_dir, args.mult, spark=spark)
    out = run(spark, args.arm_a, args.arm_b, sf_dir, args.pairs)
    print(json.dumps(out))
    sys.exit(0 if out["rows_equal"] else 1)


if __name__ == "__main__":
    main()
