#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cohort_concurrent --seed 1 --seconds 20 --trace 0

Run from the repository root. It starts one harness process
(``harness.py``) in its own process group, keeps every file the run
writes under ``.bench_build/perfbench/`` in the current directory, and
prints the run record and then, as the last line, the result JSON:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.

It exits non-zero, without a result line, when the engine sources are
not in the current directory, when the harness fails, or when the run
exceeds its time limit; every process it started is stopped first.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
TIME_LIMIT_S = 150.0  # plus up to 20 s to stop the process group


def _stop_group(proc: subprocess.Popen) -> None:
    """SIGTERM, then SIGKILL, the process group ``proc`` leads; return once
    it is empty. ``proc`` is reaped on the way, since a zombie still
    counts as a member."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def _exit_on_signal(signum, frame) -> None:
    raise SystemExit(128 + signum)  # unwinds through the finally that stops the harness


def main() -> int:
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGINT, _exit_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the scale factor (self-test)")
    ap.add_argument(
        "--write-reference", action="store_true",
        help="record the fixed queries' checksums into reference.json",
    )
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "lens_warehouse_spark", "registry.py")):
        print("perfbench: lens_warehouse_spark/ not found in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_build", "perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(run_dir, "local"), exist_ok=True)
    os.makedirs(os.path.join(run_dir, "jvm-tmp"), exist_ok=True)
    env = dict(
        os.environ,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        # no hsperfdata file in the system temp directory
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'jvm-tmp')} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
    )
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
    ]
    if args.sf is not None:
        cmd += ["--sf", str(args.sf)]
    if args.write_reference:
        cmd.append("--write-reference")
    code = None
    try:
        proc = subprocess.Popen(
            cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            code = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIME_LIMIT_S:.0f} s", file=sys.stderr)
        finally:
            _stop_group(proc)
            proc.wait()
        if code != 0:
            print(f"perfbench: harness exited with {code}", file=sys.stderr)
            return 1
        with open(out) as fh:
            data = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(data["record"], sort_keys=True))
    print(json.dumps(data["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
