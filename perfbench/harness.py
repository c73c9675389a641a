"""One benchmark run, in a fresh process started by ``run.py``.

Timeline of a run:

1. set-up, timed as ``setup_s``: session start (``session.get_spark``),
   registry load (``registry.load_all``) and a warm-up pass that sends
   every distinct request of the workload once. The warm-up is also the
   reference run: fixed queries must match ``reference.json`` and each
   cohort payload's checksum becomes the value later requests must match.
2. the machine canary, outside every timed region.
3. ``--seconds`` of closed-loop requests from ``clients`` threads that
   share the session. A request runs from the call into the engine,
   through planning, to the collected checksum (``count`` plus the
   decimal sum of ``xxhash64`` over every output column).
4. the canary again, then verification of every cohort payload against
   DuckDB, then (traced runs only) the status-store readings.

With ``--trace 1`` every other request of each client is traced: it
records build/plan/exec spans, Catalyst phase times and newly pinned
RDDs, and after the loop its Spark jobs, stages and streaming batches
are read back from Spark's status surfaces. The untraced requests of the
same run give ``trace.overhead_frac``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_SEED = 42  # the tables are fixed; --seed picks the requests
REFERENCE = os.path.join(HERE, "reference.json")


def _percentile_tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it; the maximum when there are fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Runner:
    """Sends requests to the engine and checks their checksums."""

    def __init__(self, spark, sf_dir: str, tracer=None) -> None:
        from lens_warehouse_spark import registry
        from lens_warehouse_spark.engine import LensWarehouse
        from lens_warehouse_spark.operators.wire import cohort_from_json

        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.queries = registry.QUERIES
        self.lw = LensWarehouse(spark, sf_dir)
        self.cohort_from_json = cohort_from_json
        self.tracer = tracer
        self.expected: dict[str, tuple[int, str]] = {}
        self._seen_rdds: set[int] = set()
        self._lock = threading.Lock()

    def build(self, req):
        if req.kind == "query":
            return self.queries[req.name](self.spark, self.sf_dir)
        query = self.cohort_from_json(json.loads(req.payload))
        if req.kind == "cohort_count":
            return self.lw.cohort_count(query)
        return self.lw.cohort_facets(query)

    @staticmethod
    def checksum_frame(df):
        from pyspark.sql import functions as F

        h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)")
        return df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))

    def run(self, req, rid: str, traced: bool) -> tuple[float, tuple[int, str]]:
        """Send one request; return (latency s, checksum)."""
        self.sc.setJobGroup(rid, req.name)
        t0, w0 = time.perf_counter(), time.time()
        df = self.build(req)
        w1 = time.time()
        agg = self.checksum_frame(df)
        if traced:
            qe = agg._jdf.queryExecution()
            qe.executedPlan()
        w2 = time.time()
        row = agg.collect()[0]
        latency = time.perf_counter() - t0
        w3 = time.time()
        if traced:
            self._trace(rid, qe, (w0, w1, w2, w3))
        return latency, (int(row["n"]), str(row["h"]))

    def _trace(self, rid, qe, marks) -> None:
        from layers import RequestTrace, catalyst_phases, rdd_storage

        w0, w1, w2, w3 = marks
        tr = self.tracer
        root = tr.add("request", w0, w3, None, rid)
        phases = {
            name: tr.add(name, lo, hi, root, rid)
            for name, lo, hi in (("build", w0, w1), ("plan", w1, w2), ("exec", w2, w3))
        }
        rt = RequestTrace(rid, root, phases)
        rt.catalyst_ms = catalyst_phases(qe)
        stored = rdd_storage(self.sc._jsc.sc())
        with self._lock:
            rt.new_rdds = [v for k, v in stored.items() if k not in self._seen_rdds]
            self._seen_rdds.update(stored)
        tr.request(rt)

    def check(self, req, got: tuple[int, str]) -> bool:
        with self._lock:
            want = self.expected.setdefault(req.name, got)
        return want == got


def duckdb_checksums(spark, rows: list[tuple], n: int) -> list[tuple[int, str]]:
    """Checksums, as ``Runner.checksum_frame`` computes them, of the
    expected answers ``rows`` = (payload index, is count, facet, n_subjects):
    a count answer is one ``n_subjects`` column, a facet answer
    ``(facet, n_subjects)``."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "i int, is_count boolean, facet string, n_subjects long"
    )
    h = F.when(F.col("is_count"), F.xxhash64("n_subjects")).otherwise(
        F.xxhash64("facet", "n_subjects")
    )
    got = {
        r["i"]: (int(r["n"]), str(r["h"]))
        for r in df.groupBy("i")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h"))
        .collect()
    }
    return [got.get(i, (0, "None")) for i in range(n)]


def canary(spark) -> dict[str, float]:
    """Fixed work on both engines, to separate machine drift from code.
    The Spark part runs twice and times the second, after code generation."""
    import duckdb

    for _ in range(2):
        t = time.perf_counter()
        spark.range(0, 20_000_000, numPartitions=4).selectExpr("sum(id * 7 % 13)").collect()
        spark_s = time.perf_counter() - t
    con = duckdb.connect()
    t = time.perf_counter()
    con.execute("SELECT sum(i * 7 % 13) FROM range(20000000) t(i)").fetchall()
    duck_s = time.perf_counter() - t
    con.close()
    return {"spark_s": spark_s, "duckdb_s": duck_s}


def run_clients(
    runner, schedules, deadline, trace_every: int, failures: list, prefix: str,
    round_len: int = 1, min_rounds: int = 1,
):
    """Closed loop: each client sends its next request when the previous
    one has returned, until the deadline. With ``round_len`` > 1 a client
    stops only at a round boundary: the one closest to the deadline, so
    it runs about ``round(seconds / round time)`` whole rounds, at least
    one (``min_rounds``). Returns per-request records."""
    records: list[dict] = []
    lock = threading.Lock()

    def client(ci: int, schedule) -> None:
        began = time.perf_counter()
        for k, req in enumerate(schedule):
            now = time.perf_counter()
            if round_len == 1 and now >= deadline:
                return
            if k and k % round_len == 0 and k // round_len >= min_rounds:
                mean_round = (now - began) / (k // round_len)
                if now + mean_round / 2 >= deadline:
                    return
            rid = f"{prefix}{ci}r{k}"
            traced = trace_every > 0 and k % trace_every == 0
            start = time.perf_counter()
            rec = {"rid": rid, "key": req.name, "traced": traced, "start": start}
            try:
                rec["latency"], got = runner.run(req, rid, traced)
                rec["ok"] = runner.check(req, got)
            except Exception as exc:  # noqa: BLE001 - a failed request is counted, not fatal
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            rec["end"] = time.perf_counter()
            with lock:
                records.append(rec)
                if not rec["ok"]:
                    failures.append(rec)

    threads = [
        threading.Thread(target=client, args=(ci, s), name=f"client{ci}")
        for ci, s in enumerate(schedules)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return records


def main() -> int:
    t_proc = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    ap.add_argument("--write-reference", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    import datagen
    import duckdb
    import layers
    from tools.volume_bench import content_fingerprint
    from workloads import WORKLOADS, client_schedule, duckdb_cohort, requests_for

    wl = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl.sf

    t = time.perf_counter()
    sf_dir = datagen.ensure_dataset(args.work, DATA_SEED, sf)
    prep_s = time.perf_counter() - t  # a one-time build, not set-up

    t = time.perf_counter()
    from lens_warehouse_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    from lens_warehouse_spark import registry

    registry.load_all()
    registry_s = time.perf_counter() - t

    listener = None
    if wl.stream:
        listener = layers.BatchListener()
        spark.streams.addListener(listener)

    tracer = layers.Tracer() if args.trace else None
    runner = Runner(spark, sf_dir, tracer)
    reqs = requests_for(wl, args.seed)
    ref_key = f"sf{sf:g}"
    with open(REFERENCE) as fh:
        reference = json.load(fh)
    ref_sums = reference.get(ref_key, {})
    for name, (n, h) in ref_sums.items():
        runner.expected[name] = (int(n), str(h))

    # warm-up = reference run: every distinct request once, split across
    # the workload's clients. Never more threads than clients: the stream
    # jobs stage one shared copy of the events table on first use, and
    # concurrent first uses race on it.
    failures: list[dict] = []
    t = time.perf_counter()
    warm = [reqs[i:: wl.clients] for i in range(wl.clients)]
    warm_records = run_clients(runner, warm, float("inf"), 0, failures, "w")
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_proc - prep_s

    if args.write_reference:
        observed = {r.name: list(runner.expected[r.name]) for r in reqs if r.kind == "query"}
        reference[ref_key] = {**reference.get(ref_key, {}), **observed}
        with open(REFERENCE, "w") as fh:
            json.dump(reference, fh, indent=1, sort_keys=True)
            fh.write("\n")

    canary_before = canary(spark)
    exec_floor = layers.last_execution_id(spark) if args.trace else -1
    batches_floor = len(listener.batches) if listener else 0

    schedules = [client_schedule(reqs, args.seed, ci, wl.clients) for ci in range(wl.clients)]
    t_loop = time.perf_counter()
    records = run_clients(
        runner, schedules, t_loop + args.seconds, 2 if args.trace else 0, failures, "c",
        # a traced run needs every request kind both traced and untraced
        len(reqs) if wl.stream else 1, 2 if args.trace else 1,
    )
    loop_end = max((r["end"] for r in records), default=t_loop)
    canary_after = canary(spark)

    # cohort payloads: the checksum every request had to match must be
    # the checksum of DuckDB's answer over the same files, hashed by Spark
    # over the same column types in one job
    verify = {}
    payloads = [r for r in reqs if r.kind != "query"]
    if payloads:
        from lens_warehouse_spark.catalog import TABLES

        con = duckdb.connect()
        for tname in TABLES:
            con.execute(
                f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{sf_dir}/{tname}.parquet')"
            )
        rows = [
            (i, req.kind == "cohort_count", *(row if len(row) == 2 else (None, *row)))
            for i, req in enumerate(payloads)
            for row in duckdb_cohort(con, req)
        ]
        verify = {
            req.name: runner.expected.get(req.name) == got
            for req, got in zip(payloads, duckdb_checksums(spark, rows, len(payloads)))
        }
        con.close()
    bad_payloads = {k for k, ok in verify.items() if not ok}
    for rec in records:
        if rec["key"] in bad_payloads:
            rec["ok"] = False

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")

    ok_lat = [r["latency"] for r in records if r["ok"]]
    untraced = [r for r in records if r["ok"] and not r["traced"]]
    tail, tail_pct = _percentile_tail(ok_lat) if ok_lat else (0.0, 0.0)
    wall = loop_end - t_loop
    per_kind = {}
    for r in untraced:
        per_kind.setdefault(r["key"], []).append(r["latency"])

    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (statistics.median(ok_lat) if ok_lat else 0.0, "s"),
        "latency_tail_s": (tail, "s"),
        "queries_per_s": (len(ok_lat) / wall if wall > 0 else 0.0, "1/s"),
    }
    per_layer, notes = {}, {}
    if args.trace:
        from trace_report import layer_metrics

        per_layer, notes = layer_metrics(
            spark, tracer, records, listener.batches[batches_floor:] if listener else [],
            exec_floor, wl.clients,
        )
        per_layer["session.start_s"] = (session_s, "s")
        per_layer["registry.load_s"] = (registry_s, "s")
        per_layer["memory.peak_rss_mb"] = (peak_rss_mb, "MB")
        per_layer["machine.canary_s"] = (
            statistics.mean(
                [canary_before["spark_s"] + canary_before["duckdb_s"],
                 canary_after["spark_s"] + canary_after["duckdb_s"]]
            ),
            "s",
        )
        spans_path = os.path.join(args.work, f"trace-{wl.name}-seed{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump([s.__dict__ for s in tracer.spans], fh)

    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    warm_failed = [r for r in warm_records if not r["ok"]]
    correct = failed == 0 and not warm_failed and not bad_payloads and bool(ok_lat)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "clients": wl.clients,
        "sf": sf,
        "samples": len(ok_lat),
        "peak_rss_mb": peak_rss_mb,
        "latency_tail_percentile": tail_pct,
        "phases_s": {
            "data_prep": prep_s, "session": session_s, "registry": registry_s,
            "warmup": warmup_s, "loop_wall": wall,
            "after_loop": time.perf_counter() - t_loop - wall,
            "total": time.perf_counter() - t_proc,
        },
        "per_kind_p50_s": {k: statistics.median(v) for k, v in sorted(per_kind.items())},
        "cohort_verified_vs_duckdb": verify,
        "absent_layers": notes,
        "failures": [
            {k: r.get(k) for k in ("rid", "key", "error")} for r in warm_failed + failures
        ][:20],
        "machine": {
            "nproc": os.cpu_count(),
            "affinity": len(os.sched_getaffinity(0)),
            "master": spark.sparkContext.master,
            "jvm_heap": spark.conf.get("spark.driver.memory", "unset"),
            "spark": spark.version,
            "duckdb": duckdb.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "data_fingerprint": content_fingerprint(sf_dir),
            "canary_before": canary_before,
            "canary_after": canary_after,
        },
    }
    metrics = per_layer if args.trace else e2e
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.out, "w") as fh:
        json.dump({"record": record, "result": result}, fh)

    spark.stop()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)
    return 0


if __name__ == "__main__":
    sys.exit(main())
