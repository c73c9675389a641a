"""Turn a traced run into the per-layer metrics.

Jobs and stages come from the app status store after the loop. A job
belongs to the request whose id is its job group; jobs that carry no
request's group (a streaming query's micro-batch jobs run under the
query's own group) and streaming batches belong to the request whose
interval holds their start, which is exact for a single client. Every
count and time is a mean per traced request unless its name says
otherwise.
"""

from __future__ import annotations

import statistics

from layers import python_node_metrics, read_jobs, self_times

_EXEC_SUMS = (
    "gc_ms", "fetch_wait_ms", "shuffle_bytes_written", "shuffle_records_written",
    "spill_bytes", "peak_memory_bytes", "scan_rows", "bytes_read",
)
_STREAM_SUMS = (
    "input_rows", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
    "query_planning_ms", "state_commit_ms",
)
_SELF_LAYERS = ("request", "build", "plan", "exec", "job", "stage", "stream_batch")


def _overhead(records: list[dict]) -> float:
    """Median over request kinds of (traced p50 / untraced p50) - 1."""
    by_kind: dict[str, tuple[list, list]] = {}
    for r in records:
        if r["ok"]:
            by_kind.setdefault(r["key"], ([], []))[0 if r["traced"] else 1].append(
                r["latency"]
            )
    ratios = [
        statistics.median(t) / statistics.median(u)
        for t, u in by_kind.values()
        if t and u
    ]
    return statistics.median(ratios) - 1.0 if ratios else 0.0


def layer_metrics(spark, tracer, records, batches, exec_floor, clients):
    """(metrics name -> (value, unit), notes on absent layers)."""
    spans = tracer.spans
    traced = tracer.requests
    n = max(1, len(traced))
    by_rid = {rt.rid: rt for rt in traced}
    own_groups = {r["rid"] for r in records}

    def owner_by_time(t):
        if clients != 1 or t is None:
            return None
        for rt in traced:
            root = spans[rt.root]
            if root.start <= t <= root.end:
                return rt
        return None

    def phase_of(rt, t) -> str:
        for name in ("build", "plan", "exec"):
            s = spans[rt.phases[name]]
            if t is not None and s.start <= t <= s.end:
                return name
        return "exec"

    tot = dict.fromkeys(
        ("jobs", "build_jobs", "stages", "skipped", "tasks", "tasks_failed", "run_ms", "cpu_ns")
        + _EXEC_SUMS,
        0.0,
    )
    first_task: dict[str, float] = {}
    job_owner = {}
    for job in read_jobs(spark):
        rt = by_rid.get(job["group"])
        if rt is None and job["group"] not in own_groups:
            rt = owner_by_time(job["start"])
        if rt is None:
            continue
        job_owner[job["id"]] = rt
        phase = phase_of(rt, job["start"])
        tot["jobs"] += 1
        if phase == "build" and job["group"] == rt.rid:
            tot["build_jobs"] += 1
        job_span = None
        if job["start"] is not None and job["end"] is not None:
            job_span = tracer.add("job", job["start"], job["end"], rt.phases[phase], rt.rid)
        for st in job["stages"]:
            if st["skipped"]:
                tot["skipped"] += 1
                continue
            tot["stages"] += 1
            for key in ("tasks", "tasks_failed", "run_ms", "cpu_ns") + _EXEC_SUMS:
                tot[key] += st[key]
            if job_span is not None and st["start"] is not None and st["end"] is not None:
                tracer.add("stage", st["start"], st["end"], job_span, rt.rid)
            if phase == "exec" and st["first_task"] is not None:
                first_task[rt.rid] = min(first_task.get(rt.rid, st["first_task"]), st["first_task"])

    stream = dict.fromkeys(_STREAM_SUMS + ("batches", "state_rows", "state_memory_bytes"), 0.0)
    stream_reqs: set[str] = set()
    for b in batches:
        rt = owner_by_time(b["start"])
        if rt is None:
            continue
        stream_reqs.add(rt.rid)
        tracer.add("stream_batch", b["start"], b["end"], rt.phases["build"], rt.rid)
        stream["batches"] += 1
        for key in _STREAM_SUMS:
            stream[key] += b[key]
        stream["state_rows"] += b["state_rows"]
        stream["state_memory_bytes"] = max(stream["state_memory_bytes"], b["state_memory_bytes"])
    n_stream = max(1, len(stream_reqs))
    stream_secs = sum(
        spans[rt.root].end - spans[rt.root].start for rt in traced if rt.rid in stream_reqs
    )

    py = {"sent": 0.0, "received": 0.0, "rows": 0.0, "run_ms": 0.0}
    for job_ids, vals in python_node_metrics(spark, exec_floor):
        if any(j in job_owner for j in job_ids):
            for key in py:
                py[key] += vals[key]

    cached = sum(c for rt in traced for c, _, _ in rt.new_rdds)
    parts = sum(p for rt in traced for _, p, _ in rt.new_rdds)
    pinned_bytes = sum(b for rt in traced for _, _, b in rt.new_rdds)
    waits = [
        (first_task[rt.rid] - spans[rt.phases["exec"]].start) * 1000.0
        for rt in traced
        if rt.rid in first_task
    ]

    def dur(rt, name):
        s = spans[rt.phases[name]]
        return s.end - s.start

    selfs = self_times(spans)
    m = {
        "registry.build_s": (sum(dur(rt, "build") for rt in traced) / n, "s"),
        "catalog.build_jobs": (tot["build_jobs"] / n, "count"),
        "catalyst.plan_s": (sum(dur(rt, "plan") for rt in traced) / n, "s"),
        "catalyst.analysis_ms": (sum(rt.catalyst_ms["analysis"] for rt in traced) / n, "ms"),
        "catalyst.optimization_ms": (sum(rt.catalyst_ms["optimization"] for rt in traced) / n, "ms"),
        "catalyst.planning_ms": (sum(rt.catalyst_ms["planning"] for rt in traced) / n, "ms"),
        "scheduler.jobs": (tot["jobs"] / n, "count"),
        "scheduler.stages": (tot["stages"] / n, "count"),
        "scheduler.stages_skipped": (tot["skipped"] / n, "count"),
        "scheduler.useful_stage_ratio": (
            tot["stages"] / (tot["stages"] + tot["skipped"]) if tot["stages"] else 0.0, "ratio"
        ),
        "scheduler.tasks": (tot["tasks"] / n, "count"),
        "scheduler.tasks_failed": (tot["tasks_failed"] / n, "count"),
        "scheduler.first_task_wait_ms": (statistics.median(waits) if waits else 0.0, "ms"),
        "executor.exec_s": (sum(dur(rt, "exec") for rt in traced) / n, "s"),
        "executor.run_s": (tot["run_ms"] / 1000.0 / n, "s"),
        "executor.cpu_s": (tot["cpu_ns"] / 1e9 / n, "s"),
        "executor.gc_ms": (tot["gc_ms"] / n, "ms"),
        "executor.fetch_wait_ms": (tot["fetch_wait_ms"] / n, "ms"),
        "executor.shuffle_bytes_written": (tot["shuffle_bytes_written"] / n, "bytes"),
        "executor.shuffle_records_written": (tot["shuffle_records_written"] / n, "count"),
        "executor.spill_bytes": (tot["spill_bytes"] / n, "bytes"),
        "executor.peak_memory_bytes": (tot["peak_memory_bytes"] / n, "bytes"),
        "executor.scan_rows": (tot["scan_rows"] / n, "count"),
        "executor.bytes_read": (tot["bytes_read"] / n, "bytes"),
        "pin.cached_partitions_ratio": (cached / parts if parts else 0.0, "ratio"),
        "pin.cached_mb": (pinned_bytes / (1 << 20) / n, "MB"),
        "streaming.batches": (stream["batches"] / n_stream, "count"),
        "streaming.input_rows": (stream["input_rows"] / n_stream, "count"),
        "streaming.events_per_s": (
            stream["input_rows"] / stream_secs if stream_secs else 0.0, "rows/s"
        ),
        "streaming.add_batch_ms": (stream["add_batch_ms"] / n_stream, "ms"),
        "streaming.wal_commit_ms": (stream["wal_commit_ms"] / n_stream, "ms"),
        "streaming.commit_offsets_ms": (stream["commit_offsets_ms"] / n_stream, "ms"),
        "streaming.query_planning_ms": (stream["query_planning_ms"] / n_stream, "ms"),
        "streaming.state_rows": (stream["state_rows"] / n_stream, "count"),
        "streaming.state_memory_bytes": (stream["state_memory_bytes"], "bytes"),
        "streaming.state_commit_ms": (stream["state_commit_ms"] / n_stream, "ms"),
        "udfs.python_bytes_sent": (py["sent"] / n, "bytes"),
        "udfs.python_bytes_received": (py["received"] / n, "bytes"),
        "udfs.python_rows": (py["rows"] / n, "count"),
        "udfs.python_run_ms": (py["run_ms"] / n, "ms"),
        "trace.overhead_frac": (_overhead(records), "ratio"),
        "trace.requests": (float(len(traced)), "count"),
    }
    for layer in _SELF_LAYERS:
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0) / n, "s")

    notes = {}
    if not batches:
        notes["streaming"] = "no streaming query in this workload's requests"
    if not any(py.values()):
        notes["udfs"] = "no Python plan node ran in this workload's traced requests"
    if not parts:
        notes["pin"] = "no request pinned or checkpointed an RDD"
    return m, notes
