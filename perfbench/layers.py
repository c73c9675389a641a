"""Per-layer readings, taken from outside the engine.

Everything here reads Spark's own status surfaces after the fact: the
app status store (jobs and stages with their task metrics), the SQL
status store (metrics of Python plan nodes), the RDD storage list
(pinned partitions) and a ``StreamingQueryListener`` (micro-batches).
``Tracer`` keeps spans in memory; ``self_times`` turns them into each
layer's self time.
"""

from __future__ import annotations

import datetime as dt
import re
import threading
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index into Tracer.spans
    rid: str


@dataclass
class RequestTrace:
    """What one traced request recorded while it ran."""

    rid: str
    root: int
    phases: dict[str, int]  # "build" / "plan" / "exec" -> span index
    catalyst_ms: dict[str, float] = field(default_factory=dict)
    new_rdds: list[tuple[int, int, int]] = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.requests: list[RequestTrace] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None, rid: str) -> int:
        with self._lock:
            self.spans.append(Span(name, start, end, parent, rid))
            return len(self.spans) - 1

    def request(self, rt: RequestTrace) -> None:
        with self._lock:
            self.requests.append(rt)


def catalyst_phases(qe) -> dict[str, float]:
    """Analysis/optimization/planning ms from ``QueryExecution.tracker()``."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def rdd_storage(jsc) -> dict[int, tuple[int, int, int]]:
    """id -> (cached partitions, partitions, bytes) of every stored RDD."""
    return {
        r.id(): (r.numCachedPartitions(), r.numPartitions(), r.memSize() + r.diskSize())
        for r in jsc.getRDDStorageInfo()
    }


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "fetch_wait_ms": "shuffleFetchWaitTime",
    "shuffle_bytes_written": "shuffleWriteBytes",
    "shuffle_records_written": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
    "peak_memory_bytes": "peakExecutionMemory",
    "scan_rows": "inputRecords",
    "bytes_read": "inputBytes",
    "tasks": "numTasks",
    "tasks_failed": "numFailedTasks",
}


def read_jobs(spark) -> list[dict]:
    """Every job the status store still holds, with its stages."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        group = jd.jobGroup()
        job = {
            "id": jd.jobId(),
            "group": group.get() if group.isDefined() else None,
            "start": _ms(jd.submissionTime()),
            "end": _ms(jd.completionTime()),
            "stages": [],
        }
        sids = jd.stageIds()
        for k in range(sids.size()):
            attempts = store.stageData(
                sids.apply(k), False, jvm.java.util.ArrayList(), False, no_quantiles
            )
            sd = attempts.apply(attempts.size() - 1)
            stage = {
                "id": sd.stageId(),
                "skipped": sd.status().toString() == "SKIPPED",
                "start": _ms(sd.submissionTime()),
                "end": _ms(sd.completionTime()),
                "first_task": _ms(sd.firstTaskLaunchedTime()),
            }
            for key, getter in _STAGE_FIELDS.items():
                stage[key] = getattr(sd, getter)()
            job["stages"].append(stage)
        out.append(job)
    return out


_PY_NODE = re.compile(r"Python|Pandas|Arrow", re.I)
_PY_METRICS = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "received",
    "number of output rows": "rows",
    "time to run Python workers": "run_ms",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "": 1,
}


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric (``"1,234"``, ``"64.2 MiB"`` or the
    ``"total (min, med, max ...)\\n<total> (...)"`` form)."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def python_node_metrics(spark, min_execution_id: int) -> list[tuple[list[int], dict]]:
    """(job ids, summed Python/pandas plan-node metrics) of every SQL
    execution after ``min_execution_id`` that has such a node."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.executionId() <= min_execution_id:
            continue
        nodes = store.planGraph(ex.executionId()).allNodes()
        values, acc = None, dict.fromkeys(_PY_METRICS.values(), 0.0)
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not _PY_NODE.search(node.name()):
                continue
            if values is None:
                values = store.executionMetrics(ex.executionId())
            metrics, seen = node.metrics(), set()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                key = _PY_METRICS.get(metric.name())
                if key is None or key in seen:  # stateful nodes list output rows twice
                    continue
                seen.add(key)
                text = values.get(metric.accumulatorId())
                if text.isDefined():
                    acc[key] += _metric_value(text.get())
        if values is not None:
            job_ids = ex.jobs().keySet().toList()
            out.append(([job_ids.apply(j) for j in range(job_ids.size())], acc))
    return out


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


class BatchListener(StreamingQueryListener):
    """Records every micro-batch progress report."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        dur = p.durationMs
        state = p.stateOperators
        batch = {
            "start": start,
            "end": start + dur.get("triggerExecution", 0) / 1000.0,
            "input_rows": p.numInputRows,
            "add_batch_ms": dur.get("addBatch", 0),
            "wal_commit_ms": dur.get("walCommit", 0),
            "commit_offsets_ms": dur.get("commitOffsets", 0),
            "query_planning_ms": dur.get("queryPlanning", 0),
            "state_rows": sum(s.numRowsTotal for s in state),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in state),
            "state_commit_ms": sum(s.commitTimeMs for s in state),
        }
        with self._lock:
            self.batches.append(batch)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name: duration minus the part of the
    span's interval that its children cover (children clamped to it)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out
