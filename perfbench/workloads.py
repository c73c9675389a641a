"""Workload definitions: what each client sends, generated from a seed.

A request is one query: a registered query name, or a cohort payload in
the engine's JSON wire format sent to ``LensWarehouse.cohort_count`` or
``LensWarehouse.cohort_facets``. The seed picks the cohort payloads, the
order of requests inside each round and each client's own order; the
engine only ever sees the generated requests.

Cohort payloads are checked against a DuckDB evaluation of the same
criteria over the same parquet files (``duckdb_cohort``), outside the
timed region.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

from datagen import PRIORITIES, RETURNFLAGS, SEGMENTS, STATUSES

# Relational headline set interleaved with the cohort payloads.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q10_returned_items",
    "j1_inner_join",
    "j6_star_join_revenue",
    "j8_asof_latest_event",
    "a3_faceted_counts",
    "a8b_cube",
    "o5_top_k_per_group",
    "w3_running_total",
    "t1_tumbling_window",
    "u5d_cohort_visit_counts_fused",
]

STREAM_JOBS = [
    "t4_stream_tumbling_watermark",
    "t5_stream_dedup",
    "t7_stateful_user_stats",
    "t8_foreach_batch_sink",
    "t16_stream_cdc_apply",
]


@dataclass(frozen=True)
class Request:
    kind: str  # "query" or "cohort_count" / "cohort_facets"
    name: str  # registered query name, or payload label
    payload: str = ""  # JSON wire payload for cohort requests


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of the generated tables
    clients: int
    fixed: list[str]  # registered queries sent in every round
    payloads: int = 0  # seeded cohort payloads per run, half count, half facets
    # A stream workload records micro-batches and runs whole rounds: its
    # five jobs take seconds each, so a partial round would change the mix.
    stream: bool = False


WORKLOADS = {
    "cohort_concurrent": Workload("cohort_concurrent", 0.1, 4, HEADLINE, payloads=8),
    "stream_ingest": Workload("stream_ingest", 0.1, 1, STREAM_JOBS, stream=True),
}


def _date(rng: random.Random, lo_year: int, hi_year: int) -> str:
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-01"


def _atom(rng: random.Random, kind: str) -> dict:
    if kind == "subject":
        atom = {"type": "subject", "segments": rng.sample(SEGMENTS, rng.randint(1, 2))}
        if rng.random() < 0.5:
            atom["min_balance"] = float(rng.randrange(-500, 8000, 250))
        return atom
    if kind == "order":
        atom: dict = {"type": "order"}
        if rng.random() < 0.6:
            atom["priorities"] = rng.sample(PRIORITIES, rng.randint(1, 2))
        else:
            atom["statuses"] = rng.sample(STATUSES, 1)
        start = rng.randint(1995, 2000)
        atom["date_from"] = _date(rng, start, start)
        atom["date_to"] = _date(rng, start + 1, start + 1)
        if rng.random() < 0.3:
            atom["min_total"] = float(rng.randrange(100_000, 450_000, 25_000))
        return atom
    lo = rng.randint(1, 40)
    return {
        "type": "lineitem",
        "returnflags": rng.sample(RETURNFLAGS, rng.randint(1, 2)),
        "min_quantity": float(lo),
        "max_quantity": float(lo + rng.randint(2, 10)),
    }


def cohort_payloads(seed: int, n: int) -> list[Request]:
    """``n`` payloads with a fixed spread of shapes and seeded values.

    Shapes are stratified so that every seed gets the same mix of work:
    payload ``i`` has ``1 + i % 4`` disjunctions of 1-3 atoms, every
    atom kind appears in rotation, and odd payloads carry one exclusion.
    Even payloads go to ``cohort_count``, odd ones to ``cohort_facets``.
    """
    rng = random.Random(f"cohort-{seed}")
    kinds = ["subject", "order", "lineitem"]
    out = []
    for i in range(n):
        include = []
        for j in range(1 + i % 4):
            width = 1 + (i + j) % 3
            include.append(
                [_atom(rng, kinds[(i + j + a) % 3]) for a in range(width)]
            )
        payload: dict = {"include": include}
        if i % 2:
            payload["exclude"] = [_atom(rng, kinds[i % 3])]
        kind = "cohort_facets" if i % 2 else "cohort_count"
        out.append(Request(kind, f"cohort{i}", json.dumps(payload, sort_keys=True)))
    return out


def requests_for(wl: Workload, seed: int) -> list[Request]:
    """The distinct requests of one run: the fixed set plus the seeded
    cohort payloads."""
    return [Request("query", n) for n in wl.fixed] + cohort_payloads(seed, wl.payloads)


def client_schedule(reqs: list[Request], seed: int, client: int, clients: int):
    """Client ``client``'s requests: every ``clients``-th request of one
    shared sequence of seeded rounds, each round a permutation of every
    distinct request. After each client has sent k requests, together
    they have sent the first ``k * clients`` of the sequence, so the mix
    of a run is whole rounds plus one partial round for every seed."""
    rng = random.Random(f"order-{seed}")
    k = 0
    while True:
        order = list(reqs)
        rng.shuffle(order)
        for req in order:
            if k % clients == client:
                yield req
            k += 1


# ---------------------------------------------------------------------------
# DuckDB evaluation of a cohort payload (the same CNF semantics as
# lens_warehouse_spark.operators.cohort: union inside a disjunction,
# intersection across, minus exclusions).
# ---------------------------------------------------------------------------
def _in(col: str, values: list[str]) -> str:
    return f"{col} IN ({', '.join(repr(v) for v in values)})"


def _atom_sql(atom: dict) -> str:
    t = atom["type"]
    conds = ["TRUE"]
    if t == "subject":
        if atom.get("segments"):
            conds.append(_in("c_mktsegment", atom["segments"]))
        if atom.get("min_balance") is not None:
            conds.append(f"c_acctbal >= {atom['min_balance']!r}")
        if atom.get("max_balance") is not None:
            conds.append(f"c_acctbal <= {atom['max_balance']!r}")
        return f"SELECT c_custkey AS s FROM customer WHERE {' AND '.join(conds)}"
    if t == "order":
        if atom.get("priorities"):
            conds.append(_in("o_orderpriority", atom["priorities"]))
        if atom.get("statuses"):
            conds.append(_in("o_orderstatus", atom["statuses"]))
        if atom.get("date_from"):
            conds.append(f"o_orderdate >= TIMESTAMP '{atom['date_from']}'")
        if atom.get("date_to"):
            conds.append(f"o_orderdate < TIMESTAMP '{atom['date_to']}'")
        if atom.get("min_total") is not None:
            conds.append(f"o_totalprice >= {atom['min_total']!r}")
        return f"SELECT o_custkey AS s FROM orders WHERE {' AND '.join(conds)}"
    if atom.get("returnflags"):
        conds.append(_in("l_returnflag", atom["returnflags"]))
    if atom.get("min_quantity") is not None:
        conds.append(f"l_quantity >= {atom['min_quantity']!r}")
    if atom.get("max_quantity") is not None:
        conds.append(f"l_quantity <= {atom['max_quantity']!r}")
    return (
        "SELECT o_custkey AS s FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        f"WHERE {' AND '.join(conds)}"
    )


def cohort_sql(req: Request) -> str:
    payload = json.loads(req.payload)
    disj = [
        " UNION ".join(f"({_atom_sql(a)})" for a in d) for d in payload["include"]
    ]
    members = " INTERSECT ".join(f"SELECT s FROM ({d})" for d in disj)
    excl = " UNION ".join(f"({_atom_sql(a)})" for a in payload.get("exclude", []))
    if excl:
        members = f"SELECT s FROM ({members}) m WHERE s NOT IN (SELECT s FROM ({excl}))"
    if req.kind == "cohort_count":
        return f"SELECT count(*) AS n_subjects FROM ({members})"
    return (
        "SELECT c_mktsegment AS facet, count(*) AS n_subjects "
        f"FROM ({members}) m JOIN customer ON m.s = c_custkey "
        "GROUP BY c_mktsegment ORDER BY facet"
    )


def duckdb_cohort(con, req: Request) -> list[tuple]:
    return [tuple(r) for r in con.execute(cohort_sql(req)).fetchall()]
