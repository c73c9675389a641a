"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``lens_warehouse_spark/``; this file is a thin
adapter over its registry.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from lens_warehouse_spark import registry

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary, TPC-H Q1 shape) on sf0.001."""
    return registry.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def _driver_rows() -> dict[str, tuple[int, bool]]:
    """``{name: (latest driver round, whether that row failed)}``, parsing
    each CORRECTNESS_r*.json once. Malformed files are skipped; the
    rows-only ``no_oracle`` marker is not a failure."""
    latest: dict[str, tuple[int, bool]] = {}
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except Exception:
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            bad = isinstance(row, dict) and row.get("err") not in (None, "no_oracle")
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, bad)
    return latest


def _fn_hash_stale(names: list[str], latest: dict[str, int]) -> set[str]:
    """Names whose own query function changed since their last driver row,
    per the tools/query_src_hashes.json ledger (tools/update_src_hashes.py):
    the ledger's change round postdates the row, or the live hash
    disagrees with the ledger (an unledgered edit). ``latest`` maps name ->
    last driver round. Any failure -> empty set."""
    try:
        # One hasher shared with the ledger writer, so the two cannot drift.
        from tools.update_src_hashes import fn_hash

        with open(os.path.join(_HERE, "tools", "query_src_hashes.json")) as fh:
            ledger = json.load(fh)
        nxt = max(latest.values(), default=0) + 1
        out: set[str] = set()
        for name in names:
            rec = ledger.get(name)
            h = fn_hash(registry.QUERIES.get(name))
            if rec is None and h is None:
                continue  # unhashable and unledgered: no rewrite signal, never pin it
            changed_round = rec.get("r", 0) if rec else nxt
            if rec is not None and h is not None and rec.get("h") != h:
                changed_round = nxt  # edited but not re-ledgered
            if latest.get(name, 0) < changed_round:
                out.add(name)
        return out
    except Exception:
        return set()


def _family_round_robin(names: list[str], key) -> list[str]:
    """One name per operator family (letter prefix) per turn, each family
    sorted by ``key``, so a 50-name sample spans the families."""
    fams: dict[str, list[str]] = {}
    for n in names:
        m = re.match(r"[a-z]+", n)
        fams.setdefault(m.group(0) if m else n, []).append(n)
    for fam in fams.values():
        fam.sort(key=key)
    return [
        n for turn in itertools.zip_longest(*fams.values()) for n in turn if n is not None
    ]


def _rotation_tiers(names: list[str]) -> dict[str, list[str]]:
    """Order for the driver's first-N sample, as four strict tiers:

    - ``refail``: the latest driver row errored, so the fix is re-verified next round;
    - ``unseen``: no driver row yet, oracle-backed names first in each family;
    - ``fn_stale``: the query function changed since its last row, oldest row first;
    - ``rest``: every family drains oldest driver row first.
    """
    rows = _driver_rows()
    last = {n: rnd for n, (rnd, _) in rows.items()}
    index = {n: i for i, n in enumerate(names)}
    refail = [n for n in names if n in rows and rows[n][1]]
    unseen = [n for n in names if n not in rows]
    checked = [n for n in names if n in rows and not rows[n][1]]
    stale = _fn_hash_stale(checked, last)
    rest = [n for n in checked if n not in stale]
    oldest_first = lambda n: (last.get(n, 0), index[n])  # noqa: E731
    oracle_first = lambda n: (n not in registry.ORACLES, index[n])  # noqa: E731
    return {
        "refail": refail,
        "unseen": _family_round_robin(unseen, key=oracle_first),
        "fn_stale": sorted(stale, key=oldest_first),
        "rest": _family_round_robin(rest, key=oldest_first),
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    tiers = _rotation_tiers(list(registry.QUERIES))
    return {n: registry.QUERIES[n] for tier in tiers.values() for n in tier}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys -> rows-only check."""
    return dict(registry.ORACLES)
