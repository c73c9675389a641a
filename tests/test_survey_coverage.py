"""SURVEY.md §2.12 must stay truthful: every registered query appears in
the inventory mapping, and every query name the mapping mentions exists.
"""

from __future__ import annotations

import os
import re

import pytest

from lens_warehouse_spark import registry

registry.load_all()

# r12 advice: derive the repo root from __file__ instead of hard-coding
# /root/repo, so the suite survives any checkout location.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _survey_query_names() -> set[str]:
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    section = text.split("## §2.12")[1]
    names = set(re.findall(r"`([a-z][a-z0-9_]+)`", section))
    # filter to things that look like query ids (prefix_rest)
    return {n for n in names if re.match(r"^[a-z]+[0-9]+[a-z]?_", n)}


def test_every_registered_query_is_in_survey():
    survey = _survey_query_names()
    missing = set(registry.QUERIES) - survey
    assert not missing, f"queries not documented in SURVEY §2.12: {sorted(missing)}"


def test_every_survey_query_exists():
    survey = _survey_query_names()
    # names documented but never registered (stale docs). u5_cohort_count_*
    # variants are spelled with a shared prefix in the table.
    phantom = {
        n
        for n in survey
        if n not in registry.QUERIES
        and not any(q.startswith(n) for q in registry.QUERIES)
    }
    assert not phantom, f"SURVEY §2.12 mentions unknown queries: {sorted(phantom)}"


def test_oracle_counts_match_survey_totals():
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    m = re.search(
        r"Totals: (\d+) `queries\(\)` entries, (\d+) with full DuckDB oracles",
        text,
    )
    assert m, "SURVEY totals line missing"
    assert int(m.group(1)) == len(registry.QUERIES)
    assert int(m.group(2)) == len(registry.ORACLES)


def _correctness_union_and_latest():
    import glob
    import json

    union, latest = set(), 0
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        try:
            rows = json.load(open(p))
        except Exception:
            continue
        union |= set(rows)
        latest = max(latest, int(m.group(1)))
    return union, latest


def test_no_query_goes_three_rounds_unsampled():
    """r7 verdict #7: coverage debt must not accumulate silently. Every
    registered query carries a registration round in
    tools/query_ledger.json (new queries: run tools/update_ledger.py);
    once three driver rounds have passed since registration, the name
    MUST appear in some CORRECTNESS_r*.json — otherwise the rotation
    (or the ledger) is broken and this test goes red."""
    import json

    ledger = json.load(open(os.path.join(REPO, "tools", "query_ledger.json")))
    missing = set(registry.QUERIES) - set(ledger)
    assert not missing, (
        f"queries missing from tools/query_ledger.json (run "
        f"tools/update_ledger.py): {sorted(missing)}"
    )
    union, latest = _correctness_union_and_latest()
    overdue = [
        n
        for n in registry.QUERIES
        if latest >= ledger[n] + 3 and n not in union
    ]
    assert not overdue, (
        f"registered >=3 driver rounds ago but never driver-sampled: "
        f"{sorted(overdue)}"
    )


def test_src_hash_ledger_is_fresh():
    """tools/query_src_hashes.json must match the registry's actual
    function sources — the driver-sample rotation's function-granularity
    rewrite detection (__spark_entry__._fn_hash_stale) reads it, and an
    out-of-date ledger silently reverts edited queries to unledgered
    (resample-everything) behavior. Fix: python tools/update_src_hashes.py."""
    import json
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import update_src_hashes as ush

    ledger = json.load(open(ush.PATH))
    missing, stale_hash, dropped = [], [], []
    for name, fn in registry.QUERIES.items():
        h = ush.fn_hash(fn)
        if h is None:
            continue
        rec = ledger.get(name)
        if rec is None:
            missing.append(name)
        elif rec.get("h") != h:
            stale_hash.append(name)
    dropped = [n for n in ledger if n not in registry.QUERIES]
    assert not missing and not stale_hash and not dropped, (
        f"run tools/update_src_hashes.py — missing={missing} "
        f"changed={stale_hash} dropped={dropped}"
    )


@pytest.mark.parametrize("script", ["update_src_hashes.py", "update_ledger.py"])
def test_ledger_writer_rejects_arguments(script):
    """An argument such as --help must print usage and exit 2 without
    touching either ledger (the writers take no arguments, so any
    argument is a mistake, not a request to rewrite)."""
    import subprocess
    import sys

    ledgers = [
        os.path.join(REPO, "tools", f)
        for f in ("query_src_hashes.json", "query_ledger.json")
    ]
    before = [(open(p, "rb").read(), os.stat(p).st_mtime_ns) for p in ledgers]
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", script), "--help"],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )
    assert proc.returncode == 2, proc.stdout + proc.stderr
    assert "usage" in proc.stderr
    after = [(open(p, "rb").read(), os.stat(p).st_mtime_ns) for p in ledgers]
    assert after == before
