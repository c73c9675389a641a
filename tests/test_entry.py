"""t1-shape smoke tests: the driver contract surface itself."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "l_linestatus", "sum_qty", "count_order"} <= set(df.columns)


def test_every_oracle_key_has_query():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_all_queries_run_on_smoke_sf(spark, sf_dir):
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(5).collect()


def test_failed_rows_jump_the_rotation_queue(tmp_path, monkeypatch):
    """Rotation tier 0: a name whose LATEST driver row errored
    must head the queries() order so its fix is re-verified next round;
    an OLDER error superseded by a clean row must not. Malformed or
    rows-only ('no_oracle') artifacts must not break the ordering."""
    import json

    d = str(tmp_path)
    with open(f"{d}/CORRECTNESS_r01.json", "w") as fh:
        json.dump(
            {
                "a1_count_distinct": {"err": "boom"},  # later superseded
                "w3_running_total": {"err": "no_oracle"},  # rows-only, not a fail
            },
            fh,
        )
    with open(f"{d}/CORRECTNESS_r02.json", "w") as fh:
        json.dump(
            {
                "a1_count_distinct": {"err": None, "hash_match": True},
                "l34_inverted_index": {"err": "TypeError: unhashable"},
            },
            fh,
        )
    with open(f"{d}/CORRECTNESS_r03.json", "w") as fh:
        fh.write("{not json")  # must be skipped, not raise
    monkeypatch.setattr(entry_mod, "_HERE", d)

    failed = {n for n, (_, bad) in entry_mod._driver_rows().items() if bad}
    assert failed == {"l34_inverted_index"}
    order = list(entry_mod.queries())
    assert order[0] == "l34_inverted_index"
    assert "a1_count_distinct" in order and "w3_running_total" in order


def test_rewritten_queries_lead_checked_tier(tmp_path, monkeypatch):
    """A checked query whose own function changed since its last driver
    row (per the src-hash ledger) must head the checked tiers, ahead of
    the family round-robin, so the rewrite is re-verified next round.
    Names with unchanged functions keep the round-robin order, oldest
    driver row first. Without a ledger the ordering still works."""
    import json
    import os

    from lens_warehouse_spark import registry
    from tools.update_src_hashes import fn_hash

    d = str(tmp_path)
    with open(f"{d}/CORRECTNESS_r01.json", "w") as fh:
        json.dump(
            {
                "a1_count_distinct": {"err": None, "hash_match": True},
                "l28_boilerplate_scrub": {"err": None, "hash_match": True},
            },
            fh,
        )
    with open(f"{d}/CORRECTNESS_r02.json", "w") as fh:
        json.dump({"w3_running_total": {"err": None, "hash_match": True}}, fh)
    checked = ["a1_count_distinct", "l28_boilerplate_scrub", "w3_running_total"]
    ledger = {n: {"h": fn_hash(registry.QUERIES[n]), "r": 0} for n in checked}
    ledger["l28_boilerplate_scrub"]["r"] = 2  # rewritten AFTER its r01 row
    os.makedirs(f"{d}/tools")
    ledger_path = f"{d}/tools/query_src_hashes.json"
    with open(ledger_path, "w") as fh:
        json.dump(ledger, fh)
    monkeypatch.setattr(entry_mod, "_HERE", d)

    tiers = entry_mod._rotation_tiers(list(registry.QUERIES))
    assert tiers["fn_stale"] == ["l28_boilerplate_scrub"]
    order = list(entry_mod.queries())
    pos = {n: i for i, n in enumerate(order)}
    # unseen tier (everything not in the artifacts) comes first; among
    # the three CHECKED names, the rewritten one leads
    assert pos["l28_boilerplate_scrub"] < pos["a1_count_distinct"]
    assert pos["l28_boilerplate_scrub"] < pos["w3_running_total"]
    assert min(pos[n] for n in checked) == len(order) - len(checked)
    # non-stale checked names: oldest driver round first
    assert pos["a1_count_distinct"] < pos["w3_running_total"]

    # an edit not yet re-ledgered (live hash != ledger) is stale too
    ledger["l28_boilerplate_scrub"] = {"h": "0" * 40, "r": 0}
    with open(ledger_path, "w") as fh:
        json.dump(ledger, fh)
    assert entry_mod._rotation_tiers(list(registry.QUERIES))["fn_stale"] == [
        "l28_boilerplate_scrub"
    ]

    # and with no ledger at all, ordering still works
    os.remove(ledger_path)
    assert entry_mod._rotation_tiers(list(registry.QUERIES))["fn_stale"] == []
    assert set(entry_mod.queries()) == set(order)


def test_queries_starts_no_subprocess(monkeypatch):
    """Ordering queries() reads only committed files: it must not fork
    git (or anything else) on every call."""
    import subprocess

    calls = []

    def refuse(*a, **k):
        calls.append(a)
        raise OSError("queries() must not start a subprocess")

    monkeypatch.setattr(subprocess, "run", refuse)
    monkeypatch.setattr(subprocess, "Popen", refuse)
    assert entry_mod.queries()
    assert len(calls) == 0
