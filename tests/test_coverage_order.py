"""Driver-sample rotation invariants (__spark_entry__._rotation_tiers).

The rotation decides which 50 queries the grading driver re-verifies
each round, so a starved tier means a rewritten or long-unsampled query
ships changes with no driver row. These tests pin the invariants
structurally (no golden lists), so they stay true as CORRECTNESS
artifacts accumulate.
"""

from __future__ import annotations

import re

import __spark_entry__ as entry
from lens_warehouse_spark import registry

registry.load_all()


def _tiers():
    return entry._rotation_tiers(list(registry.QUERIES))


def _last_rounds() -> dict[str, int]:
    return {n: rnd for n, (rnd, _) in entry._driver_rows().items()}


def test_tiers_partition_the_registry():
    tiers = _tiers()
    assert list(tiers) == ["refail", "unseen", "fn_stale", "rest"]
    flat = [n for t in tiers.values() for n in t]
    assert len(flat) == len(set(flat)) == len(registry.QUERIES)
    assert set(flat) == set(registry.QUERIES)
    assert list(entry.queries()) == flat


def test_rest_tier_drains_oldest_driver_rows_first_within_family():
    """Within each operator family, the rest tier must order names by
    their last driver round non-decreasingly: nothing with a newer row
    can precede an older one inside its family slot sequence, so no
    family member starves."""
    tiers = _tiers()
    last = _last_rounds()
    fams: dict[str, list[int]] = {}
    for n in tiers["rest"]:
        fam = re.match(r"[a-z]+", n).group(0)
        fams.setdefault(fam, []).append(last.get(n, 0))
    for fam, rounds in fams.items():
        assert rounds == sorted(rounds), (
            f"family {fam!r} rest tier not oldest-first: {rounds}"
        )


def test_fn_stale_only_contains_genuinely_changed_functions():
    """The fast lane must hold ONLY names whose ledger change-round
    postdates their last driver row (or whose live hash disagrees with
    the ledger) — a module-wide edit flooding it is the regression this
    guards against. Uses the same fn_hash as the ledger writer and
    _fn_hash_stale, so the check cannot diverge from the hasher."""
    import json
    import os

    from tools.update_src_hashes import PATH as LEDGER_PATH
    from tools.update_src_hashes import fn_hash

    assert os.path.exists(LEDGER_PATH)
    tiers = _tiers()
    last = _last_rounds()
    with open(LEDGER_PATH) as fh:
        ledger = json.load(fh)
    for n in tiers["fn_stale"]:
        rec = ledger.get(n)
        live = fn_hash(registry.QUERIES[n])
        genuinely_changed = (
            rec is None
            or rec.get("h") != live
            or last.get(n, 0) < rec.get("r", 0)
        )
        assert genuinely_changed, (
            f"{n} sits in the fn_stale fast lane but neither its ledger "
            "round nor its live hash justifies it"
        )


def test_unhashable_unledgered_name_is_not_pinned_stale():
    """A query whose source inspect cannot retrieve (h None) and which
    the ledger has never seen (rec None) must NOT be treated as
    rewritten-every-round — that would permanently consume a fast-lane
    driver slot. _fn_hash_stale skips it (rest tier)."""
    from lens_warehouse_spark import registry as reg

    fake = "zz99_unhashable_phantom"
    assert fake not in reg.QUERIES
    # exec'd source: inspect.getsource raises OSError -> fn_hash None
    ns: dict = {}
    exec("def _phantom(spark, sf_dir):\n    return None", ns)
    reg.QUERIES[fake] = ns["_phantom"]
    try:
        stale = entry._fn_hash_stale([fake], {})
        assert fake not in stale
    finally:
        del reg.QUERIES[fake]

