"""Record each registered query's function-source hash + change round.

tools/query_src_hashes.json maps query name -> {"h": sha1 of the
query function's dedented source, "r": the driver round at which THIS
hash first became eligible for sampling}. __spark_entry__ uses it for
FUNCTION-granularity rewrite detection in the driver-sample rotation:
a name is resampled-first only when its own function changed since its
last driver row, not whenever any query in the same module was edited
(module commit times flagged every query in an edited module and
starved the oldest-driver-row rest tier). A helper-only rewrite leaves
the function hash unchanged, so it is re-verified when the rest tier's
oldest-driver-row-first rotation reaches the name.

Run after editing any registered query: python tools/update_src_hashes.py
(test_survey_coverage.py fails if the committed ledger is out of date.)
It takes no arguments; any argument prints usage and exits 2 without
writing.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import re
import sys
import textwrap

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from lens_warehouse_spark import registry  # noqa: E402

PATH = os.path.join(HERE, "tools", "query_src_hashes.json")


def fn_hash(fn) -> str | None:
    """sha1 of the dedented function source; None when unavailable."""
    try:
        src = textwrap.dedent(inspect.getsource(fn))
    except (OSError, TypeError):
        return None
    return hashlib.sha1(src.encode()).hexdigest()


def latest_round() -> int:
    latest = 0
    for p in glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            latest = max(latest, int(m.group(1)))
    return latest


def main() -> None:
    if sys.argv[1:]:
        print(
            "usage: python tools/update_src_hashes.py (takes no arguments)",
            file=sys.stderr,
        )
        raise SystemExit(2)
    registry.load_all()
    ledger: dict[str, dict] = {}
    if os.path.exists(PATH):
        with open(PATH) as fh:
            ledger = json.load(fh)
    nxt = latest_round() + 1
    changed, added, dropped = [], [], []
    for name, fn in registry.QUERIES.items():
        h = fn_hash(fn)
        if h is None:
            continue
        prev = ledger.get(name)
        if prev is None:
            # Bootstrap/new registration: r=0 (treat as unchanged).
            # A never-sampled NEW name is surfaced by the unseen tier
            # regardless; seeding r=nxt here would flood the rewrite
            # tier with the whole registry on the ledger's first run.
            ledger[name] = {"h": h, "r": 0}
            added.append(name)
        elif prev.get("h") != h:
            ledger[name] = {"h": h, "r": nxt}
            changed.append(name)
    for name in [n for n in ledger if n not in registry.QUERIES]:
        del ledger[name]
        dropped.append(name)
    with open(PATH, "w") as fh:
        json.dump(ledger, fh, indent=0, sort_keys=True)
        fh.write("\n")
    print(
        f"src-hash ledger: {len(ledger)} entries "
        f"(+{len(added)} new, ~{len(changed)} changed, -{len(dropped)})"
    )
    if changed:
        print("changed:", " ".join(sorted(changed)))


if __name__ == "__main__":
    main()
