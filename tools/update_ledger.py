"""Record each registered query's registration round.

tools/query_ledger.json maps query name -> the driver round at which it
was (or will first be) eligible for sampling: existing names keep their
recorded round; new names get latest-CORRECTNESS-round + 1. The
companion test (test_survey_coverage.py::
test_no_query_goes_three_rounds_unsampled) fails once a name is three
rounds past registration without a CORRECTNESS row — the guard the r7
verdict asked for so coverage debt cannot silently accumulate.

Run after registering new queries: python tools/update_ledger.py
(no arguments; any argument prints usage and exits 2 without writing)
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from lens_warehouse_spark import registry  # noqa: E402
from tools.update_src_hashes import latest_round  # noqa: E402


def main() -> None:
    if sys.argv[1:]:
        print(
            "usage: python tools/update_ledger.py (takes no arguments)",
            file=sys.stderr,
        )
        raise SystemExit(2)
    registry.load_all()
    path = os.path.join(HERE, "tools", "query_ledger.json")
    ledger = {}
    if os.path.exists(path):
        with open(path) as fh:
            ledger = json.load(fh)
    latest = latest_round()
    added = [n for n in registry.QUERIES if n not in ledger]
    for n in added:
        ledger[n] = latest + 1
    stale = [n for n in ledger if n not in registry.QUERIES]
    for n in stale:
        del ledger[n]  # renamed/removed queries drop out
    with open(path, "w") as fh:
        json.dump(ledger, fh, indent=0, sort_keys=True)
    print(f"ledger: {len(ledger)} entries (+{len(added)}, -{len(stale)})")


if __name__ == "__main__":
    main()
