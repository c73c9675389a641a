"""Per-query bench ratio: Spark (bench config) vs its own DuckDB oracle
at the bench SF. This is the 2x-bound risk monitor — the driver's
BASELINE may be DuckDB-measured, so every headline query should stay
within a small multiple of its oracle time at sf0.1.

Usage: python tools/bench_vs_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from lens_warehouse_spark import registry
from lens_warehouse_spark.session import get_spark
from tools.check_parity import duck_connection


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or HEADLINE
    registry.load_all()
    spark = get_spark("bench-ratio")
    con = duck_connection(sf_dir)

    rows = []
    for name in names:
        fn = registry.QUERIES[name]
        fn(spark, "/root/testdata/sf0.001").count()  # warm plan/codegen
        s_best = d_best = float("inf")
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            s_best = min(s_best, time.perf_counter() - t0)
        oracle = registry.ORACLES.get(name)
        if oracle:
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(oracle).fetchall()
                d_best = min(d_best, time.perf_counter() - t0)
        rows.append(
            {
                "query": name,
                "spark_s": round(s_best, 3),
                "duckdb_s": round(d_best, 3) if oracle else None,
                "ratio": round(s_best / d_best, 1) if oracle else None,
            }
        )
    total_s = sum(r["spark_s"] for r in rows)
    total_d = sum(r["duckdb_s"] for r in rows if r["duckdb_s"])
    for r in sorted(rows, key=lambda r: -(r["ratio"] or 0)):
        print(
            f"{r['query']:35s} spark {r['spark_s']:7.3f}  "
            f"duckdb {r['duckdb_s'] if r['duckdb_s'] is not None else '-':>7}  "
            f"ratio {r['ratio'] if r['ratio'] is not None else '-'}"
        )
    print(
        json.dumps(
            {
                "spark_total": round(total_s, 3),
                "duckdb_total": round(total_d, 3),
                "ratio": round(total_s / total_d, 2) if total_d else None,
            }
        )
    )


if __name__ == "__main__":
    main()
