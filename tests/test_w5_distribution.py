"""w5's arithmetic ntile/percent_rank/cume_dist derivation must equal
the native window functions for every small n (bucket-boundary edges:
n < k, n == k, n % k != 0)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from lens_warehouse_spark.operators._helpers import global_rank


def _derived(spark, data, k=4):
    df = spark.createDataFrame(data, "id long, v long")
    ranked = global_rank(df, ["v", "id"], rank_col="__gr", num_partitions=3)
    total = ranked.agg(F.count(F.lit(1)).alias("__total"))
    r, n = F.col("__gr"), F.col("__total")
    q = F.floor(n / k).cast("long")
    rem = (n % k).cast("long")
    cut = rem * (q + 1)
    quartile = F.when(r <= cut, F.floor((r - 1) / (q + 1)) + 1).otherwise(
        rem + F.floor((r - cut - 1) / q) + 1
    )
    # n=1 guard mirrors production w5 (r13: the unguarded 0/0 raised
    # DIVIDE_BY_ZERO under ANSI on a single-customer corpus; standard
    # percent_rank pins the n=1 case to 0).
    pct = F.when(n == 1, F.lit(0.0)).otherwise((r - 1).cast("double") / (n - 1))
    out = ranked.crossJoin(F.broadcast(total)).select(
        "id",
        quartile.cast("long").alias("ntile"),
        F.round(pct, 6).alias("pct"),
        F.round(r.cast("double") / n, 6).alias("cume"),
    )
    return {row["id"]: (row["ntile"], row["pct"], row["cume"]) for row in out.collect()}


def _native(spark, data, k=4):
    df = spark.createDataFrame(data, "id long, v long")
    w = Window.orderBy("v", "id")
    out = df.select(
        "id",
        F.ntile(k).over(w).cast("long").alias("ntile"),
        F.round(F.percent_rank().over(w), 6).alias("pct"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
    return {row["id"]: (row["ntile"], row["pct"], row["cume"]) for row in out.collect()}


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5, 7, 8, 9, 13])
def test_derived_rank_family_matches_native(spark, n):
    data = [(i, (i * 7) % 5) for i in range(n)]
    assert _derived(spark, data) == _native(spark, data)


@pytest.mark.parametrize("n", [0, 1, 2, 5])
def test_registered_w5_matches_oracle_on_tiny_customer_tables(spark, tmp_path, n):
    """The registered query reads n off its rank's totals: an empty
    table gives no rows and a single customer gets pct_rank 0."""
    import duckdb

    from lens_warehouse_spark import registry

    registry.load_all()
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, float((i * 7) % 3)) for i in range(1, n + 1)],
        "c_custkey long, c_acctbal double",
    ).coalesce(1).write.parquet(f"{sf}/customer.parquet")
    got = sorted(
        tuple(r) for r in registry.QUERIES["w5_distribution"](spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{sf}/customer.parquet/*.parquet')"
    )
    want = sorted(con.execute(registry.ORACLES["w5_distribution"]).fetchall())
    assert got == want
    assert len(got) == n
