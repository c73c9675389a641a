"""Property tests for the bracket-then-select kernel behind the exact
quantile family (a20/a21/a22/a24): randomized distributions INCLUDING
heavy ties — where the percentile_approx bracket collapses onto a
single repeated value and the rank bookkeeping must still pick the
true order statistics — groups too small to bracket, and NULLs."""

from __future__ import annotations

import math

import duckdb
from hypothesis import example, given, settings
from hypothesis import strategies as st

from lens_warehouse_spark.operators.aggregates import exact_quantiles


def _quantile_cont(values: list[float | None], p: float) -> float | None:
    """Reference quantile_cont, rounded to 4: linear interpolation at
    h=(n-1)p over the non-null values; None when there are none."""
    s = sorted(v for v in values if v is not None)
    if not s:
        return None
    h = (len(s) - 1) * p
    lo = math.floor(h)
    hi = math.ceil(h)
    return round(
        s[lo] * (hi - h if hi != lo else 1.0) + (s[hi] * (h - lo) if hi != lo else 0.0),
        4,
    )


def _sized_lists(elements, lo: int, hi: int):
    """Lists whose length is drawn uniformly from [lo, hi], so sizes past
    the tiny-group guard (margin 0.05: n < 40 takes the whole group)
    are drawn as often as the small ones."""
    return st.integers(min_value=lo, max_value=hi).flatmap(
        lambda n: st.lists(elements, min_size=n, max_size=n)
    )


# values drawn from a SMALL integer domain -> massive ties by design,
# plus NULLs (counted in n, not in the quantile); group sizes span the
# tiny-group guard and real brackets, with 1- and 2-row groups always drawn
_tied = st.one_of(st.none(), st.integers(min_value=-5, max_value=5).map(float))
_tied_groups = st.dictionaries(
    st.sampled_from(["a", "b", "c"]), _sized_lists(_tied, 3, 300), max_size=3
)
# one fixed draw with every group past the guard
_BIG_GROUPS = {g: [float((i * k) % 11 - 5) for i in range(300)] for g, k in (("a", 7), ("b", 3))}


@settings(max_examples=12, deadline=None)
@given(_tied_groups, _tied, st.lists(_tied, min_size=2, max_size=2))
@example({**_BIG_GROUPS, "c": [None, None, 4.0]}, None, [1.0, 2.0])
def test_grouped_quantiles_match_reference(spark, groups, one, two):
    groups = {**groups, "one": [one], "two": two}
    ps = (0.5, 0.9)
    rows = [(g, v) for g, vals in groups.items() for v in vals]
    df = spark.createDataFrame(rows, "g string, value double")
    got = {
        (r.g, r.p_idx): (r.q, r.n)
        for r in exact_quantiles(df, "value", ps, keys=("g",), margin=0.05).collect()
    }
    want = {
        (g, i): (_quantile_cont(vals, p), len(vals))
        for g, vals in groups.items()
        for i, p in enumerate(ps)
    }
    assert got == want, groups


# a24's form: one global group, many p at once, so brackets can overlap
# on a repeated value and every p must still see its full slice.
_tied_values = _sized_lists(st.integers(min_value=-8, max_value=8).map(float), 1, 400)


@settings(max_examples=10, deadline=None)
@given(_tied_values)
@example([float((i * 5) % 17 - 8) for i in range(400)])
def test_global_quantiles_match_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    ps = (0.1, 0.25, 0.5, 0.9)
    got = sorted(
        (r.p_idx, r.q, r.n)
        for r in exact_quantiles(df, "x", ps, margin=0.05).collect()
    )
    want = [
        (i, _quantile_cont(values, p), len(values))
        for i, p in enumerate(ps)
    ]
    assert got == want, values


def test_a22_machinery_tiny_distinct_group(spark):
    """Direct regression for the tiny-group bracket bug: a 2-row group
    with distinct values must interpolate, not return the upper value."""
    from lens_warehouse_spark.operators import aggregates as agg
    import lens_warehouse_spark.catalog as cat

    df = spark.createDataFrame(
        [("a", 0.0), ("a", 1.0), ("b", 5.0)], "event_type string, value double"
    )
    orig = cat.table
    try:
        cat.table = lambda _s, _d, _n: df
        agg.table = cat.table
        out = {
            r["event_type"]: r["p90_value"]
            for r in agg.a22_grouped_exact_percentile(spark, "ignored").collect()
        }
    finally:
        cat.table = orig
        agg.table = orig
    assert out["a"] == round(0.0 * 0.1 + 1.0 * 0.9, 4)  # 0.9, interpolated
    assert out["b"] == 5.0


_EMPTY_TABLES = {
    "customer": "c_custkey long, c_acctbal double",
    "orders": "o_orderkey long, o_totalprice double",
    "events": "event_id long, event_type string, value double",
}


def test_family_on_empty_tables_matches_oracle(spark, tmp_path):
    """Empty inputs take the oracle's shapes: a20 one (NULL, 0) row,
    a21 and a24 no rows — with no driver-side special case."""
    from lens_warehouse_spark import registry
    from tools.check_parity import compare

    registry.load_all()
    con = duckdb.connect()
    for t, schema in _EMPTY_TABLES.items():
        path = f"{tmp_path}/{t}.parquet"
        spark.createDataFrame([], schema).coalesce(1).write.parquet(path)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    shapes = {}
    for name in (
        "a20_exact_median",
        "a21_grouped_exact_median",
        "a24_equidepth_histogram",
    ):
        got = registry.QUERIES[name](spark, str(tmp_path)).toPandas()
        assert not compare(name, got, con.execute(registry.ORACLES[name]).fetchdf())
        shapes[name] = len(got)
    con.close()
    assert shapes == {
        "a20_exact_median": 1,
        "a21_grouped_exact_median": 0,
        "a24_equidepth_histogram": 0,
    }
