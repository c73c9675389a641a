"""Aggregation operators A1-A10 (SURVEY.md §2.5).

Reference parity: lens-warehouse's analytics are counts — visit & subject
counts per cohort query, faceted per study-event (public repo
``src/lens/api.clj``; /root/reference empty, SURVEY.md §0). Numeric
min/max/avg summaries back the UI's item-value histograms. Everything
else here (approx distinct, rollup/cube, grouped arrays) is the
100-TB-scale extension mandated by the north star.

Scale notes: every groupBy below is a partial (map-side) + final
HashAggregate — one shuffle of the *aggregated* keys, never raw rows.
``approx_count_distinct`` (HLL++) replaces exact distinct counting at
100 TB where the exact shuffle would be the bottleneck; rollup/cube
compute all facets in ONE pass instead of the reference's
one-datalog-query-per-facet loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lens_warehouse_spark.catalog import table
from lens_warehouse_spark.operators._helpers import running_totals
from lens_warehouse_spark.registry import register


# ---------------------------------------------------------------------------
# A1: count + exact count-distinct (ref: visit & subject counts).
# ---------------------------------------------------------------------------
@register(
    "a1_count_distinct",
    oracle="""
SELECT count(*) AS n_orders, count(DISTINCT o_custkey) AS n_customers
FROM orders
""",
)
def a1_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# A2: approximate count-distinct (HLL++) — the 100 TB path. No SQL oracle
# (engines' sketches differ); sanity property tested in tests/ instead.
# ---------------------------------------------------------------------------
_A2_ORACLE = """
SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       TRUE AS approx_within_rsd
FROM orders
"""


# Certified (r11, the equals-batch pattern's error-bound cousin): the
# HLL++ estimate itself is engine-specific and can't appear in a DuckDB
# oracle, so the query emits the EXACT distinct count plus an in-engine
# boolean asserting |approx - exact| / exact <= 0.06 (3x the requested
# rsd 0.02 — a ~3-sigma bound on a deterministic sketch). The plan
# still exercises approx_count_distinct; an estimator regression flips
# the flag and hash-fails. Was rows-only since r1.
@register("a2_approx_count_distinct", oracle=_A2_ORACLE)
def a2_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = table(spark, sf_dir, "orders").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        F.count_distinct(F.col("o_custkey")).alias("exact_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    err = F.abs(
        F.col("approx_customers") - F.col("exact_customers")
    ) / F.col("exact_customers")
    # exact == 0 (empty table, or every key NULL — the r13 relational
    # campaign's all-null-FK corpus): the relative-error bound is 0/0,
    # which ANSI mode raises on. An empty key set is "within rsd" iff
    # the sketch also reads 0.
    within = F.when(
        F.col("exact_customers") == 0, F.col("approx_customers") == 0
    ).otherwise(err <= 0.06)
    return agg.select(
        "exact_customers",
        "n_orders",
        within.alias("approx_within_rsd"),
    )


# ---------------------------------------------------------------------------
# A3: grouped counts / facets (ref: counts per study-event / form).
# ---------------------------------------------------------------------------
@register(
    "a3_faceted_counts",
    oracle="""
SELECT o_orderpriority, o_orderstatus, count(*) AS n
FROM orders
GROUP BY o_orderpriority, o_orderstatus
""",
)
def a3_faceted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# A4: numeric stats (ref: item-value summaries for UI).
# stddev rounded to 2: cross-engine algorithm drift is ~1e-9, boundary 5e-3.
# ---------------------------------------------------------------------------
@register(
    "a4_numeric_stats",
    oracle="""
SELECT c_mktsegment,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal,
       round(avg(c_acctbal), 4) AS avg_bal,
       round(stddev_samp(c_acctbal), 2) AS sd_bal,
       CAST(round(sum(c_acctbal)) AS BIGINT) AS sum_bal,
       count(*) AS n
FROM customer
GROUP BY c_mktsegment
""",
)
def a4_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
            F.round(F.stddev_samp("c_acctbal"), 2).alias("sd_bal"),
            F.round(F.sum("c_acctbal")).cast("long").alias("sum_bal"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# A5: histogram via explicit width buckets (ref: UI value distributions).
# Exact integer bucket edges -> deterministic across engines.
# ---------------------------------------------------------------------------
@register(
    "a5_histogram",
    oracle="""
SELECT CAST(floor((c_acctbal - (-1000.0)) / 500.0) AS BIGINT) AS bucket,
       count(*) AS n
FROM customer
GROUP BY bucket
ORDER BY bucket
""",
)
def a5_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.floor((F.col("c_acctbal") - F.lit(-1000.0)) / F.lit(500.0))
    return (
        table(spark, sf_dir, "customer")
        .groupBy(bucket.cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# A5b: exact percentiles via inverse-distribution (median price per status).
# percentile_cont is interpolation on sorted values — deterministic.
# ---------------------------------------------------------------------------
@register(
    "a5b_percentiles",
    oracle="""
SELECT o_orderstatus,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def a5b_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# A8: rollup — all facet levels in one pass (ref computes facets per-query).
# ---------------------------------------------------------------------------
@register(
    "a8_rollup",
    oracle="""
SELECT coalesce(r.r_name, 'ALL')  AS region_name,
       coalesce(n.n_name, 'ALL')  AS nation_name,
       CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT) AS grp,
       count(*) AS n_suppliers
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
)
def a8_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    su = table(spark, sf_dir, "supplier")
    na = table(spark, sf_dir, "nation")
    re = table(spark, sf_dir, "region")
    joined = su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey).join(
        F.broadcast(re), na.n_regionkey == re.r_regionkey
    )
    rolled = (
        joined.rollup("r_name", "n_name")
        .agg(F.grouping_id().cast("long").alias("grp"), F.count(F.lit(1)).alias("n_suppliers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "grp",
            "n_suppliers",
        )
    )
    # Standard SQL ROLLUP includes the () grouping set, which — like a
    # global aggregate — yields one zero-count row even over an EMPTY
    # input; Spark's rollup omits it (r13 relational campaign,
    # empty-dim corpus: spark 0 rows vs oracle 1). Synthesize the
    # grand-total row from a count-only pass that survives the filter
    # exactly when the input is empty; count(1) is a metadata-cheap
    # partial aggregate, so the extra pass is noise at any scale.
    grand = (
        joined.agg(F.count(F.lit(1)).alias("n_suppliers"))
        .where(F.col("n_suppliers") == 0)
        .select(
            F.lit("ALL").alias("region_name"),
            F.lit("ALL").alias("nation_name"),
            F.lit(3).cast("long").alias("grp"),
            "n_suppliers",
        )
    )
    return rolled.unionByName(grand)


# ---------------------------------------------------------------------------
# A8b: cube over two independent dims.
# ---------------------------------------------------------------------------
@register(
    "a8b_cube",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS grp,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def a8b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    cubed = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().cast("long").alias("grp"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "grp",
            "n",
        )
    )
    # CUBE's () grouping set must yield one zero-count row over empty
    # input (standard semantics; Spark omits it — see a8_rollup).
    grand = (
        li.agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == 0)
        .select(
            F.lit("ALL").alias("returnflag"),
            F.lit("ALL").alias("linestatus"),
            F.lit(3).cast("long").alias("grp"),
            "n",
        )
    )
    return cubed.unionByName(grand)


# ---------------------------------------------------------------------------
# A9: conditional aggregation (ref: per-criterion counts in one scan).
# ---------------------------------------------------------------------------
@register(
    "a9_conditional_agg",
    oracle="""
SELECT o_orderstatus,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
       count(*) AS n
FROM orders
GROUP BY o_orderstatus
""",
)
def a9_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
            .cast("long")
            .alias("n_urgent"),
            F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0))
            .cast("long")
            .alias("n_big"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# A10: collect children to (sorted) array — ref renders metadata trees via
# pull-many. Emitted as a joined string: engine-neutral for value hashing.
# ---------------------------------------------------------------------------
@register(
    "a10_collect_array",
    oracle="""
SELECT r.r_name AS region_name,
       array_to_string(list_sort(list(n.n_name)), ',') AS nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
""",
)
def a10_collect_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = table(spark, sf_dir, "nation")
    re = table(spark, sf_dir, "region")
    return (
        na.join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations")
        )
        .orderBy("region_name")
    )


# ---------------------------------------------------------------------------
# U1-U4 set algebra primitives (SURVEY.md §2.4) in their raw DataFrame form;
# the full CNF cohort compiler lives in cohort_queries.py.
# ---------------------------------------------------------------------------
@register(
    "u1_union_distinct",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
UNION
SELECT o_custkey FROM orders WHERE o_totalprice > 300000
""",
)
def u1_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = od.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionByName(b).distinct()


@register(
    "u2_intersect",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
""",
)
def u2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = od.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "u3_except",
    oracle="""
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
)
def u3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    open_ = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return cu.subtract(open_)  # EXCEPT (distinct semantics), matching SQL


@register(
    "u4_distinct",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
""",
)
def u4_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# A13: PIVOT — status counts spread across priority columns (explicit
# value list -> deterministic schema; oracle via conditional aggregation).
# ---------------------------------------------------------------------------
@register(
    "a13_pivot",
    oracle="""
SELECT o_orderstatus,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
       CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def a13_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "5-LOW"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderstatus",
        F.coalesce(F.col("1-URGENT"), F.lit(0)).cast("long").alias("urgent"),
        F.coalesce(F.col("2-HIGH"), F.lit(0)).cast("long").alias("high"),
        F.coalesce(F.col("5-LOW"), F.lit(0)).cast("long").alias("low"),
    ).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# A14: UNPIVOT / melt — wide stats back to long (id, metric, value).
# ---------------------------------------------------------------------------
@register(
    "a14_unpivot",
    oracle="""
SELECT s_suppkey, metric, round(value, 2) AS value
FROM (
  SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS value FROM supplier
  UNION ALL
  SELECT s_suppkey, 'nationkey' AS metric, CAST(s_nationkey AS DOUBLE) AS value FROM supplier
)
ORDER BY s_suppkey, metric
""",
)
def a14_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    su = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_acctbal").alias("acctbal"),
        F.col("s_nationkey").cast("double").alias("nationkey"),
    )
    return (
        su.unpivot("s_suppkey", ["acctbal", "nationkey"], "metric", "value")
        .select("s_suppkey", "metric", F.round("value", 2).alias("value"))
        .orderBy("s_suppkey", "metric")
    )


# ---------------------------------------------------------------------------
# U2b/U3b: bag-semantics set operations (INTERSECT ALL / EXCEPT ALL) —
# multiplicities preserved, unlike the set-semantics forms above.
# ---------------------------------------------------------------------------
@register(
    "u2b_intersect_all",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
""",
)
def u2b_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = od.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b)


@register(
    "u3b_except_all",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
)
def u3b_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = od.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# A15: correlation / covariance — the remaining statistical aggregate
# family. Both engines use numerically-stable one-pass updates whose
# cross-engine drift is ~1e-9; rounded to 4 (boundary 5e-5, far above
# drift; corr of continuous doubles essentially never lands on one).
# ---------------------------------------------------------------------------
@register(
    "a15_correlation",
    oracle="""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
       round(covar_samp(l_quantity, l_discount), 4) AS qty_disc_covar,
       round(covar_pop(l_extendedprice, l_tax), 4) AS price_tax_covar
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def a15_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias(
                "qty_disc_covar"
            ),
            F.round(F.covar_pop("l_extendedprice", "l_tax"), 4).alias(
                "price_tax_covar"
            ),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# A16: distributed heavy hitters — the Misra-Gries / SpaceSaving pattern.
# Stage 1 runs a weighted Misra-Gries summary of size K inside each
# partition (mapInPandas; value_counts per Arrow batch, then the
# weighted-MG prune: subtract the (K+1)-th largest weight from all,
# drop non-positives — the per-batch merge keeps the classic guarantee
# that any item with partition count > n_p/K survives). By pigeonhole,
# any item with GLOBAL count > n/K then survives in at least one
# partition, so the union of the P summaries (≤ P*K ids, broadcast-size
# even at P=10^4 partitions) is a candidate superset. Stage 2 recounts
# ONLY the candidates exactly (broadcast semi-join + one aggregation of
# the filtered rows) and applies the threshold with INTEGER arithmetic
# (cnt*K > n) — so the output is the exact heavy-hitter set and fully
# oracle-able, while raw-row shuffle volume stays bounded by the
# candidate filter instead of the full key cardinality. This is the
# 100 TB replacement for "GROUP BY user ORDER BY count DESC" over billions of
# keys. Ref parity: lens-warehouse has no sketch ops; this is part of
# the training-pipeline extension mandated by SURVEY.md §2.11.
# ---------------------------------------------------------------------------
_HH_K = 140  # summary size; threshold is count*K > n


def _mg_summaries(batches):
    """Per-partition weighted Misra-Gries over Arrow batches."""
    import pandas as pd

    counters: dict = {}
    for pdf in batches:
        for uid, w in pdf["user_id"].value_counts().items():
            counters[uid] = counters.get(uid, 0) + int(w)
        if len(counters) > _HH_K:
            cut = sorted(counters.values(), reverse=True)[_HH_K]
            counters = {
                u: c - cut for u, c in counters.items() if c - cut > 0
            }
    yield pd.DataFrame({"user_id": list(counters.keys()) or []}).astype(
        {"user_id": "int64"}
    )


def heavy_hitters(keys: DataFrame, k: int = _HH_K) -> DataFrame:
    """(user_id, cnt) for every key of the one-column ``user_id`` frame
    ``keys`` whose count exceeds n/k. ``k`` must not exceed the summary
    capacity ``_HH_K``, or true heavy hitters can miss the candidates."""
    candidates = keys.mapInPandas(_mg_summaries, "user_id long").distinct()
    total = keys.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    return (
        keys.join(F.broadcast(candidates), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("n_total"))
        .select("user_id", "cnt")
    )


@register(
    "a16_heavy_hitters",
    oracle=f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
FROM events
GROUP BY user_id
HAVING count(*) * {_HH_K} > (SELECT count(*) FROM events)
ORDER BY user_id
""",
)
def a16_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id")
    return heavy_hitters(ev).orderBy("user_id")


# ---------------------------------------------------------------------------
# A17: approximate percentiles — percentile_approx (Greenwald-Khanna
# sketch, JVM-side, mergeable across partitions) with the accuracy knob
# exposed. The scale counterpart of a5b's exact percentile_cont: at
# 100 TB exact percentiles need a full sort while the GK sketch is one
# map-side pass + tiny merges, error bounded by 1/accuracy.
# r10 CONTRACT CHANGE (verdict #2): the hash-compared output is now
# fully oracle-checkable — exact percentiles (same convention as a5b)
# plus a gk_within_eps boolean certifying every GK answer's exact RANK
# sits inside [floor((q-eps)n)-1, ceil((q+eps)n)+1] (eps = 2/accuracy;
# the +/-1 is integer-rank slack, load-bearing at small n where the
# eps window spans <1 rank). The sketch still runs in the same single
# groupBy pass; certification adds one broadcast-join conditional-sum
# pass (a VERIFICATION artifact — at 100 TB you persist the sketch and
# skip it). DuckDB's side emits literal TRUE, so a hash-match proves
# both the exact values AND the in-bound property.
# ---------------------------------------------------------------------------
_A17_QS = [0.25, 0.5, 0.75, 0.95]
_A17_EPS = 2.0 / 10000  # 2x the GK rank-error bound at accuracy=10000


@register(
    "a17_approx_percentile",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS gk_within_eps
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def a17_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Certification is RANK-based — the guarantee GK actually makes.
    # (The first r10 form bracketed gk between interpolated exact
    # percentiles at q +/- eps; at sf0.001 a group has ~2k rows, the
    # +/- eps window spans <1 rank, the bracket collapses to the
    # interpolated point, and the certification False-failed on values
    # GK legitimately returned. Caught by the cross-SF parity sweep.)
    # Pass 2 ranks each GK answer with one broadcast join + conditional
    # sums (map-side partials, 3 groups x 8 counters — no row blowup):
    # gkv is certified iff its value-rank interval [lt+1, le] meets
    # [floor((q-eps)n), ceil((q+eps)n)] with a +/-1 integer-rank slack.
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    fracs = ", ".join(f"{x!r}D" for x in _A17_QS)
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", _A17_QS, 10000).alias("gk"),
        F.expr(f"percentile(l_extendedprice, array({fracs}))").alias("ex"),
        F.count(F.lit(1)).alias("n"),
    )
    # agg feeds TWO consumers (the broadcast cert branch and the final
    # join's left side) whose pruned subtrees don't exchange-reuse —
    # unpinned, the full lineitem aggregation ran twice (r10 review).
    from lens_warehouse_spark.operators._helpers import pin

    agg = pin("a17.agg", agg)
    k = len(_A17_QS)
    joined = li.join(F.broadcast(agg.select("l_returnflag", "gk")), "l_returnflag")
    cert = joined.groupBy("l_returnflag").agg(
        *(
            F.sum(
                (F.col("l_extendedprice") < F.col("gk")[i]).cast("long")
            ).alias(f"lt{i}")
            for i in range(k)
        ),
        *(
            F.sum(
                (F.col("l_extendedprice") <= F.col("gk")[i]).cast("long")
            ).alias(f"le{i}")
            for i in range(k)
        ),
    )
    within = F.lit(True)
    for i, q in enumerate(_A17_QS):
        lo_rank = F.floor(F.lit(q - _A17_EPS) * F.col("n")) - 1
        hi_rank = F.ceil(F.lit(q + _A17_EPS) * F.col("n")) + 1
        within = (
            within
            & (F.col(f"le{i}") >= lo_rank)
            & (F.col(f"lt{i}") + 1 <= hi_rank)
        )
    return (
        agg.join(cert, "l_returnflag")
        .select(
            "l_returnflag",
            F.round(F.col("ex")[0], 4).alias("p25"),
            F.round(F.col("ex")[1], 4).alias("p50"),
            F.round(F.col("ex")[2], 4).alias("p75"),
            F.round(F.col("ex")[3], 4).alias("p95"),
            "n",
            within.alias("gk_within_eps"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# A18: HLL sketch rollup — the mergeable-sketch pre-aggregation pattern.
# Stage 1 builds a (event_type, day) -> HLL(user_id) sketch table
# (Datasketches HLL via hll_sketch_agg, JVM-side, partial-aggregable);
# at 100 TB that table is what you PERSIST — thousands of ~KB sketches
# instead of re-scanning the fact table. Stage 2 answers "distinct users
# per event_type over any day range" by hll_union_agg over the tiny
# sketch table — no rescan, no exact-distinct shuffle of raw keys.
# a1/a2 are the exact/approx single-pass forms; this is the rollup form
# that makes repeated distinct queries O(sketch table).
# tests/test_bucketing.py pins the relative error vs exact
# countDistinct and the union==direct mergeability identity.
# Reference counts subject sets exactly per query [P src/lens/api.clj];
# sketches are the NS scale extension.
# ---------------------------------------------------------------------------
def hll_daily_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1: the persistable (event_type, day) sketch rollup."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    )


# ---------------------------------------------------------------------------
# A19: approximate cohort overlap — the reference's set INTERSECTION
# (clojure.set/intersection of subject-id sets, [P src/lens/api.clj])
# re-expressed as sketch algebra for 100 TB: per-cohort HLL sketches +
# inclusion-exclusion |A∩B| ≈ |A| + |B| − |A∪B| (HLL unions exactly;
# intersection only via I-E). One pass builds the 5 per-event_type
# sketches; the pair table is a trivial self-join of 5 KB-sized rows —
# the fact table is never rescanned per pair, vs U2's exact intersect
# which shuffles the full key sets for every cohort pair.
# r10 CONTRACT CHANGE (verdict #2): output is exact_overlap (exact
# pairwise distinct-user intersection, re-derivable by DuckDB) plus an
# ie_within_bound boolean certifying the I-E estimate sits within
# 5% of the pair's exact union size (+5 absolute slack) — the scale
# on which the three HLL errors compound. The sketch path is the
# production answer at 100 TB; the exact columns are the sf-scale
# verification contract (oracle emits literal TRUE).
# ---------------------------------------------------------------------------
def sketch_overlap_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure sketch path: per-pair inclusion-exclusion estimates
    from one fact-table pass + a 5x5 broadcast self-join."""
    ev = table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    a, b = sk.alias("a"), F.broadcast(sk.alias("b"))
    return a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        (
            F.hll_sketch_estimate("a.sk")
            + F.hll_sketch_estimate("b.sk")
            - F.hll_sketch_estimate(F.hll_union("a.sk", "b.sk"))
        ).alias("approx_overlap"),
    )


@register(
    "a19_sketch_overlap",
    oracle="""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS exact_overlap,
       TRUE AS ie_within_bound
FROM d a JOIN d b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def a19_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    est = sketch_overlap_estimates(spark, sf_dir)
    d = (
        table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    sz = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = d.alias("a"), d.alias("b")
    exact = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
        .join(F.broadcast(sz.withColumnRenamed("n", "n_a")),
              F.col("type_a") == F.col("event_type"))
        .drop("event_type")
        .join(F.broadcast(sz.withColumnRenamed("n", "n_b")),
              F.col("type_b") == F.col("event_type"))
        .drop("event_type")
    )
    union_sz = F.col("n_a") + F.col("n_b") - F.col("exact_overlap")
    return (
        exact.join(F.broadcast(est), ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_overlap",
            (
                F.abs(F.col("approx_overlap") - F.col("exact_overlap"))
                <= 0.05 * union_sz + 5
            ).alias("ie_within_bound"),
        )
        .orderBy("type_a", "type_b")
    )


# r10 CONTRACT CHANGE (verdict #2): a18's hash-compared output is now
# exact_users (countDistinct, re-derivable by DuckDB) + n_days + a
# sketch_within_rsd boolean certifying the rollup-union estimate sits
# within 3% of exact (lgConfigK=14 -> ~0.8% RSE; 3% is the same
# determinism-safe bound tests/test_bucketing.py has pinned since r3).
# The sketch rollup (the thing that matters at 100 TB) still runs
# unchanged; the exact pass is the sf-scale verification contract.
@register(
    "a18_hll_rollup",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       TRUE AS sketch_within_rsd
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def a18_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sketches = hll_daily_sketches(spark, sf_dir)
    roll = sketches.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        exact.join(F.broadcast(roll), "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_days",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.03
            ).alias("sketch_within_rsd"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Exact quantiles without sorting any group (A20-A22, A24): the
# bracket-then-select kernel. One percentile_approx aggregate per group
# brackets every p, one below-bracket count per (group, p) fixes the
# bracket's rank offset, and one window partitioned by (keys, p_idx)
# ranks only the in-bracket slice. Nothing data-sized is sorted or
# reaches the driver, and building the plan runs no job.
# ---------------------------------------------------------------------------
# GK rank error is n / accuracy = 1e-5·n, inside every caller's margin·n.
_GK_ACCURACY = 100_000


def exact_quantiles(
    df: DataFrame, value: str, ps: tuple, keys: tuple = (), margin: float = 0.03
) -> DataFrame:
    """Exact ``quantile_cont(value, p)`` for every p in ``ps`` per
    ``keys`` group: rows ``(*keys, p_idx, q, n)``, q rounded to 4 (NULL
    when the group has no non-null value) and n the group's row count.

    Each p is bracketed at [p - margin, p + margin]; the slice inside
    holds both order statistics straddling h = (m-1)p + 1 of the m
    non-null values whenever margin·m >= 2, and a smaller group takes
    itself whole as its bracket. Equal values share one row with their
    count, so heavy ties shrink the ranked slice instead of breaking
    the rank math.
    """
    from pyspark.sql import Window

    keys, ps, v = list(keys), tuple(ps), F.col(value)
    probes = [max(p - margin, 0.0) for p in ps] + [min(p + margin, 1.0) for p in ps]
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(v).alias("__m"),
        F.percentile_approx(v, probes, _GK_ACCURACY).alias("__b"),
    )
    tiny = F.col("__m") * margin < 2
    p_rows = F.posexplode(F.array(*map(F.lit, ps))).alias("p_idx", "p")
    brackets = stats.select(*keys, "n", "__m", "__b", p_rows).select(
        *keys,
        "p_idx",
        "n",
        ((F.col("__m") - 1) * F.col("p") + 1).alias("__h"),
        F.when(tiny, float("-inf"))
        .otherwise(F.element_at("__b", F.col("p_idx") + 1))
        .alias("__lo"),
        F.when(tiny, float("inf"))
        .otherwise(F.element_at("__b", F.col("p_idx") + 1 + len(ps)))
        .alias("__hi"),
    )
    cols = [*keys, "p_idx", "n", "__h"]
    # Values below the bracket (and uncounted NULLs) fold into one NULL
    # row per (group, p) whose count is the bracket's rank offset; it
    # sorts first in the window, and alone picks q NULL for a group of NULLs.
    counts = (
        df.join(F.broadcast(brackets), keys or None)  # no keys: every row meets every p
        .filter(v.isNull() | (v <= F.col("__hi")))
        .groupBy(*cols, F.when(v >= F.col("__lo"), v).alias("__v"))
        .agg(F.count(v).alias("__c"))
    )
    w = (
        Window.partitionBy(*keys, "p_idx")
        .orderBy(F.col("__v").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # A row covers ranks (__top - __c, __top]; keep those meeting
    # floor(h) or ceil(h), whose values interpolate to the quantile.
    h, top = F.col("__h"), F.col("__top")
    picked = counts.withColumn("__top", F.sum("__c").over(w)).filter(
        (top - F.col("__c") < F.ceil(h)) & (top >= F.floor(h))
    )
    frac = h - F.floor(h)
    return picked.groupBy(*cols).agg(
        F.min("__v").alias("__vlo"), F.max("__v").alias("__vhi")
    ).select(
        *keys,
        "p_idx",
        F.round(F.col("__vlo") * (1 - frac) + F.col("__vhi") * frac, 4).alias("q"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# A20: EXACT median of c_acctbal without a global sort (contrast a5b/a17,
# which settle for the sketch itself). The ±0.001 bracket slice is ~0.2%
# of customer and ranks in one task.
# ---------------------------------------------------------------------------
@register(
    "a20_exact_median",
    oracle="""
SELECT round(quantile_cont(c_acctbal, 0.5), 4) AS median_balance,
       CAST(count(*) AS BIGINT) AS n
FROM customer
""",
)
def a20_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer").select("c_acctbal")
    # The global aggregate keeps quantile_cont's one (NULL, 0) row on an
    # empty table, where the kernel has no group to report.
    return exact_quantiles(cu, "c_acctbal", (0.5,), margin=0.001).agg(
        F.max("q").alias("median_balance"),
        F.coalesce(F.max("n"), F.lit(0)).alias("n"),
    )


# ---------------------------------------------------------------------------
# A21/A22: per-group exact median and p90 of events.value by event_type.
# The selection window is partitioned by (event_type, p_idx), so each
# group's slice ranks in its own task.
# ---------------------------------------------------------------------------
@register(
    "a21_grouped_exact_median",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS median_value,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def a21_grouped_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    return (
        exact_quantiles(ev, "value", (0.5,), keys=("event_type",))
        .select("event_type", F.col("q").alias("median_value"), "n")
        .orderBy("event_type")
    )


_A22_P = 0.9


@register(
    "a22_grouped_exact_percentile",
    oracle=f"""
SELECT event_type,
       round(quantile_cont(value, {_A22_P}), 4) AS p90_value,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def a22_grouped_exact_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    return (
        exact_quantiles(ev, "value", (_A22_P,), keys=("event_type",))
        .select("event_type", F.col("q").alias("p90_value"), "n")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A23: exact per-group mode — each user's dominant event_type, with a
# deterministic tie-break (lexicographically smallest among the tied
# counts). The exact counterpart of a16's approximate heavy-hitter
# machinery, at per-group granularity.
#
# Scale shape: one shuffle to count (user_id, event_type) pairs —
# partial-aggregated map-side, so raw rows collapse before moving — then
# a per-user window over at most |event_types| rows per user. No global
# window, no driver collection.
# ---------------------------------------------------------------------------
@register(
    "a23_grouped_mode",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type
), r AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type) AS rn
  FROM c
)
SELECT user_id, event_type AS modal_event, CAST(cnt AS BIGINT) AS cnt
FROM r WHERE rn = 1
ORDER BY user_id
""",
)
def a23_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), "event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_event"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# A24: exact equi-depth histogram — the optimizer-statistics / feature-
# binning primitive: exact deciles of o_totalprice (quantile_cont,
# rounded to 4 on both engines so bin edges are exact decimals), then
# one aggregation binning every order by how many deciles it exceeds.
# The nine deciles ride to every task as one broadcast row; each ±0.005
# bracket slice is 1% of orders and ranks in its own window partition.
# ---------------------------------------------------------------------------
_A24_PS = tuple(round(0.1 * i, 1) for i in range(1, 10))
_A24_MARGIN = 0.005


@register(
    "a24_equidepth_histogram",
    oracle=f"""
WITH q AS (
  SELECT list_transform(
           quantile_cont(o_totalprice, [{", ".join(str(p) for p in _A24_PS)}]),
           x -> round(x, 4)) AS qs
  FROM orders
)
SELECT CAST(len(list_filter(q.qs, b -> o.o_totalprice > b)) AS BIGINT) AS bin,
       count(*) AS n_rows
FROM orders o CROSS JOIN q
GROUP BY 1
ORDER BY 1
""",
)
def a24_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders").select("o_totalprice")
    qs = exact_quantiles(od, "o_totalprice", _A24_PS, margin=_A24_MARGIN).agg(
        F.collect_list("q").alias("qs")
    )
    bin_expr = F.size(F.filter("qs", lambda b: F.col("o_totalprice") > b))
    return (
        od.crossJoin(F.broadcast(qs))
        .groupBy(bin_expr.cast("long").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# A25: windowed sketch merge — 7-day rolling distinct users from DAILY
# HLL sketches (Datasketches hll_sketch_agg per day, hll_union_agg over
# a 7-row frame). The sketch answer to w9's exact rolling DAU: at
# 100 TB the exact form shuffles (user, day) fan-out pairs, while this
# one aggregates each day's sketch ONCE (map-side combinable, KB-sized)
# and the rolling union touches only |days| sketches — the frame is the
# bounded day series, never raw events. Mergeability is the point:
# day sketches are computed once and reused by every window that
# covers them (and by a18's coarser rollups). Certified (r11, was
# rows-only): the estimates are sketch-impl-specific, so the query
# emits the EXACT trailing-7-row distinct counts (same row-frame
# semantics as the sketch window) plus an in-engine boolean asserting
# every estimate lands within 5% of exact (default lgK=12 sketch,
# rsd ~1.6%; 5% is ~3 sigma) — the oracle re-derives the exact counts
# and literal TRUE. tests/test_sketches.py keeps the per-day bound.
# The exact side is the certification epilogue, severable at scale;
# the sketch pipeline remains the production path.
# ---------------------------------------------------------------------------
_A25_ORACLE = """
WITH ud AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
), days AS (
  SELECT day, row_number() OVER (ORDER BY day) AS rn
  FROM (SELECT DISTINCT day FROM ud)
), pairs AS (
  SELECT d2.day AS day, ud.user_id
  FROM days d1
  JOIN days d2 ON d2.rn BETWEEN d1.rn AND d1.rn + 6
  JOIN ud ON ud.day = d1.day
)
SELECT epoch_ms(day) AS day_ms,
       CAST(count(DISTINCT user_id) AS BIGINT) AS dau7_exact,
       TRUE AS within_bound
FROM pairs GROUP BY day ORDER BY day_ms
"""


@register("a25_windowed_hll", oracle=_A25_ORACLE)
def a25_windowed_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from lens_warehouse_spark.operators._helpers import as_ts

    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", as_ts("ts")).alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    # the frame is the bounded day series (one row per day), so the
    # unpartitioned ordered window is O(|days|), like u8's month series
    w = Window.orderBy("day").rowsBetween(-6, 0)
    est = daily.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w))
        .cast("long")
        .alias("dau7_estimate"),
    )
    # exact twin with the SAME trailing-7-ROW frame over the day
    # series: rank the day series, band-join rank windows, distinct
    # per covered day — all on the bounded day/user-day domain.
    ud = (
        table(spark, sf_dir, "events")
        .select(F.date_trunc("day", as_ts("ts")).alias("day"), "user_id")
        .distinct()
    )
    days = ud.select("day").distinct().withColumn(
        "rn", F.row_number().over(Window.orderBy("day"))
    )
    d1, d2 = days.alias("d1"), days.alias("d2")
    cover = d1.join(
        F.broadcast(d2),
        (F.col("d2.rn") >= F.col("d1.rn"))
        & (F.col("d2.rn") <= F.col("d1.rn") + 6),
    ).select(F.col("d1.day").alias("src_day"), F.col("d2.day").alias("day"))
    exact = (
        ud.withColumnRenamed("day", "src_day")
        .join(F.broadcast(cover), "src_day")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("dau7_exact"))
    )
    bound = (
        F.abs(F.col("dau7_estimate") - F.col("dau7_exact"))
        / F.col("dau7_exact")
        <= 0.05
    )
    return (
        est.join(exact, "day")
        .select(
            F.unix_millis("day").alias("day_ms"),
            "dau7_exact",
            bound.alias("within_bound"),
        )
        .orderBy("day_ms")
    )


# ---------------------------------------------------------------------------
# A26: two-sample Kolmogorov-Smirnov statistic — the experiment-analysis
# primitive (are 'click' and 'view' event values drawn from the same
# distribution?). D = max over x of |CDF_click(x) - CDF_view(x)|,
# computed EXACTLY from integer cumulative counts over the grouped
# value domain. The reference has no hypothesis testing (its analytics
# are counts [P src/lens/api.clj]); this is part of the stats extension
# with a25/a15.
#
# Scale shape — the distributed-CDF pattern: a plain Window.orderBy
# cumsum would move the whole value domain to ONE partition. Instead
# the grouped (value, count_a, count_b) relation is RANGE-repartitioned
# on value, cumsummed locally per partition, and per-partition totals
# are broadcast back as offsets (``running_totals``, the machinery under
# global_rank, summing counts instead of rows). Every stage is parallel; the
# only data-sized shuffles are the groupBy(value) and the range
# exchange, both on the (much smaller) distinct-value domain. All
# cumulative counts are integers, so the D statistic is
# rational-deterministic on both engines (round 6 for the libm /
# division ulp only).
# ---------------------------------------------------------------------------
@register(
    "a26_ks_test",
    oracle="""
WITH g AS (
  SELECT value,
         count(*) FILTER (event_type = 'click') AS a,
         count(*) FILTER (event_type = 'view') AS b
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
  GROUP BY value
), t AS (
  SELECT sum(a) AS na, sum(b) AS nb FROM g
), c AS (
  SELECT sum(a) OVER (ORDER BY value) AS ca,
         sum(b) OVER (ORDER BY value) AS cb
  FROM g
)
SELECT round(max(abs(CAST(c.ca AS DOUBLE) / t.na - CAST(c.cb AS DOUBLE) / t.nb)), 6) AS ks_d,
       CAST(t.na AS BIGINT) AS n_click,
       CAST(t.nb AS BIGINT) AS n_view
FROM c CROSS JOIN t
GROUP BY t.na, t.nb
""",
)
def a26_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL values have no place in a CDF — and Spark's ascending window
    # sorts NULL FIRST where DuckDB's sorts it LAST, so one NULL in
    # events.value would shift every cumulative prefix between engines.
    ev = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "view")
            & F.col("value").isNotNull()
        )
        .select("value", (F.col("event_type") == "click").alias("__ia"))
    )
    g = ev.groupBy("value").agg(
        F.count(F.when(F.col("__ia"), 1)).alias("a"),
        F.count(F.when(~F.col("__ia"), 1)).alias("b"),
    )
    cum, totals = running_totals(g, ["value"], {"__ca": "a", "__cb": "b"})
    # nullif-guarded denominators: a corpus where only ONE event class
    # occurs makes __ta or __tb zero, and Spark's ANSI division raises
    # DIVIDE_BY_ZERO where DuckDB's returns NULL — the oracle emits
    # (ks_d=NULL, n_click, n_view) for that shape, and x/NULL is NULL on
    # both engines.
    diff = cum.crossJoin(
        F.broadcast(totals.toDF("__ta", "__tb"))
    ).select(
        (
            F.col("__ca").cast("double") / F.nullif(F.col("__ta"), F.lit(0))
            - F.col("__cb").cast("double") / F.nullif(F.col("__tb"), F.lit(0))
        ).alias("__d"),
        "__ta",
        "__tb",
    )
    return diff.groupBy("__ta", "__tb").agg(
        F.round(F.max(F.abs(F.col("__d"))), 6).alias("ks_d")
    ).select(
        "ks_d",
        F.col("__ta").cast("long").alias("n_click"),
        F.col("__tb").cast("long").alias("n_view"),
    )
