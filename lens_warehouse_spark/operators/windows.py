"""Window functions W1-W6 (SURVEY.md §2.6).

The reference has no window functions — its Datomic peer code does ad-hoc
equivalents (e.g. "latest datom wins" index walks); this module is the
100-TB-native generalization. One shuffle per window partitioning; specs
sharing a partitioning are planned into a single Window exec by Catalyst.

Parity: every ORDER BY inside a window spec carries a unique tiebreaker
column so row_number/lag frames are deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lens_warehouse_spark.catalog import maybe_broadcast, table
from lens_warehouse_spark.operators._helpers import epoch_ms, running_totals
from lens_warehouse_spark.registry import register


# ---------------------------------------------------------------------------
# W1: row_number / rank / dense_rank (ties on p_size show the difference).
# ---------------------------------------------------------------------------
@register(
    "w1_ranking",
    oracle="""
SELECT p_partkey, p_brand, p_size,
       row_number() OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS rn,
       rank()       OVER (PARTITION BY p_brand ORDER BY p_size) AS rnk,
       dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size) AS drnk
FROM part
""",
)
def w1_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_tie = Window.partitionBy("p_brand").orderBy("p_size", "p_partkey")
    w = Window.partitionBy("p_brand").orderBy("p_size")
    return table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.row_number().over(w_tie).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


# ---------------------------------------------------------------------------
# W2: lag/lead — per-user event deltas (classic sessionization precursor).
# ---------------------------------------------------------------------------
@register(
    "w2_lag_lead",
    oracle="""
SELECT user_id, event_id,
       epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms,
       lag(event_type)  OVER w AS prev_type,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = epoch_ms("ts")
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (ms - F.lag(ms).over(w)).alias("gap_ms"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# ---------------------------------------------------------------------------
# W3: running total (cumulative frame).
# ---------------------------------------------------------------------------
@register(
    "w3_running_total",
    oracle="""
SELECT user_id, event_id,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 4) AS running_value
FROM events
""",
)
def w3_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


# ---------------------------------------------------------------------------
# W4: moving average over a row frame.
# ---------------------------------------------------------------------------
@register(
    "w4_moving_average",
    oracle="""
SELECT user_id, event_id,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
       ), 4) AS moving_avg
FROM events
""",
)
def w4_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("moving_avg"),
    )


# ---------------------------------------------------------------------------
# W5: ntile / percent_rank / cume_dist over a GLOBAL total order. A
# plain Window.orderBy would move the whole table to one partition
# ("No Partition Defined for Window!"), so the rank is the running
# count of the range-repartitioned running_totals helper (per-partition
# row_number + broadcast offsets — same parallel machinery as a global
# sort), n is its grand total, and ntile/percent_rank/cume_dist are
# derived arithmetically from (rank, n): the order key is unique, so
# rank == row_number and pct_rank = (r-1)/(n-1), cume = r/n, and
# ntile's first (n mod k) buckets carry the extra row exactly as SQL
# defines.
# ---------------------------------------------------------------------------
@register(
    "w5_distribution",
    oracle="""
SELECT c_custkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
""",
)
def w5_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    # The row count is the rank's grand total, read off the pinned
    # ranged relation: no second customer scan, no re-run rank plan.
    ranked, totals = running_totals(cu, ["c_acctbal", "c_custkey"], {"__gr": F.lit(1)})
    total = totals.select(F.col("__gr").alias("__total"))
    r = F.col("__gr")
    n = F.col("__total")
    k = F.lit(4)
    q = F.floor(n / k).cast("long")
    rem = (n % k).cast("long")
    cut = rem * (q + 1)
    quartile = F.when(r <= cut, F.floor((r - 1) / (q + 1)) + 1).otherwise(
        rem + F.floor((r - cut - 1) / q) + 1
    )
    # percent_rank over a single row is DEFINED as 0 (SQL standard:
    # (rank-1)/(n-1) with the n=1 case pinned to 0); the raw division
    # is 0/0, which ANSI mode raises on (r13 relational campaign,
    # 1-customer corpus).
    pct = F.when(n == 1, F.lit(0.0)).otherwise(
        (r - 1).cast("double") / (n - 1)
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "c_custkey",
        quartile.cast("long").alias("quartile"),
        F.round(pct, 6).alias("pct_rank"),
        F.round(r.cast("double") / n, 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# W6: first/last value in frame — first & most recent order price per
# customer on every row.
# ---------------------------------------------------------------------------
@register(
    "w6_first_last",
    oracle="""
SELECT o_orderkey, o_custkey,
       round(first_value(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ), 2) AS first_price,
       round(last_value(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ), 2) AS last_price
FROM orders
""",
)
def w6_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w), 2).alias("last_price"),
    )


# ---------------------------------------------------------------------------
# O5: top-k per group (W1 + filter) — 3 priciest orders per segment.
# ---------------------------------------------------------------------------
@register(
    "o5_top_k_per_group",
    oracle="""
SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS total_price
FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         row_number() OVER (
           PARTITION BY c.c_mktsegment
           ORDER BY o.o_totalprice DESC, o.o_orderkey
         ) AS rn
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
) WHERE rn <= 3
""",
)
def o5_top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        od.join(maybe_broadcast(cu, sf_dir, "customer"), od.o_custkey == cu.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# W7: rank-family completeness — ntile / percent_rank / cume_dist over a
# deterministic total order (unique key tiebreak per the module parity
# discipline). percent_rank/cume_dist are exact small-integer ratios;
# both engines evaluate (rank-1)/(n-1) and rank/n identically, rounded
# to 6 for the wire. The unpartitioned window here is INTENTIONAL and
# bounded: the input is pre-filtered to o_custkey < 50 (a per-entity
# report, constant-sized at any SF), and the point of w7 is exercising
# the NATIVE rank functions — the scale-safe derived form over
# unbounded inputs is w5_distribution (running_totals + arithmetic).
# ---------------------------------------------------------------------------
@register(
    "w7_rank_family",
    oracle="""
SELECT o_orderkey,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WHERE o_custkey < 50
WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
""",
)
def w7_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        od.select(
            "o_orderkey",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# W8: per-group z-score outlier detection — anomaly screening over the
# event stream (standard monitoring extension of the reference's
# aggregate surface; public repo exposes plain counts only —
# /root/reference empty, SURVEY.md §0). One window pass computes the
# per-event_type mean/stddev (partial agg under the hood, no extra
# shuffle beyond the event_type partitioning); the group moments are
# rounded to 6 dp on BOTH engines before the per-row z arithmetic so the
# filter boundary sees bit-identical IEEE inputs (parity rules 4/5).
# At 100 TB this is the two-pass form: groupBy moments (tiny result,
# broadcast back) then a map-side filter — no window state at all.
# ---------------------------------------------------------------------------
@register(
    "w8_zscore_outliers",
    oracle="""
WITH stats AS (
  SELECT event_type,
         round(avg(value), 6) AS mu,
         round(stddev_samp(value), 6) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round((e.value - s.mu) / s.sigma, 3) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs((e.value - s.mu) / s.sigma) > 3.0
ORDER BY e.event_id
""",
)
def w8_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
    )
    # nullif-guarded sigma (r13, the a26 lever): a group whose values
    # are all equal — or whose true stddev rounds to 0.000000 — has
    # sigma exactly 0, and Spark's ANSI division raises DIVIDE_BY_ZERO
    # inside the filter where DuckDB's x/0 yields NULL and the NULL
    # comparison silently drops the group's rows. x/NULL is NULL on
    # both engines, so the guard reproduces the oracle's semantics;
    # whenever sigma != 0 (every fixed-SF corpus) the value path is
    # bit-identical. sigma NULL (single-row group) was already NULL-
    # safe on both sides.
    z = (F.col("value") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            F.round(z, 3).alias("z"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# W9: trailing-window distinct count (7-day rolling DAU) — count
# DISTINCT users over a sliding date window. Spark has no native
# "COUNT(DISTINCT) OVER (RANGE ...)" — the scalable exact form used
# here maps each (user, active-day) pair to the 7 trailing report days
# it covers (constant fan-out explode, map-side) and then runs ONE
# groupBy(day) count-distinct. No per-day self-join, no window state;
# at 100 TB the explode factor is the window length (7), the dedup to
# user-days happens before the fan-out, and the final agg is a plain
# two-phase hash aggregate on day. Report days are anchored to the
# event calendar (days with any event), matching the band-join oracle.
# ---------------------------------------------------------------------------
@register(
    "w9_sliding_distinct",
    oracle="""
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), days AS (
  SELECT DISTINCT d FROM ud
)
SELECT CAST(datediff('day', DATE '2024-01-01', days.d) AS BIGINT) AS day_idx,
       CAST(count(DISTINCT ud.user_id) AS BIGINT) AS dau7
FROM days JOIN ud
  ON ud.d <= days.d AND ud.d > days.d - 7
GROUP BY 1
ORDER BY 1
""",
)
def w9_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    day_idx = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    ud = ev.select(day_idx.alias("d"), "user_id").distinct()
    days = ud.select("d").distinct()
    covered = ud.select(
        F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("day_idx"),
        "user_id",
    ).join(days.withColumnRenamed("d", "day_idx"), "day_idx", "semi")
    return (
        covered.groupBy("day_idx")
        .agg(F.countDistinct("user_id").alias("dau7"))
        .orderBy("day_idx")
    )


# ---------------------------------------------------------------------------
# W10: gaps-and-islands — longest streak of consecutive active DAYS per
# user. The classic islands construction: distinct (user, day) pairs,
# then day_number - row_number is CONSTANT within a run of consecutive
# days, so grouping on that anchor yields the islands and max(count)
# the longest streak. Two narrow shuffles (distinct + island agg) and
# one per-user window over the user's distinct days — never raw
# events, never a global window.
# ---------------------------------------------------------------------------
@register(
    "w10_longest_streak",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(epoch_ms(date_trunc('day', ts)) / 86400000 AS BIGINT) AS d
  FROM events
), islands AS (
  SELECT user_id,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS anchor
  FROM days
), runs AS (
  SELECT user_id, count(*) AS len FROM islands GROUP BY user_id, anchor
)
SELECT user_id,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM runs GROUP BY user_id ORDER BY user_id
""",
)
def w10_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lens_warehouse_spark.operators._helpers import as_ts

    days = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            (
                F.unix_millis(F.date_trunc("day", as_ts("ts"))) / 86_400_000
            )
            .cast("long")
            .alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        days.withColumn("anchor", F.col("d") - F.row_number().over(w))
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.max("len").cast("long").alias("longest_streak"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
        )
        .orderBy("user_id")
    )
