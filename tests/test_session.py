"""Session factory: the generated-class cache holds a repeated query mix.

Spark keeps compiled codegen classes in a per-JVM cache of
``spark.sql.codegen.cache.maxEntries`` entries (default 100). A query
mix whose working set is larger than that evicts and recompiles its own
classes on every repetition, even though the plans repeat exactly.
"""

from __future__ import annotations

from lens_warehouse_spark import registry

# The relational headline set the cohort benchmark interleaves with its
# cohort payloads, plus one cohort facet query: well over 100 classes.
WORKING_SET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q10_returned_items",
    "j1_inner_join",
    "j6_star_join_revenue",
    "j8_asof_latest_event",
    "a3_faceted_counts",
    "a8b_cube",
    "o5_top_k_per_group",
    "w3_running_total",
    "t1_tumbling_window",
    "u5d_cohort_visit_counts_fused",
    "u5_cohort_facets",
]


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_working_set(spark, sf_dir: str) -> int:
    """Collect every query once; return the classes compiled meanwhile."""
    registry.load_all()
    before = _compilations(spark)
    for name in WORKING_SET:
        registry.QUERIES[name](spark, sf_dir).collect()
    return _compilations(spark) - before


def test_codegen_cache_sized_to_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_codegen_stage_id_does_not_split_the_cache(spark):
    """AQE numbers codegen stages in completion order, so one plan can
    get different stage ids from run to run. Two stages that differ only
    in their id must share one compiled class: the union's second,
    identical stage compiles nothing the first did not."""
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"

    def stage(salt: int):
        return spark.range(50).selectExpr(f"id * 7919 + {salt} AS x").filter("x % 3 = 1")

    before = _compilations(spark)
    stage(104723).collect()
    alone = _compilations(spark) - before
    before = _compilations(spark)
    twice = stage(104729)
    twice.union(twice).collect()
    assert _compilations(spark) - before == alone


def test_repeated_working_set_compiles_nothing(spark, sf_dir):
    _run_working_set(spark, sf_dir)
    assert _run_working_set(spark, sf_dir) == 0
