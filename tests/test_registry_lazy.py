"""r10 (verdict #4): registry-wide build-is-lazy guard.

test_l28_build_is_lazy pins ONE query's deferral; this generalizes:
constructing a `queries()` entry must launch ZERO Spark jobs unless the
query is on the pinned allowlist of builders whose eager work is part
of their ALGORITHM, not an accidental probe:

- iterative fixed-point (PageRank, connected components, k-means/IVF
  training): the loop IS the query; Spark has no lazy iteration.
- constant-size driver brackets and pinned ranges (KS test, Zipf
  slope, epoch-shuffle offsets, budget thresholds): a handful of
  scalars collected, or a range-partitioned relation checkpointed, to
  parameterize the next pass — bounded by design, never data-sized.
- staging / streaming-execute-on-build: sinks and availableNow
  streaming jobs whose RESULT is a batch frame over what the run
  produced; "building" them means running the pipeline.

Any query NOT on the allowlist that launches a job at build time is a
regression of the kind r8 verdict #6 flagged on l28 (plan audits and
dry runs paying a full corpus aggregation just to construct a plan).

Mutation-checked once at introduction (r10): with the allowlist
emptied, the test failed on exactly the 38 pinned names (including
a20's bracket pass, s14's first-call staging, and every streaming
build), and passed again with the list restored — the job-group
counter does catch eager builds. test_eager_probe_detector_still_has
_teeth keeps a live mutation permanently executable.
"""

from __future__ import annotations

import pytest

from lens_warehouse_spark import registry
from lens_warehouse_spark.catalog import TABLES, table

SF = "/root/testdata/sf0.001"

# Pinned eager-at-build allowlist. Adding a name here is a design
# decision — justify it in one of the three categories above.
BUILD_MAY_RUN_JOBS = {
    # iterative fixed-point
    "l2e_neardup_groups",
    "l33_canonical_selection",
    "l35_pagerank_centrality",
    "l29b_semantic_dedup_trained",
    "l3f_ann_ivf_trained",
    # constant-size driver brackets / scalar parameter passes
    "a26_ks_test",
    "l25_zipf_slope",
    "l26_epoch_shuffle",
    "l27_budget_select",
    "l32b_pca_project",
    "l9_language_id",
    "w5_distribution",
    "s20_bloom_pruned_join",
    # staging / sink / streaming-execute-on-build
    "s14_bucketed_join",  # first-call bucket staging (sf_dir-keyed cache)
    "s3_sink_roundtrip",
    "s6_zorder_scan",
    "s9_schema_evolution",
    "s10_asof_read",
    "s12_partitioned_scan",
    "s15_dynamic_partition_pruning",
    "s16_compaction",
    "s17_snapshot_expiry",
    "t4_stream_tumbling_watermark",
    "t4b_stream_tumbling_rocksdb",
    "t5_stream_dedup",
    "t6_stream_static_join",
    "t7_stateful_user_stats",
    "t8_foreach_batch_sink",
    "t9_stream_session_window",
    "t10_rate_source",
    "t12_stream_stream_join",
    "t13_stream_trending_topk",
    "t16_stream_cdc_apply",
    "t17_stream_heavy_hitters",
    "t18_stream_incremental_neardup",
    "t20_stream_anomaly_zscore",
}


def test_registry_builds_are_job_free(spark):
    registry.load_all()
    assert BUILD_MAY_RUN_JOBS <= set(registry.QUERIES), (
        "allowlist contains unknown query names: "
        f"{BUILD_MAY_RUN_JOBS - set(registry.QUERIES)}"
    )
    # Warm the catalog's schema caches so the one legitimate
    # footer-resolution job per (sf_dir, table) is spent OUTSIDE the
    # counted region — the steady-state invariant is what matters.
    for t in TABLES:
        table(spark, SF, t)

    sc = spark.sparkContext
    offenders: dict[str, int] = {}
    for name, fn in registry.QUERIES.items():
        if name in BUILD_MAY_RUN_JOBS:
            continue
        group = f"lazy_{name}"
        sc.setJobGroup(group, "registry build must be job-free")
        try:
            fn(spark, SF)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        if jobs:
            offenders[name] = jobs
    assert not offenders, (
        "queries launched Spark jobs at BUILD time (add to the pinned "
        f"allowlist only if the eager work is algorithmic): {offenders}"
    )


def test_allowlist_is_not_silently_stale():
    """The allowlist must stay a subset of the registry so renames or
    removals surface here instead of silently shrinking coverage."""
    registry.load_all()
    missing = BUILD_MAY_RUN_JOBS - set(registry.QUERIES)
    assert not missing, missing


@pytest.mark.parametrize("probe_name", ["_l28_probe_boiler"])
def test_eager_probe_detector_still_has_teeth(spark, tmp_path, probe_name):
    """Mutation guard kept PERMANENTLY executable: force l28's big-
    corpus path and bypass its _DeferredFrame so the routing probe runs
    at build — the same job-group counter the registry-wide test uses
    MUST see jobs. If this fails, the detector has gone blind (e.g. a
    statusTracker or job-group semantics change), and the green
    registry-wide run above proves nothing."""
    import os

    from lens_warehouse_spark.llm import curation

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(5)]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    sc = spark.sparkContext
    sc.setJobGroup("lazy_mutation", "eager build must be detected")
    try:
        base_jobs = len(
            sc.statusTracker().getJobIdsForGroup("lazy_mutation")
        )
        # the mutation: materialize the deferred frame AT BUILD
        import unittest.mock as mock

        with mock.patch.object(curation, "_L28_SMALL_DOCS", 0):
            df = curation.l28_boilerplate_scrub(spark, d)
            df._materialize()  # what an accidentally-eager build does
        jobs = len(sc.statusTracker().getJobIdsForGroup("lazy_mutation"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs > base_jobs, "job-group counter failed to see an eager build"
