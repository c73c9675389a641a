"""SparkSession factory.

Scale notes (100 TB design): AQE is the load-bearing setting — runtime
shuffle-partition coalescing, skew-join splitting, and broadcast demotion
all come from it. ``shuffle.partitions`` here is a *local* default; on a
real cluster it is sized to ~2-3x total cores and AQE coalesces down.
Arrow is enabled so any pandas-UDF path (minhash, vector ops) moves
columnar batches, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _detected_cpus() -> int:
    """Cores this process may actually run on, not cores the box has.

    r13 verdict #1: the driver's low-core bench arm read identical
    per-query times at "8 cores" because its restriction was applied
    via CPU affinity/cgroup, not ``$SPARK_GRAFT_CPUS`` — and the old
    literal default "32" silently ran local[32] anyway. Defaulting from
    ``sched_getaffinity`` makes an affinity-restricted run build a
    matching local[N]; an explicit env var still wins (contract).
    """
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):  # non-Linux fallback
        return os.cpu_count() or 32


def get_spark(
    app_name: str = "lens-warehouse-spark",
    cpus: str | int | None = None,
    shuffle_partitions: str | int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-sane defaults."""
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or _detected_cpus())
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Codegen class cache (default 100): ~300/bench round, ~2,830/registry, +20-22 MB metaspace.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # AQE numbers codegen stages in stage-completion order, so the ids
        # vary from run to run; with them in the class name an unchanged
        # plan missed the cache and recompiled 2-10 classes per stream round.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Parquet reader discipline (see catalog._ensure_reader_conf —
        # the catalog re-applies these for driver-provided sessions):
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Join-strategy preference, env-parameterised (r13 opt round,
        # AB_SMJ_r13.json): at the 1000x volume point with an 8 GiB
        # heap, preferSortMergeJoin=false completed the full subset 15%
        # faster than the SMJ control (224 vs 265 s) and bounds the
        # buffered-SMJ match-group heap spike that forced r12's 16 GiB
        # record — per-partition hash builds replace sorted-run
        # buffering. Default stays "true" (Spark's default) so the
        # driver's sf0.1 bench and the longitudinal series are
        # untouched; the volume protocol at mult>=300 sets it false.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"),
        )
        # FAIR scheduling so concurrent query streams (bench throughput
        # run, any multi-tenant caller) share executors instead of
        # FIFO head-of-line blocking. No effect on single-stream runs.
        # NEGATIVE A/B (round 7): additionally giving each stream its
        # own scheduler POOL (setLocalProperty per thread — intra-pool
        # FAIR instead of the default pool's FIFO job order) showed no
        # effect beyond run-order page-cache noise across order-swapped
        # pairs (pool 3.14/3.06 s vs plain 3.39/2.60 s, 16 streams at
        # sf0.1); at 32 local cores the job queue drains faster than
        # pool weights matter. Don't re-try without a real cluster.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        # No console progress bars: the driver's bench capture keeps a
        # bounded tail of the process output, and verbose progress
        # rendering pushed round 10's one-line JSON headline past it
        # (BENCH_r10.json parsed:null). Progress bars carry no signal
        # in headless runs; off everywhere, not only for bench.
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
