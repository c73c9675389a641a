"""Streaming twins must agree with their batch forms (SURVEY.md §2.9):
same data through readStream + availableNow == the batch plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from lens_warehouse_spark import registry

registry.load_all()

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_equals_batch_up_to_watermark(spark):
    """Append-mode semantics: the stream emits exactly the batch windows
    whose end precedes the final watermark (max event time - 1h); later
    windows are withheld as 'still open'. r11 certified contract: t4
    now emits the batch-closed set + equals_batch, so the assertions
    are (a) every row's equals_batch is TRUE (stream==batch verified
    in-engine) and (b) the emitted rows are exactly the closed subset
    of the batch windows."""
    from lens_warehouse_spark.catalog import table
    from lens_warehouse_spark.operators._helpers import as_ts

    batch = {
        (r.win_start_ms, r.event_type): r.n
        for r in registry.QUERIES["t1_tumbling_window"](spark, SF).collect()
    }
    rows = registry.QUERIES["t4_stream_tumbling_watermark"](spark, SF).collect()
    assert rows and all(r.equals_batch for r in rows)
    stream = {(r.win_start_ms, r.event_type): r.n for r in rows}
    max_ms = (
        table(spark, SF, "events")
        .agg(F.max(F.unix_millis(as_ts("ts"))).alias("m"))
        .collect()[0][0]
    )
    watermark_ms = max_ms - 3_600_000
    six_h = 6 * 3_600_000
    closed = {k: v for k, v in batch.items() if k[0] + six_h <= watermark_ms}
    assert stream == closed
    assert set(batch) - set(stream)  # some open windows were withheld


def test_stream_dedup_matches_distinct(spark):
    from lens_warehouse_spark.catalog import table

    n_distinct = table(spark, SF, "events").select("event_id").distinct().count()
    rows = registry.QUERIES["t5_stream_dedup"](spark, SF).collect()
    assert len(rows) == n_distinct
    assert all(r.equals_batch for r in rows)  # r11 certified contract


def test_stateful_stats_match_batch_agg(spark):
    from lens_warehouse_spark.catalog import table

    batch = {
        r.user_id: (r.n, round(r.mx, 6))
        for r in table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    t7_rows = registry.QUERIES["t7_stateful_user_stats"](spark, SF).collect()
    assert t7_rows and all(r.equals_batch for r in t7_rows)  # r11 contract
    stream = {
        r.user_id: (r.n_events, round(r.max_value, 6)) for r in t7_rows
    }
    assert stream == batch


def test_stream_static_join_covers_all_events(spark):
    from lens_warehouse_spark.catalog import table

    n_events = table(spark, SF, "events").count()
    joined = registry.QUERIES["t6_stream_static_join"](spark, SF)
    assert joined.count() == n_events  # every event_type has a category
    assert joined.filter(F.col("category").isNull()).count() == 0
    # r11 certified contract: stream join == batch join, in-engine
    assert joined.filter(~F.col("equals_batch")).count() == 0


def test_stream_session_window_subset_of_batch(spark):
    """Streamed sessions (closed by watermark) must appear identically in
    the batch session computation. r11 certified contract: t9 emits the
    batch-closed session set + equals_batch — every flag TRUE means the
    stream emitted exactly that set (count guard included)."""
    batch = {
        (r.user_id, r.session_start_ms): r.n_events
        for r in registry.QUERIES["t3_session_window"](spark, SF).collect()
    }
    rows = registry.QUERIES["t9_stream_session_window"](spark, SF).collect()
    assert rows and all(r.equals_batch for r in rows)
    stream = {(r.user_id, r.session_start_ms): r.n_events for r in rows}
    for key, n in stream.items():
        assert batch.get(key) == n


def test_rocksdb_provider_matches_default_provider(spark):
    """State-store provider choice (RocksDB vs default HDFS-backed) must
    not change watermarked-aggregation results."""
    default = {
        tuple(r)
        for r in registry.QUERIES["t4_stream_tumbling_watermark"](
            spark, SF
        ).collect()
    }
    rocks = {
        tuple(r)
        for r in registry.QUERIES["t4b_stream_tumbling_rocksdb"](
            spark, SF
        ).collect()
    }
    assert rocks == default
    # conf restored after the run
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        is None
    )


def test_rate_source_deterministic(spark):
    """rate-micro-batch under availableNow emits exactly one deterministic
    batch: values 0..rowsPerBatch-1."""
    row = registry.QUERIES["t10_rate_source"](spark, SF).collect()[0]
    assert (row.n, row.min_value, row.max_value, row.sum_value) == (
        1000, 0, 999, 999 * 1000 // 2,
    )


def test_stream_stream_join_equals_batch(spark):
    """Stream-stream windowed join == the identical batch join (finite
    replayed input, availableNow)."""
    from lens_warehouse_spark.catalog import table

    t12_rows = registry.QUERIES["t12_stream_stream_join"](spark, SF).collect()
    assert t12_rows and all(r.equals_batch for r in t12_rows)  # r11 contract
    got = {(r.user_id, r.click_id, r.buy_id) for r in t12_rows}
    ev = table(spark, SF, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    want = {
        (r.c_user, r.click_id, r.buy_id)
        for r in clicks.join(
            buys,
            (F.col("c_user") == F.col("b_user"))
            & (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want


def test_trending_topk_equals_batch(spark):
    """t13's per-window streaming top-3 == the pure-batch window + rank,
    restricted to windows the final watermark closed (append-mode
    semantics, same as the t4 test)."""
    from pyspark.sql import Window

    from lens_warehouse_spark.catalog import table
    from lens_warehouse_spark.operators._helpers import as_ts

    t13_rows = registry.QUERIES["t13_stream_trending_topk"](spark, SF).collect()
    assert t13_rows and all(r.equals_batch for r in t13_rows)  # r11 contract
    got = {(r.win_start_ms, r.user_id, r.n, r.rk) for r in t13_rows}
    ev = table(spark, SF, "events")
    counts = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"), "user_id", "n"
        )
    )
    w = Window.partitionBy("win_start_ms").orderBy(F.col("n").desc(), "user_id")
    ranked = {
        (r.win_start_ms, r.user_id, r.n, r.rk)
        for r in counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    max_ms = (
        ev.agg(F.max(F.unix_millis(as_ts("ts"))).alias("m")).collect()[0][0]
    )
    watermark_ms = max_ms - 3_600_000
    six_h = 6 * 3_600_000
    want = {t for t in ranked if t[0] + six_h <= watermark_ms}
    assert got == want
    assert ranked - got  # the still-open window was withheld


def test_cdc_apply_equals_batch_latest_per_key(spark):
    """The streamed foreachBatch MERGE must land on exactly the batch
    'latest change per key, deletes dropped' table state."""
    from lens_warehouse_spark.streaming.jobs import (
        cdc_apply_batch_reference,
        t16_stream_cdc_apply,
    )

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in t16_stream_cdc_apply(spark, sf).collect()}
    want = {tuple(r) for r in cdc_apply_batch_reference(spark, sf).collect()}
    assert got == want and len(want) > 0


def test_stream_heavy_hitters_equals_batch(spark):
    """t17 (sharded Misra-Gries in the state store + exact recount) must
    produce exactly a16's batch heavy-hitter set — the MG candidate
    union is a superset by construction, the recount trims it."""
    from lens_warehouse_spark.operators.aggregates import a16_heavy_hitters
    from lens_warehouse_spark.streaming.jobs import t17_stream_heavy_hitters

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in t17_stream_heavy_hitters(spark, sf).collect()}
    want = {tuple(r) for r in a16_heavy_hitters(spark, sf).collect()}
    assert got == want and len(want) > 0


def test_stream_incremental_neardup_equals_batch(spark):
    """t18's per-batch union (intra-batch pairs + batch-vs-store pairs)
    must equal l2's batch LSH pair set over the full corpus: band
    collision is symmetric and the store holds exactly the earlier
    batches, so every colliding pair is found in exactly one batch."""
    registry.load_all()
    stream = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in registry.QUERIES["t18_stream_incremental_neardup"](
            spark, SF
        ).collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in registry.QUERIES["l2_minhash_neardup"](spark, SF).collect()
    }
    assert stream == batch and stream


def test_stream_anomaly_equals_batch_t19(spark):
    """t20's stream-maintained bucket store must yield exactly t19's
    batch z-scores (same buckets, same trailing stats)."""
    from lens_warehouse_spark.registry import QUERIES

    batch = QUERIES["t19_anomaly_zscore"](spark, SF).toPandas()
    stream = QUERIES["t20_stream_anomaly_zscore"](spark, SF).toPandas()
    assert len(stream) > 0 and stream["equals_batch"].all()  # r11 contract
    # append mode emits only watermark-CLOSED windows: the final 6h
    # bucket stays open (watermark = max_ts - 1h < its end), so batch
    # rows for it have no stream counterpart — same contract as
    # test_stream_tumbling_equals_batch_up_to_watermark.
    max_ts = (
        spark.read.parquet(f"{SF}/events.parquet")
        .agg(F.max(F.unix_millis(F.col("ts").cast("timestamp"))))
        .first()[0]
    )
    closed = batch["win_start_ms"] + 6 * 3600 * 1000 <= max_ts - 3600 * 1000
    b = (
        batch[closed]
        .sort_values(["event_type", "win_start_ms"])
        .reset_index(drop=True)
    )
    s = stream.sort_values(["event_type", "win_start_ms"]).reset_index(drop=True)
    assert len(b) > 0
    assert b.equals(s[b.columns])


def test_cdc_crash_recovery_exactly_once(spark):
    """Exactly-once across a failure (verdict r4 task 5): run the
    checkpointed CDC stream split into single-file micro-batches, crash
    it at the WORST point — after batch 1's sink write, before the
    checkpoint commits the batch — restart from the same checkpoint,
    and assert the final table equals both the uninterrupted run and
    the batch oracle. The restart REPLAYS the uncommitted batch, so
    this proves sink-merge idempotence, not just offset tracking."""
    import os
    import tempfile
    import uuid

    from lens_warehouse_spark.streaming.jobs import (
        cdc_apply_batch_reference,
        cdc_apply_stream,
    )

    sf = "/root/testdata/sf0.001"
    base = os.path.join(tempfile.gettempdir(), f"lws_crash_{uuid.uuid4().hex[:8]}")

    # Crashed run: 4 source files, 1 per micro-batch, die after batch 1.
    crash_dir = os.path.join(base, "crashed")
    cdc_apply_stream(
        spark, sf, crash_dir, fail_after_batch=1, max_files_per_trigger=1
    )
    # Mid-crash state: batches 0-1 applied, 2-3 not — the sink must NOT
    # already equal the full answer, or the recovery below proves nothing.
    ckpt_commits = os.path.join(crash_dir, "_ckpt", "commits")
    committed = {c for c in os.listdir(ckpt_commits) if not c.startswith(".")}
    assert committed == {"0"}, committed  # batch 1 wrote but never committed

    # Restart from the same checkpoint + sink; no injected failure.
    recovered = {
        tuple(r)
        for r in cdc_apply_stream(
            spark, sf, crash_dir, max_files_per_trigger=1
        ).collect()
    }

    # Uninterrupted run over the same micro-batch split, and the batch oracle.
    clean_dir = os.path.join(base, "clean")
    clean = {
        tuple(r)
        for r in cdc_apply_stream(
            spark, sf, clean_dir, max_files_per_trigger=1
        ).collect()
    }
    oracle = {tuple(r) for r in cdc_apply_batch_reference(spark, sf).collect()}
    assert recovered == clean == oracle and len(oracle) > 0


def test_cdc_mid_swap_recovery(tmp_path):
    """A crash landing between the CDC sink's two renames leaves
    data_dir absent and data_dir.old complete; the next batch must
    restore the retired state instead of treating the replay as a
    first batch (which would silently rebuild the table from one
    batch's rows)."""
    import os

    from lens_warehouse_spark.streaming.jobs import _recover_mid_swap

    data = str(tmp_path / "data")
    retired = data + ".old"
    os.makedirs(retired)
    open(os.path.join(retired, "_SUCCESS"), "w").close()
    with open(os.path.join(retired, "part-0.parquet"), "w") as fh:
        fh.write("x")
    _recover_mid_swap(data)
    assert os.path.exists(os.path.join(data, "_SUCCESS"))
    assert not os.path.exists(retired)
    # idempotent / no-op when the live dir is healthy
    _recover_mid_swap(data)
    assert os.path.exists(os.path.join(data, "_SUCCESS"))
    # an INCOMPLETE live dir next to a complete retired one is also
    # recovered (crash after rmtree of a partial data_dir)
    os.makedirs(retired)
    open(os.path.join(retired, "_SUCCESS"), "w").close()
    import shutil

    os.remove(os.path.join(data, "_SUCCESS"))  # data now incomplete
    _recover_mid_swap(data)
    assert os.path.exists(os.path.join(data, "_SUCCESS"))


def test_t7b_gate_direction_matches_environment():
    """r11 verdict #7: the t7b registration gate must track the ACTUAL
    google.protobuf importability, so a container upgrade that adds
    protobuf flips t7b to registered automatically and this test (plus
    the registry-count assertions) notices either direction of drift:
    a gate stuck closed after protobuf appears, or a phantom
    registration while it is absent."""
    from lens_warehouse_spark.streaming import jobs
    from lens_warehouse_spark import registry

    try:
        import google.protobuf  # noqa: F401

        has = True
    except ImportError:
        has = False
    assert jobs._HAS_PROTOBUF == has, (
        "t7b gate cached a different protobuf state than the live import"
    )
    assert ("t7b_transform_with_state" in registry.QUERIES) == has, (
        "t7b registration disagrees with protobuf availability"
    )


class _StateOperators(StreamingQueryListener):
    """Records (query name, state operator progress) for every progress
    report."""

    def __init__(self) -> None:
        self.ops: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        for op in event.progress.stateOperators:
            self.ops.append((event.progress.name, op))


def test_stateful_streams_get_one_state_partition_per_core(spark):
    """Every stateful operator runs defaultParallelism state partitions,
    not the session's batch shuffle default (8 here); the override and
    t4b's RocksDB provider reach the query only, never the session."""
    import time

    from lens_warehouse_spark.streaming.jobs import _PROVIDER

    before = spark.conf.get("spark.sql.shuffle.partitions")
    listener = _StateOperators()
    spark.streams.addListener(listener)
    names = ("t4", "t5", "t7", "t4b")
    try:
        registry.QUERIES["t4_stream_tumbling_watermark"](spark, SF).collect()
        registry.QUERIES["t5_stream_dedup"](spark, SF).collect()
        registry.QUERIES["t7_stateful_user_stats"](spark, SF).collect()
        registry.QUERIES["t4b_stream_tumbling_rocksdb"](spark, SF).collect()
        deadline = time.monotonic() + 60  # progress events arrive async
        while time.monotonic() < deadline and not all(
            any(q.rsplit("_", 1)[0] == n for q, _ in listener.ops) for n in names
        ):
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    by_job: dict = {}
    for q, op in listener.ops:
        by_job.setdefault(q.rsplit("_", 1)[0], []).append(op)
    assert set(names) <= set(by_job), sorted(by_job)
    cores = spark.sparkContext.defaultParallelism
    for n in names:
        assert {op.numShufflePartitions for op in by_job[n]} == {cores}, n

    def rocksdb(ops) -> bool:
        return any(k.startswith("rocksdb") for op in ops for k in op.customMetrics)

    assert rocksdb(by_job["t4b"]) and not rocksdb(by_job["t4"])
    assert before == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get(_PROVIDER, None) is None


def test_start_restores_session_conf_when_start_raises(spark):
    """_start sets the per-query confs only for the duration of start()
    and restores the session's values even when start() raises."""
    import pytest

    from lens_warehouse_spark.streaming.jobs import _PROVIDER, _ROCKSDB, _start

    class FailingWriter:
        _spark = spark

        def start(self):
            self.seen = (
                spark.conf.get("spark.sql.shuffle.partitions"),
                spark.conf.get(_PROVIDER, None),
            )
            raise RuntimeError("start failed")

    writer = FailingWriter()
    with pytest.raises(RuntimeError, match="start failed"):
        _start(writer, **{_PROVIDER: _ROCKSDB})
    assert writer.seen == (str(spark.sparkContext.defaultParallelism), _ROCKSDB)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get(_PROVIDER, None) is None


def test_memory_sink_timeout_leaves_no_view_or_checkpoint(spark, monkeypatch):
    """A TimeoutError while t10 or t17 runs must still drop the
    memory-sink temp view and remove the lws_ckpt/<qname> dir."""
    import os
    import tempfile

    import pytest

    from lens_warehouse_spark.streaming import jobs

    def timed_out(q, timeout_sec):
        q.stop()
        raise TimeoutError(f"streaming query {q.name!r} still running")

    monkeypatch.setattr(jobs, "_await", timed_out)
    root = os.path.join(tempfile.gettempdir(), "lws_ckpt")

    def residue(prefix):
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        dirs = set(os.listdir(root)) if os.path.isdir(root) else set()
        return {n for n in views | dirs if n.startswith(prefix)}

    for name, prefix in (
        ("t10_rate_source", "t10_"),
        ("t17_stream_heavy_hitters", "t17_"),
    ):
        before = residue(prefix)
        with pytest.raises(TimeoutError):
            registry.QUERIES[name](spark, SF)
        assert residue(prefix) == before, name


def test_start_overrides_do_not_interleave_across_threads(spark):
    """Concurrent _start calls each see only their own overrides inside
    start(), and the session ends with its own values."""
    import sys
    import threading

    from lens_warehouse_spark.streaming.jobs import _start

    key = "spark.lws.test.owner"
    seen: list = []

    class Writer:
        _spark = spark

        def __init__(self, owner: str) -> None:
            self.owner = owner

        def start(self):
            seen.append(spark.conf.get(key, None) == self.owner)

    def worker(i: int) -> None:
        for j in range(10):
            _start(Writer(f"{i}.{j}"), **{key: f"{i}.{j}"})

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 80 and all(seen)
    assert spark.conf.get(key, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
