"""Structured-streaming twins of the batch time ops (T4-T8,
SURVEY.md §2.9) + the stream source/sink surface (S3/S4).

The reference has no streaming — imports are incremental Datomic
transactions through the REST layer (public repo
``src/lens/handler.clj``; /root/reference empty, SURVEY.md §0). Here the
``events`` table plays a replayable stream: each job stages it to a
microsecond-timestamp parquet dir (the ns->us rebuild from catalog.py),
reads it back with ``readStream`` and runs to completion with
``trigger(availableNow=True)`` so results are deterministic and the
driver can collect them like any batch DataFrame.

Scale notes: every job is watermark-bounded so state stores stay O(live
windows / live keys), not O(history). On a cluster the file source
becomes Kafka and the memory sink becomes a Delta/parquet sink via
``foreachBatch`` (T8 shows that path); checkpoint dirs give exactly-once.

State sizing: every query starts through ``_start``, which gives it one
state partition per core (``spark.sql.shuffle.partitions`` =
``defaultParallelism``, the total executor core count on a cluster).
Stateful operators never get AQE coalescing, so the batch default (32
here, 200 in a default session) would run that many state-store tasks,
each with its own commit, in every micro-batch. The count is fixed for
each fresh checkpoint: its offset log records it and a restart from the
same checkpoint keeps it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from lens_warehouse_spark.catalog import table
from lens_warehouse_spark.operators._helpers import as_ts, staged_dir
from lens_warehouse_spark.operators.aggregates import _HH_K as _AGG_HH_K
from lens_warehouse_spark.registry import register


def _staged_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage events (with us-precision ts) to a parquet dir once per
    (session, sf_dir) — this is also the S3 batch-sink surface.
    Fingerprinted + stale-evicted via the shared staged_dir helper."""
    return staged_dir(
        f"lws_events_{sf_dir.strip('/').replace('/', '_')}",
        os.path.join(sf_dir, "events.parquet"),
        lambda out: table(spark, sf_dir, "events")
        .write.mode("overwrite")
        .parquet(out),
    )


def _await(q, timeout_sec: int) -> None:
    """awaitTermination with the return value CHECKED. A ``False``
    return means the query is STILL RUNNING past the timeout — reading
    the sink at that point silently returns truncated results (and the
    orphaned query keeps consuming resources), so stop it and raise
    instead of letting a slow machine turn into a wrong answer."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} still running after {timeout_sec}s"
        )


_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
# Checkpoint-file checksums catch corruption when a restart reopens a
# checkpoint. A checkpoint deleted when its run returns is never
# reopened, so their writes are pure cost, mostly in state-store
# commits: without them a round of t4, t5, t7, t8 and t16 took 7.3 s
# instead of 7.8 s on 4 cores.
_THROWAWAY_CKPT = {"spark.sql.streaming.checkpoint.fileChecksum.enabled": "false"}
# Without Hadoop's native library, the FileContext-based default forks a
# `chmod` for every checkpoint file it creates and a `readlink` for every
# rename. The FileSystem-based manager creates and renames in-process;
# rename is atomic on local disk and HDFS alike. It cut a round of t4,
# t5, t7, t8 and t16 from 7.5 s to 6.5 s on 4 cores.
_CKPT_MANAGER = {
    "spark.sql.streaming.checkpointFileManagerClass": "org.apache.spark.sql."
    "execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
}
_START_LOCK = threading.Lock()


def _start(writer: DataStreamWriter, **conf: str) -> StreamingQuery:
    """Start ``writer`` with one state partition per core, the
    FileSystem-based checkpoint manager and ``conf``, then restore the
    session's previous values.

    ``start()`` clones the session conf into the query, so the override
    reaches this query only; the lock keeps two threads' overrides from
    interleaving. The shuffle partition count is the state partition
    count because stateful operators get no AQE coalescing."""
    spark = writer._spark
    conf = {
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
        **_CKPT_MANAGER,
        **conf,
    }
    with _START_LOCK:
        prev = {k: spark.conf.get(k, None) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            return writer.start()
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _run_to_table(
    stream_df: DataFrame, name: str, output_mode: str = "append", **conf: str
) -> DataFrame:
    """Execute a streaming frame with availableNow into a memory sink and
    return the materialized result. The per-run temp view and checkpoint
    dir are released in a finally: a TimeoutError from _await or a failed
    start must leak neither."""
    spark = stream_df.sparkSession
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(tempfile.gettempdir(), "lws_ckpt", qname)
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    try:
        _await(_start(writer, **_THROWAWAY_CKPT, **conf), 300)
        return spark.table(qname).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _staged_events(spark, sf_dir)
    schema = table(spark, sf_dir, "events").schema
    return spark.readStream.schema(schema).parquet(src)


def _certify_equals_batch(
    stream_out: DataFrame, batch: DataFrame, cols: list[str]
) -> DataFrame:
    """Equals-batch certification (r10 verdict #3 — the a17–a19 sketch
    pattern applied to the streaming twins): emit the BATCH columns
    plus an in-engine ``equals_batch`` boolean that is TRUE on a row
    iff the streamed result contains the identical row AND the two
    results have the same cardinality (the count guard catches
    stream-EXTRA rows that a per-row left join from the batch side
    cannot see; a duplicate stream row trips it too). The DuckDB
    oracle is then the batch SQL + literal TRUE, which upgrades a
    burned rows-only driver row to a full rows+schema+hash contract:
    any stream/batch divergence — watermark arithmetic, a dropped
    window, a dedup miss — flips the flag or the row set and
    hash-fails loudly.

    Scale shape: the join keys on the output columns of an already
    aggregated (or key-unique) derived frame — at 100 TB this is a
    key-partitioned equi-join on the SMALL results, never on raw
    events, and like a17's rank-certification it is severable: drop
    the wrapper and the stream result stands alone."""
    s = stream_out.select(*cols)
    s_cnt = s.groupBy().agg(F.count(F.lit(1)).alias("_sn"))
    b_cnt = batch.groupBy().agg(F.count(F.lit(1)).alias("_bn"))
    flags = s.dropDuplicates(cols).withColumn("_m", F.lit(1))
    return (
        batch.join(flags, on=cols, how="left")
        .crossJoin(F.broadcast(s_cnt))
        .crossJoin(F.broadcast(b_cnt))
        .select(
            *cols,
            (F.col("_m").isNotNull() & (F.col("_sn") == F.col("_bn"))).alias(
                "equals_batch"
            ),
        )
    )


def _final_watermark_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row frame with the final watermark an availableNow run over
    the staged events reaches: max event time (ms, Spark truncates the
    us-precision event time to ms in the watermark tracker) minus the
    1-hour delay every watermarked job here uses. Kept lazy (no
    collect) so registry build stays job-free."""
    return table(spark, sf_dir, "events").agg(
        (F.max(F.unix_millis(as_ts("ts"))) - 3_600_000).alias("wm_ms")
    )


# ---------------------------------------------------------------------------
# T4: watermarked tumbling-window aggregation (append mode: only windows
# the watermark has closed are emitted). NOTE even with availableNow
# over a finite file source the final open window(s) — those the last
# watermark never advanced past — are WITHHELD. Certified contract
# (r10 verdict #3): the query emits the batch-computed closed-window
# set (win_end <= final watermark) + equals_batch, so the driver
# hash-checks both the stream==batch equivalence and the closed set.
# ---------------------------------------------------------------------------
_T4_ORACLE = """
WITH wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS wm_ms FROM events),
agg AS (
  SELECT epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS win_start_ms,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT a.win_start_ms, a.event_type, a.n, TRUE AS equals_batch
FROM agg a, wm
WHERE a.win_start_ms + 21600000 <= wm.wm_ms
ORDER BY a.win_start_ms, a.event_type
"""


def _t4_stream_result(
    spark: SparkSession, sf_dir: str, name: str, **conf: str
) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"), "event_type", "n"
        )
    )
    return _run_to_table(agg, name, **conf)


def _t4_batch_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the t4 stream: tumbling 6h counts restricted to
    windows the final watermark closed (append-mode emission set,
    win_start + 6h <= wm — the <= boundary is pinned by
    tests/test_streaming.py)."""
    counts = (
        table(spark, sf_dir, "events")
        .groupBy(F.window(as_ts("ts"), "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"), "event_type", "n"
        )
    )
    return (
        counts.crossJoin(F.broadcast(_final_watermark_ms(spark, sf_dir)))
        .filter(F.col("win_start_ms") + 21_600_000 <= F.col("wm_ms"))
        .drop("wm_ms")
    )


@register("t4_stream_tumbling_watermark", oracle=_T4_ORACLE)
def t4_stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream_out = _t4_stream_result(spark, sf_dir, "t4")
    batch = _t4_batch_closed(spark, sf_dir)
    return _certify_equals_batch(
        stream_out, batch, ["win_start_ms", "event_type", "n"]
    ).orderBy("win_start_ms", "event_type")


# ---------------------------------------------------------------------------
# T5: streaming dedup within watermark (exactly-once event_id semantics).
# Certified: event_id is unique in the synthetic feed, so the batch twin
# is the plain projection; a dedup MISS (dropped or duplicated row)
# flips equals_batch or the row set and hash-fails.
# ---------------------------------------------------------------------------
_T5_ORACLE = """
SELECT event_id, user_id, event_type, TRUE AS equals_batch
FROM events
ORDER BY event_id
"""


@register("t5_stream_dedup", oracle=_T5_ORACLE)
def t5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    # The batch that follows the last data batch only evicts state, and
    # the state goes with the run: skip it.
    stream_out = _run_to_table(deduped, "t5", **{_NO_DATA_BATCHES: "false"})
    batch = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    return _certify_equals_batch(
        stream_out, batch, ["event_id", "user_id", "event_type"]
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# T6: stream-static broadcast join (dim enrich on the wire). Certified:
# the stateless join must cover every event exactly once — the batch
# twin is the identical broadcast join.
# ---------------------------------------------------------------------------
_T6_CATEGORIES = [
    ("click", "engagement"),
    ("view", "engagement"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
    ("error", "ops"),
]

_T6_ORACLE = """
WITH cat(event_type, category) AS (
  VALUES ('click', 'engagement'), ('view', 'engagement'),
         ('purchase', 'conversion'), ('signup', 'conversion'),
         ('error', 'ops')
)
SELECT e.event_id, e.event_type, c.category, TRUE AS equals_batch
FROM events e JOIN cat c ON e.event_type = c.event_type
ORDER BY e.event_id
"""


@register("t6_stream_static_join", oracle=_T6_ORACLE)
def t6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    categories = spark.createDataFrame(
        _T6_CATEGORIES, "event_type string, category string"
    )
    ev = _events_stream(spark, sf_dir)
    joined = ev.join(F.broadcast(categories), "event_type").select(
        "event_id", "event_type", "category"
    )
    stream_out = _run_to_table(joined, "t6")
    batch = (
        table(spark, sf_dir, "events")
        .join(F.broadcast(categories), "event_type")
        .select("event_id", "event_type", "category")
    )
    return _certify_equals_batch(
        stream_out, batch, ["event_id", "event_type", "category"]
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# T7: custom stateful operator — per-user running statistics kept in an
# explicit state store via applyInPandasWithState. With availableNow the
# final emission per user is its end-of-stream state. Certified (r11):
# the end-of-stream state must equal the batch groupBy aggregate —
# count is exact and max is order-independent, so both sides are
# bit-identical on the same input doubles.
# ---------------------------------------------------------------------------
_T7_ORACLE = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       max(value) AS max_value, TRUE AS equals_batch
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("t7_stateful_user_stats", oracle=_T7_ORACLE)
def t7_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415 (worker-side import pattern)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("mx", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    stateful = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # keep the last update per user (final state)
    out = _run_to_table(stateful, "t7", output_mode="update")
    stream_final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_value").alias("max_value")
    )
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
    )
    return _certify_equals_batch(
        stream_final, batch, ["user_id", "n_events", "max_value"]
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# T8: foreachBatch sink — stream -> parquet (the production sink path),
# then read the sink back. Also the S3 write surface with partitionBy.
# Certified (r11): the sink roundtrip must preserve every event —
# per-type counts over the written files equal the batch counts over
# the source; a dropped/duplicated micro-batch flips the contract.
# ---------------------------------------------------------------------------
_T8_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n, TRUE AS equals_batch
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("t8_foreach_batch_sink", oracle=_T8_ORACLE)
def t8_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = os.path.join(tempfile.gettempdir(), f"lws_t8_{uuid.uuid4().hex[:8]}")
    ckpt = os.path.join(out_dir, "_ckpt")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).partitionBy("event_type").parquet(os.path.join(out_dir, "data"))

    ev = _events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    q = _start(
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
        **_THROWAWAY_CKPT,
    )
    # finally-cleanup (r8): dozens of orphaned lws_t8_* run dirs in
    # /tmp were timeouts/failures skipping the rmtree below
    try:
        _await(q, 300)
        written = spark.read.parquet(os.path.join(out_dir, "data"))
        out = (
            written.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)  # pin before the run dir vanishes
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _certify_equals_batch(out, batch, ["event_type", "n"]).orderBy(
        "event_type"
    )


# ---------------------------------------------------------------------------
# T9: streaming session window (30-min gap) per user — the streaming twin
# of t3_session_window. Append mode emits sessions the watermark closed
# (session end = last event + gap; closed when end <= final watermark).
# Certified: batch twin = gaps-and-islands restricted to closed
# sessions, equals_batch proves the stream emitted exactly that set.
# ---------------------------------------------------------------------------
_T9_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
), flagged AS (
  SELECT user_id, event_id, ms,
         CASE WHEN lag(ms) OVER w IS NULL
               OR ms - lag(ms) OVER w >= 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
), sess AS (
  SELECT user_id, ms,
         sum(new_sess) OVER (
           PARTITION BY user_id ORDER BY ms, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sid
  FROM flagged
), isl AS (
  SELECT user_id, min(ms) AS session_start_ms, max(ms) AS last_ms,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
), wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS wm_ms FROM events)
SELECT i.user_id, i.session_start_ms, i.n_events, TRUE AS equals_batch
FROM isl i, wm
WHERE i.last_ms + 1800000 <= wm.wm_ms
ORDER BY i.user_id, i.session_start_ms
"""


def _t9_batch_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the t9 stream: gaps-and-islands sessions (same
    arithmetic as sessionize_islands, plus the session-end column)
    restricted to sessions the final watermark closed."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_millis(as_ts("ts")).alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    gap = F.col("ms") - F.lag("ms").over(w)
    flagged = ev.withColumn(
        "new_sess",
        F.when(F.lag("ms").over(w).isNull() | (gap >= 1_800_000), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    islands = sess.groupBy("user_id", "sid").agg(
        F.min("ms").alias("session_start_ms"),
        F.max("ms").alias("last_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        islands.crossJoin(F.broadcast(_final_watermark_ms(spark, sf_dir)))
        .filter(F.col("last_ms") + 1_800_000 <= F.col("wm_ms"))
        .select("user_id", "session_start_ms", "n_events")
    )


@register("t9_stream_session_window", oracle=_T9_ORACLE)
def t9_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
        )
    )
    stream_out = _run_to_table(sess, "t9")
    batch = _t9_batch_closed(spark, sf_dir)
    return _certify_equals_batch(
        stream_out, batch, ["user_id", "session_start_ms", "n_events"]
    ).orderBy("user_id", "session_start_ms")


# ---------------------------------------------------------------------------
# T4b: the T4 watermarked tumbling aggregation on the RocksDB state-store
# provider — the provider that holds at 100 TB (state spills to local
# SSD instead of executor heap; changelog checkpointing bounds commit
# cost). Provider choice must not change results: tests assert t4b == t4,
# and the certified contract (same oracle as t4) hash-checks it against
# the batch closed set too.
# ---------------------------------------------------------------------------
@register("t4b_stream_tumbling_rocksdb", oracle=_T4_ORACLE)
def t4b_stream_tumbling_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream_out = _t4_stream_result(spark, sf_dir, "t4b", **{_PROVIDER: _ROCKSDB})
    batch = _t4_batch_closed(spark, sf_dir)
    return _certify_equals_batch(
        stream_out, batch, ["win_start_ms", "event_type", "n"]
    ).orderBy("win_start_ms", "event_type")


# ---------------------------------------------------------------------------
# T10: rate-micro-batch source — the unbounded-input surface (no file
# staging). rate-micro-batch emits a deterministic value sequence per
# batch (unlike plain `rate`, which is wall-clock-driven), so the
# aggregate over one bounded run is reproducible; still registered
# batch *count* is trigger-dependent, but the VALUES are not: one
# availableNow run over rowsPerBatch=1000 from startTimestamp=0 yields
# exactly 0..999 regardless of how the engine batches them, so the
# aggregate is a full literal oracle (r11 — was rows-only).
# ---------------------------------------------------------------------------
_T10_ORACLE = """
SELECT CAST(1000 AS BIGINT) AS n, CAST(0 AS BIGINT) AS min_value,
       CAST(999 AS BIGINT) AS max_value, CAST(499500 AS BIGINT) AS sum_value
"""


@register("t10_rate_source", oracle=_T10_ORACLE)
def t10_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .load()
    )
    return _run_to_table(src.select("value"), "t10").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum("value").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# T7b: same per-user running stats on the Spark 4 arbitrary-state API
# (transformWithStateInPandas + ValueState). The state-store contract is
# explicit typed state handles — the forward path for custom stateful
# operators (RocksDB-backed at scale).
#
# Gated: the API's driver worker needs google.protobuf, absent from this
# container (pip installs disallowed) — registered only when importable;
# applyInPandasWithState (t7) covers the capability meanwhile.
# ---------------------------------------------------------------------------
try:
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401
    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False


def _register_if(name):
    return register(name) if _HAS_PROTOBUF else (lambda fn: fn)


@_register_if("t7b_transform_with_state")
def t7b_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("mx", DoubleType())]
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("stats", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, mx = (
                self.state.get() if self.state.exists() else (0, float("-inf"))
            )
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    mx = max(mx, float(pdf["value"].max()))
            self.state.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    stateful = ev.groupBy("user_id").transformWithStateInPandas(
        UserStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state-store provider; it
    # goes to this query only, never the session.
    out = _run_to_table(
        stateful, "t7b", output_mode="update", **{_PROVIDER: _ROCKSDB}
    )
    return (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("max_value").alias("max_value"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# T12: stream-stream inner join — both sides buffer state; the time-range
# join condition + watermarks let Spark evict state (without them the
# buffers grow forever). Clicks join purchases by the same user within
# [click, click+1h]. Certified (r11): over a finite availableNow input
# every pair lands in the same run before state eviction, so the stream
# join must equal the identical batch join row-for-row — equals_batch +
# the batch SQL make it a full hash contract (was rows-only).
# ---------------------------------------------------------------------------
_T12_ORACLE = """
WITH c AS (
  SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), b AS (
  SELECT user_id AS b_user, event_id AS buy_id, ts AS buy_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT c.c_user AS user_id, c.click_id, b.buy_id,
       epoch_ms(c.click_ts) AS click_ms, epoch_ms(b.buy_ts) AS buy_ms,
       TRUE AS equals_batch
FROM c JOIN b ON c.c_user = b.b_user
 AND b.buy_ts >= c.click_ts
 AND b.buy_ts <= c.click_ts + INTERVAL 1 HOUR
ORDER BY user_id, click_id, buy_id
"""


def _t12_join(clicks: DataFrame, buys: DataFrame) -> DataFrame:
    return clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "buy_id",
        F.unix_millis(F.col("click_ts")).alias("click_ms"),
        F.unix_millis(F.col("buy_ts")).alias("buy_ms"),
    )


def _t12_clicks(ev: DataFrame) -> DataFrame:
    return ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )


def _t12_buys(ev: DataFrame) -> DataFrame:
    return ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )


@register("t12_stream_stream_join", oracle=_T12_ORACLE)
def t12_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = _t12_clicks(_events_stream(spark, sf_dir)).withWatermark(
        "click_ts", "1 hour"
    )
    buys = _t12_buys(_events_stream(spark, sf_dir)).withWatermark(
        "buy_ts", "1 hour"
    )
    stream_out = _run_to_table(_t12_join(clicks, buys), "t12")
    ev_batch = table(spark, sf_dir, "events").withColumn("ts", as_ts("ts"))
    batch = _t12_join(_t12_clicks(ev_batch), _t12_buys(ev_batch))
    return _certify_equals_batch(
        stream_out, batch, ["user_id", "click_id", "buy_id", "click_ms", "buy_ms"]
    ).orderBy("user_id", "click_id", "buy_id")


# ---------------------------------------------------------------------------
# T13: streaming trending top-k — watermarked tumbling counts per
# (window, user), with a foreachBatch sink that ranks and keeps only the
# top-3 users per closed window (the "what's trending now" job). The
# rank runs per micro-batch on the already-aggregated (tiny) window
# counts, so the sink-side window function never sees raw events — at
# 100 TB the stateful windowed count is the heavy lifter and the top-k
# is a per-window epilogue. Batch boundaries are an engine-internal
# detail (a window whose counts straddle two batches would be re-ranked
# on the later one; availableNow + watermark closes every window before
# emit). Certified (r11): the result must equal the pure-batch top-3
# over the closed-window counts — equals_batch + closed-rank SQL (ties
# broken deterministically by user_id asc).
# ---------------------------------------------------------------------------
_T13_ORACLE = """
WITH wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS wm_ms FROM events),
cnt AS (
  SELECT epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS win_start_ms,
         user_id, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), closed AS (
  SELECT c.* FROM cnt c, wm WHERE c.win_start_ms + 21600000 <= wm.wm_ms
), ranked AS (
  SELECT win_start_ms, user_id, n,
         CAST(row_number() OVER (
           PARTITION BY win_start_ms ORDER BY n DESC, user_id
         ) AS BIGINT) AS rk
  FROM closed
)
SELECT win_start_ms, user_id, n, rk, TRUE AS equals_batch
FROM ranked WHERE rk <= 3
ORDER BY win_start_ms, rk
"""


def _t13_batch_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    counts = (
        table(spark, sf_dir, "events")
        .groupBy(F.window(as_ts("ts"), "6 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"), "user_id", "n"
        )
    )
    closed = (
        counts.crossJoin(F.broadcast(_final_watermark_ms(spark, sf_dir)))
        .filter(F.col("win_start_ms") + 21_600_000 <= F.col("wm_ms"))
        .drop("wm_ms")
    )
    w = Window.partitionBy("win_start_ms").orderBy(F.col("n").desc(), "user_id")
    return closed.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 3
    )


@register("t13_stream_trending_topk", oracle=_T13_ORACLE)
def t13_stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    out_dir = os.path.join(tempfile.gettempdir(), f"lws_t13_{uuid.uuid4().hex[:8]}")
    ckpt = os.path.join(out_dir, "_ckpt")

    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    counts = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"), "user_id", "n"
        )
    )

    def rank_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("win_start_ms").orderBy(
            F.col("n").desc(), "user_id"
        )
        top = (
            batch_df.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 3)
        )
        top.write.mode("append").parquet(os.path.join(out_dir, "data"))

    q = _start(
        counts.writeStream.foreachBatch(rank_batch)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
        **_THROWAWAY_CKPT,
    )
    try:
        _await(q, 300)
        out = spark.read.parquet(os.path.join(out_dir, "data")).localCheckpoint(
            eager=True
        )  # pin before the run dir vanishes
    finally:  # r8: a timeout must not orphan the run dir
        shutil.rmtree(out_dir, ignore_errors=True)
    batch = _t13_batch_closed(spark, sf_dir)
    return _certify_equals_batch(
        out, batch, ["win_start_ms", "user_id", "n", "rk"]
    ).orderBy("win_start_ms", "rk")


# ---------------------------------------------------------------------------
# T16: streaming CDC apply — a change feed (keyed upserts/deletes derived
# deterministically from events) applied to a materialized table via
# foreachBatch MERGE semantics: within each micro-batch keep the latest
# change per key (max ts), then overwrite-by-key into the sink. This is
# the Delta-MERGE pattern without Delta jars (none offline): the sink is
# parquet + an in-batch key-level reconciliation, exactly-once via the
# checkpoint. The final table state must equal the BATCH "latest change
# per key, drop deletes" query — tests/test_streaming.py proves it.
# At scale each micro-batch shuffles only its own changes on the key;
# the sink rewrite is partition-pruned by the key buckets touched.
# ---------------------------------------------------------------------------
def _recover_mid_swap(data_dir: str) -> None:
    """Crash-recovery of a mid-swap failure in the CDC sink's
    rename-based commit: data_dir is briefly absent between
    rename(data_dir -> .old) and rename(.tmp -> data_dir). If the live
    dir is gone (or incomplete) but the retired one is complete, the
    swap died between renames — put the old state back before merging,
    or the replayed batch would rebuild the table from itself alone."""
    retired = data_dir + ".old"
    if not os.path.exists(os.path.join(data_dir, "_SUCCESS")) and os.path.exists(
        os.path.join(retired, "_SUCCESS")
    ):
        shutil.rmtree(data_dir, ignore_errors=True)
        os.rename(retired, data_dir)


def cdc_apply_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    fail_after_batch: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the CDC change feed through the checkpointed foreachBatch
    merge into ``out_dir`` and return the final table state.

    ``fail_after_batch`` injects a crash AFTER that micro-batch's sink
    write but BEFORE Structured Streaming commits the batch to the
    checkpoint — the worst-case failure point for a non-transactional
    sink: on restart the engine replays that batch, so the sink-side
    merge must be idempotent for end-to-end exactly-once. The
    time-aware merge is (re-merging identical rows is a fixpoint);
    tests/test_streaming.py proves crash+restart == uninterrupted.
    ``max_files_per_trigger`` splits the finite source into multiple
    micro-batches so there is a mid-stream batch boundary to crash at.
    """
    from pyspark.sql import Window

    ckpt = os.path.join(out_dir, "_ckpt")
    data_dir = os.path.join(out_dir, "data")

    # change feed: key = user_id % 50, op = D when value dips low,
    # else U carrying the event value; ordered by event time.
    def to_changes(df: DataFrame) -> DataFrame:
        return df.select(
            (F.col("user_id") % 50).alias("key"),
            F.col("ts"),
            F.when(F.col("value") < 5, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            F.col("value"),
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Time-aware merge: the sink retains the latest change per key
        # INCLUDING delete tombstones, so late/out-of-order micro-batches
        # can never resurrect a key or regress it to an older value —
        # the result is batch-partitioning-independent (and replay-
        # idempotent, which is what makes the checkpoint exactly-once
        # end-to-end rather than merely at-least-once).
        spark_l = batch_df.sparkSession
        staging = data_dir + ".tmp"
        retired = data_dir + ".old"
        _recover_mid_swap(data_dir)
        # First batch iff no committed table exists yet. This is an
        # explicit _SUCCESS probe, NOT a bare try/except around the
        # read: a blanket except would treat a genuine IO failure
        # (partial dir, permissions) as "first batch" and silently
        # rebuild the table from the replayed batch alone — data loss
        # masquerading as a fresh start.
        if os.path.exists(os.path.join(data_dir, "_SUCCESS")):
            current = spark_l.read.parquet(data_dir)
        else:
            current = batch_df.limit(0)
        w = Window.partitionBy("key").orderBy(
            F.col("ts").desc(), F.col("value").desc()
        )
        merged = (
            current.unionByName(batch_df)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # Write once to staging, then swap directories by rename —
        # half the sink I/O of the old write-staging-then-rewrite-live
        # pattern, and the commit window shrinks from a full table
        # rewrite to two renames (with the recovery path above
        # covering a crash between them).
        shutil.rmtree(staging, ignore_errors=True)
        merged.write.mode("overwrite").parquet(staging)
        shutil.rmtree(retired, ignore_errors=True)
        if os.path.exists(data_dir):
            os.rename(data_dir, retired)
        os.rename(staging, data_dir)
        shutil.rmtree(retired, ignore_errors=True)
        if fail_after_batch is not None and batch_id == fail_after_batch:
            raise RuntimeError(f"injected crash after batch {batch_id}")

    if max_files_per_trigger is None:
        src_stream = _events_stream(spark, sf_dir)
    else:
        # Multi-batch mode needs a multi-file source (the shared staging
        # is one part file): stage under out_dir so a restart against
        # the same out_dir sees the identical file set.
        src = os.path.join(out_dir, "src")
        if not os.path.exists(os.path.join(src, "_SUCCESS")):
            table(spark, sf_dir, "events").repartition(4).write.mode(
                "overwrite"
            ).parquet(src)
        schema = table(spark, sf_dir, "events").schema
        src_stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(src)
        )
    changes = to_changes(src_stream)
    # a restart reopens this checkpoint, so it keeps its checksums
    q = _start(
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    try:
        _await(q, 300)
    except Exception as exc:
        # Swallow ONLY the injected crash; a genuine failure in the same
        # run (sink write error, corrupt staging, checkpoint init) must
        # surface, not masquerade as the planned kill.
        if fail_after_batch is None or "injected crash after batch" not in str(exc):
            raise
    return (
        spark.read.parquet(data_dir)
        .filter(F.col("op") != "D")
        .select("key", F.unix_millis("ts").alias("ts_ms"), "value")
        .orderBy("key")
    )


_T16_ORACLE = """
WITH ch AS (
  SELECT user_id % 50 AS key, ts,
         CASE WHEN value < 5 THEN 'D' ELSE 'U' END AS op, value
  FROM events
), latest AS (
  SELECT key, ts, op, value,
         row_number() OVER (
           PARTITION BY key ORDER BY ts DESC, value DESC
         ) AS rn
  FROM ch
)
SELECT key, epoch_ms(ts) AS ts_ms, value
FROM latest WHERE rn = 1 AND op <> 'D'
ORDER BY key
"""


# Certified (r11, direct oracle — no equals_batch needed): the merged
# sink state is fully deterministic (latest change per key; ties in
# (ts, value) produce identical rows), so the final table must
# hash-match the batch latest-per-key SQL outright (was rows-only).
@register("t16_stream_cdc_apply", oracle=_T16_ORACLE)
def t16_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = os.path.join(tempfile.gettempdir(), f"lws_t16_{uuid.uuid4().hex[:8]}")
    try:
        out = cdc_apply_stream(spark, sf_dir, out_dir).localCheckpoint(
            eager=True
        )  # pin before the run dir vanishes
    finally:  # r8: a timeout must not orphan the run dir
        shutil.rmtree(out_dir, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# T17: streaming heavy hitters — the streaming twin of a16. Misra-Gries
# summaries live in the state store, keyed by a hash shard of user_id
# (32 shards): each shard's state is a capacity-K counter map (two long
# arrays), updated per micro-batch in applyInPandasWithState. Every
# update emits the shard's current candidate set; the union across
# shards/updates is a guaranteed SUPERSET of the true heavy hitters
# (if freq(u) > n/K globally, then count_shard(u)*K > n_shard in u's
# shard, and shard-local MG with capacity K retains it). An exact
# broadcast-semi-join recount then filters to the true answer, so the
# result hash-matches the same DuckDB oracle as a16 — a full-strength
# oracle for a stateful streaming job. At 100 TB the state is
# O(shards*K) — constant — and the recount touches only |candidates|
# keys; reference has no streaming (SURVEY.md §2.9/§2.11 extension).
# ---------------------------------------------------------------------------
_T17_SHARDS = 32


@register(
    "t17_stream_heavy_hitters",
    oracle=f"""
SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
FROM events
GROUP BY user_id
HAVING count(*) * {_AGG_HH_K} > (SELECT count(*) FROM events)
ORDER BY user_id
""",
)
def t17_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415 (worker-side import pattern)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    _HH_K = _AGG_HH_K

    out_schema = StructType(
        [
            StructField("shard", IntegerType()),
            StructField("user_id", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("keys", ArrayType(LongType())),
            StructField("counts", ArrayType(LongType())),
        ]
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            keys, counts = state.get
            mg = dict(zip(keys, counts))
        else:
            mg = {}
        for pdf in pdfs:
            for uid, w in pdf["user_id"].value_counts().items():
                mg[int(uid)] = mg.get(int(uid), 0) + int(w)
            if len(mg) > _HH_K:
                cut = sorted(mg.values(), reverse=True)[_HH_K]
                mg = {u: c - cut for u, c in mg.items() if c - cut > 0}
        state.update((list(mg.keys()), list(mg.values())))
        yield pd.DataFrame(
            {"shard": [key[0]] * len(mg), "user_id": list(mg.keys())}
        ).astype({"shard": "int32", "user_id": "int64"})

    ev = (
        _events_stream(spark, sf_dir)
        .select(
            F.pmod(F.xxhash64("user_id"), F.lit(_T17_SHARDS))
            .cast("int")
            .alias("shard"),
            "user_id",
        )
    )
    stateful = ev.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    candidates = (
        _run_to_table(stateful, "t17", output_mode="update")
        .select("user_id")
        .distinct()
    )

    # Exact recount epilogue (batch over the same staged data the stream
    # read): superset-in, exact-out.
    full = table(spark, sf_dir, "events").select("user_id")
    total = full.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    return (
        full.join(F.broadcast(candidates), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * _HH_K > F.col("n_total"))
        .select("user_id", "cnt")
        .orderBy("user_id")
    )


def cdc_apply_batch_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch oracle for t16: latest change per key across the whole feed,
    deletes dropped."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).alias("key"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("value") < 5, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("value"),
    )
    w = Window.partitionBy("key").orderBy(F.col("ts").desc(), F.col("value").desc())
    latest = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        latest.filter(F.col("op") != "D")
        .select("key", F.unix_millis("ts").alias("ts_ms"), "value")
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# T18: streaming incremental near-duplicate detection — the streaming
# twin of l2's MinHash-LSH. Documents arrive in micro-batches
# (maxFilesPerTrigger=1 over a range-split staging of the corpus);
# foreachBatch computes the batch's MinHash band buckets, emits
# candidate pairs WITHIN the batch plus pairs against the accumulated
# signature STORE of all earlier batches, then appends the batch's
# bands to the store. Because band-bucket collision is symmetric and
# the store always holds exactly the earlier batches, the union of
# per-batch pairs equals the batch LSH pair set over the full corpus —
# asserted stream==batch in tests/test_streaming.py. Exact-Jaccard
# verification runs once at the end over the bounded candidate set.
#
# Scale shape: the store carries n_bands longs per document (never raw
# text); each micro-batch shuffles O(batch * bands) + joins against the
# store on (band_id, band_hash) — at 100 TB the store is a bucketed
# table on the band key and the join is shuffle-free on the store side.
# Rows-only by design (seeded hashes): reference has no streaming.
# ---------------------------------------------------------------------------
@register("t18_stream_incremental_neardup")
def t18_stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lens_warehouse_spark.llm.dedup import (
        band_projection,
        jaccard,
        minhash_signatures,
    )

    # Stage the corpus as 4 range-split files -> 4 deterministic
    # micro-batches. Fingerprinted + stale-evicted via staged_dir.
    staged = staged_dir(
        f"lws_docs4_{sf_dir.strip('/').replace('/', '_')}",
        os.path.join(sf_dir, "documents.parquet"),
        lambda out: table(spark, sf_dir, "documents")
        .repartitionByRange(4, "doc_id")
        .write.mode("overwrite")
        .parquet(out),
    )

    run = os.path.join(tempfile.gettempdir(), f"lws_t18_{uuid.uuid4().hex[:8]}")
    store_dir = os.path.join(run, "store")
    pairs_dir = os.path.join(run, "pairs")
    ckpt = os.path.join(run, "ckpt")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_l = batch_df.sparkSession
        bands = band_projection(
            minhash_signatures(batch_df.select("doc_id", "text"))
        ).persist()
        a, b = bands.alias("a"), bands.alias("b")
        intra = a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        out = intra
        if os.path.exists(os.path.join(store_dir, "_SUCCESS")):
            store = spark_l.read.parquet(store_dir)
            cross = store.alias("s").join(
                bands.alias("n"),
                (F.col("s.band_id") == F.col("n.band_id"))
                & (F.col("s.band_hash") == F.col("n.band_hash")),
            ).select(
                F.least("s.doc_id", "n.doc_id").alias("doc_a"),
                F.greatest("s.doc_id", "n.doc_id").alias("doc_b"),
            )
            out = out.unionByName(cross)
        out.distinct().write.mode("append").parquet(pairs_dir)
        # append AFTER pair emission: the store must hold strictly
        # earlier batches when this batch probes it
        bands.write.mode("append").parquet(store_dir)
        bands.unpersist()

    stream = (
        spark.readStream.schema(table(spark, sf_dir, "documents").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select("doc_id", "text")
    )
    q = _start(
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
        **_THROWAWAY_CKPT,
    )
    try:
        _await(q, 600)
        docs = table(spark, sf_dir, "documents")
        result = (
            jaccard(
                spark.read.parquet(pairs_dir).distinct(), docs, measure="shingles"
            )
            .filter(F.col("jaccard") >= 0.7)
            .orderBy("doc_a", "doc_b")
            .localCheckpoint(eager=True)  # pin before the run dir vanishes
        )
    finally:  # r8: a timeout must not orphan the run dir
        shutil.rmtree(run, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# T20: streaming anomaly scoring — t19's twin on the streaming path.
# The watermarked tumbling aggregation maintains the per-(window, type)
# bucket counts incrementally (the "metrics store" of an ops pipeline);
# the trailing-history z-score then runs over the MATERIALIZED bucket
# frame — which is |types| x |buckets| rows, never raw events. That
# split (incremental windowed state -> tiny analytic over the store) is
# exactly how a production alerting pipeline is shaped: the stream
# never recomputes history, and the scorer touches only aggregates.
# Certified (r11): append mode withholds the trailing open window(s),
# and a closed window's 8-predecessor frame contains only closed
# windows (window ends are monotone in start), so the stream result
# must equal batch t19 restricted to closed windows EXACTLY —
# equals_batch + the closed-filtered t19 SQL make it a hash contract.
# ---------------------------------------------------------------------------
_T20_ORACLE = """
WITH b AS (
  SELECT epoch_ms(time_bucket(INTERVAL '6 hours', ts)) AS win_start_ms,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), s AS (
  SELECT win_start_ms, event_type, n,
         count(*) OVER f AS n_prior,
         avg(n) OVER f AS mu,
         stddev_samp(n) OVER f AS sigma
  FROM b
  WINDOW f AS (PARTITION BY event_type ORDER BY win_start_ms
               ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
), wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS wm_ms FROM events)
SELECT s.win_start_ms, s.event_type, CAST(s.n AS BIGINT) AS n,
       round((CAST(s.n AS DOUBLE) - s.mu) / s.sigma, 4) AS z,
       TRUE AS equals_batch
FROM s, wm
WHERE s.n_prior = 8 AND s.sigma > 0
  AND s.win_start_ms + 21600000 <= wm.wm_ms
ORDER BY s.event_type, s.win_start_ms
"""


def _t20_score(store: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    f = (
        Window.partitionBy("event_type")
        .orderBy("win_start_ms")
        .rowsBetween(-8, -1)
    )
    scored = store.select(
        "win_start_ms",
        "event_type",
        "n",
        F.count(F.lit(1)).over(f).alias("n_prior"),
        F.avg("n").over(f).alias("mu"),
        F.stddev_samp("n").over(f).alias("sigma"),
    )
    return scored.filter((F.col("n_prior") == 8) & (F.col("sigma") > 0)).select(
        "win_start_ms",
        "event_type",
        "n",
        F.round(
            (F.col("n").cast("double") - F.col("mu")) / F.col("sigma"), 4
        ).alias("z"),
    )


@register("t20_stream_anomaly_zscore", oracle=_T20_ORACLE)
def t20_stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    buckets = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "event_type",
            "n",
        )
    )
    store = _run_to_table(buckets, "t20")
    stream_scored = _t20_score(store)
    batch_scored = _t20_score(_t4_batch_closed(spark, sf_dir))
    return _certify_equals_batch(
        stream_scored, batch_scored, ["win_start_ms", "event_type", "n", "z"]
    ).orderBy("event_type", "win_start_ms")
