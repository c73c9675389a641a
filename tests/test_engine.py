"""Facade smoke tests: every public method, and the registered queries
reached through ``query(name)``, returns sane results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lens_warehouse_spark.engine import LensWarehouse
from lens_warehouse_spark.operators.cohort_queries import EXAMPLE_COHORT
from lens_warehouse_spark.operators.wire import cohort_from_json

SF = "/root/testdata/sf0.001"


def test_engine_surface(spark):
    lw = LensWarehouse(spark, SF)
    assert len(lw.tables()) == 10
    assert lw.table("orders").count() == 1500
    assert lw.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n == 6000

    n = lw.cohort_count(EXAMPLE_COHORT).collect()[0].n_subjects
    assert n == lw.cohort_members(EXAMPLE_COHORT).count() > 0
    facets = lw.cohort_facets(EXAMPLE_COHORT).collect()
    assert sum(r.n_subjects for r in facets) == n

    assert lw.query("l1_exact_dedup").count() == 500  # all unique at sf0.001
    knn = lw.knn(0, k=5).collect()
    assert len(knn) == 5
    assert knn[0].cos >= knn[-1].cos
    # gap threads through (same facade lesson as decontaminate): a
    # 1-second gap can only split more; a 1 ms gap makes ~every event
    # its own session, and session sizes always sum to the event count
    sess30 = lw.sessionize()
    sess1s = lw.sessionize("1 second")
    assert sess1s.count() >= sess30.count() > 0
    n_events = lw.table("events").count()
    assert sess30.agg({"n_events": "sum"}).first()[0] == n_events
    with pytest.raises(ValueError):
        lw.sessionize("30 fortnights")
    assert lw.query("l2c_simhash").count() == 500


# A lineitem quantity band OR'd with a subject segment, minus an order
# exclusion: every atom kind, on both sides of the CNF.
LINEITEM_EXCLUSION_JSON = {
    "include": [
        [
            {"type": "lineitem", "returnflags": ["A", "N"],
             "min_quantity": 10.0, "max_quantity": 30.0},
            {"type": "subject", "segments": ["BUILDING"]},
        ],
        [{"type": "order", "date_from": "1993-01-01", "date_to": "1998-01-01"}],
    ],
    "exclude": [{"type": "order", "priorities": ["5-LOW"]}],
}


@pytest.mark.parametrize(
    "query",
    [EXAMPLE_COHORT, cohort_from_json(LINEITEM_EXCLUSION_JSON)],
    ids=["example", "lineitem_exclusion"],
)
def test_cohort_facets_strategy_passes_through(spark, query):
    lw = LensWarehouse(spark, SF)
    facets = {
        s: [tuple(r) for r in lw.cohort_facets(query, strategy=s).collect()]
        for s in ("tagged", "fused", "auto")
    }
    assert facets["tagged"]
    assert facets["fused"] == facets["tagged"] == facets["auto"]
    # the argument reaches the compiler: the two strategies plan differently
    plans = {
        s: lw.cohort_facets(query, strategy=s)._jdf.queryExecution().optimizedPlan().toString()
        for s in ("tagged", "fused")
    }
    assert plans["tagged"] != plans["fused"]
    n = lw.cohort_count(query).collect()[0].n_subjects
    assert sum(n_subjects for _, n_subjects in facets["tagged"]) == n


def test_engine_curation_surface(spark):
    lw = LensWarehouse(spark, SF)
    nd = lw.near_duplicates(0.5)
    assert set(nd.columns) == {"doc_a", "doc_b", "jaccard"}
    groups = lw.neardup_groups(0.5)
    assert set(groups.columns) == {"doc_id", "canonical_id"}
    # canonical assignment covers every document exactly once
    assert groups.count() == lw.table("documents").count()
    cont = lw.decontaminate()
    assert set(cont.columns) == {"doc_id", "n_contaminated_grams"}
    # bench_mod is REAL (round-5 facade lesson): a coarser benchmark
    # set (every 7th doc) must flag different/more documents than the
    # default 97, and the benchmark docs themselves are never flagged
    cont7 = lw.decontaminate(bench_mod=7)
    assert cont7.filter(F.col("doc_id") % 7 == 0).count() == 0
    assert cont7.count() != cont.count()
    with pytest.raises(ValueError):
        lw.decontaminate(bench_mod=0)  # would be ANSI DIVIDE_BY_ZERO
    cur = lw.query("l20_curation_pipeline")
    assert cur.columns == ["lang", "source", "n_docs", "total_chars"]
    assert cur.count() > 0


def test_engine_ann_surface(spark):
    lw = LensWarehouse(spark, SF)
    single = lw.ann(k=3, multiprobe=False)
    multi = lw.ann(k=3, multiprobe=True)
    assert set(single.columns) == set(multi.columns)
    # multi-probe serves at least as many queries (superset candidates)
    assert multi.select("query_id").distinct().count() >= \
        single.select("query_id").distinct().count()
    cb = lw.train_ivf_codebook(k=8, iters=1)
    assert set(cb.columns) == {"cell_id", "centroid"}
    assert cb.count() <= 8


def test_engine_sketch_layout_cdc_surface(spark):
    lw = LensWarehouse(spark, SF)
    hh = lw.heavy_hitters("events", "user_id", k=140)
    assert hh.columns == ["user_id", "cnt"]
    # exact heavy-hitter semantics: every returned key truly exceeds n/k
    n = lw.table("events").count()
    assert all(r.cnt * 140 > n for r in hh.collect())

    ev = lw.table("events").select("event_id", "user_id", "value")
    z = lw.zorder(ev, ["user_id", "value"], bits=4, n_files=4)
    assert z.columns == ev.columns
    assert z.count() == ev.count()

    old = lw.table("orders").select("o_orderkey", "o_totalprice")
    new = old.filter(F.col("o_orderkey") % 7 != 0)
    diff = lw.snapshot_diff(old, new, "o_orderkey", ["o_totalprice"])
    assert {r.change_type for r in diff.collect()} == {"D"}
    assert diff.count() == old.count() - new.count()

    lm = lw.query("l21_bigram_lm_score")
    assert lm.columns == ["doc_id", "n_bigrams", "lm_score"]
    assert lm.count() > 0


def test_approx_percentile_within_rank_error(spark):
    """GK sketch at accuracy=10000 on ~20k-row groups must land within a
    tight rank neighborhood of the exact percentile."""
    from lens_warehouse_spark.operators.aggregates import a17_approx_percentile
    from lens_warehouse_spark.catalog import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    li = table(spark, sf, "lineitem")
    # r10: a17's public output is exact + gk_within_eps (full oracle);
    # the query itself must certify every group in-bound...
    q = a17_approx_percentile(spark, sf).collect()
    assert len(q) == 3 and all(r["gk_within_eps"] for r in q)
    # ...and this test keeps pinning the RAW sketch's rank error
    # against exact ranks, independent of the query's value brackets.
    approx = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", [0.25, 0.5, 0.75, 0.95], 10000
            ).alias("pa")
        )
        .select(
            "l_returnflag",
            F.col("pa")[0].alias("p25"),
            F.col("pa")[1].alias("p50"),
            F.col("pa")[2].alias("p75"),
            F.col("pa")[3].alias("p95"),
        )
        .collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))"
            ).alias("pcts"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    for flag, a in approx.items():
        e = exact[flag]
        n = e["n"]
        vals = sorted(
            x["l_extendedprice"]
            for x in li.filter(F.col("l_returnflag") == flag)
            .select("l_extendedprice")
            .collect()
        )
        for i, p in enumerate([0.25, 0.5, 0.75, 0.95]):
            got = a[["p25", "p50", "p75", "p95"][i]]
            # rank of the approximate answer must be within eps*n of p*n
            import bisect

            rank = bisect.bisect_left(vals, got)
            assert abs(rank - p * n) <= max(2.0, 2 * n / 10000), (flag, p)


def test_engine_analytics_surface(spark):
    lw = LensWarehouse(spark, SF)
    assert lw.query("l22_pii_redaction").columns == [
        "doc_id", "n_emails", "n_ips", "n_phones", "red_len", "red_md5",
    ]
    # every doc got its appended synthetic PII scrubbed
    assert lw.query("l22_pii_redaction").filter(
        (F.col("n_emails") < 1) | (F.col("n_ips") < 1) | (F.col("n_phones") < 1)
    ).count() == 0
    ret = lw.query("t14_retention_matrix").collect()
    assert all(r.weeks_since >= 0 for r in ret)
    attr = lw.query("t15_attribution")
    assert attr.columns == ["purchase_id", "user_id", "click_id", "gap_ms"]
    assert attr.filter(F.col("gap_ms") < 0).count() == 0
    prof = {r.col: r for r in lw.query("s5c_profile").collect()}
    assert prof["c_custkey"].n_nulls == 0
    hist = lw.query("s8_scd2_history")
    # every key's version chain starts at snapshot 0 and ends open (999)
    assert hist.filter(F.col("valid_from") == 0).count() == \
        lw.table("orders").count()
    assert lw.query("l3j_mmr_rerank").count() == 5
    dau = lw.query("w9_sliding_distinct").collect()
    assert all(r.dau7 > 0 for r in dau)
    assert lw.query("l1b_incremental_dedup").columns == [
        "admit_doc_id", "content_hash",
    ]
    assert lw.query("a18_hll_rollup").columns == [
        "event_type", "exact_users", "n_days", "sketch_within_rsd",
    ]
    ov = lw.query("a19_sketch_overlap").collect()
    # r10: a19's public output is exact_overlap + ie_within_bound (the
    # inclusion-exclusion estimate is certified, not hash-compared)
    assert len(ov) == 10 and all(
        r.exact_overlap >= 0 and r.ie_within_bound for r in ov
    )
    assert lw.query("l26_epoch_shuffle").columns == ["doc_id", "epoch_pos"]
    assert lw.query("l27_budget_select").columns == [
        "doc_id", "n_tok", "quality", "cum_tok",
    ]
    assert lw.query("l3k_hard_negatives").columns == [
        "anchor_id", "neg_id", "rn", "cos",
    ]


def test_engine_percentile_skew_join_and_transit_cohort(spark):
    from lens_warehouse_spark.engine import LensWarehouse

    lw = LensWarehouse(spark, "/root/testdata/sf0.001")
    p90 = lw.query("a22_grouped_exact_percentile")
    assert p90.columns == ["event_type", "p90_value", "n"]
    assert p90.count() == 5
    sj = lw.query("j12_skew_salted_join")
    assert sj.columns == ["c_mktsegment", "n_orders", "total_price_cents"]
    q = lw.cohort_from_transit(
        '["^ ","~:include",[[["^ ","~:type","~:order",'
        '"~:priorities",["1-URGENT"]]]]]'
    )
    assert lw.cohort_count(q).collect()[0][0] > 0


def test_engine_corpus_and_embedding_statistics(spark):
    lw = LensWarehouse(spark, SF)
    sd = lw.substring_dedup()
    assert {"n_windows", "n_dup_windows", "dup_frac"} <= set(sd.columns)
    gm = lw.query("l32_gram_matrix")
    assert gm.count() == 64 * 65 // 2  # upper triangle of d x d
    pcs = lw.pca_project()
    assert pcs.columns[0] == "vec_id" and len(pcs.columns) == 9
    mode = lw.query("a23_grouped_mode").collect()
    assert all(r["cnt"] >= 1 for r in mode[:5])
    idx = lw.query("l34_inverted_index")
    assert {"term", "shard", "df_shard", "postings"} == set(idx.columns)
    mw = lw.query("l36_mixture_weights").toPandas()
    assert abs(mw["weight"].sum() - 1.0) < 1e-4  # weights normalize
    cent = lw.centrality()
    assert {"vec_id", "cell_id", "rank", "cell_rank"} == set(cent.columns)
    anom = lw.query("t19_anomaly_zscore")
    assert {"win_start_ms", "event_type", "n", "z"} == set(anom.columns)


def test_engine_ranking_temporal_and_spatial_queries(spark):
    lw = LensWarehouse(spark, SF)
    top = lw.query("l37_bm25").collect()
    assert len(top) <= 20 and all(r["bm25"] > 0 for r in top)
    bins = lw.query("a24_equidepth_histogram").toPandas()
    assert bins["n_rows"].sum() == lw.table("orders").count()
    conc = lw.query("t21_max_concurrency").toPandas()
    assert (conc["max_concurrent"] >= 1).all()
    assert lw.query("u7_washout_cohort").count() >= 0
    streaks = lw.query("w10_longest_streak").toPandas()
    assert (streaks["longest_streak"] >= 1).all()
    roll = lw.query("g1_subtree_rollup").toPandas().set_index("node")
    # subtree counts are monotone up the chain: parent >= child
    child = roll.index[roll.index >= 2][0]
    assert roll.loc[child // 2, "n_events_subtree"] >= roll.loc[child, "n_events_subtree"]
    assert {"id_a", "id_b", "dist2"} == set(lw.query("g2_spatial_join").columns)


def test_engine_round5_guards(spark):
    """k below the registered suppression floor must raise, not silently
    behave as k=_G4_K (ADVICE r4)."""
    import pytest

    from lens_warehouse_spark.operators.graph import _G4_K

    lw = LensWarehouse(spark, SF)
    with pytest.raises(ValueError, match="suppression floor"):
        lw.kanon_cells(k=_G4_K - 1)
    # at or above the floor it filters normally
    assert lw.kanon_cells(k=_G4_K).count() >= lw.kanon_cells(k=_G4_K + 1).count()


def test_pin_lifecycle(spark):
    """pin() caps cache residency at one pinned relation per call site:
    re-invoking the same key unpersists the previous DataFrame."""
    from lens_warehouse_spark.operators._helpers import pin

    a = pin("test.pin", spark.range(10))
    a.count()
    assert a.storageLevel.useMemory
    # SAME plan re-pinned -> existing blocks kept (bench best-of-3 path)
    a2 = pin("test.pin", spark.range(10))
    assert a.storageLevel.useMemory and a2.storageLevel.useMemory
    # A cached plan pinned under a DIFFERENT key must not be adopted:
    # swapping the foreign key later cannot unpersist our blocks.
    c = pin("test.pin.other", spark.range(10))
    assert c.storageLevel.useMemory
    c2 = pin("test.pin.other", spark.range(30))  # swap the foreign key
    c2.count()
    assert a.storageLevel.useMemory  # our entry survived the foreign swap
    # DIFFERENT plan under the same key -> previous entry released
    b = pin("test.pin", spark.range(20))
    b.count()
    assert not a.storageLevel.useMemory  # previous pin released
    assert b.storageLevel.useMemory
    b.unpersist()
    c2.unpersist()


def test_ann_k_threads_through(spark):
    """ann(k) must return up to k neighbors, not silently cap at the
    registered query's fixed top-3."""
    from lens_warehouse_spark.engine import LensWarehouse

    lw = LensWarehouse(spark, "/root/testdata/sf0.001")
    per_query = (
        lw.ann(k=6, multiprobe=True)
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert max(r["count"] for r in per_query) > 3


def test_heavy_hitters_k_capacity_guard(spark):
    from lens_warehouse_spark.engine import LensWarehouse

    lw = LensWarehouse(spark, "/root/testdata/sf0.001")
    import pytest

    with pytest.raises(ValueError, match="capacity"):
        lw.heavy_hitters(k=10_000)
    with pytest.raises(TypeError, match="integer key"):
        lw.heavy_hitters("events", key="event_type")


def test_heavy_hitters_facade_matches_a16(spark):
    """The facade and the registered a16 run the same kernel: same rows."""
    lw = LensWarehouse(spark, SF)
    facade = sorted(tuple(r) for r in lw.heavy_hitters().collect())
    assert facade
    assert facade == [tuple(r) for r in lw.query("a16_heavy_hitters").collect()]


def test_query_unknown_name_raises(spark):
    with pytest.raises(KeyError):
        LensWarehouse(spark, SF).query("no_such_query")


def test_snapshot_diff_null_transitions(spark):
    """A value changing to or from NULL is a change — null-unsafe !=
    silently dropped those rows."""
    from lens_warehouse_spark.engine import LensWarehouse

    lw = LensWarehouse(spark, "/root/testdata/sf0.001")
    old = spark.createDataFrame([(1, 5.0), (2, 7.0)], "k long, price double")
    new = spark.createDataFrame([(1, None), (2, 7.0)], "k long, price double")
    out = {
        r["k"]: r["change_type"]
        for r in lw.snapshot_diff(old, new, "k", ["price"]).collect()
    }
    assert out == {1: "U"}


def test_sql_views_follow_instance_sf_dir(spark):
    """Two facades over different sf_dirs must not serve each other's
    data through the session-global views."""
    from lens_warehouse_spark.engine import LensWarehouse

    lw_small = LensWarehouse(spark, "/root/testdata/sf0.001")
    lw_big = LensWarehouse(spark, "/root/testdata/sf0.01")
    n_small = lw_small.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"]
    n_big = lw_big.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"]
    n_small_again = lw_small.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"]
    assert n_small == n_small_again != n_big


def test_interval_grammar_compound_and_decimal():
    """Round-6 advisor: the facade's gap grammar had silently narrowed
    to a single '<n> <unit>' term — interval strings session_window
    itself accepts ('1 hour 30 minutes', '1.5 hours') raised. Now they
    sum; sub-millisecond residue and junk still fail loudly."""
    import pytest

    from lens_warehouse_spark.engine import _interval_ms

    assert _interval_ms("30 minutes") == 1_800_000
    assert _interval_ms("1 hour 30 minutes") == 5_400_000
    assert _interval_ms("1.5 hours") == 5_400_000
    assert _interval_ms("1 day 2 hours 3 minutes") == 93_780_000
    assert _interval_ms("2 milliseconds") == 2
    for bad in ("", "1 fortnight", "0.0005 seconds", "1 hour and 30 minutes",
                "hour 1", "1.5.5 hours"):
        with pytest.raises(ValueError):
            _interval_ms(bad)


def test_t3_no_tiebreak_matches_oracle_on_tie_heavy_corpus(spark, tmp_path):
    """r14 opt round: sessionize_islands dropped the event_id window
    tiebreak (guide §2.3 — 33% fewer exchange bytes; outputs are
    tie-order invariant because tied rows have gap 0). The DuckDB
    oracle still spells ORDER BY ms, event_id. Pin the invariance the
    optimization rests on: on a corpus that is MOSTLY exact-duplicate
    timestamps (including ties straddling session boundaries), the
    registered t3 must equal its oracle row-for-row."""
    import duckdb

    from lens_warehouse_spark import registry

    registry.load_all()
    gap = 1_800_000
    rows = []
    eid = 0
    import datetime

    base = datetime.datetime(2024, 1, 1)
    for uid in range(1, 8):
        for island in range(3):
            t0 = island * (gap * 2) + uid  # islands separated by 2*gap
            for ms in (t0, t0, t0, t0 + 5, t0 + 5, t0 + gap - 1):
                eid += 1
                rows.append(
                    (eid, base + datetime.timedelta(milliseconds=ms), uid,
                     "click", 1.0)
                )
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, amount double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    got = sorted(
        tuple(r) for r in registry.QUERIES["t3_session_window"](spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')"  # Spark writes a dir
    )
    want = sorted(tuple(r) for r in con.execute(
        registry.ORACLES["t3_session_window"]).fetchall())
    assert got == want
    assert len(got) == 7 * 3  # every (user, island) pair survives as one row


def test_sessionize_arrayfold_equals_islands_adversarial(spark):
    """The round-7 array-fold sessionizer (t3's graded form) must equal
    the windowed islands form EXACTLY on the cases a fold gets wrong:
    duplicate timestamps (tie order must not open a session), gaps
    exactly AT the threshold (>= splits), one-event users, a user who
    is one long session, and a user whose every event starts a new
    session. Both forms also pin the session-count arithmetic: total
    events in == sum(n_events) out."""
    import datetime

    from lens_warehouse_spark.operators.timeseries import (
        sessionize_arrayfold,
        sessionize_islands,
    )

    gap = 1800000
    base = datetime.datetime(2024, 1, 1)

    def ts(ms):
        return base + datetime.timedelta(milliseconds=ms)

    rows = []
    eid = 0

    def add(uid, ms):
        nonlocal eid
        eid += 1
        rows.append((eid, uid, ts(ms)))

    add(1, 0); add(1, 0); add(1, 0)                    # pure ties
    add(1, gap - 1)                                     # just inside
    add(1, (gap - 1) + gap)                             # exactly AT gap -> split
    add(2, 5)                                           # single event
    for i in range(10):
        add(3, i * (gap - 1))                           # one long session
    for i in range(6):
        add(4, i * gap * 2)                             # all separate
    add(5, 100); add(5, 100); add(5, 100 + gap)         # tie then boundary
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")

    a = [tuple(r) for r in sessionize_arrayfold(df, gap).collect()]
    b = [tuple(r) for r in sessionize_islands(df, gap).collect()]
    assert a == b
    assert sum(r[2] for r in a) == len(rows)
    by_user = {}
    for uid, _start, n in a:
        by_user.setdefault(uid, []).append(n)
    assert by_user[1] == [4, 1]   # ties+just-inside merge; at-gap splits
    assert by_user[2] == [1]
    assert by_user[3] == [10]
    assert by_user[4] == [1] * 6
    assert by_user[5] == [2, 1]


def test_knn_missing_probe_raises(spark, sf_dir):
    """r8 adversarial pass: a nonexistent probe vec_id must raise, not
    return an empty frame indistinguishable from 'no neighbors'."""
    import pytest

    from lens_warehouse_spark.engine import LensWarehouse

    lw = LensWarehouse(spark, sf_dir)
    with pytest.raises(KeyError, match="not found"):
        lw.knn(query_vec_id=10**12)


def test_synth_source_rejects_bad_options(spark):
    """r8 adversarial pass: malformed reader options fail with a
    message naming the option, planner-side."""
    import pytest

    from lens_warehouse_spark.sources import _register_synth_source

    _register_synth_source(spark)
    with pytest.raises(Exception, match="partitions must be >= 1"):
        spark.read.format("lws_synth").option("rows", 10).option(
            "partitions", 0
        ).load().collect()
    with pytest.raises(Exception, match="rows must be >= 0"):
        spark.read.format("lws_synth").option("rows", -1).load().collect()
