"""Regression tests for the sequence(1, 0)-descending hazard: Spark's
``sequence(start, stop)`` silently produces a DESCENDING array when the
computed stop falls below start, so shingle/n-gram expressions built as
``transform(sequence(1, size - k), i -> slice(...))`` crash (slice/
element_at at index 0) on documents shorter than the gram length — one
no-space document would abort a whole corpus query. Every gram surface
must emit NOTHING for short docs (matching the DuckDB oracles' range(),
which is empty when stop < start).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SHORT_DOCS = [
    # (doc_id, text, lang, source, n_chars) — includes 1-token and
    # 2-token docs that crashed the unguarded gram expressions.
    (1, "solo", "en", "web", 4),
    (2, "two tokens", "en", "web", 10),
    (3, "three token doc", "de", "web", 15),
    (4, "a full five word document here", "en", "web", 30),
    (5, "ein anderes langes dokument mit vielen tokens", "de", "web", 45),
]


@pytest.fixture(scope="module")
def short_sf_dir(spark, tmp_path_factory):
    """A miniature sf_dir whose documents table contains degenerate
    (1- and 2-token) documents, served through the same parquet path
    the registered queries read."""
    d = tmp_path_factory.mktemp("short_sf")
    docs = spark.createDataFrame(
        SHORT_DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(d), "documents.parquet")
    )
    return str(d)


def test_word_ngrams_short_docs_emit_none(spark):
    from lens_warehouse_spark.llm.curation import word_ngrams

    docs = spark.createDataFrame(
        [(i, t) for i, t, *_ in SHORT_DOCS], "doc_id long, text string"
    )
    out = word_ngrams(docs, 5)
    rows = out.collect()
    # only the two >= 5-token docs produce grams; nothing crashes
    assert {r.doc_id for r in rows} == {4, 5}
    assert all(len(r.gram.split(" ")) == 5 for r in rows)


def test_l7b_bigrams_survive_single_token_doc(spark, short_sf_dir):
    from lens_warehouse_spark import registry

    registry.load_all()
    rows = registry.QUERIES["l7b_bigrams"](spark, short_sf_dir).collect()
    bigrams = {r.bigram for r in rows}
    assert "two tokens" in bigrams
    # a lone token must never be counted as a bigram
    assert "solo" not in bigrams


def test_l21_lm_score_survives_single_token_doc(spark, short_sf_dir):
    from lens_warehouse_spark import registry

    registry.load_all()
    rows = registry.QUERIES["l21_bigram_lm_score"](spark, short_sf_dir).collect()
    # doc 1 ("solo") has no bigrams -> absent; others present
    assert {r.doc_id for r in rows} == {2, 3, 4, 5}


def test_curation_queries_survive_short_docs(spark, short_sf_dir):
    """The gram-based curation surfaces must run (not crash) on a corpus
    containing sub-gram-length documents."""
    from lens_warehouse_spark import registry

    registry.load_all()
    for name in (
        "l16_decontamination",
        "l17_repetition_filter",
        "l20_curation_pipeline",
    ):
        registry.QUERIES[name](spark, short_sf_dir).collect()


def test_l9_single_language_corpus(spark, tmp_path_factory):
    """A corpus whose non-null langs collapse to ONE value must still
    classify (greatest() needs two columns; the single-lang path must
    not call it), and NULL-lang docs train nothing."""
    from lens_warehouse_spark import registry

    registry.load_all()
    d = tmp_path_factory.mktemp("one_lang_sf")
    rows = [
        (1, "hello world common words", "en", "web", 24),
        (2, "hello again world words", "en", "web", 23),
        (3, "hello world more words", None, "web", 22),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(d), "documents.parquet")
    )
    out = registry.QUERIES["l9_language_id"](spark, str(d)).collect()
    preds = {r.doc_id: r.pred_lang for r in out}
    assert preds == {1: "en", 2: "en", 3: "en"}


def test_l9_label_vocabulary_paths_agree(spark, short_sf_dir, monkeypatch):
    """r14 opt round: the driver-side pyarrow label read replaced the
    Spark distinct+collect job inside l9's plan construction. Both
    paths must return the identical sorted non-null label list on the
    same sf_dir (the row gate picks between them; semantics may not
    depend on which fires)."""
    from lens_warehouse_spark.llm import textstats as ts

    fast = ts._label_vocabulary(spark, short_sf_dir)
    monkeypatch.setattr(ts, "_LABEL_SCAN_ROW_LIMIT", -1)  # force Spark path
    slow = ts._label_vocabulary(spark, short_sf_dir)
    assert fast == slow
    assert fast == sorted(set(fast))
    assert None not in fast and fast  # non-null, non-empty on this corpus


def test_l28_arrow_chunker_matches_lambda_on_adversarial_spacing(spark):
    """The l28 chunk strings are built by an Arrow pandas_udf (measured
    -28% at 100x, `git show ce9889a:tools/ab_l28.py`); its contract is EXACT equality with
    the interpreted concat_ws(slice(tokens, ...)) form — split+join on
    ' ' is an identity, so chunks are the original text cut at every
    Nth space. Guard the edge cases a chunker gets wrong: empty text,
    lone/double/trailing/leading spaces, exact chunk boundaries, and a
    NULL text (split(NULL) semantics)."""
    from lens_warehouse_spark.llm.curation import _L28_N, _chunk_strings_arrow

    n = _L28_N
    texts = [
        (0, ""),
        (1, " "),
        (2, "a  b"),
        (3, "a b "),
        (4, " leading space"),
        (5, " ".join(f"t{i}" for i in range(n))),
        (6, " ".join(f"t{i}" for i in range(n + 1))),
        (7, " ".join(f"t{i}" for i in range(3 * n))),
        (8, "x  " * 5),
        (9, None),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string").withColumn(
        "__t", F.split("text", " ")
    )
    lam = F.expr(
        f"transform(sequence(0, CAST(ceil(size(__t) / {n}.0) AS INT) - 1),"
        f" i -> concat_ws(' ', slice(__t, i * {n} + 1, {n})))"
    )
    rows = df.select(
        "doc_id",
        lam.alias("want"),
        _chunk_strings_arrow()("text").alias("got"),
    ).collect()
    for r in rows:
        assert r.got == r.want, f"doc {r.doc_id}: {r.got!r} != {r.want!r}"


def test_l28_all_four_plan_tiers_agree(spark, tmp_path, monkeypatch):
    """l28 routes between four physical plans by measured size: tier 1
    (small corpus: single-job broadcast mark-join + lambda chunker),
    tier 2a (collected boiler as a JVM literal array), tier 2b
    (collected boiler via sparkContext.broadcast + numpy searchsorted
    UDF), tier 3 (shuffle mark-join + Arrow chunker, no collect). Only
    tier 1 fires on CI-sized data, so force each route via the gate
    constants and assert EXACT output equality. Corpus plants: a
    boilerplate chunk in >=3 docs (removed), the same chunk TWICE in
    one doc (per-occurrence n_removed), a doc that is ALL boilerplate
    (clean_md5 == md5('')), adversarial spacing, short docs, and a doc
    with no boilerplate."""
    import hashlib
    import os

    from lens_warehouse_spark import registry
    from lens_warehouse_spark.llm import curation

    n = curation._L28_N
    boiler = " ".join(f"b{i}" for i in range(n))  # one exact chunk
    rows = [
        (1, boiler + " " + "u1 " * (n - 1) + "tail1"),
        (2, boiler + " " + boiler + " unique2"),  # boiler twice
        (3, boiler),  # all boilerplate
        (4, " ".join(f"c{i}" for i in range(2 * n + 3)) + " " + boiler),
        (5, "a  b   c " + " x" * n),  # adversarial spacing
        (6, "solo"),
        (7, ""),
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    q = registry.QUERIES["l28_boilerplate_scrub"]
    tier1 = q(spark, d).collect()
    monkeypatch.setattr(curation, "_L28_SMALL_DOCS", 0)
    tier2_lit = q(spark, d).collect()
    monkeypatch.setattr(curation, "_L28_LIT_MAX", 0)
    tier2_udf = q(spark, d).collect()
    monkeypatch.setattr(curation, "_L28_BC_MAX", 0)
    tier3 = q(spark, d).collect()

    assert (
        [tuple(r) for r in tier1]
        == [tuple(r) for r in tier2_lit]
        == [tuple(r) for r in tier2_udf]
        == [tuple(r) for r in tier3]
    )
    by_id = {r.doc_id: r for r in tier1}
    assert by_id[3].n_kept == 0 and by_id[3].n_removed == 1
    assert by_id[3].clean_md5 == hashlib.md5(b"").hexdigest()
    assert by_id[2].n_removed == 2  # per-occurrence counting
    assert by_id[6].n_removed == 0


def test_l28_broadcast_cache_bounded(spark):
    """r7 advisor: tier-2b must not leak one broadcast per invocation.
    The cache holds exactly ONE live broadcast; same hash set -> same
    object, different set -> predecessor unpersisted and replaced."""
    import numpy as np

    from lens_warehouse_spark.llm import curation

    curation._L28_BC_CACHE.clear()
    a = np.array([3, 1, 2], dtype=np.int64)
    b1 = curation._l28_cached_broadcast(spark, a)
    b2 = curation._l28_cached_broadcast(spark, a.copy())
    assert b1 is b2  # content-keyed reuse
    b3 = curation._l28_cached_broadcast(
        spark, np.array([9, 9], dtype=np.int64)
    )
    assert b3 is not b1
    assert len(curation._L28_BC_CACHE) == 1  # predecessor evicted
    assert list(b3.value) == [9, 9]


def test_l28_build_is_lazy(spark, tmp_path, monkeypatch):
    """r8 verdict #6: constructing the big-corpus l28 plan must trigger
    ZERO Spark jobs — the tier-routing probe (a real corpus aggregation
    no metadata-only statistic can replace) runs on the FIRST ACTION
    via the _DeferredFrame proxy, not at DataFrame build. Asserted two
    ways: the factored probe hook is not called, and the build launches
    no MORE jobs than a bare table() scan build does (spark.read.parquet
    itself runs one footer/schema-inference job — inherent to every
    query build, not part of the probe)."""
    from lens_warehouse_spark import registry
    from lens_warehouse_spark.catalog import table
    from lens_warehouse_spark.llm import curation

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(5)]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    monkeypatch.setattr(curation, "_L28_SMALL_DOCS", 0)  # force big-corpus path
    probes = []
    real_probe = curation._l28_probe_boiler
    monkeypatch.setattr(
        curation,
        "_l28_probe_boiler",
        lambda b: probes.append(1) or real_probe(b),
    )

    sc = spark.sparkContext
    try:
        sc.setJobGroup("l28_lazy_base", "bare table scan build")
        table(spark, d, "documents")
        base_jobs = len(sc.statusTracker().getJobIdsForGroup("l28_lazy_base"))
        sc.setJobGroup("l28_lazy_build", "build must be probe-free")
        df = registry.QUERIES["l28_boilerplate_scrub"](spark, d)
        build_jobs = len(sc.statusTracker().getJobIdsForGroup("l28_lazy_build"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert probes == [], "routing probe ran at build time"
    assert build_jobs <= base_jobs, (
        f"build launched {build_jobs} jobs vs {base_jobs} for a bare scan"
    )

    assert df.count() == 5  # first action routes + executes
    assert probes == [1]
    assert df.columns == ["doc_id", "n_kept", "n_removed", "clean_md5"]
