"""Vector-op property tests: spherical k-means convergence (SURVEY.md
§5 model — semantics of seeded/iterative ops are property-tested where
value-level oracles can't apply)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lens_warehouse_spark.catalog import table
from lens_warehouse_spark.llm.vector import (
    N_CELLS,
    _ivf_assign,
    _seed_codebook,
    mean_best_affinity,
    train_codebook,
    update_centroids,
)

SF = "/root/testdata/sf0.001"


def test_spherical_kmeans_objective_monotone(spark):
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cb = _seed_codebook(emb)
    prev = mean_best_affinity(emb, cb)
    for _ in range(3):
        cb = update_centroids(_ivf_assign(emb, cb)).localCheckpoint()
        cur = mean_best_affinity(emb, cb)
        # assignment rounds affinities to 6 decimals for tie-breaks, so
        # allow that much slack on the otherwise-guaranteed monotonicity
        assert cur >= prev - 1e-5
        prev = cur


def test_trained_codebook_unit_norm(spark):
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cb = train_codebook(emb, iters=2)
    norms = cb.select(
        F.sqrt(
            F.aggregate(
                F.transform("centroid", lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("n")
    ).collect()
    assert all(abs(r.n - 1.0) < 1e-9 for r in norms)
    assert cb.count() <= N_CELLS


def test_trained_ivf_query_shape(spark):
    from lens_warehouse_spark.llm.vector import ann_ivf_trained_search

    out = ann_ivf_trained_search(spark, SF)
    rows = out.collect()
    assert out.columns == ["query_id", "neighbor_id", "rn", "cos"]
    # top-3 per probe, probes are vec_id < 5
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rn)
    for q, rns in per_q.items():
        assert q < 5
        assert sorted(rns) == list(range(1, len(rns) + 1))


def test_trained_ivf_certified_contract(spark):
    """r11: the registered l3f query is the certified training contract —
    every certificate boolean must hold at the smoke SF, and there must
    be exactly one row per embedding."""
    from lens_warehouse_spark.catalog import table
    from lens_warehouse_spark.registry import QUERIES, load_all

    load_all()
    pdf = QUERIES["l3f_ann_ivf_trained"](spark, SF).toPandas()
    assert len(pdf) == table(spark, SF, "embeddings").count()
    for col in (
        "nearest_ok",
        "objective_monotone_ok",
        "unit_norm_ok",
        "k_bounded_ok",
    ):
        assert pdf[col].all(), col


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe candidates are a superset of single-probe candidates,
    so recall@3 against the exact top-3 can only improve."""
    from lens_warehouse_spark.registry import QUERIES, load_all

    load_all()
    exact = QUERIES["l3b_knn_batch"](spark, SF).collect()
    single = QUERIES["l3c_ann_lsh"](spark, SF).collect()
    multi = QUERIES["l3g_ann_lsh_multiprobe"](spark, SF).collect()

    def top(rows):
        out = {}
        for r in rows:
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    ex, si, mu = top(exact), top(single), top(multi)
    rec_s = sum(len(si.get(q, set()) & ex[q]) for q in ex) / sum(
        len(v) for v in ex.values()
    )
    rec_m = sum(len(mu.get(q, set()) & ex[q]) for q in ex) / sum(
        len(v) for v in ex.values()
    )
    assert rec_m >= rec_s
    # candidate-set dominance per query: every single-probe hit appears
    # in the multi-probe result unless displaced by a >= scoring one
    for q in si:
        assert len(mu.get(q, set())) >= len(si[q])


def test_ivf_multiprobe_recall_dominates(spark):
    """nprobe=2 (l3i) candidate cells strictly contain nprobe=1's (l3e),
    so measured recall against the exact top-3 must not decrease."""
    from lens_warehouse_spark.registry import QUERIES

    exact = QUERIES["l3b_knn_batch"](spark, SF).collect()
    ivf1 = QUERIES["l3e_ann_ivf"](spark, SF).collect()
    ivf2 = QUERIES["l3i_ann_ivf_multiprobe"](spark, SF).collect()

    def top(rows, k=3):
        out = {}
        for r in rows:
            if r.rn <= k:
                out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    ex, p1, p2 = top(exact), top(ivf1), top(ivf2)
    hits1 = sum(len(p1.get(q, set()) & ex[q]) for q in ex)
    hits2 = sum(len(p2.get(q, set()) & ex[q]) for q in ex)
    assert hits2 >= hits1


def test_ann_recall_query_consistent_with_manual(spark):
    """l3h's (k, hits) must equal a hand-computed intersection of the
    l3e result with the exact batch top-3."""
    from lens_warehouse_spark.registry import QUERIES

    got = {r.query_id: r.hits for r in QUERIES["l3h_ann_recall"](spark, SF).collect()}
    exact = QUERIES["l3b_knn_batch"](spark, SF).collect()
    ivf = QUERIES["l3e_ann_ivf"](spark, SF).collect()
    ex, iv = {}, {}
    for r in exact:
        if r.rn <= 3:
            ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ivf:
        iv.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q in ex:
        assert got[q] == len(ex[q] & iv.get(q, set()))


def test_mmr_rerank_greedy_chain_matches_numpy(spark):
    """Re-derive the INTEGER MMR greedy chain in numpy from the exact
    top-20 pool (r12 certified contract: rel/sims quantized to 1e-6
    ints, score10_q6 = 7*rel_q6 - 3*max(sim_q6 over chosen)) and check
    the operator returns exactly that chain, ranks, and scores."""
    import numpy as np

    from lens_warehouse_spark.llm.vector import l3j_mmr_rerank
    from lens_warehouse_spark.catalog import table

    sf = "/root/testdata/sf0.01"
    out = l3j_mmr_rerank(spark, sf).collect()
    assert [r["mmr_rank"] for r in out] == [1, 2, 3, 4, 5]
    assert len({r["vec_id"] for r in out}) == 5

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in table(spark, sf, "embeddings").collect()
    }
    q = emb[0]
    rel = {v: round(float(q @ e), 6) for v, e in emb.items() if v != 0}
    pool = sorted(rel, key=lambda v: (-rel[v], v))[:20]
    rel_q6 = {v: int(round(rel[v] * 1e6)) for v in pool}
    sim_q6 = {
        (a, b): int(round(round(float(emb[a] @ emb[b]), 6) * 1e6))
        for a in pool
        for b in pool
        if a != b
    }
    chosen: list[int] = []
    scores: list[int] = []
    for _ in range(5):
        best, best_s = None, None
        for v in pool:
            if v in chosen:
                continue
            pen = max((sim_q6[(v, c)] for c in chosen), default=0)
            s = 7 * rel_q6[v] - 3 * pen
            if best is None or s > best_s or (s == best_s and v < best):
                best, best_s = v, s
        chosen.append(best)
        scores.append(best_s)
    assert [r["vec_id"] for r in out] == chosen
    assert [r["score10_q6"] for r in out] == scores
    # rel passes through unquantized (round-6 double, the l3 convention)
    for r in out:
        assert r["rel"] == rel[r["vec_id"]]


def test_semantic_dedup_trained_agrees_with_seeded(spark):
    """l29b (trained codebook) vs l29 (deterministic seed cells): both
    approximate 'has a near neighbor somewhere in the corpus', so their
    duplicate sets must substantially agree; the trained cells are
    tighter, so l29b should co-locate at least as many near-dup pairs."""
    from lens_warehouse_spark.registry import QUERIES

    a = {r.dup_vec_id for r in QUERIES["l29_semantic_dedup"](spark, SF).collect()}
    b = {
        r.dup_vec_id
        for r in QUERIES["l29b_semantic_dedup_trained"](spark, SF).collect()
    }
    assert a and b
    jacc = len(a & b) / len(a | b)
    assert jacc >= 0.5, f"trained/seeded dedup agreement collapsed: {jacc:.3f}"
    assert len(b) >= 0.8 * len(a), (len(a), len(b))


def test_semantic_dedup_trained_is_sound(spark):
    """No false positives: every (dup, rep) pair l29b reports must
    recompute to cosine >= tau on the raw embeddings, and rep < dup."""
    from lens_warehouse_spark.llm.vector import _SEMDEDUP_TAU, dot
    from lens_warehouse_spark.registry import QUERIES

    out = QUERIES["l29b_semantic_dedup_trained"](spark, SF)
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    checked = (
        out.join(emb.withColumnRenamed("vec_id", "dup_vec_id"), "dup_vec_id")
        .withColumnRenamed("embedding", "d_emb")
        .join(
            emb.withColumnRenamed("vec_id", "rep_vec_id").withColumnRenamed(
                "embedding", "r_emb"
            ),
            "rep_vec_id",
        )
        .select(
            "dup_vec_id",
            "rep_vec_id",
            F.round(dot("d_emb", "r_emb"), 6).alias("cos"),
        )
    )
    bad = checked.filter(
        (F.col("rep_vec_id") >= F.col("dup_vec_id"))
        | (F.col("cos") < _SEMDEDUP_TAU)
    ).count()
    assert bad == 0


def test_mmr_rerank_tiny_pools_match_oracle(spark, tmp_path):
    """r12 review finding #1: with exactly ONE candidate (n_vecs=2) the
    pairwise self-join is empty, and a pairs-only pandas feed emitted
    zero groups — the whole result vanished while the oracle returned
    the single best doc. The left-join feed keeps every candidate
    present; this pins all the tiny-pool shapes against the oracle."""
    import random

    import duckdb

    from lens_warehouse_spark.registry import ORACLES, QUERIES

    rng = random.Random(7)
    for n_vecs in (1, 2, 3, 5):
        d = str(tmp_path / f"v{n_vecs}")
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(n_vecs)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        out = QUERIES["l3j_mmr_rerank"](spark, d).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        orc = con.execute(ORACLES["l3j_mmr_rerank"]).fetchall()
        con.close()
        assert len(out) == len(orc) == max(0, min(n_vecs - 1, 5))
        got = sorted((r.vec_id, r.mmr_rank, r.score10_q6) for r in out)
        exp = sorted((r[0], r[2], r[3]) for r in orc)
        assert got == exp, f"n_vecs={n_vecs}"


def test_train_codebook_zero_iters_returns_seed(spark):
    """r12 review finding #4: lloyd_iterates(iters=0) must return the
    deterministic lowest-vec_id seed codebook (the pre-refactor loop
    ran zero times), not raise KeyError."""
    from lens_warehouse_spark.llm.vector import N_CELLS, train_codebook
    from lens_warehouse_spark.catalog import table

    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cb = train_codebook(emb, k=N_CELLS, iters=0).collect()
    seed = {
        r.vec_id: list(r.embedding)
        for r in emb.filter(F.col("vec_id") < N_CELLS).collect()
    }
    assert {r.cell_id: list(r.centroid) for r in cb} == seed
