"""Invariants for l35 PageRank centrality.

The registered l35 query is a certified contract (oracle-exact graph
columns + floor/contraction/mass certificates); the full rank surface
is ``pagerank_ranks``, whose invariants are checked here. The
certificate booleans are additionally pinned TRUE at the smoke SF so a
certificate regression fails fast in-suite, not only at driver time.
"""

from __future__ import annotations

import pytest

from lens_warehouse_spark.catalog import table
from lens_warehouse_spark.llm.vector import (
    _ivf_assign,
    _seed_codebook,
    knn_edges,
    pagerank_iterates,
    pagerank_ranks,
)
from lens_warehouse_spark.registry import QUERIES
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def pr(spark):
    return pagerank_ranks(spark, SF_SMOKE).toPandas()


@pytest.fixture(scope="module")
def cert(spark):
    return QUERIES["l35_pagerank_centrality"](spark, SF_SMOKE).toPandas()


def test_rank_floor_and_mass(pr):
    # teleport floor: every node keeps at least (1 - d)
    assert (pr["rank"] >= 0.15 - 1e-9).all()
    # total mass <= n (dangling singleton cells leak mass, never create it)
    assert pr["rank"].sum() <= len(pr) + 1e-6


def test_deterministic(spark, pr):
    again = pagerank_ranks(spark, SF_SMOKE).toPandas()
    assert pr.sort_values("vec_id").reset_index(drop=True).equals(
        again.sort_values("vec_id").reset_index(drop=True)
    )


def test_cell_rank_is_dense_per_cell(pr):
    for _cell, grp in pr.groupby("cell_id"):
        assert sorted(grp["cell_rank"]) == list(range(1, len(grp) + 1))


def test_certified_contract_booleans_hold(cert):
    assert cert["floor_ok"].all()
    assert cert["contraction_ok"].all()
    assert cert["mass_ok"].all()


def test_certified_degrees_match_edge_list(spark, cert):
    """out_deg/in_deg in the contract must equal the kNN edge list's
    actual degrees (the same numbers the DuckDB oracle recomputes)."""
    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    codebook = _seed_codebook(emb)
    edges = knn_edges(_ivf_assign(emb, codebook)).toPandas()
    out_deg = edges.groupby("src").size()
    in_deg = edges.groupby("dst").size()
    for row in cert.itertuples():
        assert row.out_deg == out_deg.get(row.vec_id, 0)
        assert row.in_deg == in_deg.get(row.vec_id, 0)
    # out-degree bounded by k=3 (kNN fan-out)...
    assert (cert["out_deg"] <= 3).all()
    # ...and every node sharing its cell with at least one other node
    # has somewhere to point, so its out-degree is >= 1.
    assigned = _ivf_assign(emb, codebook).toPandas()
    cell_sizes = assigned.groupby("cell_id").size()
    node_cell = assigned.set_index("vec_id")["cell_id"]
    for row in cert.itertuples():
        if cell_sizes[node_cell[row.vec_id]] > 1:
            assert row.out_deg >= 1, (
                f"node {row.vec_id} shares a cell but has out_deg 0"
            )


def test_power_iteration_converges(spark):
    """Successive-iterate delta must shrink (power iteration contracts)."""
    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    codebook = _seed_codebook(emb)
    assigned = _ivf_assign(emb, codebook)
    edges = knn_edges(assigned)
    nodes = assigned.select("vec_id")
    it = pagerank_iterates(edges, nodes, 16, keep={5, 6, 15, 16})
    assert set(it) == {5, 6, 15, 16}
    r5, r6, r15, r16 = (
        it[i].toPandas().set_index("vec_id")["rank"] for i in (5, 6, 15, 16)
    )
    early = (r6 - r5).abs().sum()
    late = (r16 - r15).abs().sum()
    # geometric contraction: measured per-iteration factor ~0.62 on this
    # graph, so ten extra iterations shrink the delta ~100x
    assert late < early / 4
    assert late < 0.2
