"""Similarity search L3/L4 (SURVEY.md §2.10) over the ``embeddings``
table (dim=64, unit-normalized -> cosine ≡ dot product).

Brute-force exact kNN is the baseline: a guarded cross join + window
top-k. The scale path is random-hyperplane LSH: 8 seeded ±1 hyperplanes
bucket vectors into 256 cells so the candidate join is
bucket-co-located instead of quadratic. At 100 TB the bucketed join
shuffles O(n) rows once; the exact path exists for verification and
small probe sets.

Precision discipline: all dot products are computed in DOUBLE on both
engines (float32 accumulation drifts at 1e-7 — verified against
DuckDB's ``list_dot_product``, which returns FLOAT and is therefore NOT
used in oracles). Ranks order by round(dot, 6) with vec_id tiebreaks.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lens_warehouse_spark.catalog import table
from lens_warehouse_spark.operators._helpers import pin
from lens_warehouse_spark.registry import register

# Spark-side exact double dot product of two array<float> columns.
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
)

# DuckDB-side equivalent (list_dot_product returns FLOAT -> not used).
_DOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)


def dot(a: str, b: str) -> Column:
    return F.expr(_DOT.format(a=a, b=b))


# ---------------------------------------------------------------------------
# L3: exact cosine top-k for one query vector (vec_id = 0).
# ---------------------------------------------------------------------------
@register(
    "l3_knn_exact",
    oracle=f"""
SELECT b.vec_id, b.label, round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cos
FROM embeddings a JOIN embeddings b ON b.vec_id > 0
WHERE a.vec_id = 0
ORDER BY cos DESC, b.vec_id
LIMIT 10
""",
)
def l3_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cand = emb.filter(F.col("vec_id") > 0)
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(dot("q_emb", "embedding"), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# L3b: batched exact top-k per query (queries = vec_id < 5, broadcast).
# ---------------------------------------------------------------------------
@register(
    "l3b_knn_batch",
    oracle=f"""
SELECT query_id, neighbor_id, rn, cos
FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cos,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) DESC, b.vec_id
         ) AS rn
  FROM embeddings a JOIN embeddings b ON b.vec_id >= 5
  WHERE a.vec_id < 5
) WHERE rn <= 3
ORDER BY query_id, rn
""",
)
def l3b_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cand = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(dot("q_emb", "embedding"), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "rn", "cos")
        .orderBy("query_id", "rn")
    )


# ---------------------------------------------------------------------------
# L4: kNN classification — majority label of the 5 nearest neighbors.
# ---------------------------------------------------------------------------
@register(
    "l4_knn_classify",
    oracle=f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, a.label AS true_label, b.label AS nb_label,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) DESC, b.vec_id
         ) AS rn
  FROM embeddings a JOIN embeddings b ON b.vec_id >= 20
  WHERE a.vec_id < 20
), votes AS (
  SELECT query_id, true_label, nb_label, count(*) AS n
  FROM scored WHERE rn <= 5
  GROUP BY query_id, true_label, nb_label
), ranked AS (
  SELECT query_id, true_label, nb_label,
         row_number() OVER (
           PARTITION BY query_id ORDER BY n DESC, nb_label
         ) AS vr
  FROM votes
)
SELECT query_id, nb_label AS pred_label, true_label
FROM ranked WHERE vr = 1
ORDER BY query_id
""",
)
def l4_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
    )
    cand = emb.filter(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nb_label"),
        "embedding",
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        "query_id",
        "true_label",
        "nb_label",
        "neighbor_id",
        F.round(dot("q_emb", "embedding"), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    votes = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("query_id", "true_label", "nb_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vw = Window.partitionBy("query_id").orderBy(F.col("n").desc(), "nb_label")
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("nb_label").alias("pred_label"), "true_label")
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# L3c: ANN via random-hyperplane LSH (seeded ±1 planes -> 256 buckets).
# Rows-only (bucketing is seed-specific); recall property-tested.
# ---------------------------------------------------------------------------
N_PLANES = 8
_rng = random.Random(42)
PLANES: list[list[float]] = [
    [float(_rng.choice((-1, 1))) for _ in range(64)] for _ in range(N_PLANES)
]


def lsh_bucket(emb_col: str) -> Column:
    """Pack sign bits of <v, plane_i> into an int bucket id."""
    out: Column | None = None
    for i, plane in enumerate(PLANES):
        proj = F.expr(
            _DOT.format(a=emb_col, b=f"array({', '.join(str(v) for v in plane)})")
        )
        bit = (proj > 0).cast("long") * F.lit(2**i)
        out = bit if out is None else out + bit
    return out


@register("l3c_ann_lsh")
def l3c_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 same-bucket neighbors for query vectors vec_id < 5."""
    return ann_lsh(spark, sf_dir, k=3, multiprobe=False)


def ann_lsh(
    spark: SparkSession, sf_dir: str, k: int = 3, multiprobe: bool = False
) -> DataFrame:
    """Parameterized hyperplane-LSH ANN (the shared plan behind l3c and
    l3g, and the engine facade's ``ann(k)``): probe vectors vec_id < 5
    against same-bucket candidates, optionally multi-probing the
    N_PLANES buckets at Hamming distance 1. The registered queries pin
    k=3 for their oracles; the facade threads any k through — the top-k
    filter must live HERE, not above a fixed rn <= 3, or a facade
    k > 3 silently returns 3."""
    emb = table(spark, sf_dir, "embeddings").withColumn(
        "bucket", lsh_bucket("embedding")
    )
    if multiprobe:
        probe_buckets = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(2**i)) for i in range(N_PLANES)],
        )
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(probe_buckets).alias("q_bucket"),
        )
    else:
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("bucket").alias("q_bucket"),
        )
    cand = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "bucket"
    )
    # No dedup needed even multiprobe: a candidate carries ONE bucket
    # value and a query's probe buckets are pairwise distinct, so each
    # (query, neighbor) pair matches at most one probe row.
    scored = cand.join(
        F.broadcast(q), F.col("bucket") == F.col("q_bucket")
    ).select(
        "query_id", "neighbor_id", F.round(dot("q_emb", "embedding"), 6).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .orderBy("query_id", "rn")
    )


# ---------------------------------------------------------------------------
# L3d: embedding norms (sanity surface for the unit-norm invariant).
# ---------------------------------------------------------------------------
@register(
    "l3d_embedding_norms",
    oracle=f"""
SELECT vec_id, label,
       round(sqrt({_DOT_SQL.format(a='embedding', b='embedding')}), 4) AS norm
FROM embeddings
""",
)
def l3d_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.round(F.sqrt(dot("embedding", "embedding")), 4).alias("norm"),
    )


# ---------------------------------------------------------------------------
# L2d: embedding-cosine near-duplicate detection — pairs above a high
# cosine threshold. Exact quadratic formulation (oracle-able), so like
# l2b the corpus is BOUNDED (vec_id < 2000): the broadcast side must
# stay under the 8 GB broadcast limit at any SF, and an unbounded
# all-pairs join is never the 100 TB path anyway — at scale the same
# verify runs on LSH-bucketed (l3c) or IVF-cell-bounded (l29)
# candidates instead of all pairs. The threshold compares the ROUNDED
# cosine (round 6), matching l29/_cell_bounded_dedup's discipline:
# comparing unrounded float sums across engines is a boundary coin
# flip.
# ---------------------------------------------------------------------------
@register(
    "l2d_embedding_neardup",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 2000 AND b.vec_id < 2000
  AND round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) >= 0.45
ORDER BY vec_a, vec_b
""",
)
def l2d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 2000)  # bounded quadratic baseline
        .select("vec_id", "embedding")
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    d = F.round(dot("ea", "eb"), 6)
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .filter(d >= 0.45)
        .select("vec_a", "vec_b", d.alias("cos"))
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# L3e: IVF-style ANN — coarse quantization against a deterministic
# codebook (the embeddings of vec_id < 16 serve as fixed centroids), then
# exact search within the probed cell. Fully relational and
# oracle-checkable because the codebook is data-deterministic; a trained
# k-means codebook swaps in without changing the plan shape.
# ---------------------------------------------------------------------------
N_CELLS = 16


def _seed_codebook(emb: DataFrame, k: int = N_CELLS) -> DataFrame:
    """The deterministic codebook: the k lowest vec_ids are the centroids."""
    return emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )


def _ivf_rank(emb: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell_id, aff, rn): every cell ranked per
    vector by round-6 affinity, ties to the lower cell_id."""
    scored = emb.crossJoin(F.broadcast(codebook)).select(
        "vec_id",
        "embedding",
        "cell_id",
        F.round(dot("embedding", "centroid"), 6).alias("aff"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("aff").desc(), "cell_id")
    return scored.withColumn("rn", F.row_number().over(w))


def _ivf_assign(emb: DataFrame, codebook: DataFrame) -> DataFrame:
    """Assign each vector to its max-dot centroid (cell)."""
    return (
        _ivf_rank(emb, codebook)
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cell_id")
    )


def _probe_top3(probes: DataFrame, cands: DataFrame) -> DataFrame:
    """Top-3 same-cell neighbours per probe: probes (query_id, q_emb,
    q_cell) broadcast against cands (neighbor_id, embedding, cell_id)."""
    scored = cands.join(
        F.broadcast(probes), F.col("cell_id") == F.col("q_cell")
    ).select(
        "query_id", "neighbor_id", F.round(dot("q_emb", "embedding"), 6).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "rn", "cos")
        .orderBy("query_id", "rn")
    )


def _ivf_search(assigned: DataFrame) -> DataFrame:
    """Single-probe IVF search: vec_id < 5 query their own cell's
    vec_id >= 5 members."""
    probes = assigned.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("cell_id").alias("q_cell"),
    )
    cands = assigned.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "cell_id"
    )
    return _probe_top3(probes, cands)


@register(
    "l3e_ann_ivf",
    oracle=f"""
WITH codebook AS (
  SELECT vec_id AS cell_id, embedding AS centroid FROM embeddings WHERE vec_id < {N_CELLS}
), assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_DOT_SQL.format(a='e.embedding', b='c.centroid')}, 6) DESC, c.cell_id
           ) AS rn
    FROM embeddings e CROSS JOIN codebook c
  ) WHERE rn = 1
), probes AS (
  SELECT * FROM assigned WHERE vec_id < 5
), cands AS (
  SELECT * FROM assigned WHERE vec_id >= 5
)
SELECT query_id, neighbor_id, rn, cos FROM (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='p.embedding', b='c.embedding')}, 6) AS cos,
         row_number() OVER (
           PARTITION BY p.vec_id
           ORDER BY round({_DOT_SQL.format(a='p.embedding', b='c.embedding')}, 6) DESC, c.vec_id
         ) AS rn
  FROM probes p JOIN cands c ON p.cell_id = c.cell_id
) WHERE rn <= 3
ORDER BY query_id, rn
""",
)
def l3e_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _ivf_search(pin("l3e.ivf_assigned", _ivf_assign(emb, _seed_codebook(emb))))


# ---------------------------------------------------------------------------
# L3f: k-means codebook training (Lloyd's iterations) for IVF — the
# "trained codebook swaps in" path promised by l3e. Each iteration is
# one assign (broadcast cross-score + per-vector argmax) and one update
# (per-cell, per-dimension mean); localCheckpoint() truncates lineage so
# the plan stays flat across iterations — the standard Spark iterative-
# algorithm discipline. Rows-only: centroid means are float sums whose
# partial-aggregation order is nondeterministic; convergence properties
# are asserted in tests instead (inertia non-increasing).
# ---------------------------------------------------------------------------
def update_centroids(assigned: DataFrame) -> DataFrame:
    """Spherical k-means update: per-cell dimension-wise SUM, then
    L2-normalize. Under dot-product assignment the objective
    sum(dot(x, c_assigned)) with ||c|| = 1 is non-decreasing — a plain
    mean (without normalization) shrinks centroid norms and breaks the
    guarantee for dot affinity."""
    summed = (
        assigned.select("cell_id", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cell_id", "pos")
        .agg(F.sum("v").alias("m"))
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.m,
            ).alias("raw")
        )
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("raw", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return summed.select(
        "cell_id",
        F.when(
            norm > 0, F.transform("raw", lambda x: x / norm)
        ).otherwise(F.col("raw")).alias("centroid"),
    )


def lloyd_iterates(
    emb: DataFrame,
    k: int = N_CELLS,
    iters: int = 3,
    keep: set[int] | None = None,
) -> dict[int, DataFrame]:
    """THE Lloyd's loop — deterministic lowest-vec_id seed, then
    ``iters`` assign+update rounds, localCheckpoint() truncating lineage
    each round. Returns {i: codebook-after-update-i} for i in ``keep``
    (default: just the final iterate). train_codebook (the
    ann_ivf_trained_search surface) and the certified l3f contract both
    call this, so the codebook certified is the codebook searched."""
    keep = set(keep) if keep else {iters}
    codebook = _seed_codebook(emb, k)
    out: dict[int, DataFrame] = {}
    if 0 in keep:
        # iterate 0 = the seed: engine.train_ivf_codebook accepts iters=0.
        out[0] = codebook
    for i in range(1, iters + 1):
        assigned = _ivf_assign(emb, codebook)
        codebook = update_centroids(assigned).localCheckpoint()
        if i in keep:
            out[i] = codebook
    return out


def train_codebook(
    emb: DataFrame, k: int = N_CELLS, iters: int = 3
) -> DataFrame:
    """Lloyd's k-means under dot-product affinity. Deterministic seed:
    the embeddings of the k lowest vec_ids are the initial centroids."""
    return lloyd_iterates(emb, k=k, iters=iters)[iters]


def best_affinity_objective(emb: DataFrame, codebook: DataFrame) -> DataFrame:
    """One-row frame ``(obj, n)``: the sum over every vector of its
    max-dot affinity to the codebook — the spherical k-means objective
    under dot similarity — and the vector count."""
    scored = emb.crossJoin(F.broadcast(codebook)).select(
        "vec_id", dot("embedding", "centroid").alias("aff")
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.max("aff").alias("best"))
        .agg(F.sum("best").alias("obj"), F.count(F.lit(1)).alias("n"))
    )


def mean_best_affinity(emb: DataFrame, codebook: DataFrame) -> float:
    """Mean max-dot affinity of every vector to its nearest centroid."""
    obj, n = best_affinity_objective(emb, codebook).first()
    return obj / n


def ann_ivf_trained_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full trained-IVF search surface: same probe plan as l3e,
    Lloyd's-trained cells. Unregistered (cell membership rides on float
    centroid means); the registered l3f query below carries the
    certified contract over the training invariants instead."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebook = train_codebook(emb, k=N_CELLS, iters=3)
    return _ivf_search(pin("l3f.ivf_assigned", _ivf_assign(emb, codebook)))


_L3F_ORACLE = f"""
SELECT vec_id,
       round({_DOT_SQL.format(a='embedding', b='embedding')}, 6) AS norm2,
       TRUE AS nearest_ok, TRUE AS objective_monotone_ok,
       TRUE AS unit_norm_ok, TRUE AS k_bounded_ok
FROM embeddings
ORDER BY vec_id
"""


# Certified contract: Lloyd's iterates are float means whose
# partial-aggregation order is engine-specific, so cell membership
# under a TRAINED codebook cannot be hash-matched — but spherical
# k-means has provable invariants, all checkable in-engine, and the
# per-vector input norm is oracle-exact. The registered query emits
# round(<x,x>,6) per vector (DuckDB recomputes it) plus four
# certificates:
#   nearest_ok            per row: the assigned cell's affinity equals
#                         the max affinity over the trained codebook
#                         (re-derived via an independent groupBy-max,
#                         not the assignment's own row_number);
#   objective_monotone_ok global: the spherical k-means objective
#                         (sum of best affinities) after the last
#                         update >= after the first update — both
#                         Lloyd half-steps are monotone once centroids
#                         are unit-normalized (assignment picks the
#                         max-dot centroid; the normalized mean
#                         maximizes the fixed-assignment objective by
#                         Cauchy-Schwarz), with 1e-6-per-vector slack
#                         for the round-6 tie-break quantum the
#                         assignment applies;
#   unit_norm_ok          global: every trained centroid is unit-norm;
#   k_bounded_ok          global: <= N_CELLS cells survive training.
# A broken assign step, a diverging update, or a denormalized centroid
# flips a certificate and hash-fails. The full search surface stays on
# ``ann_ivf_trained_search``; convergence properties remain in
# tests/test_vector.py.
@register("l3f_ann_ivf_trained", oracle=_L3F_ORACLE)
def l3f_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # THE shared Lloyd's loop (lloyd_iterates — same seed/iters as
    # ann_ivf_trained_search's train_codebook), keeping the first and
    # last UPDATED codebooks: the monotone segment starts at the first
    # normalization.
    iters = 3
    codebooks = lloyd_iterates(emb, k=N_CELLS, iters=iters, keep={1, iters})
    cb_last = codebooks[iters]
    assigned = pin("l3f.ivf_assigned_cert", _ivf_assign(emb, cb_last))
    # Independent nearest-cell re-derivation: max affinity per vector
    # via groupBy, compared to the assigned cell's affinity.
    aff_all = emb.crossJoin(F.broadcast(cb_last)).select(
        "vec_id", "cell_id", F.round(dot("embedding", "centroid"), 6).alias("aff")
    )
    best = aff_all.groupBy("vec_id").agg(F.max("aff").alias("best_aff"))
    own = assigned.select("vec_id", "cell_id").join(
        aff_all, ["vec_id", "cell_id"]
    )

    cnorm = F.sqrt(
        F.aggregate(
            F.transform("centroid", lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    cb_certs = cb_last.select(
        (F.abs(cnorm - 1.0) <= 1e-9).alias("_u")
    ).agg(
        # AND across rows == min of the boolean-as-int
        F.min(F.col("_u").cast("int")).cast("boolean").alias("unit_norm_ok"),
        (F.count(F.lit(1)) <= N_CELLS).alias("k_bounded_ok"),
    )
    obj = (
        best_affinity_objective(emb, codebooks[1])
        .select(F.col("obj").alias("obj1"), F.col("n").alias("n1"))
        .crossJoin(
            best_affinity_objective(emb, cb_last).select(F.col("obj").alias("objk"))
        )
        .select(
            (
                F.col("objk")
                >= F.col("obj1") - F.lit(float(iters)) * 1e-6 * F.col("n1")
            ).alias("objective_monotone_ok")
        )
    )
    return (
        emb.select(
            "vec_id",
            F.round(dot("embedding", "embedding"), 6).alias("norm2"),
        )
        .join(own.select("vec_id", "aff"), "vec_id")
        .join(best, "vec_id")
        .crossJoin(F.broadcast(obj))
        .crossJoin(F.broadcast(cb_certs))
        .select(
            "vec_id",
            "norm2",
            (F.col("aff") >= F.col("best_aff") - 1e-9).alias("nearest_ok"),
            "objective_monotone_ok",
            "unit_norm_ok",
            "k_bounded_ok",
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# L3g: multi-probe LSH ANN — each query also probes the N_PLANES buckets
# at Hamming distance 1 (one sign bit flipped). Candidate set is a
# strict superset of l3c's at (N_PLANES+1)x the probe fan-out but the
# same corpus-side layout: at 100 TB, multi-probe buys recall WITHOUT
# re-bucketing or additional hash tables — only the (tiny, broadcast)
# query side explodes. Rows-only (seeded planes); recall dominance over
# single-probe is property-tested.
# ---------------------------------------------------------------------------
@register("l3g_ann_lsh_multiprobe")
def l3g_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh(spark, sf_dir, k=3, multiprobe=True)


# ---------------------------------------------------------------------------
# L3h: ANN quality evaluation — recall@3 of the IVF index (l3e) against
# the exact top-3, per query. This is the operator a 100 TB pipeline
# runs on a sampled probe set after (re)building an index: both sides
# are deterministic (shared rounding + tiebreaks), so unlike most ANN
# surfaces the evaluation itself is fully oracle-able. Integer output
# (k, hits) — recall = hits/k is left to the caller to avoid float
# division parity concerns. At scale the exact side runs on a small
# probe sample (here: the 5 probe vectors) against the corpus, which is
# a broadcast-probe scan, not a quadratic join.
# ---------------------------------------------------------------------------
@register(
    "l3h_ann_recall",
    oracle=f"""
WITH codebook AS (
  SELECT vec_id AS cell_id, embedding AS centroid FROM embeddings WHERE vec_id < {N_CELLS}
), assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_DOT_SQL.format(a='e.embedding', b='c.centroid')}, 6) DESC, c.cell_id
           ) AS rn
    FROM embeddings e CROSS JOIN codebook c
  ) WHERE rn = 1
), probes AS (
  SELECT * FROM assigned WHERE vec_id < 5
), cands AS (
  SELECT * FROM assigned WHERE vec_id >= 5
), ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY round({_DOT_SQL.format(a='p.embedding', b='c.embedding')}, 6) DESC, c.vec_id
           ) AS rn
    FROM probes p JOIN cands c ON p.cell_id = c.cell_id
  ) WHERE rn <= 3
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}, 6) DESC, c.vec_id
           ) AS rn
    FROM embeddings q JOIN embeddings c ON c.vec_id >= 5
    WHERE q.vec_id < 5
  ) WHERE rn <= 3
)
SELECT e.query_id, CAST(3 AS BIGINT) AS k,
       CAST(count(i.neighbor_id) AS BIGINT) AS hits
FROM exact e LEFT JOIN ivf i
  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""",
)
def l3h_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    exact = (
        cands.crossJoin(F.broadcast(probes))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot("q_emb", "embedding"), 6).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    ivf = l3e_ann_ivf(spark, sf_dir).select(
        F.col("query_id").alias("i_query"), F.col("neighbor_id").alias("i_neighbor")
    )
    return (
        exact.join(
            ivf,
            (F.col("query_id") == F.col("i_query"))
            & (F.col("neighbor_id") == F.col("i_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.lit(3).cast("long").alias("k"),
            F.count("i_neighbor").alias("hits"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# L3i: multi-probe IVF — each query probes its TOP-2 affinity cells
# instead of 1. The corpus-side layout is untouched (every vector still
# lives in exactly one cell, so no storage blow-up and no re-bucketing);
# only the tiny broadcast probe side fans out. This is how IVF recall
# is bought at 100 TB: nprobe is a query-time knob, not an index-build
# knob. Fully deterministic (same rounding/tiebreaks as l3e) and
# oracle-able; recall(l3i) >= recall(l3e) by construction since the
# candidate set is a superset — asserted in tests/test_vector.py.
# ---------------------------------------------------------------------------
@register(
    "l3i_ann_ivf_multiprobe",
    oracle=f"""
WITH codebook AS (
  SELECT vec_id AS cell_id, embedding AS centroid FROM embeddings WHERE vec_id < {N_CELLS}
), ranked AS (
  SELECT e.vec_id, e.embedding, c.cell_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round({_DOT_SQL.format(a='e.embedding', b='c.centroid')}, 6) DESC, c.cell_id
         ) AS rn
  FROM embeddings e CROSS JOIN codebook c
), probes AS (
  SELECT vec_id, embedding, cell_id FROM ranked WHERE vec_id < 5 AND rn <= 2
), cands AS (
  SELECT vec_id, embedding, cell_id FROM ranked WHERE vec_id >= 5 AND rn = 1
)
SELECT query_id, neighbor_id, rn, cos FROM (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT_SQL.format(a='p.embedding', b='c.embedding')}, 6) AS cos,
         row_number() OVER (
           PARTITION BY p.vec_id
           ORDER BY round({_DOT_SQL.format(a='p.embedding', b='c.embedding')}, 6) DESC, c.vec_id
         ) AS rn
  FROM probes p JOIN cands c ON p.cell_id = c.cell_id
) WHERE rn <= 3
ORDER BY query_id, rn
""",
)
def l3i_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # ranked feeds BOTH the probes and cands branches below; Catalyst
    # does not reuse the differently-pruned window subtrees, so without
    # the pin the corpus x codebook cross-score + row_number window
    # would execute twice per invocation.
    ranked = pin("l3i.ranked", _ivf_rank(emb, _seed_codebook(emb)))
    probes = ranked.filter((F.col("vec_id") < 5) & (F.col("rn") <= 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("cell_id").alias("q_cell"),
    )
    cands = ranked.filter((F.col("vec_id") >= 5) & (F.col("rn") == 1)).select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "cell_id"
    )
    return _probe_top3(probes, cands)


# ---------------------------------------------------------------------------
# L3j: MMR (maximal marginal relevance) diversified re-rank — retrieve
# an exact cosine top-20 candidate pool for the query, then greedily
# pick k=5 maximizing lambda*rel - (1-lambda)*max-sim-to-selected
# (Carbonell & Goldstein '98 — the standard diversity re-rank between
# retrieval and a training batch / RAG context). Spark does the heavy
# part (distributed scored scan + top-k, identical shape to l3); the
# greedy loop runs engine-side in ONE applyInPandas group over the tiny
# candidate pool — at 100 TB the pool per query is still 20 rows, so
# this composes with l3b's batched retrieval by grouping on query_id.
#
# CERTIFIED (r12, formerly rows-only): the greedy chain now runs in
# pure int64 arithmetic. rel and every pairwise sim are quantized to
# 1e-6 integers (rel_q6/sim_q6 — via the round(dot,6) convention every
# other l3* oracle already hash-matches on), and with lambda = 0.7 the
# MMR score scales to score10_q6 = 7*rel_q6 - 3*max(sim_q6 over
# chosen): integers end to end, so the k=5 argmax chain has NO float
# selection boundary left and DuckDB re-derives the exact winner set
# with a 5-stage unrolled CTE (_l3j_oracle below — greedy is bounded
# recursion, so unrolling IS its SQL form). The quantized sims are
# computed in Spark SQL (same dot() as the oracle), not numpy — a
# BLAS-order float sum would reintroduce the boundary this kills.
# ---------------------------------------------------------------------------
_L3J_POOL = 20
_L3J_K = 5


def _l3j_oracle() -> str:
    """Unrolled greedy-MMR oracle: stage r picks argmax over the pool
    minus chosen(1..r-1) of 7*rel_q6 - 3*max(sim_q6 to chosen)."""
    dot_pq = _DOT_SQL.format(a="e.embedding", b="q.embedding")
    dot_ab = _DOT_SQL.format(a="a.embedding", b="b.embedding")
    sql = f"""
WITH pool AS (
  SELECT e.vec_id, e.embedding,
         round({dot_pq}, 6) AS rel,
         CAST(round(round({dot_pq}, 6) * 1000000.0, 0) AS BIGINT) AS rel_q6
  FROM embeddings e JOIN embeddings q ON q.vec_id = 0
  WHERE e.vec_id > 0
  ORDER BY rel DESC, e.vec_id LIMIT {_L3J_POOL}
), sims AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         CAST(round(round({dot_ab}, 6) * 1000000.0, 0) AS BIGINT) AS sim_q6
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
), chosen1 AS (
  SELECT vec_id, rel, CAST(1 AS BIGINT) AS mmr_rank,
         7 * rel_q6 AS score10_q6
  FROM pool ORDER BY 7 * rel_q6 DESC, vec_id LIMIT 1
)"""
    for r in range(2, _L3J_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM chosen{i}" for i in range(1, r)
        )
        sql += f""",
chosen{r} AS (
  SELECT p.vec_id, p.rel, CAST({r} AS BIGINT) AS mmr_rank,
         7 * p.rel_q6 - 3 * max(s.sim_q6) AS score10_q6
  FROM pool p JOIN sims s ON s.a_id = p.vec_id
  WHERE s.b_id IN ({prev}) AND p.vec_id NOT IN ({prev})
  GROUP BY p.vec_id, p.rel, p.rel_q6
  ORDER BY score10_q6 DESC, p.vec_id LIMIT 1
)"""
    union = "\nUNION ALL\n".join(
        f"SELECT vec_id, rel, mmr_rank, score10_q6 FROM chosen{i}"
        for i in range(1, _L3J_K + 1)
    )
    return sql + "\n" + union + "\nORDER BY mmr_rank"


@register("l3j_mmr_rerank", oracle=_l3j_oracle())
def l3j_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    # pool feeds BOTH sides of the pairwise self-join below; unpinned,
    # Catalyst executes the scored corpus scan + top-k twice (verified
    # in the physical plan) — at scale that is two full corpus scans
    # for one 20-row relation. Same dual-consumer pin rule as l3i.
    pool = pin(
        "l3j.pool",
        emb.filter(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(dot("q_emb", "embedding"), 6).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_L3J_POOL)
        .withColumn(
            "rel_q6",
            F.round(F.col("rel") * F.lit(1000000.0), 0).cast("long"),
        ),
    )
    # Pairwise sims INSIDE Spark SQL with the oracle's own dot() — the
    # 20x20 self-join is a broadcast over a 20-row relation. The pandas
    # group is fed POOL rows LEFT-joined with the pairs (not the pairs
    # alone): with exactly one candidate the self-join is empty, and a
    # pairs-only feed would emit zero groups and drop the whole result
    # (r12 review finding #1, reproduced on a 2-vector corpus) — the
    # left join keeps every candidate present with a null sim row.
    a = pool.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        "rel",
        "rel_q6",
    )
    b = pool.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb")
    )
    pairs = a.join(F.broadcast(b), F.col("a_id") != F.col("b_id")).select(
        "a_id",
        "b_id",
        F.round(F.round(dot("a_emb", "b_emb"), 6) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("sim_q6"),
    )
    rows_in = (
        a.select("a_id", "rel", "rel_q6")
        .join(pairs, "a_id", "left")
        .withColumn("g", F.lit(0))
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        cand = (
            pdf[["a_id", "rel", "rel_q6"]]
            .drop_duplicates()
            .sort_values("a_id")
            .reset_index(drop=True)
        )
        ids = cand["a_id"].to_numpy()
        rel = cand["rel"].to_numpy()
        rel_q6 = cand["rel_q6"].to_numpy(dtype=np.int64)
        idx = {v: i for i, v in enumerate(ids)}
        n = len(cand)
        sims = np.zeros((n, n), dtype=np.int64)
        present = pdf[pdf["b_id"].notna()]
        for aid, bid, s in zip(
            present["a_id"], present["b_id"], present["sim_q6"]
        ):
            sims[idx[aid], idx[int(bid)]] = int(s)
        chosen: list[int] = []
        rows = []
        for rank in range(1, min(_L3J_K, n) + 1):
            penalty = (
                sims[:, chosen].max(axis=1)
                if chosen
                else np.zeros(n, dtype=np.int64)
            )
            score = 7 * rel_q6 - 3 * penalty
            best = min(
                (i for i in range(n) if i not in chosen),
                key=lambda i: (-int(score[i]), int(ids[i])),
            )
            chosen.append(best)
            rows.append((int(ids[best]), float(rel[best]), rank, int(score[best])))
        return pd.DataFrame(
            rows, columns=["vec_id", "rel", "mmr_rank", "score10_q6"]
        )

    return (
        rows_in.groupBy("g")
        .applyInPandas(
            mmr, "vec_id long, rel double, mmr_rank long, score10_q6 long"
        )
        .orderBy("mmr_rank")
    )


# ---------------------------------------------------------------------------
# L3k: hard-negative mining — for each anchor (vec_id < 5), the top-3
# most-similar vectors with a DIFFERENT label: the contrastive-training
# negatives that are hard precisely because they score high while being
# semantically wrong. Same broadcast-probe + per-anchor window top-k
# shape as l3b (anchors broadcast, corpus never shuffles; the label
# filter rides the join condition so mismatched pairs never score at
# scale... they are filtered before the window). In production the
# corpus side is the IVF/LSH-pruned candidate set (l3e/l3c), not the
# full table — this is the exact form with a full oracle. Reference has
# no vector ops at all; NS extension.
# ---------------------------------------------------------------------------
@register(
    "l3k_hard_negatives",
    oracle=f"""
SELECT anchor_id, neg_id, rn, cos
FROM (
  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
         round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cos,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) DESC, b.vec_id
         ) AS rn
  FROM embeddings a
  JOIN embeddings b ON b.vec_id >= 5 AND b.label <> a.label
  WHERE a.vec_id < 5
) WHERE rn <= 3
ORDER BY anchor_id, rn
""",
)
def l3k_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
    )
    cand = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neg_id"), "label", "embedding"
    )
    scored = cand.join(
        F.broadcast(anchors), F.col("label") != F.col("a_label")
    ).select(
        "anchor_id",
        "neg_id",
        F.round(dot("a_emb", "embedding"), 6).alias("cos"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cos").desc(), "neg_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("anchor_id", "neg_id", "rn", "cos")
        .orderBy("anchor_id", "rn")
    )


# ---------------------------------------------------------------------------
# L29: semantic dedup (SemDeDup, Abbas et al. 2023) — embedding-space
# near-duplicate removal: cluster the corpus, then within each cluster
# drop every vector that has a sufficiently-similar neighbor with a
# smaller id (keep-min representative). Clustering is the whole scale
# story: pairwise similarity is only ever computed WITHIN a cell, so
# the quadratic term is bounded by the largest cell, not the corpus —
# with a real trained codebook (l3f) cell sizes are ~n/k and the
# self-join shuffles each row once on cell_id. Reuses l3e's
# deterministic codebook (vec_id < N_CELLS as centroids) so the full
# pipeline is oracle-checkable.
# ---------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.25


def _cell_bounded_dedup(assigned: DataFrame) -> DataFrame:
    """SemDeDup core on a cell-assigned corpus: pairwise similarity only
    WITHIN a cell, keep-min representative per duplicate."""
    right = assigned.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("embedding").alias("b_embedding"),
        F.col("cell_id").alias("b_cell_id"),
    )
    pairs = assigned.join(
        right,
        (F.col("cell_id") == F.col("b_cell_id"))
        & (F.col("b_vec_id") < F.col("vec_id")),
    ).filter(F.round(dot("embedding", "b_embedding"), 6) >= _SEMDEDUP_TAU)
    return (
        pairs.groupBy(F.col("vec_id").alias("dup_vec_id"))
        .agg(
            F.min("b_vec_id").cast("long").alias("rep_vec_id"),
            F.round(
                F.max(F.round(dot("embedding", "b_embedding"), 6)), 6
            ).alias("max_cos"),
        )
        .orderBy("dup_vec_id")
    )


@register(
    "l29_semantic_dedup",
    oracle=f"""
WITH codebook AS (
  SELECT vec_id AS cell_id, embedding AS centroid FROM embeddings WHERE vec_id < {N_CELLS}
), assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_DOT_SQL.format(a='e.embedding', b='c.centroid')}, 6) DESC, c.cell_id
           ) AS rn
    FROM embeddings e CROSS JOIN codebook c
  ) WHERE rn = 1
)
SELECT a.vec_id AS dup_vec_id,
       CAST(min(b.vec_id) AS BIGINT) AS rep_vec_id,
       round(max(round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6)), 6) AS max_cos
FROM assigned a
JOIN assigned b
  ON a.cell_id = b.cell_id AND b.vec_id < a.vec_id
WHERE round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) >= {_SEMDEDUP_TAU}
GROUP BY a.vec_id
ORDER BY dup_vec_id
""",
)
def l29_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = pin("l29.ivf_assigned", _ivf_assign(emb, _seed_codebook(emb)))
    return _cell_bounded_dedup(assigned)


# ---------------------------------------------------------------------------
# L29b: SemDeDup on the PRODUCTION codebook — Lloyd's-trained spherical
# k-means cells (train_codebook, the same path l3f probes) instead of
# l29's deterministic vec_id<N_CELLS seed cells. Trained cells are
# tighter, so near-duplicates co-locate more reliably and the bounded
# quadratic term (largest cell) shrinks toward n/k. Rows-only by design
# (float centroid means aren't SQL-stable across engines); agreement
# with l29 and no-false-positive soundness are property-tested in
# tests/test_vector.py.
# ---------------------------------------------------------------------------
@register("l29b_semantic_dedup_trained")
def l29b_semantic_dedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebook = train_codebook(emb, k=N_CELLS, iters=3)
    assigned = pin("l29b.ivf_assigned", _ivf_assign(emb, codebook))
    return _cell_bounded_dedup(assigned)


# ---------------------------------------------------------------------------
# L30: semantic decontamination — the embedding-space complement of
# l16's n-gram benchmark decontamination: corpus items whose embedding
# is too close to ANY benchmark item are contamination suspects even
# when no n-gram overlaps (paraphrased eval questions). Same scale
# shape as l3k/l29: the benchmark set is small and broadcast, the
# corpus side never shuffles — one map-side cross-score + per-item
# argmax. Benchmark membership is deterministic (vec_id % 97 == 0,
# mirroring l16's bench_mod convention) so the whole op is
# oracle-checkable.
# ---------------------------------------------------------------------------
_DECONTAM_TAU = 0.25


@register(
    "l30_semantic_decontamination",
    oracle=f"""
WITH bench AS (
  SELECT vec_id AS bench_id, embedding AS b_emb FROM embeddings WHERE vec_id % 97 = 0
), corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 <> 0
), scored AS (
  SELECT c.vec_id, b.bench_id,
         round({_DOT_SQL.format(a='c.embedding', b='b.b_emb')}, 6) AS cos,
         row_number() OVER (
           PARTITION BY c.vec_id
           ORDER BY round({_DOT_SQL.format(a='c.embedding', b='b.b_emb')}, 6) DESC, b.bench_id
         ) AS rn
  FROM corpus c CROSS JOIN bench b
)
SELECT vec_id, CAST(bench_id AS BIGINT) AS nearest_bench_id, cos AS max_cos
FROM scored
WHERE rn = 1 AND cos >= {_DECONTAM_TAU}
ORDER BY vec_id
""",
)
def l30_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bench = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("b_emb")
    )
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "vec_id",
        "bench_id",
        F.round(dot("embedding", "b_emb"), 6).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "bench_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("cos") >= _DECONTAM_TAU))
        .select(
            "vec_id",
            F.col("bench_id").cast("long").alias("nearest_bench_id"),
            F.col("cos").alias("max_cos"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# L32: distributed Gram matrix of the embedding corpus — the
# X^T X sufficient statistic behind PCA whitening, covariance shift
# detection, and linear-probe training over embedding tables.
#
# Scale shape (100 TB): each partition computes its partial d x d Gram
# with one float64 BLAS matmul over the Arrow batch (mapInPandas — the
# Pandas-UDF fast path, never per-row Python), emits d*(d+1)/2
# upper-triangle cells, and a single groupBy (i, j) sums the partials.
# Shuffle volume is O(P * d^2) tiny fixed-width rows — independent of n
# — and the raw vectors never leave their partitions. This is the
# textbook map-side-combine reduction of a dense sufficient statistic.
#
# Parity: accumulation is float64 on both engines; entries are O(n/d)
# magnitude and rounded to 6 decimals (registry rule 4 — partial-sum
# order drift is ~1e-12 here, far inside the rounding slack).
# ---------------------------------------------------------------------------
def _partial_gram(batches):
    import numpy as np
    import pandas as pd

    acc = None
    for pdf in batches:
        x = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        g = x.T @ x
        acc = g if acc is None else acc + g
    if acc is not None:
        iu, ju = np.triu_indices(acc.shape[0])
        yield pd.DataFrame(
            {  # 1-based to match DuckDB's generate_subscripts
                "i": (iu + 1).astype("int64"),
                "j": (ju + 1).astype("int64"),
                "partial": acc[iu, ju],
            }
        )


@register(
    "l32_gram_matrix",
    oracle="""
WITH tok AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
)
SELECT a.i AS i, b.i AS j,
       round(sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)), 6) AS gram
FROM tok a JOIN tok b USING (vec_id)
WHERE a.i <= b.i
GROUP BY a.i, b.i
""",
)
def l32_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("embedding")
    partials = emb.mapInPandas(_partial_gram, "i long, j long, partial double")
    return partials.groupBy("i", "j").agg(
        F.round(F.sum("partial"), 6).alias("gram")
    )


# ---------------------------------------------------------------------------
# L32b: PCA projection (top-K principal components of the embedding
# corpus). Training-pipeline use: dimensionality reduction / whitening
# before clustering, and spectral drift checks between corpus snapshots.
#
# The covariance eigendecomposition happens on the DRIVER over the d x d
# matrix assembled from l32's distributed Gram pipeline plus the mean
# vector — O(d^2) floats collected, INDEPENDENT of corpus size, so this
# is not a driver-scaling anti-pattern (unlike collecting rows). The
# projection itself stays fully distributed AND fully JVM-side: each of
# the K components becomes a literal array in a zip_with/aggregate dot
# expression, so whole-stage codegen applies it with zero Python in the
# per-row path.
#
# Certified contract (r11 — the l35/l15 pattern): eigenvectors are
# LAPACK-convention-dependent (sign/ordering on near-degenerate
# spectra), so the projected COORDINATES cannot appear in a DuckDB
# oracle — but the defining properties of PCA can be checked in-engine
# and the per-row input energy is oracle-exact. The registered query
# emits round(<x,x>,6) per vector (DuckDB recomputes it) plus five
# certificates:
#   bessel_ok       per row: sum_k pc_k^2 <= ||x - mean||^2 — Bessel's
#                   inequality for an orthonormal component set;
#   centered_ok     global: |avg(pc_k)| ~ 0 for every k (projections
#                   of centered data have zero mean);
#   var_ok          global: var_pop(pc_k) == lambda_k within float
#                   slack (the defining property of PCA), computed by
#                   Spark over the JVM-side literal-array projections;
#   orthonormal_ok  driver-side: |Q^T Q - I|_max < 1e-9;
#   monotone_ok     driver-side: eigenvalues non-increasing and >= 0.
# A wrong Gram assembly, a broken eigen step, or a bad projection
# expression flips a certificate (or norm2) and hash-fails. The full
# coordinate surface stays on ``pca_project`` (facade +
# tests/test_pca.py invariants). Was rows-only r4-r10.
# ---------------------------------------------------------------------------
_PCA_K = 8


def pca_components(spark: SparkSession, sf_dir: str, k: int = _PCA_K):
    """Top-k eigenpairs of the corpus covariance: (eigvals, components).

    Components are canonicalized (largest-|coord| positive) so repeated
    runs at identical data agree in sign.
    """
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("embedding")
    gram_rows = (
        emb.mapInPandas(_partial_gram, "i long, j long, partial double")
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("gram"))
        .collect()
    )
    stats = emb.select(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.col("embedding")[d].cast("double")).alias(f"s{d}")
            for d in range(64)
        ],
    ).collect()[0]
    n = stats["n"]
    d = 64
    gram = np.zeros((d, d))
    for r in gram_rows:
        gram[r["i"] - 1, r["j"] - 1] = r["gram"]
        gram[r["j"] - 1, r["i"] - 1] = r["gram"]
    mean = np.array([stats[f"s{i}"] for i in range(d)]) / n
    cov = gram / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    vals, vecs = vals[order], vecs[:, order]
    for c in range(vecs.shape[1]):  # sign canonicalization
        if vecs[np.argmax(np.abs(vecs[:, c])), c] < 0:
            vecs[:, c] = -vecs[:, c]
    return vals, vecs, mean


def pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full coordinate surface: (vec_id, pc1..pc8).

    Unregistered (eigen conventions are not oracle-safe); the engine
    facade and tests/test_pca.py consume this, while the registered
    l32b query carries the certified contract below."""
    _vals, vecs, mean = pca_components(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cols = []
    for c in range(vecs.shape[1]):
        lits = ",".join(f"{float(v)!r}D" for v in vecs[:, c])
        shift = float(mean @ vecs[:, c])
        cols.append(
            F.round(
                F.expr(
                    _DOT.format(a="embedding", b=f"array({lits})")
                )
                - F.lit(shift),
                4,
            ).alias(f"pc{c + 1}")
        )
    return emb.select("vec_id", *cols)


_L32B_ORACLE = f"""
SELECT vec_id,
       round({_DOT_SQL.format(a='embedding', b='embedding')}, 6) AS norm2,
       TRUE AS bessel_ok, TRUE AS centered_ok, TRUE AS var_ok,
       TRUE AS orthonormal_ok, TRUE AS monotone_ok
FROM embeddings
ORDER BY vec_id
"""


@register("l32b_pca_project", oracle=_L32B_ORACLE)
def l32b_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    vals, vecs, mean = pca_components(spark, sf_dir)
    # Driver-side certificates over the d x k eigenpair block — O(d^2)
    # numpy, corpus-size-independent (same scaling class as the
    # eigendecomposition itself).
    orthonormal_ok = bool(
        np.abs(vecs.T @ vecs - np.eye(vecs.shape[1])).max() < 1e-9
    )
    monotone_ok = bool(
        np.all(np.diff(vals) <= 1e-12) and np.all(vals >= -1e-10)
    )

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pcs = []
    for c in range(vecs.shape[1]):
        lits = ",".join(f"{float(v)!r}D" for v in vecs[:, c])
        shift = float(mean @ vecs[:, c])
        pcs.append(
            (
                F.expr(_DOT.format(a="embedding", b=f"array({lits})"))
                - F.lit(shift)
            ).alias(f"_pc{c + 1}")
        )
    mean_lits = ",".join(f"{float(v)!r}D" for v in mean)
    centered_energy = (
        F.expr(_DOT.format(a="embedding", b="embedding"))
        - 2.0 * F.expr(_DOT.format(a="embedding", b=f"array({mean_lits})"))
        + F.lit(float(mean @ mean))
    )
    projected = emb.select(
        "vec_id",
        F.round(F.expr(_DOT.format(a="embedding", b="embedding")), 6).alias(
            "norm2"
        ),
        centered_energy.alias("_cen"),
        *pcs,
    )
    energy = sum(
        (F.col(f"_pc{c + 1}") ** 2 for c in range(vecs.shape[1])),
        F.lit(0.0),
    )
    # Global certificates: zero-mean and variance == eigenvalue per
    # component, Spark-side over the same literal-array projections.
    glob = projected.agg(
        *[F.avg(f"_pc{c + 1}").alias(f"_m{c + 1}") for c in range(vecs.shape[1])],
        *[
            F.var_pop(f"_pc{c + 1}").alias(f"_v{c + 1}")
            for c in range(vecs.shape[1])
        ],
    )
    centered_ok = None
    var_ok = None
    for c in range(vecs.shape[1]):
        m_ok = F.abs(F.col(f"_m{c + 1}")) <= 1e-6
        v_ok = F.abs(F.col(f"_v{c + 1}") - F.lit(float(vals[c]))) <= (
            1e-6 + 1e-6 * F.lit(abs(float(vals[c])))
        )
        centered_ok = m_ok if centered_ok is None else (centered_ok & m_ok)
        var_ok = v_ok if var_ok is None else (var_ok & v_ok)
    certs = glob.select(
        centered_ok.alias("centered_ok"), var_ok.alias("var_ok")
    )
    return (
        projected.crossJoin(F.broadcast(certs))
        .select(
            "vec_id",
            "norm2",
            (energy <= F.col("_cen") + 1e-6).alias("bessel_ok"),
            "centered_ok",
            "var_ok",
            F.lit(orthonormal_ok).alias("orthonormal_ok"),
            F.lit(monotone_ok).alias("monotone_ok"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# L35: PageRank centrality over the within-cell kNN similarity graph —
# the "representativeness" signal for coreset selection and diversity-
# aware sampling (pick high-centrality docs per semantic cluster), and
# the second iterative-algorithm class in the repo next to l2e's
# label-propagation components.
#
# Graph: each vector points at its top-K most-similar neighbors INSIDE
# its IVF cell (the SemDeDup bounding trick — pairwise work is bounded
# by cell size, never corpus-quadratic). Power iteration then runs as
# pure DataFrame joins: contributions = edges ⋈ ranks grouped by dst —
# one shuffle per iteration on the edge list, localCheckpoint cuts the
# lineage each step (l2e's discipline). Dangling nodes (singleton
# cells) leak their mass — standard damped PageRank without dangling
# redistribution; the invariants tests account for it.
#
# Certified contract: the rank VALUES are fixed-point float iterates
# whose partial-aggregation order is engine-specific, so they cannot
# appear in a DuckDB oracle — but everything AROUND them can. The
# registered query emits the oracle-exact graph columns (cell_id from
# the IVF argmax, out/in-degree from the deterministic round-6 kNN edge
# list — DuckDB recomputes the entire graph construction and
# hash-matches it) plus three in-engine mathematical certificates over
# the iteration:
#   floor_ok       per node: rank >= (1-d) exactly (rank is
#                  (1-d) + d*mass with mass a float sum of nonnegatives,
#                  and x + nonneg rounds to >= x in IEEE754);
#   contraction_ok global: ||r16 - r15||_1 <= d^15 * ||r1 - r0||_1 —
#                  the Banach bound for the damped map (column-
#                  substochastic contribution matrix => L1 Lipschitz
#                  d), with 1e-6 relative float slack;
#   mass_ok        global: 0.15*N <= sum(rank) <= N — dangling leaks
#                  shrink mass, never create it.
# A wrong edge list, a broken iteration, or a diverging estimator flips
# a column DuckDB checks or a certificate boolean and hash-fails. The
# full rank surface stays available as ``pagerank_ranks`` (facade +
# tests/test_pagerank.py invariants); both run ``pagerank_iterates``.
# ---------------------------------------------------------------------------
_PR_K = 3
_PR_DAMP = 0.85
_PR_ITERS = 15


def knn_edges(assigned: DataFrame, k: int = _PR_K) -> DataFrame:
    """Directed top-k similarity edges within each cell."""
    right = assigned.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("b_embedding"),
        F.col("cell_id").alias("b_cell_id"),
    )
    scored = assigned.join(
        right,
        (F.col("cell_id") == F.col("b_cell_id"))
        & (F.col("dst") != F.col("vec_id")),
    ).select(
        F.col("vec_id").alias("src"),
        "dst",
        F.round(dot("embedding", "b_embedding"), 6).alias("cos"),
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), "dst")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("src", "dst")
    )


def pagerank_iterates(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = _PR_ITERS,
    keep: set[int] | None = None,
    damping: float = _PR_DAMP,
) -> dict[int, DataFrame]:
    """The damped power iteration over (src, dst) edges from the
    all-ones vector. Returns {i: (vec_id, rank) after step i} for i in
    ``keep`` (default: just the final iterate). pagerank and the l35
    certificates both call this, so the ranks certified are the ranks
    served.

    Each step is one equi-join + one aggregation — edge-list shuffles,
    no adjacency matrix; ranks/deg stay keyed by node id.
    """
    keep = set(keep) if keep else {iters}
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "src").localCheckpoint()
    ranks = nodes.select("vec_id", F.lit(1.0).alias("rank")).localCheckpoint()
    # iterate 0 = the all-ones start, which pagerank(iters=0) returns.
    out: dict[int, DataFrame] = {0: ranks} if 0 in keep else {}
    for i in range(1, iters + 1):
        contrib = (
            ed.join(ranks, ed.src == ranks.vec_id)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = (
            nodes.join(contrib, nodes.vec_id == contrib.dst, "left")
            .select(
                "vec_id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if i in keep:
            out[i] = ranks
    return out


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    damping: float = _PR_DAMP,
    iters: int = _PR_ITERS,
) -> DataFrame:
    """(vec_id, rank) after ``iters`` damped power-iteration steps."""
    return pagerank_iterates(edges, nodes, iters, damping=damping)[iters]


def pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank surface: (vec_id, cell_id, rank, cell_rank).

    Unregistered (float fixed-point iterates are not oracle-safe);
    the engine facade and tests/test_pagerank.py consume this, while
    the registered l35 query carries the certified contract below."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # assigned feeds knn_edges (BOTH sides of its self-join), the node
    # universe re-evaluated inside every eager pagerank checkpoint, and
    # the final join — unpinned, the corpus x codebook assignment would
    # recompute ~(iters + 3) times per invocation.
    assigned = pin("l35.ivf_assigned", _ivf_assign(emb, _seed_codebook(emb)))
    edges = knn_edges(assigned)
    ranks = pagerank(edges, assigned.select("vec_id"))
    w = Window.partitionBy("cell_id").orderBy(F.col("rank").desc(), "vec_id")
    return (
        assigned.select("vec_id", "cell_id")
        .join(ranks, "vec_id")
        .withColumn("cell_rank", F.row_number().over(w).cast("long"))
        .select("vec_id", "cell_id", F.round("rank", 6).alias("rank"), "cell_rank")
        .orderBy("vec_id")
    )


_L35_ORACLE = f"""
WITH codebook AS (
  SELECT vec_id AS cell_id, embedding AS centroid FROM embeddings WHERE vec_id < {N_CELLS}
), assigned AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_DOT_SQL.format(a='e.embedding', b='c.centroid')}, 6) DESC, c.cell_id
           ) AS rn
    FROM embeddings e CROSS JOIN codebook c
  ) WHERE rn = 1
), edges AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}, 6) DESC, b.vec_id
           ) AS rn
    FROM assigned a JOIN assigned b
      ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
  ) WHERE rn <= {_PR_K}
), outd AS (
  SELECT src, CAST(count(*) AS BIGINT) AS n FROM edges GROUP BY src
), ind AS (
  SELECT dst, CAST(count(*) AS BIGINT) AS n FROM edges GROUP BY dst
)
SELECT a.vec_id, a.cell_id,
       COALESCE(o.n, 0) AS out_deg,
       COALESCE(i.n, 0) AS in_deg,
       TRUE AS floor_ok,
       TRUE AS contraction_ok,
       TRUE AS mass_ok
FROM assigned a
LEFT JOIN outd o ON o.src = a.vec_id
LEFT JOIN ind i ON i.dst = a.vec_id
ORDER BY a.vec_id
"""


@register("l35_pagerank_centrality", oracle=_L35_ORACLE)
def l35_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = pin("l35.ivf_assigned", _ivf_assign(emb, _seed_codebook(emb)))
    # Pin the edge list: it feeds the degree joins, every power-iteration
    # step (via `ed`), and the certificate passes.
    edges = pin("l35.edges", knn_edges(assigned))
    out_deg = edges.groupBy(F.col("src").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_deg = edges.groupBy(F.col("dst").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )

    # The iterates the certificates need: r1 (first step from the
    # all-ones vector), r15 (the result pagerank serves) and r16 (one
    # verification step, severable at scale).
    last = _PR_ITERS + 1
    iterates = pagerank_iterates(
        edges, assigned.select("vec_id"), last, keep={1, _PR_ITERS, last}
    )
    r15 = iterates[_PR_ITERS]
    # ||r1 - r0||_1 (r0 is all ones) and ||r16 - r15||_1.
    d0 = iterates[1].agg(
        F.sum(F.abs(F.col("rank") - F.lit(1.0))).alias("d0")
    )
    dlast = (
        iterates[last]
        .select("vec_id", F.col("rank").alias("r_next"))
        .join(r15, "vec_id")
        .agg(F.sum(F.abs(F.col("r_next") - F.col("rank"))).alias("dlast"))
    )
    mass = r15.agg(
        F.sum("rank").alias("m"), F.count(F.lit(1)).alias("n")
    )
    certs = (
        d0.crossJoin(dlast)
        .crossJoin(mass)
        .select(
            (
                F.col("dlast")
                <= F.col("d0") * F.lit(_PR_DAMP**_PR_ITERS * (1 + 1e-6))
                + F.lit(1e-9)
            ).alias("contraction_ok"),
            (
                (F.col("m") <= F.col("n") * F.lit(1 + 1e-9))
                & (F.col("m") >= F.col("n") * F.lit((1 - _PR_DAMP) * (1 - 1e-9)))
            ).alias("mass_ok"),
        )
    )
    return (
        # Degree frames are corpus-sized (one row per node) — keyed
        # shuffle joins, never broadcast; only the 1-row cert frame is.
        assigned.select("vec_id", "cell_id")
        .join(out_deg, "vec_id", "left")
        .join(in_deg, "vec_id", "left")
        .join(r15, "vec_id")
        .crossJoin(F.broadcast(certs))
        .select(
            "vec_id",
            "cell_id",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            (F.col("rank") >= F.lit(1.0 - _PR_DAMP)).alias("floor_ok"),
            "contraction_ok",
            "mass_ok",
        )
        .orderBy("vec_id")
    )
