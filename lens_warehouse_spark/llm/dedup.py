"""Deduplication operators L1/L2 (SURVEY.md §2.10): exact, MinHash-LSH,
SimHash, and exact n-gram Jaccard.

Pretraining-corpus dedup at 100 TB is the motivating workload:

- Exact dedup is a hash-groupBy — one shuffle on a 256-bit content hash,
  keep-first by a deterministic tiebreak.
- MinHash-LSH turns the quadratic all-pairs problem into
  band-bucket joins: k seeded xxhash64 minima per document over 3-token
  shingles, banded so that documents sharing any band bucket become
  candidate pairs, then candidates are verified with exact Jaccard over
  the SAME shingle sets (sketch and verify must share one measure or
  the S-curve guarantee breaks; the unigram token-set measure belongs
  to the l2b/l2g exact baselines). Everything is built from
  higher-order array functions (transform / array_min / slice) — no
  Python UDF, so the whole pipeline stays in whole-stage codegen.
- SimHash packs 64 per-bit majority votes over token hashes into one
  BIGINT; near-dups differ in few bits (hamming distance via
  bit_count(xor)).

Seeded-hash outputs are engine-specific, so MinHash/SimHash register as
rows-only checks; their *semantics* (Jaccard-similar pairs collide
w.h.p.) are property-tested in tests/test_dedup.py. Exact dedup and
exact Jaccard have full SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lens_warehouse_spark.catalog import table, table_rows
from lens_warehouse_spark.operators._helpers import pin
from lens_warehouse_spark.registry import register

N_HASHES = 16  # minhash signature length
N_BANDS = 4  # bands of 4 rows each: ~s-curve threshold ≈ (1/4)^(1/4) ≈ 0.71


# ---------------------------------------------------------------------------
# L1: exact dedup — normalize, hash, keep lowest doc_id per hash.
# ---------------------------------------------------------------------------
@register(
    "l1_exact_dedup",
    oracle="""
SELECT CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       count(*) AS n_copies,
       sha256(lower(trim(text))) AS content_hash
FROM documents
GROUP BY sha256(lower(trim(text)))
""",
)
def l1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").withColumn(
        "content_hash", F.sha2(F.lower(F.trim(F.col("text"))), 256)
    )
    return docs.groupBy("content_hash").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_doc_id", "n_copies", "content_hash")


# ---------------------------------------------------------------------------
# L1b: incremental dedup — admit only those docs of a NEW batch whose
# content hash is unseen in the existing corpus AND unique (keep-first)
# within the batch. This is the steady-state shape of production corpus
# dedup: the corpus hash set is huge but append-only, so in production
# both sides are bucketed/partitioned by content_hash and the anti-join
# is shuffle-free (zipped buckets); here the split is derived
# deterministically from doc_id so the oracle is plain SQL. The
# reference has no incremental import dedup (Datomic upserts by entity
# id only, [P src/lens/api.clj]); this is the NS training-pipeline
# extension.
# ---------------------------------------------------------------------------
@register(
    "l1b_incremental_dedup",
    oracle="""
WITH hashed AS (
  SELECT doc_id, sha256(lower(trim(text))) AS content_hash,
         doc_id % 10 = 0 AS is_new
  FROM documents
)
SELECT CAST(min(doc_id) AS BIGINT) AS admit_doc_id, content_hash
FROM hashed
WHERE is_new
  AND content_hash NOT IN (
    SELECT content_hash FROM hashed WHERE NOT is_new)
GROUP BY content_hash
""",
)
def l1b_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
        (F.col("doc_id") % 10 == 0).alias("is_new"),
    )
    incoming = hashed.filter("is_new")
    corpus = hashed.filter("NOT is_new").select("content_hash")
    return (
        incoming.join(corpus, "content_hash", "left_anti")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("admit_doc_id"))
        .select("admit_doc_id", "content_hash")
    )


def _token_hash_expr(tok_col: str) -> str:
    """SQL: per-token xxhash64 array of a token array column. Callers
    MUST project this into a column first (one evaluation per row) and
    hand that column to _shingle_hash_expr — inlining it there would
    re-evaluate the whole token-hash array once per element_at."""
    return f"transform({tok_col}, t -> xxhash64(t))"


def _shingle_hash_expr(tok_hash_col: str = "__th") -> str:
    """SQL expression producing the array of 64-bit 3-token shingle
    HASHES from a pre-projected token-HASH array column (round-6
    gram-hash form: xxhash64 over the 3 consecutive token hashes — no
    shingle string is ever built; shingle-set identity is preserved
    modulo 2^-64 collisions, the repo-wide acceptance).
    try_element_at, not element_at: the greatest(..., 1) clamp emits
    one shingle for docs shorter than 3 tokens, whose trailing slots
    are out of bounds — xxhash64 skips the resulting NULLs, exactly as
    concat_ws joined only the available tokens in the superseded
    string form.

    Single source of truth: the minhash sketch and the exact-Jaccard
    verify step MUST measure the same sets, or the LSH S-curve
    guarantee silently breaks (the sketch would approximate one
    similarity while the threshold filter tests another)."""
    args = ", ".join(f"try_element_at({tok_hash_col}, i + {j})" for j in range(3))
    return (
        f"transform(sequence(1, greatest(size({tok_hash_col}) - 2, 1)),"
        f" i -> xxhash64({args}))"
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n_hashes: int = N_HASHES
) -> DataFrame:
    """Compute (doc_id, sig) where ``sig`` is an array<bigint> of
    seeded-xxhash64 minima over 3-token shingle hashes.

    Shape: explode shingle hashes, then one groupBy(doc_id) with
    n_hashes min() aggregates. The min() partials combine map-side, so
    the shuffle carries n_hashes longs per document regardless of
    document length — the right shape at 100 TB. (A pure
    higher-order-function formulation — array_min(transform(...)) —
    avoids the shuffle but runs interpreted, ~5x slower; measured at
    sf0.1.) Each seeded hash now mixes one LONG (xxhash64(seed, sh))
    instead of re-hashing a 3-token string per seed — with 16 seeds
    the superseded string form hashed every shingle string 16 times.
    Measured (full l2 pipeline, idle, best-of-5 at sf0.1): 0.984 s
    string shingles -> 0.813 s hashed (-17% on the slowest headline
    query; the band hash also stopped stringifying its r longs).
    """
    # hoist split() and the token-hash array into columns so each runs
    # once per row, not once per shingle inside the higher-order expr
    toks = df.select("doc_id", F.split(text_col, " ").alias("__t")).select(
        "doc_id", F.expr(_token_hash_expr("__t")).alias("__th")
    )
    exploded = toks.select(
        "doc_id", F.explode(F.expr(_shingle_hash_expr("__th"))).alias("__s")
    )
    # r13 (opt round 1): the n_hashes min() aggregates and the array()
    # repack are ONE parsed SQL expression instead of ~5 Py4J column
    # calls per seed — the aggregate tree is identical (each SQL integer
    # literal `{seed}` is an INT like the F.lit(seed) it replaces, so
    # every seeded hash value is bit-identical), but plan CONSTRUCTION
    # drops from ~0.33 s to ~0.10 s per invocation (build-only timing,
    # `git show ce9889a:tools/profile_build.py`;
    # l2's build was 43% of its 0.76 s power time; guide §7.3 —
    # planning cost is driver-side, single-threaded, and contends on
    # the GIL across the 16-stream throughput batch).
    sig = ", ".join(f"min(xxhash64({seed}, __s))" for seed in range(n_hashes))
    return exploded.groupBy("doc_id").agg(
        F.expr(f"array({sig})").alias("sig")
    )


def plan_lsh(threshold: float, n_hashes: int = N_HASHES) -> tuple[int, int]:
    """Choose (bands, rows) for a target Jaccard threshold.

    The LSH S-curve crosses 50% collision probability near
    t = (1/b)^(1/r); pick the divisor pair of ``n_hashes`` whose curve
    threshold is closest to (and biased slightly below, for recall) the
    requested similarity. Standard MMDS ch.3 construction.
    """
    best: tuple[float, int, int] | None = None
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        t = (1.0 / b) ** (1.0 / r)
        # prefer curves at-or-below the threshold (candidate recall over
        # precision — the exact-Jaccard verify step restores precision)
        penalty = (threshold - t) if t <= threshold else 2.0 * (t - threshold)
        if best is None or penalty < best[0]:
            best = (penalty, b, r)
    assert best is not None
    return best[1], best[2]


def band_projection(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Project signatures to (id, band_id, band_hash) — the LSH bucket
    key relation both the batch self-join and the streaming signature
    store are built from."""
    r = n_hashes // n_bands
    # Band hash = xxhash64 over the r signature longs directly (round-6
    # gram-hash form) — the superseded concat_ws(',', slice(sig, ...))
    # form built a decimal string from the longs and hashed that.
    # Indexes are always in bounds (b*r + r = n_hashes = size(sig)).
    args = ", ".join(f"element_at(sig, b * {r} + {j + 1})" for j in range(r))
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}),"
                f" b -> struct(b AS band_id, xxhash64({args}) AS band_hash))"
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Band the signatures and self-join buckets into candidate pairs.

    Scale shape: explode to (band_id, band_hash, id) — the join key is
    (band_id, band_hash), so only documents agreeing on a full band
    co-locate; the shuffle is O(n_docs * n_bands), never O(n^2).
    """
    # The signature relation feeds both sides of the band self-join;
    # unpinned, Spark recomputes the minhash expression tree (16 x
    # shingle hashing) twice. pin() scopes residency to one relation
    # per call site instead of leaking a cached copy per invocation.
    sigs = pin("dedup.lsh_sigs", sigs)
    banded = band_projection(sigs, id_col, n_bands, n_hashes)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def jaccard(
    df: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    measure: str = "tokens",
) -> DataFrame:
    """Verify candidate pairs with exact set Jaccard.

    ``measure='tokens'`` compares distinct unigram token sets (the
    measure of the l2b/l2g exact baselines); ``measure='shingles'``
    compares distinct 3-token shingle sets — the measure the minhash
    sketch actually approximates. LSH pipelines MUST verify on
    'shingles': a threshold filter applied to a different measure than
    the sketch voids the S-curve recall guarantee (e.g. two docs with
    identical token sets in different order have token Jaccard 1.0 but
    near-disjoint shingle sets, so no band ever collides)."""
    if measure == "tokens":
        def pre_expr(text_col: str) -> Column:
            return F.split(text_col, " ")

        def set_expr(pre_col: str) -> Column:
            return F.array_distinct(F.col(pre_col))
    elif measure == "shingles":
        # Compare HASHED shingle sets (array<bigint>): set Jaccard is
        # identical up to 64-bit hash collisions (P ~ n^2/2^64,
        # negligible), and intersect/union over longs beats 3-token
        # strings. Uses the SAME _shingle_hash_expr as the sketch
        # (single-source-of-truth contract above); the token-hash
        # array is staged as a projection column so it evaluates once
        # per candidate row, not once per shingle slot.
        def pre_expr(text_col: str) -> Column:
            return F.expr(_token_hash_expr(f"split({text_col}, ' ')"))

        def set_expr(pre_col: str) -> Column:
            return F.array_distinct(F.expr(_shingle_hash_expr(pre_col)))
    else:  # pragma: no cover - programmer error
        raise ValueError(f"unknown jaccard measure: {measure!r}")
    # Join candidate pairs to raw TEXT first, build the sets inline per
    # candidate row. Candidates ≪ corpus (that is the point of LSH), so
    # evaluating the interpreted higher-order shingle expression only on
    # candidate rows beats precomputing sets for every document on both
    # join sides (measured at sf0.1: l2 2.0 s -> 1.1 s); a document
    # appearing in k candidate pairs recomputes its set k times, bounded
    # by the band count.
    a = docs.select(F.col(id_col).alias("doc_a"), F.col("text").alias("__text_a"))
    b = docs.select(F.col(id_col).alias("doc_b"), F.col("text").alias("__text_b"))
    joined = (
        df.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            pre_expr("__text_a").alias("__pre_a"),
            pre_expr("__text_b").alias("__pre_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            set_expr("__pre_a").alias("toks_a"),
            set_expr("__pre_b").alias("toks_b"),
        )
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = F.size(F.array_union("toks_a", "toks_b")).cast("double")
    return joined.select(
        "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# L2: MinHash-LSH near-dup pipeline (rows-only: seeded hashes).
# ---------------------------------------------------------------------------
@register("l2_minhash_neardup")
def l2_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs).select("doc_id", "sig")
    pairs = lsh_candidate_pairs(sigs)
    return (
        jaccard(pairs, docs, measure="shingles")
        .filter(F.col("jaccard") >= 0.7)
        .orderBy("doc_a", "doc_b")
    )


def minhash_neardup(
    docs: DataFrame, threshold: float, n_hashes: int = N_HASHES
) -> DataFrame:
    """Threshold-driven near-dup pipeline: (bands, rows) are derived from
    the requested Jaccard threshold via plan_lsh, then candidates are
    verified with exact Jaccard at that threshold."""
    n_bands, _ = plan_lsh(threshold, n_hashes)
    sigs = minhash_signatures(docs, n_hashes=n_hashes).select("doc_id", "sig")
    pairs = lsh_candidate_pairs(sigs, n_bands=n_bands, n_hashes=n_hashes)
    return (
        jaccard(pairs, docs, measure="shingles")
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


@register("l2f_minhash_threshold")
def l2f_minhash_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Configurable-threshold MinHash-LSH (threshold 0.5 -> wider bands
    than the default 0.71 curve). Rows-only: seeded hashes."""
    return minhash_neardup(table(spark, sf_dir, "documents"), threshold=0.5)


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, n): one row per distinct whitespace token of each
    doc, with n the doc's distinct-token count."""
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n"),
    )


def _shared_token_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, shared, na, nb) for every doc_a < doc_b pair that
    shares a token: the quadratic token self-join that l2b and
    containment_pairs score."""
    toks = _doc_tokens(docs)
    a = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("tok"), F.col("n").alias("na")
    )
    b = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("tok"), F.col("n").alias("nb")
    )
    return (
        a.join(b, ["tok"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )


# ---------------------------------------------------------------------------
# L2b: exact unigram token-set Jaccard over all shared-token pairs —
# the oracle-able quadratic baseline. Note the measure: token sets here
# (SQL-expressible for the oracle), 3-token shingle sets in the LSH
# pipeline (l2/l2f verify on the measure their sketch approximates).
# Filter >= 0.5 keeps output small.
# ---------------------------------------------------------------------------
@register(
    "l2b_jaccard_exact",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok,
         len(list_distinct(string_split(text, ' '))) AS n
  FROM documents
  WHERE doc_id < 2000  -- quadratic baseline: bounded corpus; LSH (l2) is the scale path
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS shared, any_value(a.n) AS na, any_value(b.n) AS nb
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
FROM pairs
WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5
ORDER BY doc_a, doc_b
""",
)
def l2b_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _shared_token_pairs(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    )
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    )
    return (
        pairs.filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# L2c: SimHash — 64-bit signature packed from per-bit majority votes of
# token xxhash64s; near-dup distance = bit_count(xor). Rows-only.
# ---------------------------------------------------------------------------
def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``simhash`` BIGINT column. One explode + one groupBy.

    r13 (opt round 1, continuation): the 64 per-bit vote aggregates are
    ONE parsed SQL array expression instead of ~6 Py4J column calls per
    bit (the E3.1 minhash lever, guide §7.3 plan-construction cost).
    The aggregate tree is identical — SQL ``CASE WHEN ((h >> j) & 1) = 1
    THEN 1 ELSE -1 END`` parses to the same int-literal CaseWhen the
    ``F.when(...).otherwise(-1)`` chain built, and Catalyst extracts the
    64 ``sum()``s out of the array() wrapper into the same partial/final
    HashAggregate — so every vote (and the packed signature) is
    bit-identical; pinned by
    tests/test_dedup.py::test_simhash_single_expr_agg_matches_per_bit_column_tree
    (exceptAll both directions == 0). Paired build A/B: see
    OPTIMIZATION_r13.md E7."""
    toks = df.select(
        "doc_id", F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    # shiftright(h, j), NOT `h >> j`: combining `array(`, `CASE WHEN`
    # and the `>>` operator token in one parsed string trips a Spark
    # 4.1 parser-prediction quirk (PARSE_SYNTAX_ERROR at 'WHEN' —
    # `array(sum(CASE WHEN h > 0 ...))` parses, and so does
    # `sum(CASE WHEN ((h >> 1) & 1) = 1 ...)` without the array()
    # wrapper; only the three together fail). `>>` IS ShiftRight, so
    # the function spelling parses to the identical expression tree.
    votes = ", ".join(
        f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        for j in range(64)
    )
    per_doc = toks.groupBy("doc_id").agg(F.expr(f"array({votes})").alias("__v"))
    packed = " | ".join(
        f"(CAST(CASE WHEN __v[{j}] > 0 THEN 1 ELSE 0 END AS BIGINT) << {j})"
        for j in range(64)
    )
    return per_doc.select("doc_id", F.expr(packed).alias("simhash"))


@register("l2c_simhash")
def l2c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return simhash(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# L40: SimHash near-dup JOIN — banded candidate generation over the
# 64-bit simhash (Manku/Jain/Sarma, WWW'07: Google's web-crawl dedup
# design). Two corpus-size-gated band structures, both with GUARANTEED
# recall for hamming distance <= 3 (unlike MinHash-LSH's probabilistic
# S-curve); the verify is a single bit_count(xor):
#
# - NARROW (default, corpora <= ~2M docs): 4 x 16-bit bands; by
#   pigeonhole 3 differing bits cannot touch all 4 bands, so every
#   <=3-hamming pair agrees exactly on >= 1 band. Cheap (4 shuffle
#   rows/doc) but the key space is only 2^16 buckets per band, so the
#   within-bucket self-join is O(n^2 / 2^16) per band — quadratic-
#   dominated by ~10^8 docs (round-5 verdict finding #2).
# - WIDE (Manku's block-combination table design): 6 blocks
#   (11,11,11,11,10,10 bits); 3 differing bits corrupt at most 3
#   blocks, so at least 3 blocks survive intact and the combo keyed on
#   exactly those 3 blocks matches — probe all C(6,3) = 20 combos of 3
#   blocks, each key ~32 bits => ~2^32 buckets per table. 20 shuffle
#   rows/doc buys per-bucket cardinality n/2^32: at n = 10^8 the
#   expected bucket load is ~0.02 docs and candidates stay O(n * 20).
#   This is exactly WWW'07 section 3's t-table construction.
#
# Gate: table_rows metadata count (no scan). Both modes are supersets
# of the true <=3 pair set, so the final hamming filter makes their
# OUTPUT identical — property-tested (recall, mode equivalence, and a
# planted skewed bucket showing wide-mode candidate containment).
# Rows-only (seeded hashes).
# ---------------------------------------------------------------------------
_L40_HAM_K = 3
_L40_BANDS = 4
# (bit offset, width) of the 6 wide-mode blocks; widths sum to 64.
_L40_WIDE_BLOCKS = [(0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)]
# Above this many docs the 2^16 narrow buckets are too coarse.
_L40_WIDE_THRESHOLD = 2_000_000


def simhash_band_candidates(
    sh: DataFrame, id_col: str = "doc_id", wide: bool = False
) -> DataFrame:
    """(doc_a, doc_b) pairs agreeing exactly on at least one band key —
    a GUARANTEED superset of all pairs with hamming distance <= 3 in
    BOTH modes (see module comment). ``wide`` selects Manku's 20-table
    block-combination structure for large corpora."""
    if wide:
        from itertools import combinations

        blocks = [
            F.expr(f"shiftrightunsigned(simhash, {off}) & {(1 << w) - 1}")
            for off, w in _L40_WIDE_BLOCKS
        ]
        # Key = the 3 chosen block values packed into disjoint 16-bit
        # slots of one BIGINT (each block value < 2^11 < 2^16).
        bands = [
            F.struct(
                F.lit(ci).alias("band_id"),
                (
                    blocks[i] * F.lit(1 << 32)
                    + blocks[j] * F.lit(1 << 16)
                    + blocks[k]
                ).alias("band_val"),
            )
            for ci, (i, j, k) in enumerate(combinations(range(6), 3))
        ]
    else:
        bands = [
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(f"shiftrightunsigned(simhash, {16 * b}) & 65535").alias(
                    "band_val"
                ),
            )
            for b in range(_L40_BANDS)
        ]
    banded = sh.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band")
    ).select(id_col, "band.band_id", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


@register("l40_simhash_neardup")
def l40_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = pin("l40.simhash", simhash(docs))  # feeds banding AND both verify sides
    wide = table_rows(sf_dir, "documents") > _L40_WIDE_THRESHOLD
    pairs = simhash_band_candidates(sh, wide=wide)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= _L40_HAM_K)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# L2e: near-dup group resolution — connected components over the
# candidate-pair graph via iterative min-label propagation, so every
# document maps to one canonical survivor (the pretraining-dedup
# "keep one per cluster" step).
#
# Scale shape: each iteration is one groupBy(doc) min(label) over the
# edge list plus one pointer-jumping self-join, so components with
# diameter d converge in O(log d) iterations (verified by the 40-node
# chain test). localCheckpoint() truncates lineage so plans don't grow
# exponentially — the standard Spark iterative-algorithm discipline.
# Non-convergence within max_iters raises instead of returning split
# clusters silently.
# ---------------------------------------------------------------------------
def neardup_components(
    pairs: DataFrame, ids: DataFrame, max_iters: int = 10
) -> DataFrame:
    """(doc_id, canonical_id): min doc_id reachable via pair edges.

    ``pairs``: (doc_a, doc_b) undirected edges; ``ids``: (doc_id) universe.
    Documents with no edges are their own canonical.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = ids.select(
        F.col("doc_id"), F.col("doc_id").alias("canonical_id")
    ).localCheckpoint()
    changed = -1
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("canonical_id").alias("nb_min"))
        )
        propagated = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("canonical_id"),
                F.coalesce("nb_min", F.col("canonical_id")),
            ).alias("canonical_id"),
        )
        # Pointer-jumping: replace each label by its label's label.
        # One-hop propagation alone needs diameter-many iterations (a
        # 12-doc chain would NOT converge in 10); the extra self-join
        # halves the remaining path length every pass, so convergence
        # is O(log diameter) — 10 iterations covers diameter ~2^10.
        # Labels are always doc_ids drawn from ``ids``, so the inner
        # join below never drops rows.
        hop = propagated.select(
            F.col("doc_id").alias("mid"), F.col("canonical_id").alias("root")
        )
        updated = (
            propagated.join(hop, propagated.canonical_id == hop.mid)
            .select("doc_id", F.col("root").alias("canonical_id"))
            .localCheckpoint()
        )
        changed = (
            updated.join(
                labels.select("doc_id", F.col("canonical_id").alias("old")),
                "doc_id",
            )
            .filter(F.col("canonical_id") != F.col("old"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # Never return silently-wrong components: a label still moving
        # after max_iters means some cluster has not converged.
        raise RuntimeError(
            f"neardup_components did not converge in {max_iters} iterations "
            f"({changed} labels still changing); raise max_iters"
        )
    return labels


@register("l2e_neardup_groups")
def l2e_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical survivor per near-dup cluster (LSH pairs -> components).
    Rows-only (pairs come from seeded LSH); convergence property-tested."""
    docs = table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs).select("doc_id", "sig")
    pairs = (
        jaccard(lsh_candidate_pairs(sigs), docs, measure="shingles")
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b")
    )
    comp = neardup_components(pairs, docs.select("doc_id"))
    return comp.filter(F.col("doc_id") != F.col("canonical_id")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# L2g: prefix-filtered exact Jaccard join (PPJoin-style). Same output
# contract as l2b (threshold 0.5, bounded corpus for the oracle) but the
# candidate pairs come only from PREFIX tokens: order each doc's tokens
# by ascending global document frequency (rarest first, ties on token
# text); for threshold t, two sets with J >= t MUST share a token inside
# each other's first (n - ceil(t*n) + 1) tokens under any shared total
# order (prefix-filtering principle, Chaudhuri et al. SSJoin / Xiao et
# al. PPJoin — public literature). Candidates then get an exact
# intersection recount, so the result is EXACTLY l2b's — the oracle is
# the same quadratic SQL — while the candidate join touches a small
# fraction of the token postings. This is the scale path when exact
# (not LSH-approximate) similarity is required at 100 TB: the df-rank
# shuffle replaces the full token self-join, and the rarest-token
# postings are short by construction.
# ---------------------------------------------------------------------------
@register(
    "l2g_jaccard_prefix",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok,
         len(list_distinct(string_split(text, ' '))) AS n
  FROM documents
  WHERE doc_id < 2000
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS shared, any_value(a.n) AS na, any_value(b.n) AS nb
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
FROM pairs
WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5
ORDER BY doc_a, doc_b
""",
)
def l2g_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = 0.5
    toks = _doc_tokens(table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000))
    df_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(df_counts, "tok").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "tok")
        ),
    )
    prefix = ranked.filter(
        F.col("r") <= F.col("n") - F.ceil(F.col("n") * F.lit(t)) + 1
    )
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "tok")
        .join(
            prefix.select(F.col("doc_id").alias("doc_b"), "tok"), "tok"
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), "tok", F.col("n").alias("na"))
    b = toks.select(F.col("doc_id").alias("doc_b"), "tok", F.col("n").alias("nb"))
    verified = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    )
    return (
        verified.filter(jac >= t)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# L31: exact substring (duplicated-span) detection — the suffix-array
# dedup of Lee et al., "Deduplicating Training Data Makes Language
# Models Better" (2022), re-expressed for a distributed engine: instead
# of one global suffix array, slide a fixed W-token window over every
# document, key each window by an engine-neutral 128-bit hash (md5), and
# find spans whose hash occurs in >= 2 distinct documents. Per document
# we report the fraction of its windows that are cross-document
# duplicated — the "duplicated span contamination" score used to gate or
# clip training docs.
#
# Scale shape (100 TB): window generation is per-row array work inside
# whole-stage codegen (transform/sequence/slice — no explode of W-grams
# as rows until aggregation). The (doc_id, h) aggregation is one shuffle
# of O(total_tokens) narrow rows; the h-level doc-frequency agg and the
# join back both run on the *distinct* (doc_id, h) pairs, never the raw
# window stream, and group on the 128-bit hash so shuffle keys are
# fixed-width. Nothing is quadratic and no all-pairs comparison exists:
# duplicated spans meet in the hash bucket, exactly like l1's content
# hash. W=8 tokens (~the 50-token char threshold of the paper scaled to
# this synthetic corpus' short docs).
# ---------------------------------------------------------------------------
_SPAN_W = 8


@register(
    "l31_substring_dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= {_SPAN_W}
), win AS (
  SELECT doc_id, md5(array_to_string(l[i:i+{_SPAN_W - 1}], ' ')) AS h
  FROM t, unnest(range(1, len(l) - {_SPAN_W} + 2)) AS r(i)
), g AS (
  SELECT doc_id, h, count(*) AS c FROM win GROUP BY doc_id, h
), d AS (
  SELECT h, count(*) AS ndocs FROM g GROUP BY h
)
SELECT g.doc_id,
       CAST(sum(g.c) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN d.ndocs >= 2 THEN g.c ELSE 0 END) AS BIGINT) AS n_dup_windows,
       round(CAST(sum(CASE WHEN d.ndocs >= 2 THEN g.c ELSE 0 END) AS DOUBLE)
             / sum(g.c), 6) AS dup_frac
FROM g JOIN d USING (h)
GROUP BY g.doc_id
""",
)
def l31_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dup_stats(table(spark, sf_dir, "documents"))


def substring_dup_stats(docs: DataFrame, w: int = _SPAN_W) -> DataFrame:
    """Per-doc duplicated-span stats for any (doc_id, text) frame."""
    # Window hash = xxhash64 over the w consecutive TOKEN hashes — the
    # round-6 gram-hash rewrite (_gram_hash_expr precedent). The hash
    # never surfaces in the output (only per-doc counts do), so any
    # collision-free keying gives oracle-identical counts; two distinct
    # spans collide with P ~ windows^2/2^64 (same acceptance as l17).
    # Supersedes the round-5 unhex(md5(concat_ws(slice(...)))) form:
    # no span string, no md5, 8-byte keys. Measured at 100x (checksum
    # harness, best-of-3): 11.07 s -> 4.47 s (DuckDB 7.76 s — Spark
    # now 0.58x, the biggest absolute win of the round).
    t = (
        docs.select("doc_id", F.split("text", " ").alias("l"))
        .filter(F.size("l") >= w)
        .select("doc_id", F.expr("transform(l, t -> xxhash64(t))").alias("lh"))
    )
    # CASE guard makes the window expression TOTAL: exploding it lets
    # InferFiltersFromGenerate push an inferred size(windows) > 0
    # predicate below the size(l) >= w filter, where interpreted CSE
    # evaluates the expression eagerly on short docs and the descending
    # sequence(1, size-w+1) drives element_at out of bounds (the l41
    # mechanism, tests/test_novelty_containment_ks.py).
    args = ", ".join(f"element_at(lh, i + {j})" for j in range(w))
    win = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(lh) >= {w} THEN"
                f" transform(sequence(1, size(lh) - {w - 1}), i -> xxhash64({args}))"
                f" ELSE CAST(array() AS ARRAY<BIGINT>) END"
            )
        ).alias("h"),
    )
    # Pin g: it feeds BOTH the doc-frequency agg and the final join, and
    # Catalyst will not ReusedExchange the differently-pruned subtrees —
    # unpinned, the scan+tokenize+explode+agg tree runs TWICE. Pinning
    # mechanism MEASURED at the 10x volume point (clean session,
    # best-of-3): persist 2.40 s < nothing 2.67 s < localCheckpoint
    # 4.42 s — persist caches compressed COLUMNAR batches and spills to
    # disk (100x-safe; the checkpoint's deserialized rows OOM'd an 8g
    # heap at 100x), while still cutting the duplicate subtree. Skew
    # note: the hot-hash case (universal boilerplate span) stays safe
    # because d is a map-side-combining groupBy, not a window over an h
    # partition, and the join build side has one row per h. Cache
    # lifecycle goes through pin(): each invocation releases the
    # previous one's blocks, so bench loops / facade calls cannot
    # accumulate cached relations across a session.
    from lens_warehouse_spark.operators._helpers import pin

    g = pin(
        "l31.g",
        win.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c")),
    )
    d = g.groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
    dup_c = F.sum(F.when(F.col("ndocs") >= 2, F.col("c")).otherwise(0))
    return (
        g.join(d, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_windows"),
            dup_c.cast("long").alias("n_dup_windows"),
            F.round(dup_c.cast("double") / F.sum("c"), 6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# L33: canonical selection — the step AFTER near-dup clustering in a real
# curation pipeline: from each near-dup cluster keep the single best
# document by an explicit quality key (distinct-token ratio, then
# length, then lowest doc_id), not just the arbitrary lowest id.
# Output: every kept doc with its cluster id and how many dups it
# absorbed. Rows-only (clusters come from seeded LSH like l2e);
# selection invariants are pinned in tests/test_canonical.py.
#
# Scale shape: reuses l2e's component machinery (banded LSH, never
# all-pairs), then ONE window over each cluster — clusters are small by
# construction (bounded by near-dup neighborhoods), so the rank
# partition never skews.
# ---------------------------------------------------------------------------
@register("l33_canonical_selection")
def l33_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs).select("doc_id", "sig")
    pairs = (
        jaccard(lsh_candidate_pairs(sigs), docs, measure="shingles")
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b")
    )
    comp = neardup_components(pairs, docs.select("doc_id"))
    toks = F.split("text", " ")
    quality = docs.select(
        "doc_id",
        "n_chars",
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("tok_ratio"),
    )
    scored = comp.join(quality, "doc_id")
    w = Window.partitionBy("canonical_id").orderBy(
        F.col("tok_ratio").desc(), F.col("n_chars").desc(), "doc_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("canonical_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias("keep_doc_id"),
            F.col("canonical_id").alias("cluster_id"),
            (F.col("cluster_size") - 1).cast("long").alias("n_dups_absorbed"),
            "tok_ratio",
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# L43: containment near-dup scoring — Broder's ASYMMETRIC containment
# |A∩B| / |A| on token sets, the measure that catches "doc B embeds
# doc A" pairs symmetric Jaccard misses (a near-subset of a much
# longer doc has high containment but low Jaccard, so neither l2's
# SKETCH nor l2b's >= 0.5 filter surfaces it). Emits both directions
# plus Jaccard for every pair whose max-direction containment clears
# 0.8. Same bounded-corpus quadratic-baseline contract as l2b (the
# scale path is LSH candidate generation feeding this scorer; the
# all-pairs form exists to be oracle-exact).
# ---------------------------------------------------------------------------
@register(
    "l43_containment_neardup",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok,
         len(list_distinct(string_split(text, ' '))) AS n
  FROM documents
  WHERE doc_id < 2000  -- bounded corpus: quadratic baseline (l2b contract)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS shared, any_value(a.n) AS na, any_value(b.n) AS nb
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(shared AS DOUBLE) / na, 6) AS cont_a_in_b,
       round(CAST(shared AS DOUBLE) / nb, 6) AS cont_b_in_a,
       round(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
FROM pairs
WHERE greatest(CAST(shared AS DOUBLE) / na, CAST(shared AS DOUBLE) / nb) >= 0.8
ORDER BY doc_a, doc_b
""",
)
def l43_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    )


def containment_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """All shared-token pairs of ``docs`` whose max-direction token-set
    containment clears ``threshold``; columns (doc_a, doc_b,
    cont_a_in_b, cont_b_in_a, jaccard). Quadratic in shared-token
    pairs — callers bound the corpus or feed LSH candidates."""
    pairs = _shared_token_pairs(docs)
    sh = F.col("shared").cast("double")
    cont_a = sh / F.col("na")
    cont_b = sh / F.col("nb")
    jac = sh / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        pairs.filter(F.greatest(cont_a, cont_b) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont_a, 6).alias("cont_a_in_b"),
            F.round(cont_b, 6).alias("cont_b_in_a"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )
