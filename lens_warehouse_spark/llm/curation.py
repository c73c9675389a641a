"""Corpus-curation operators L16-L18: benchmark decontamination,
repetition-based quality filtering, per-domain corpus statistics.

The standard pretraining hygiene pipeline at 100 TB:

- Decontamination: drop/flag training documents sharing long n-grams
  with an evaluation benchmark. The benchmark gram set is tiny (MBs),
  so the join side is broadcastable; the corpus side explodes to
  (gram, doc) pairs and never materializes a cross product.
- Repetition filter (Gopher-style): documents whose duplicate-n-gram
  fraction is high are boilerplate/spam; computed per-document with
  map-side-combinable counts, one shuffle on doc_id.
- Domain stats: per-source aggregates that feed mixture weighting and
  blocklists; a plain partial-aggregated groupBy.

All three are pure DataFrame ops with full DuckDB oracles — ratios are
emitted as (numerator, denominator) counts per the parity rules in
registry.py (rule 4: never round a ratio near a boundary).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lens_warehouse_spark.catalog import table, table_rows
from lens_warehouse_spark.operators._helpers import md5_bucket
from lens_warehouse_spark.registry import register

GRAM_N = 5  # decontamination n-gram length (words)
_BENCH_MOD = 97  # stand-in eval set: doc_id % 97 == 0


def _grams_expr(n: int) -> str:
    """Spark SQL: word n-grams of the pre-split token array ``__t``.

    The sequence upper bound clamps to 1, NOT 0: Spark's
    sequence(1, 0) silently produces the DESCENDING array [1, 0] and
    slice(__t, 0, n) is a runtime error, so a single short document
    would abort the whole query. Callers must pair this with a
    ``size(__t) >= n`` filter (repetition_stats' defensive form) so
    short documents emit no grams, matching the oracles'
    range(1, greatest(...)+1) which emits nothing for them."""
    return (
        f"transform(sequence(1, greatest(size(__t) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice(__t, i, {n})))"
    )


def word_ngrams(df: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """(doc_id, gram) pairs; documents shorter than n words emit none."""
    toks = df.select("doc_id", F.split(text_col, " ").alias("__t")).filter(
        F.size("__t") >= n
    )
    return toks.select("doc_id", F.explode(F.expr(_grams_expr(n))).alias("gram"))


def _gram_hash_expr(n: int) -> str:
    """Spark SQL: 64-bit hashes of word n-grams, from the pre-hashed
    token array ``__th`` — xxhash64 over the n consecutive token
    hashes, NO gram string is ever built. The concat_ws(slice(...))
    string form allocates a sliced array + a string per gram and
    measured 7.7x slower at the 100x volume point (l17: 7.18 s string
    grams vs 0.93 s this form — now FASTER than DuckDB's 1.41 s).
    A pandas-UDF (Arrow) gram counter measured 0.77 s — marginally
    faster still, but this form stays JVM-native with no Python worker
    memory to manage at 100 TB, so it wins on robustness.

    TOTAL by construction (round 6): the CASE guard returns an empty
    array for docs shorter than n tokens instead of relying on the
    caller's size(__t) >= n filter. The filter alone is NOT enough:
    exploding this expression makes InferFiltersFromGenerate push an
    inferred ``size(grams) > 0`` predicate below the caller's projects
    into the source filter, where interpreted common-subexpression
    elimination evaluates the gram expression EAGERLY — before the
    short-circuiting size conjunct — and sequence(1, size-n+1) turns
    DESCENDING on short docs, driving element_at out of bounds
    (ArrayIndexOutOfBoundsException under ANSI; caught by
    tests/test_novelty_containment_ks.py on a 2-token doc). Inside the
    taken CASE branch every index is in bounds (max = (size-n+1)+n-1
    = size), so the fast non-try element_at stays."""
    args = ", ".join(f"element_at(__th, i + {j})" for j in range(n))
    return (
        f"CASE WHEN size(__th) >= {n} THEN "
        f"transform(sequence(1, size(__th) - {n - 1}), i -> xxhash64({args})) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )


def word_ngram_hashes(df: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """(doc_id, gram_h) pairs — hashed twin of word_ngrams for
    consumers that never need the gram text (counts, set membership):
    the explode emits longs, downstream shuffles carry 8 bytes/gram
    instead of the gram string. Two distinct grams collide with
    P ~ 2^-64 (same acceptance as l17's hashed distinct; identical
    results on every oracle check)."""
    toks = df.select("doc_id", F.split(text_col, " ").alias("__t")).filter(
        F.size("__t") >= n
    )
    return toks.select(
        "doc_id", F.expr("transform(__t, t -> xxhash64(t))").alias("__th")
    ).select("doc_id", F.explode(F.expr(_gram_hash_expr(n))).alias("gram_h"))


# ---------------------------------------------------------------------------
# L16: benchmark decontamination — flag corpus documents sharing any
# 5-gram with the (stand-in) benchmark set. Benchmark grams broadcast;
# corpus grams stream through the join, so the plan is one broadcast
# hash join + one aggregation regardless of corpus size.
# ---------------------------------------------------------------------------
@register(
    "l16_decontamination",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - {GRAM_N - 1}, 0) + 1),
                               i -> array_to_string(t[i:i+{GRAM_N - 1}], ' '))) AS gram
  FROM toks
), bench_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {_BENCH_MOD} = 0
)
SELECT g.doc_id,
       count(DISTINCT g.gram) AS n_contaminated_grams
FROM grams g
JOIN bench_grams b ON b.gram = g.gram
WHERE g.doc_id % {_BENCH_MOD} <> 0
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
)
def l16_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_docs = table_rows(sf_dir, "documents")  # footer stats, no job
    return decontamination(docs, _BENCH_MOD, n_docs)


def decontamination(docs: DataFrame, bench_mod: int, n_docs: int) -> DataFrame:
    """Parameterized core of l16 — shared with the engine facade so
    ``LensWarehouse.decontaminate(bench_mod=...)`` runs the SAME plan
    as the registered query (round-6 review: the facade had kept the
    pre-hash string-gram path with an UNGATED broadcast).

    Hashed grams (word_ngram_hashes): the output is a per-doc count
    of distinct contaminated grams — gram text never surfaces, so
    the join keys and the distinct both run over 8-byte longs
    (round-6 gram-hash rewrite; 2^-64 collision acceptance as l17)."""
    if bench_mod <= 0:
        # general-purpose guard (the weighted_sample lesson): mod-0
        # would throw ANSI DIVIDE_BY_ZERO mid-query; fail loudly here
        raise ValueError(f"bench_mod must be positive, got {bench_mod}")
    grams = word_ngram_hashes(docs, GRAM_N)
    bench = (
        grams.filter(F.col("doc_id") % bench_mod == 0)
        .select("gram_h")
        .distinct()
    )
    corpus = grams.filter(F.col("doc_id") % bench_mod != 0)
    # bench derives from ~1/bench_mod of the corpus -> scales with data;
    # gate the never-demoted hint on the estimated BENCH-SIDE doc count,
    # not raw corpus size: the facade accepts user-supplied bench_mod,
    # and a small mod (e.g. 2) makes the bench side ~half of all
    # distinct gram hashes — corpus-gated broadcast would OOM the
    # driver near the boundary (round-6 advisor finding). 1031 bench
    # docs is the old gate's operating point (100k docs / mod 97). Let
    # AQE upgrade from runtime size on big corpora.
    bench_side = (
        F.broadcast(bench) if n_docs // bench_mod <= 1_031 else bench
    )
    return (
        corpus.join(bench_side, "gram_h")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram_h").alias("n_contaminated_grams"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L17: repetition filter — documents dominated by repeated 3-grams.
# Emits (total, distinct) gram counts and the boolean flag; the ratio
# comparison 1 - distinct/total > 0.2 is rewritten integer-exact as
# 5 * (total - distinct) > total, so no float crosses the wire.
# ---------------------------------------------------------------------------
def repetition_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, n_grams, n_distinct) over word n-grams, computed
    MAP-SIDE: both stats are per-document over that document's own
    grams, so nothing needs to leave the row — build the gram array
    and take size / size(array_distinct). Zero shuffle, zero explode.
    The explode + count/countDistinct formulation plans an Expand
    (distinct-agg rewrite) that pushes 2x the exploded grams through a
    (doc_id, gram) shuffle; measured at the 100x volume point this
    version is 20x faster (0.43 s vs 8.8 s). Docs with <n tokens
    produce no grams and are absent, exactly as the oracles'
    greatest(len-(n-1), 0) ranges do.

    The distinct runs over HASHED grams (array<bigint>), not the
    3-token strings: identical counts up to a 64-bit collision within
    one document (P ~ grams^2/2^64 per doc — vanishing). Round-6
    rewrite: the gram hash is xxhash64 over the n consecutive TOKEN
    hashes (_gram_hash_expr) — the earlier concat_ws(slice(...)) +
    xxhash64(string) form allocated a sliced array and a gram string
    per position inside an interpreted lambda, and was the single
    worst honest-protocol ratio in VOLUME_100x.json (5.99x DuckDB).
    Measured at 100x, checksum harness, best-of-3: string grams
    7.18 s -> this form 0.93 s (DuckDB: 1.41 s); a pandas-UDF (Arrow)
    counter measured 0.77 s but needs Python workers in the hot path.
    Exact same counts on the sf0.01 oracle check (full row hash
    equality verified for all three variants)."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("__t"))
        .filter(F.size("__t") >= n)
        .select("doc_id", F.expr("transform(__t, t -> xxhash64(t))").alias("__th"))
        .select("doc_id", F.expr(_gram_hash_expr(n)).alias("__g"))
        .select(
            "doc_id",
            F.size("__g").cast("long").alias("n_grams"),
            F.size(F.array_distinct("__g")).cast("long").alias("n_distinct"),
        )
    )


@register(
    "l17_repetition_filter",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                               i -> array_to_string(t[i:i+2], ' '))) AS gram
  FROM toks
), per_doc AS (
  SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
  FROM grams GROUP BY doc_id
)
SELECT doc_id, n_grams, n_distinct,
       (5 * (n_grams - n_distinct) > n_grams) AS is_repetitive
FROM per_doc
ORDER BY doc_id
""",
)
def l17_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        repetition_stats(docs, 3)
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            (
                F.lit(5) * (F.col("n_grams") - F.col("n_distinct"))
                > F.col("n_grams")
            ).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L18: per-domain corpus stats — the aggregate that feeds mixture
# weights and domain blocklists. `source` stands in for the URL domain.
# Partial aggregation combines map-side; the shuffle carries one row
# per (domain) per task.
# ---------------------------------------------------------------------------
@register(
    "l18_domain_stats",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY source
ORDER BY source
""",
)
def l18_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# L19: int8 scalar quantization of embeddings — the 4x memory/IO lever
# for vector search at 100 TB (float32 -> int8 + per-dim scale).
# Per-dimension min/max are order-independent aggregates and the
# quantization expression tree is identical on both engines (float ->
# double widening is exact), so the op is fully oracle-checked.
# Long format (vec_id, dim, q) keeps the comparison array-free.
# ---------------------------------------------------------------------------
@register(
    "l19_scalar_quantization",
    oracle="""
WITH vals AS (
  SELECT e.vec_id, i AS dim, CAST(e.embedding[i] AS DOUBLE) AS val
  FROM embeddings e, range(1, 65) t(i)
), stats AS (
  SELECT dim, min(val) AS mn, max(val) AS mx FROM vals GROUP BY dim
)
SELECT v.vec_id, v.dim,
       CAST(floor((v.val - s.mn) * 255.0 / (s.mx - s.mn)) AS INT) - 128 AS q
FROM vals v JOIN stats s ON s.dim = v.dim
WHERE v.vec_id < 100
ORDER BY v.vec_id, v.dim
""",
)
def l19_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fval")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("fval").cast("double").alias("val"),
    )
    stats = vals.groupBy("dim").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    # nullif guard: a constant dimension (mx == mn) must quantize to
    # NULL like the oracle (DuckDB double-div-by-zero yields NULL),
    # not throw DIVIDE_BY_ZERO under Spark's ANSI mode.
    q = (
        F.floor(
            (F.col("val") - F.col("mn"))
            * F.lit(255.0)
            / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0))
        ).cast("int")
        - 128
    )
    return (
        vals.join(F.broadcast(stats), "dim")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", "dim", q.alias("q"))
        .orderBy("vec_id", "dim")
    )


# ---------------------------------------------------------------------------
# L19b: quantized ANN — brute-force top-k over the int8 vectors from the
# L19 quantization. Integer dot products are EXACT (no float summation
# order anywhere), so unlike the float ANN baselines this one is fully
# value-oracle-checked including the scores. At scale this is the
# memory-resident rerank tier: 4x more vectors per executor, exact
# integer SIMD, float rerank only for the final candidates.
# ---------------------------------------------------------------------------
@register(
    "l19b_quantized_knn",
    oracle="""
WITH vals AS (
  SELECT e.vec_id, i AS dim, CAST(e.embedding[i] AS DOUBLE) AS val
  FROM embeddings e, range(1, 65) t(i)
), stats AS (
  SELECT dim, min(val) AS mn, max(val) AS mx FROM vals GROUP BY dim
), arrs AS (
  SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs FROM stats
), quant AS (
  SELECT e.vec_id,
         list_transform(range(1, 65),
           i -> CAST(floor((CAST(e.embedding[i] AS DOUBLE) - a.mns[i]) * 255.0
                           / (a.mxs[i] - a.mns[i])) AS BIGINT) - 128) AS q
  FROM embeddings e CROSS JOIN arrs a
)
SELECT query_id, neighbor_id, rn, int_dot FROM (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, 65), i -> p.q[i] * c.q[i])) AS BIGINT) AS int_dot,
         row_number() OVER (
           PARTITION BY p.vec_id
           ORDER BY list_sum(list_transform(range(1, 65), i -> p.q[i] * c.q[i])) DESC,
                    c.vec_id
         ) AS rn
  FROM quant p JOIN quant c ON p.vec_id < 5 AND c.vec_id >= 5
) WHERE rn <= 3
ORDER BY query_id, rn
""",
)
def l19b_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fval")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("fval").cast("double").alias("val"),
    )
    arrs = (
        vals.groupBy("dim")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mn"))), lambda s: s.mn
            ).alias("mns"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mx"))), lambda s: s.mx
            ).alias("mxs"),
        )
    )
    quant = emb.crossJoin(F.broadcast(arrs)).select(
        "vec_id",
        F.expr(
            # nullif: constant dims quantize to NULL (see l19's guard)
            "transform(sequence(1, 64),"
            " i -> CAST(floor((CAST(element_at(embedding, i) AS DOUBLE)"
            "                  - element_at(mns, i)) * 255.0D"
            "                 / nullif(element_at(mxs, i) - element_at(mns, i), 0.0D))"
            "       AS BIGINT)"
            "      - 128)"
        ).alias("q"),
    )
    probes = quant.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qp")
    )
    cands = quant.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qc")
    )
    int_dot = F.expr(
        "aggregate(zip_with(qp, qc, (x, y) -> x * y), CAST(0 AS BIGINT), (s, v) -> s + v)"
    )
    scored = cands.join(F.broadcast(probes)).select(
        "query_id", "neighbor_id", int_dot.alias("int_dot")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("int_dot").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "rn", "int_dot")
        .orderBy("query_id", "rn")
    )


# ---------------------------------------------------------------------------
# L20: the end-to-end curation pipeline as ONE declarative plan — the
# flagship training-data demo: exact dedup (keep lowest doc_id per
# content hash) -> repetition filter -> benchmark decontamination
# (anti-join) -> length quality gate -> deterministic 50% md5-bucket
# sample. Catalyst sees the whole thing: filters push into the scan,
# the dedup keep-first and gram aggregations share the corpus scan via
# exchange reuse, and each stage is a hash shuffle or broadcast
# anti-join — nothing driver-side, nothing iterative.
# ---------------------------------------------------------------------------
@register(
    "l20_curation_pipeline",
    oracle=f"""
WITH keep AS (  -- exact dedup: keep lowest doc_id per normalized hash
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY md5(lower(trim(text)))
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams3 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                               i -> array_to_string(t[i:i+2], ' '))) AS gram
  FROM toks
), repetitive AS (
  SELECT doc_id FROM (
    SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
    FROM grams3 GROUP BY doc_id
  ) WHERE 5 * (n_grams - n_distinct) > n_grams
), grams5 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - {GRAM_N - 1}, 0) + 1),
                               i -> array_to_string(t[i:i+{GRAM_N - 1}], ' '))) AS gram
  FROM toks
), contaminated AS (
  SELECT DISTINCT g.doc_id
  FROM grams5 g
  JOIN (SELECT DISTINCT gram FROM grams5 WHERE doc_id % {_BENCH_MOD} = 0) b
    ON b.gram = g.gram
  WHERE g.doc_id % {_BENCH_MOD} <> 0
)
SELECT d.lang, d.source, count(*) AS n_docs,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
FROM documents d
JOIN keep k ON k.doc_id = d.doc_id
WHERE d.doc_id NOT IN (SELECT doc_id FROM repetitive)
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
  AND d.doc_id % {_BENCH_MOD} <> 0
  AND d.n_chars BETWEEN 64 AND 100000
  AND CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT)
      < CAST(0.5 * 65536 AS INT)
GROUP BY d.lang, d.source
ORDER BY d.lang, d.source
""",
)
def l20_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    keep = (
        docs.groupBy(F.md5(F.lower(F.trim("text"))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # NOTE: this branch deliberately KEEPS the explode+agg formulation
    # (not l17's map-side repetition_stats). Measured A/B at sf0.1,
    # same session: explode+agg 1.41 s vs map-side 2.39 s for the full
    # pipeline — as a FILTER condition the higher-order gram expression
    # gets substituted into the predicate and re-evaluated per
    # reference (interpreted, no codegen, no subexpression
    # elimination), while l17's projection-only use evaluates it once.
    # The aggregated repetitive set also gives the anti-join a tiny
    # build side. RE-MEASURED round 4b at the VOLUME points (where
    # l17's Expand-shuffle win was 20x, so the question deserved a
    # second look): explode 1.83 s / 13.2 s vs map-side 2.31 s /
    # 15.5 s at 10x / 100x — the anti-join context keeps favoring
    # explode+agg at every scale. Closed; don't re-try.
    # Round 6: the exploded grams are HASHES (word_ngram_hashes), not
    # strings — no gram string is ever built and the (doc_id, gram)
    # shuffle carries 8-byte longs. Counts identical modulo 2^-64
    # collisions (l17 precedent); measured with the rest of the
    # round-6 gram-hash rewrite (pipeline 10.35 s -> see VOLUME_100x).
    repetitive = (
        word_ngram_hashes(docs, 3)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("gram_h").alias("n_distinct"),
        )
        .filter(
            F.lit(5) * (F.col("n_grams") - F.col("n_distinct")) > F.col("n_grams")
        )
        .select("doc_id")
    )
    # Rejected alternative (measured, idle machine): persisting the
    # tokenized corpus once for all four consumers LOST at every volume
    # point (10x: 2.17 s current vs 2.32 s cached; 100x: 11.0 vs 11.7) —
    # the parquet re-scan + split is cheaper than materializing token
    # arrays, and the dominant explode+agg work happens per consumer
    # either way. Don't re-try token caching here.
    # Contamination only needs gram SET MEMBERSHIP, never the gram
    # text: join on 64-bit gram hashes (8-byte shuffle/build keys; a
    # corpus-vs-bench collision falsely flags one doc with
    # P ~ |corpus grams|*|bench grams|/2^64 — the same acceptance as
    # every hashed-gram op here, and sf0.01 oracle checks stay exact).
    grams5 = word_ngram_hashes(docs, GRAM_N)
    bench = (
        grams5.filter(F.col("doc_id") % _BENCH_MOD == 0).select("gram_h").distinct()
    )
    # The benchmark gram set derives from ~1% of the CORPUS, so it
    # scales with data — same never-demoted-hint hazard as l13's vocab:
    # keep the measured-faster hint at bench scale, withhold it on big
    # corpora and let AQE upgrade from runtime size.
    bench_side = (
        F.broadcast(bench)
        if table_rows(sf_dir, "documents") <= 100_000
        else bench
    )
    contaminated = (
        grams5.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(bench_side, "gram_h")
        .select("doc_id")
        .distinct()
    )
    # r14 execution-side A/Bs (AB_L20_r14.json), both NEGATIVE at the
    # 10% adoption bar — the pipeline is at its boundary floor:
    # - dedup key md5(norm text) -> xxhash64 (guide §2.3 narrower
    #   shuffle key): full-query wash (0.736 vs 0.746 best; the keep
    #   branch is only 0.09 s of 0.74 isolated). Kept md5: it is the
    #   oracle's spelling and the exchange it feeds is not the cost.
    # - dropping contaminated's .distinct() (left_anti ignores build
    #   duplicates; one whole exchange removed): 0.699 vs 0.752 best,
    #   noise-dominated — and at scale the distinct SHRINKS the
    #   broadcast ~8x (167 raw vs 20 distinct rows at sf0.1), so the
    #   safe shape also measured no worse. Kept.
    # Branch decomposition (isolated, noop sink): repetitive 0.432 s,
    # grams5_join 0.362 s, keep 0.09 s — the two dominant branches sit
    # on the round-4b volume-scale pins above; no unpinned lever left.
    bucket = md5_bucket(F.col("doc_id"))
    return (
        docs.join(keep, "doc_id", "left_semi")
        .join(repetitive, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
        .filter(F.col("doc_id") % _BENCH_MOD != 0)
        .filter(F.col("n_chars").between(64, 100000))
        .filter(bucket < int(0.5 * 65536))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# L21: bigram language-model quality score — the CCNet/KenLM-style LM
# filter: train an add-one-smoothed bigram model ON the corpus itself,
# then score every document by its average token log-probability;
# low scorers are gibberish/boilerplate, extreme high scorers are
# repetitive spam. Two aggregation passes (unigram + bigram counts) and
# two shuffle joins on the gram keys — all partial-aggregated, no
# driver-side model object, so the "model" scales to any corpus size as
# a DataFrame. At 100 TB the bigram table gets a min-count prune
# (HAVING count >= k) before the join, which keeps the model table
# orders of magnitude smaller with negligible score movement; left out
# here so the oracle is exact.
#
# Parity: counts are integers, the smoothed probability (cb+1)/(cu+V)
# is an exact-integer ratio computed identically on both engines, and
# ln() cross-engine drift is <=1 ulp per term — round(avg, 4) per the
# a15/rule-4 precedent. Ref parity: no LM ops in lens-warehouse; part
# of the SURVEY.md §2.11 training-pipeline extension.
# ---------------------------------------------------------------------------
@register(
    "l21_bigram_lm_score",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), uni AS (
  SELECT w, count(*) AS cu
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
), v AS (
  SELECT count(*) AS vsz FROM uni
), bigl AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> struct_pack(w1 := toks[i],
                                 gram := toks[i] || ' ' || toks[i + 1]))) AS bg
  FROM t
), big AS (
  SELECT doc_id, bg.w1 AS w1, bg.gram AS gram FROM bigl
), bcnt AS (
  SELECT gram, count(*) AS cb FROM big GROUP BY gram
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((bc.cb + 1) / (u.cu + v.vsz))), 4) AS lm_score
FROM big b
JOIN bcnt bc USING (gram)
JOIN uni u ON u.w = b.w1
CROSS JOIN v
GROUP BY b.doc_id
ORDER BY b.doc_id
""",
)
def l21_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    # size >= 2 filter + clamp-to-1: sequence(1, 0) goes DESCENDING
    # ([1, 0]) and element_at(t, 0) / element_at(t, 2) on a 1-element
    # array are runtime errors under ANSI, so one no-space document
    # would abort the whole query; the oracle's range() emits nothing
    # for such docs.
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                # CASE guard: total on 1-token docs (the l41
                # inferred-filter + CSE mechanism would otherwise
                # evaluate element_at(t, 2) on them despite the
                # size(t) >= 2 filter above)
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN"
                    " transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS w1,"
                    " concat(element_at(t, i), ' ', element_at(t, i + 1)) AS gram))"
                    " ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, gram: STRING>>) END"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.gram")
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vsz = uni.groupBy().agg(F.count(F.lit(1)).alias("vsz"))
    bcnt = big.groupBy("gram").agg(F.count(F.lit(1)).alias("cb"))
    return (
        big.join(bcnt, "gram")
        .join(uni, big["w1"] == uni["w"])
        .crossJoin(F.broadcast(vsz))
        .select(
            "doc_id",
            F.log((F.col("cb") + 1) / (F.col("cu") + F.col("vsz"))).alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 4).alias("lm_score"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L22: PII detection + redaction — the standard pre-training scrub pass
# (emails / IPv4s / phone numbers -> typed placeholder tokens) with
# per-doc match counts for audit. Patterns use the regex subset where
# Java (Spark) and RE2 (DuckDB) agree: \b, character classes, bounded
# repetition, non-capturing groups. The corpus text is synthetic and
# PII-free, so each doc gets deterministic PII APPENDED (pure string
# arithmetic of doc_id, identical on both engines) before the scrub —
# the redaction therefore has real work to do and the md5 of the output
# pins the exact redacted bytes. Pure map-side (zero shuffle until the
# final orderBy, which the oracle shares): at 100 TB this is a
# whole-stage-codegen pass over the scan with no exchange at all.
# ---------------------------------------------------------------------------
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PII_PHONE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"


@register(
    "l22_pii_redaction",
    oracle=f"""
WITH synth AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@ex' || (doc_id % 7)
              || '.com at 10.' || (doc_id % 200) || '.0.' || (doc_id % 250)
              || ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
), counted AS (
  SELECT doc_id, t,
         length(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
         length(regexp_extract_all(t, '{_PII_IP}')) AS n_ips,
         length(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
         regexp_replace(regexp_replace(regexp_replace(t,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_IP}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS red
  FROM synth
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_ips AS BIGINT) AS n_ips,
       CAST(n_phones AS BIGINT) AS n_phones,
       CAST(length(red) AS BIGINT) AS red_len,
       md5(red) AS red_md5
FROM counted
ORDER BY doc_id
""",
)
def l22_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"), s(d), F.lit("@ex"), s(d % 7),
        F.lit(".com at 10."), s(d % 200), F.lit(".0."), s(d % 250),
        F.lit(" tel 555-"), F.lpad(s(d % 1000), 3, "0"),
        F.lit("-"), F.lpad(s(d % 10000), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return (
        doc.select("doc_id", synth.alias("t"))
        .select(
            "doc_id",
            F.regexp_count(F.col("t"), F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
            F.regexp_count(F.col("t"), F.lit(_PII_IP)).cast("long").alias("n_ips"),
            F.regexp_count(F.col("t"), F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
            red.alias("red"),
        )
        .select(
            "doc_id",
            "n_emails",
            "n_ips",
            "n_phones",
            F.length("red").cast("long").alias("red_len"),
            F.md5("red").alias("red_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L26: deterministic epoch shuffle — the training-order permutation.
# Every epoch the corpus is re-ordered by a seeded content-independent
# key (md5 of seed||doc_id, reproducible across engines and runs), and
# each doc gets its global position. The naive row_number() over a
# global ORDER BY collapses to one partition; here the rank is computed
# the scale-correct way: range-repartition on the shuffle key (parallel
# range shuffle, same machinery as o1's global sort), rank locally
# per partition, then add per-partition row-count offsets (a tiny
# aggregate, broadcast back). Offsets + local ranks == the global rank
# regardless of where the sampled range boundaries fall, so the result
# is deterministic even though the partitioning isn't pinned. Reference
# has no ordering beyond browse-endpoint pagination [P
# src/lens/util.clj]; this is the NS training-pipeline extension.
# ---------------------------------------------------------------------------
@register(
    "l26_epoch_shuffle",
    oracle="""
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY md5('epoch7:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS epoch_pos
FROM documents
""",
)
def l26_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lens_warehouse_spark.operators._helpers import global_rank

    docs = table(spark, sf_dir, "documents").select("doc_id")
    key = F.md5(F.concat(F.lit("epoch7:"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("__k"))
    return global_rank(keyed, ["__k", "doc_id"], rank_col="epoch_pos").select(
        "doc_id", "epoch_pos"
    )


# ---------------------------------------------------------------------------
# L27: token-budget corpus selection — keep the highest-quality docs
# whose cumulative token count fits a training budget (greedy knapsack,
# the standard "best N billion tokens" cut). Quality = distinct-token
# ratio (l6's repetition signal); ordering uses the UNROUNDED ratio
# (IEEE division is bit-identical across engines; rounding only the
# output column keeps the oracle hash stable). The cumulative sum comes
# from ``running_totals`` (range-repartition on the sort key, local
# running sums, broadcast per-partition token offsets) — no
# single-partition window over the corpus. At 100 TB the
# cheaper first cut is a quality-histogram quantile (tiny aggregate)
# that prunes to ~budget before the exact pass; this operator is the
# exact pass. NS training-pipeline extension.
# ---------------------------------------------------------------------------
_L27_BUDGET = 50_000


@register(
    "l27_budget_select",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS q
  FROM documents
), cum AS (
  SELECT doc_id, n_tok, q,
         sum(n_tok) OVER (ORDER BY q DESC, doc_id) AS cum_tok
  FROM scored
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, round(q, 6) AS quality,
       CAST(cum_tok AS BIGINT) AS cum_tok
FROM cum WHERE cum_tok <= {_L27_BUDGET}
ORDER BY doc_id
""",
)
def l27_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lens_warehouse_spark.operators._helpers import running_totals

    toks = F.split(F.col("text"), " ")
    scored = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("q"),
    )
    cum, _ = running_totals(
        scored, [F.col("q").desc(), F.col("doc_id")], {"cum_tok": "n_tok"}
    )
    return (
        cum.filter(F.col("cum_tok") <= _L27_BUDGET)
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            F.round("q", 6).alias("quality"),
            "cum_tok",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L28: cross-corpus boilerplate scrub — the CCNet/RefinedWeb line-dedup
# step adapted to this corpus: split each doc into non-overlapping
# 8-token chunks (the "paragraph" unit; the synthetic corpus has no
# newlines), count DISTINCT docs per chunk corpus-wide, and scrub any
# chunk appearing in >= 3 docs (nav bars / license headers / templates
# in a real crawl). Emits per-doc kept/removed counts and the md5 of
# the scrubbed reconstruction so the oracle pins the exact output text.
# Shape at 100 TB: one shuffle on chunk for the doc-frequency count;
# the boilerplate set is a tiny fraction (17/3434 chunks at sf0.01) so
# it broadcasts, and the scrub is a broadcast anti-join + one
# groupBy(doc_id) rebuild — the corpus never shuffles on anything but
# the chunk count. NS training-pipeline extension.
# ---------------------------------------------------------------------------
_L28_N = 8  # chunk size (tokens)
_L28_MIN_DOCS = 3  # chunks in >= this many docs are boilerplate
# Boiler-set broadcast budget: 2M int64 hashes = 16 MB on the wire,
# ~sub-second collect; past this the map-side plan's driver collect
# stops being bounded and the shuffle fallback takes over.
_L28_BC_MAX = 2_000_000
# Literal-array membership ceiling: below this the kept-index filter is
# a constant-folded JVM array_contains (Python-free plan); above it the
# set ships via sparkContext.broadcast to a numpy-searchsorted UDF.
# 64, not 1024: array_contains is a LINEAR scan per chunk, so at 100x
# (34M chunks) a 128-entry literal measured 6.48 s vs the UDF's 4.45 s
# (r7 A/B, contended-but-paired runs) — the O(c log b) searchsorted
# wins as soon as the set has real size; the literal path exists for
# the handful-of-hashes regime where a Python-free plan is free.
_L28_LIT_MAX = 64
# Below this doc count (parquet footer stats) the single-job broadcast
# mark-join plan wins: job-count fixed cost dominates and the Arrow
# chunker's transfer does not amortize (r5: 0.288 s lambda vs r6:
# 0.459 s Arrow at sf0.1).
_L28_SMALL_DOCS = 100_000

# One live tier-2b broadcast at a time, keyed by a digest of the hash
# set (r7 advisor: a fresh sparkContext.broadcast per l28 call was
# never unpersisted, so a long-lived session accumulated broadcast
# blocks on driver AND executors). Same set -> reuse; different set ->
# unpersist the predecessor before replacing it. Bound: exactly one.
_L28_BC_CACHE: dict = {}


def _l28_cached_broadcast(spark, arr):
    import hashlib

    digest = hashlib.sha1(arr.tobytes()).digest()
    hit = _L28_BC_CACHE.get(digest)
    # A broadcast is only reusable within the SparkContext that made it.
    if hit is not None and hit[0] is spark.sparkContext:
        return hit[1]
    for _, (_, old) in _L28_BC_CACHE.items():
        try:
            old.unpersist()
        except Exception:
            pass  # context already stopped; nothing to release
    _L28_BC_CACHE.clear()
    bc = spark.sparkContext.broadcast(arr)
    _L28_BC_CACHE[digest] = (spark.sparkContext, bc)
    return bc


def _chunk_strings_arrow():
    """Arrow pandas_udf chunker: text -> array of N-token chunk strings
    (split on single space, groups of _L28_N re-joined — split+join on
    the same delimiter is an identity, so chunks are exact substrings
    of the original between every Nth space). Measured 28% faster than
    the interpreted concat_ws(slice(...)) lambda at 100x and exact on
    adversarial spacing (`git show ce9889a:tools/ab_l28.py`). Built lazily per call:
    pandas_udf registration needs an active SparkSession."""
    n = _L28_N

    @F.pandas_udf("array<string>")
    def chunker(s: pd.Series) -> pd.Series:
        def f(text):
            if text is None:  # match split(NULL) -> NULL semantics
                return None
            t = text.split(" ")
            return [
                " ".join(t[i * n : (i + 1) * n])
                for i in range(-(-len(t) // n))
            ]

        return s.map(f)

    return chunker


@register(
    "l28_boilerplate_scrub",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(len(t) / {_L28_N}.0) AS INT)),
            i -> array_to_string(t[(i*{_L28_N}+1):((i+1)*{_L28_N})], ' '))) AS chunk,
         unnest(range(0, CAST(ceil(len(t) / {_L28_N}.0) AS INT))) AS chunk_idx
  FROM toks
), boiler AS (
  SELECT chunk FROM chunks GROUP BY chunk
  HAVING count(DISTINCT doc_id) >= {_L28_MIN_DOCS}
)
SELECT c.doc_id,
       CAST(count(*) FILTER (b.chunk IS NULL) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (b.chunk IS NOT NULL) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(CASE WHEN b.chunk IS NULL THEN c.chunk END, ' '
                               ORDER BY c.chunk_idx), '')) AS clean_md5
FROM chunks c LEFT JOIN boiler b ON b.chunk = c.chunk
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def l28_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-7 rewrite: THREE-TIER plan routed by measured sizes, not
    # guesses. The r6 finding to beat: at volume the docs<=100k
    # broadcast gate turned the mark join into a corpus-wide
    # chunk-STRING shuffle (2.5-3.7x DuckDB at 100x-1000x) — yet under
    # replication-style growth the boiler set stays ~constant while the
    # corpus explodes, so the join side that actually needed shipping
    # was tiny all along.
    #
    # Tier 1 (n_docs <= 100k, parquet footer stats — bench scale): the
    # single-job explode + broadcast-mark-join + rebuild plan with the
    # INTERPRETED lambda chunker — at this scale the corpus is small,
    # job count dominates, and r5 measured the lambda faster than the
    # Arrow chunker here (0.288 s vs 0.459 s at sf0.1; the Arrow
    # transfer cost does not amortize below ~100k docs).
    #
    # Tier 2 (big corpus, boiler set <= _L28_BC_MAX by a limit()d
    # probe): collect the boiler HASHES (8 bytes each) and scrub
    # MAP-SIDE — zero corpus shuffle. The doc-frequency branch is the
    # only corpus-wide exchange (64-bit chunk hashes built straight
    # from token hashes, round-6 hash-first rule; xxhash64 skips the
    # nulls past a short last chunk, so equal token sequences hash
    # equal). Membership goes through a constant-folded JVM literal
    # array when the set is tiny (<= _L28_LIT_MAX: array_contains is a
    # linear scan but codegen-compiled, and the plan stays Python-free)
    # or an Arrow pandas_udf over HASH ARRAYS (never chunk strings, per
    # the gram-hash rule) with numpy searchsorted against the broadcast
    # sorted set. The rebuild is pure JVM token-slice algebra:
    # md5(concat_ws(' ', flatten(slice(__t, ...)))) — chunks joined by
    # ' ' of tokens joined by ' ' == one flat token join, and split+
    # join on ' ' is an identity, so the reconstruction is exact.
    #
    # Tier 3 (boiler set > _L28_BC_MAX — a genuinely boilerplate-heavy
    # 100TB corpus): the r6 shuffle plan (_l28_scrub_shuffle), which
    # never collects; Arrow chunker on the probe side (measured -28% vs
    # the lambda at 100x).
    #
    # FLOOR NOTE (r8 verdict #2; band re-pinned r9 under the idle
    # gate; CLOSED PERMANENTLY r10) — why ~2x vs DuckDB at 1000x is
    # the structural floor of this design, pinned by paired
    # measurements on the same staged fingerprint (5M docs,
    # 33,749-hash boiler set, so tier 2b is the path the 1000x run
    # takes). r9 band, two gated batches: Spark best 19.5 s (inside
    # the full-subset run) / 24.5 s (l28-only batch, colder JVM) vs
    # DuckDB best 10.0-10.4 s -> ratio **1.87-2.45** — the first
    # sub-2.0 reading on record, but the band still straddles 2x.
    # (r8 band for history: Spark 19.9-25.2 s, DuckDB 7.4-13.9 s
    # within one batch, ratio 2.0-2.7.)
    #
    # r10 (verdict #3, the ONE more structural attempt — it LOST):
    # persist the smallest cross-pass reuse unit. The literal
    # suggestion (doc_id, __th) cannot feed the md5 rebuild (needs
    # chunk TEXT) without a corpus join back to a re-scan, so the
    # smallest unit serving BOTH passes is DuckDB's own materialized
    # chunks CTE: (doc_id, __c chunk strings, __ch chunk hashes),
    # MEMORY_AND_DISK, probe explodes __ch off it, scrub filters +
    # md5's __c off it — zero re-tokenize, zero join, checksum-equal
    # output (`git show ce9889a:tools/ab_l28_persist.py`). Paired interleaved at 1000x,
    # idle-gated: current [21.99, 18.52, 23.00] vs persist
    # [27.43, 20.59, 24.98] s — the variant loses ~11% at best-of
    # and GCLocker allocation retries reappear (the milder cousin of
    # the rejected token-array persist's thrash). The block-manager
    # round-trip of ~text-sized chunk arrays costs more than the
    # re-tokenize it saves; with 32 cores re-scanning at full
    # parallelism, recompute beats materialize. l28 is hereby
    # weak-but-pinned PERMANENTLY (band 1.87-2.45 straddling 2x);
    # do not spend further rounds on it — every persist granularity
    # (tokens r7, chunks r10) and every plan shape (tiers 1-3,
    # single-pass shuffle, literal/UDF membership) is now measured.
    # r11 coda (no code change): under warmup protocol v2 (BASELINE.md
    # r11 — the JDK-17.0.20 C2 ramp no longer completes inside
    # best-of-3, so pre-v2 reps were partially measuring compile ramp)
    # the idle-gated 1000x point reads **0.54x** (Spark 19.3 s vs
    # DuckDB 35.9 s, VOLUME_1000x.json) — most of the historical band
    # was ramp phantom, not the second scan. 100x/300x still read
    # ~1.8-2.0x, so the note above stands for mid-volume; the plan
    # remains unchanged and closed.
    # Decomposition:
    #   probe pass (tokenize + chunk-hash + exact df-count + collect):
    #     8.6-13.1 s;  scrub pass (re-tokenize + searchsorted + md5
    #     rebuild + checksum): ~8.2 s — i.e. EACH Spark pass is at
    #     parity with DuckDB's ENTIRE query (8.86 s), because DuckDB
    #     materializes its chunks CTE once and shares it between the
    #     df-count and the join. The ratio IS the second scan.
    # Alternatives measured and rejected at 1000x:
    #   - persist the tokenized intermediate to share it between the
    #     passes: DISK_ONLY total 92.1 s (serializing 5M token arrays
    #     ~10x the cost of re-tokenizing); MEMORY_AND_DISK GC-thrashes
    #     the shared 8 GB JVM (GCLocker retry warnings).
    #   - tier-3 single-pass shuffle plan: 23.99 s (r6 artifact).
    #   - tier-1 broadcast-mark-join rebuild: 2.48-3.75x (r6 band).
    # The two-pass collect-then-map-side shape stays: it is the only
    # variant with ZERO corpus shuffle, which is what matters at
    # 100 TB where "re-scan" parallelizes across executors but a
    # corpus shuffle saturates the interconnect.
    #
    # Measured (idle-start, checksum protocol, VOLUME_*x.json r7):
    # Spark side 100x 3.14 s (unchanged vs r6 — the probe collect's
    # job sync offsets the saved shuffle at this size), 300x
    # 12.86 -> 6.99 s, 1000x 23.99 -> 17.96 s; ratio band 1.93-2.16x
    # across 100x-1000x (r6: 2.48-3.75x). Tier-2 membership A/B under
    # contention (paired runs, 100x): a 128-hash literal array read
    # 6.48 s vs the searchsorted UDF's 4.45 s — array_contains is a
    # linear scan per chunk, hence the small _L28_LIT_MAX.
    n = _L28_N
    hargs = ", ".join(f"try_element_at(__th, i * {n} + {j + 1})" for j in range(n))
    ch_h = (
        f"transform(sequence(0, CAST(ceil(size(__t) / {n}.0) AS INT) - 1),"
        f" i -> xxhash64({hargs}))"
    )
    base = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text", F.split("text", " ").alias("__t"))
        .where(F.col("__t").isNotNull())
        .select(
            "doc_id",
            "text",
            "__t",
            F.expr("transform(__t, t -> xxhash64(t))").alias("__th"),
        )
    )
    if table_rows(sf_dir, "documents") <= _L28_SMALL_DOCS:
        return _l28_scrub_shuffle(base, ch_h, broadcast_boiler=True, arrow=False)
    # r8 verdict #6 (build-is-lazy): the tier-2/3 routing probe is a real
    # corpus aggregation, and running it at DataFrame-BUILD time made l28
    # the registry's one execute-on-build exception — plan audits and dry
    # runs paid a full Spark job just to construct the plan. Defer the
    # probe to the FIRST ACTION via a thin delegating proxy: building the
    # query is now job-free registry-wide; the first count()/collect()
    # materializes the routed plan once and reuses it thereafter.
    return _DeferredFrame(lambda: _l28_big_corpus(spark, base, ch_h))


class _DeferredFrame:
    """Build-is-lazy shim: delegates every attribute to a DataFrame
    constructed on FIRST access. Duck-types as a DataFrame for every
    consumer in this repo (all of which reach the frame through
    attribute access — ``.count()``, ``.columns``, ``.schema``,
    ``.agg``, ``.toPandas`` — or ``df[col]``); nothing here or in the
    driver does ``isinstance(x, DataFrame)`` on query results."""

    def __init__(self, build):
        self._build = build
        self._df = None

    def _materialize(self):
        if self._df is None:
            self._df = self._build()
        return self._df

    def __getattr__(self, item):
        return getattr(self._materialize(), item)

    def __getitem__(self, item):
        return self._materialize()[item]


def _l28_probe_boiler(boiler: DataFrame) -> list:
    """The bounded routing probe (tier 2 vs 3) — factored out so tests
    can assert it does NOT run at DataFrame build time."""
    return boiler.limit(_L28_BC_MAX + 1).collect()


def _l28_big_corpus(spark: SparkSession, base: DataFrame, ch_h: str) -> DataFrame:
    n = _L28_N
    boiler = (
        base.select("doc_id", F.explode(F.expr(ch_h)).alias("chunk_h"))
        .groupBy("chunk_h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _L28_MIN_DOCS)
        .select("chunk_h")
    )
    rows = _l28_probe_boiler(boiler)
    if len(rows) > _L28_BC_MAX:
        return _l28_scrub_shuffle(base, ch_h, broadcast_boiler=False, arrow=True)

    hashes = sorted(r[0] for r in rows)
    staged = base.select(
        "doc_id",
        "__t",
        F.expr(f"CAST(ceil(size(__t) / {n}.0) AS INT)").alias("__nc"),
        F.expr(ch_h).alias("__ch"),
    )
    if not hashes:
        staged = staged.select(
            "doc_id", "__t", "__nc", F.expr("sequence(0, __nc - 1)").alias("__k")
        )
    elif len(hashes) <= _L28_LIT_MAX:
        lits = ", ".join(f"{h}L" for h in hashes)
        staged = staged.select(
            "doc_id",
            "__t",
            "__nc",
            F.expr(
                f"filter(sequence(0, __nc - 1),"
                f" i -> NOT array_contains(array({lits}), __ch[i]))"
            ).alias("__k"),
        )
    else:
        import numpy as np

        bc = _l28_cached_broadcast(spark, np.array(hashes, dtype=np.int64))

        @F.pandas_udf("array<int>")
        def kept_idx(hs: pd.Series) -> pd.Series:
            import numpy as _np

            b = bc.value

            def f(arr):
                if arr is None or not len(arr):
                    return _np.empty(0, dtype=_np.int32)
                a = _np.asarray(arr, dtype=_np.int64)
                # sorted-array membership: searchsorted is C-speed
                # O(c log b) per doc, no Python-level per-element loop
                pos = _np.searchsorted(b, a).clip(max=len(b) - 1)
                return _np.nonzero(b[pos] != a)[0].astype(_np.int32)

            return hs.map(f)

        staged = staged.select(
            "doc_id", "__t", "__nc", kept_idx("__ch").alias("__k")
        )
    return (
        staged.select(
            "doc_id",
            F.size("__k").cast("long").alias("n_kept"),
            (F.col("__nc") - F.size("__k")).cast("long").alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.flatten(
                        F.expr(f"transform(__k, i -> slice(__t, i * {n} + 1, {n}))")
                    ),
                )
            ).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


def _l28_scrub_shuffle(
    base: DataFrame, ch_h: str, *, broadcast_boiler: bool, arrow: bool
) -> DataFrame:
    """The explode + mark-join + rebuild plan (round 6): tier 1 with a
    broadcast boiler side + interpreted lambda chunker (bench scale,
    where job count dominates and Arrow transfer does not amortize),
    and tier 3 with a shuffle mark join + Arrow chunker (boiler sets
    too big to collect; never materializes anything on the driver).
    Chunk strings are built ONCE on the probe side with the 8-byte hash
    ridden alongside via arrays_zip; the mark join keys on the hash.
    REJECTED variants (r6, measured): fully map-side rebuild via a
    non-broadcast join back of removed chunk_idx (shuffles whole token
    arrays, 4.03/2.69/17.0 s at base/10x/100x); a G-anchored
    regexp_extract_all chunker (same speed as Arrow, mismatched
    adversarial spacing). Don't re-try either."""
    n = _L28_N
    boiler = (
        base.select("doc_id", F.explode(F.expr(ch_h)).alias("chunk_h"))
        .groupBy("chunk_h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _L28_MIN_DOCS)
        .select("chunk_h", F.lit(1).alias("__b"))
    )
    boiler_side = F.broadcast(boiler) if broadcast_boiler else boiler
    if arrow:
        chunk_col = _chunk_strings_arrow()("text")
    else:
        chunk_col = F.expr(
            f"transform(sequence(0, CAST(ceil(size(__t) / {n}.0) AS INT) - 1),"
            f" i -> concat_ws(' ', slice(__t, i * {n} + 1, {n})))"
        )
    chunks = base.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                chunk_col.alias("chunk"),
                F.expr(ch_h).alias("chunk_h"),
            )
        ).alias("chunk_idx", "__z"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.col("__z.chunk").alias("chunk"),
        F.col("__z.chunk_h").alias("chunk_h"),
    )
    marked = chunks.join(boiler_side, "chunk_h", "left")
    kept_in_order = F.expr("transform(array_sort(collect_kept), x -> x.chunk)")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.when(F.col("__b").isNull(), 1)).alias("n_kept"),
            F.count(F.when(F.col("__b").isNotNull(), 1)).alias("n_removed"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__b").isNull(),
                        F.struct("chunk_idx", "chunk"),
                    )
                )
            ).alias("collect_kept"),
        )
        .select(
            "doc_id",
            "n_kept",
            "n_removed",
            F.md5(F.concat_ws(" ", kept_in_order)).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )




# ---------------------------------------------------------------------------
# L36: temperature-scaled domain mixture weights — the UniMax /
# multilingual-sampling primitive: sampling probability per domain
# proportional to n_docs^alpha (alpha < 1 upsamples the tail), plus the
# implied per-epoch repeat factor for a fixed token budget. This is the
# aggregate that turns l18's domain stats into an actual sampling plan
# (fed to l11c's mixture sampler).
#
# Scale shape: one map-side-combined groupBy to domain cardinality, one
# single-row total broadcast back — the corpus shuffles nothing but the
# domain counts. Determinism: pow(x, 0.5) == sqrt (exact IEEE on both
# engines); weights rounded at 6.
# ---------------------------------------------------------------------------
_MIX_ALPHA = 0.5
_MIX_BUDGET_TOKENS = 1_000_000


@register(
    "l36_mixture_weights",
    oracle=f"""
WITH c AS (
  SELECT lang, source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
), t AS (
  SELECT sum(pow(CAST(n_docs AS DOUBLE), {_MIX_ALPHA})) AS z FROM c
)
SELECT c.lang, c.source, c.n_docs, c.n_tokens,
       round(pow(CAST(c.n_docs AS DOUBLE), {_MIX_ALPHA}) / t.z, 6) AS weight,
       round(pow(CAST(c.n_docs AS DOUBLE), {_MIX_ALPHA}) / t.z
             * {_MIX_BUDGET_TOKENS} / c.n_tokens, 4) AS epochs
FROM c CROSS JOIN t
ORDER BY c.lang, c.source
""",
)
def l36_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    raw = F.pow(F.col("n_docs").cast("double"), F.lit(_MIX_ALPHA))
    z = c.select(F.sum(raw).alias("z"))
    return (
        c.crossJoin(F.broadcast(z))  # single-row total
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            F.round(raw / F.col("z"), 6).alias("weight"),
            F.round(
                raw / F.col("z") * F.lit(_MIX_BUDGET_TOKENS) / F.col("n_tokens"),
                4,
            ).alias("epochs"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# L38: corpus report — the "dataset card" in one frame: the headline
# numbers a training-data release documents (size, dedup rate, quality
# pass rate, language mix entropy, benchmark contamination rate,
# length moments), each computed with the same definitions as the
# dedicated operators (l1, l6, l16) so the card never drifts from the
# pipeline. One union of partial-aggregated scans; every metric is an
# integer count or a round-6 ratio of integer counts.
# ---------------------------------------------------------------------------
@register(
    "l38_corpus_report",
    oracle=f"""
WITH q AS (
  SELECT doc_id, n_chars, lang,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_dist,
         md5(lower(trim(text))) AS h
  FROM documents
), dedup AS (
  SELECT count(*) AS n_docs, count(DISTINCT h) AS n_unique FROM q
), qual AS (
  SELECT count(*) AS n_pass FROM q
  WHERE n_chars BETWEEN 100 AND 100000 AND lang IN ('en','de','fr','es')
    AND n_tok >= 10 AND CAST(n_dist AS DOUBLE) / n_tok >= 0.3
), contam AS (
  SELECT count(DISTINCT g.doc_id) AS n_contam
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - {GRAM_N - 1}, 0) + 1),
                  i -> array_to_string((string_split(text,' '))[i:i+{GRAM_N - 1}], ' '))) AS gram
    FROM documents
  ) g
  JOIN (
    SELECT DISTINCT unnest(list_transform(range(1, greatest(len(string_split(text,' ')) - {GRAM_N - 1}, 0) + 1),
                    i -> array_to_string((string_split(text,' '))[i:i+{GRAM_N - 1}], ' '))) AS gram
    FROM documents WHERE doc_id % {_BENCH_MOD} = 0
  ) b ON b.gram = g.gram
  WHERE g.doc_id % {_BENCH_MOD} <> 0
), lang_mix AS (
  SELECT count(DISTINCT lang) AS n_langs FROM q
), toks AS (
  SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(max(n_tok) AS BIGINT) AS max_tokens FROM q
)
SELECT d.n_docs,
       CAST(d.n_unique AS BIGINT) AS n_unique,
       round(1.0 - CAST(d.n_unique AS DOUBLE) / d.n_docs, 6) AS dup_rate,
       CAST(qu.n_pass AS BIGINT) AS n_quality_pass,
       round(CAST(qu.n_pass AS DOUBLE) / d.n_docs, 6) AS quality_rate,
       CAST(c.n_contam AS BIGINT) AS n_contaminated,
       CAST(lm.n_langs AS BIGINT) AS n_langs,
       t.total_tokens, t.max_tokens
FROM dedup d, qual qu, contam c, lang_mix lm, toks t
""",
)
def l38_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = docs.select(
        "doc_id",
        "n_chars",
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_dist"),
        F.md5(F.lower(F.trim("text"))).alias("h"),
    )
    base = q.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").cast("long").alias("n_unique"),
        F.sum(
            F.when(
                F.col("n_chars").between(100, 100000)
                & F.col("lang").isin("en", "de", "fr", "es")
                & (F.col("n_tok") >= 10)
                & (F.col("n_dist").cast("double") / F.col("n_tok") >= 0.3),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_quality_pass"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
    )
    # Hashed grams: only the contaminated doc COUNT surfaces (round-6
    # gram-hash rewrite, l17 collision acceptance).
    grams = word_ngram_hashes(docs, GRAM_N)
    bench = (
        grams.filter(F.col("doc_id") % _BENCH_MOD == 0).select("gram_h").distinct()
    )
    n_docs_stat = table_rows(sf_dir, "documents")
    bench_side = F.broadcast(bench) if n_docs_stat <= 100_000 else bench
    contam = (
        grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(bench_side, "gram_h")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_contaminated"))
    )
    return (
        base.crossJoin(F.broadcast(contam))  # both sides single-row
        .select(
            "n_docs",
            "n_unique",
            F.round(
                1.0 - F.col("n_unique").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
            "n_quality_pass",
            F.round(
                F.col("n_quality_pass").cast("double") / F.col("n_docs"), 6
            ).alias("quality_rate"),
            "n_contaminated",
            "n_langs",
            "total_tokens",
            "max_tokens",
        )
    )


# ---------------------------------------------------------------------------
# L39: weighted reservoir sampling — Efraimidis-Spirakis A-ES, the
# standard "sample k docs with probability proportional to weight"
# primitive for corpus mixing (weight = document length here, the usual
# token-budget proxy). Each row gets key = ln(u)/w with u a
# DETERMINISTIC uniform in (0,1] derived from md5(doc_id) — equivalent
# to the textbook u^(1/w) order (ln is monotone; /w flips magnitude
# exactly like the exponent) but numerically tame for 60-bit u. The
# sample is the top-k by key.
#
# Scale shape: one map-only projection then TakeOrderedAndProject —
# no shuffle of the corpus, no window, k rows to the driver. At 100 TB
# this is exactly the plan you want (per-partition top-k, merged).
#
# CERTIFIED (r12, formerly rows-only): the registered query selects on
# key_q = floor(es_key * 2^40) — a scaled-integer quantization of the
# A-ES key — with doc_id tie-break, so the selection comparison is
# integer-exact in both engines. The only cross-engine libm op left is
# ln() itself (u, the division by w, and the 2^40 scaling are IEEE
# +-*/ in the same evaluation order on both sides, hence bit-exact
# given equal ln). A 1-ulp ln() disagreement flips key_q only when the
# key lands within ~|key|*2^-52 of a 2^-40 grid line: probability
# ~|key|*2^-12 per ulp of drift, i.e. ~1e-10 per row at the observed
# key magnitudes — vs the UNquantized float ordering where EVERY
# boundary row comparison rides the raw ulp. The 2^-40 grid is ~1e5x
# finer than the observed top-k key spacing at sf0.1, so quantization
# never collapses the selection (ties fall to the doc_id break either
# way). The continuous-key surface (weighted_sample_keys) is unchanged
# and keeps the exact A-ES invariant tests in
# tests/test_weighted_sample.py: weight-scaling invariance, monotone
# dominance, equal-weights degeneration.
# Reference has no sampling at all [P src/lens/handler.clj — browse
# only]; NS training-pipeline extension.
# ---------------------------------------------------------------------------
_L39_K = 200
# Quantization scale for the certified selection key (see block comment).
_L39_SCALE = float(1 << 40)

# DuckDB twin of weighted_sample_keys + quantization. The hex-15 md5
# prefix parses via strpos/shifts (DuckDB has no conv()); every
# arithmetic step mirrors the Spark evaluation order exactly:
#   m -> double, +1.0, /2^60, ln, /w, *2^40, floor.
_L39_ORACLE = f"""
WITH keys AS (
  SELECT doc_id,
         CAST(n_chars AS BIGINT) AS weight,
         CAST(floor(
           ln((list_sum(list_transform(range(1, 16),
                 i -> (strpos('0123456789abcdef',
                              substring(md5(CAST(doc_id AS VARCHAR)), i, 1))
                       - 1)::BIGINT << ((15 - i) * 4)))::DOUBLE + 1.0)
              / {float(1 << 60)!r})
           / CAST(n_chars AS DOUBLE) * {_L39_SCALE!r}
         ) AS BIGINT) AS key_q
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, weight, key_q FROM keys
ORDER BY key_q DESC, doc_id LIMIT {_L39_K}
"""


def weighted_sample_keys(docs: DataFrame, weight_col: str = "n_chars") -> DataFrame:
    """(doc_id, weight, es_key) for every doc — A-ES key material.

    Non-positive weights are filtered out first: a weight-0 doc is
    unsampleable by definition (and would DIVIDE_BY_ZERO under ANSI
    mode), and a negative weight would silently invert the A-ES key
    order. General-purpose guard — current testdata never hits it.
    """
    # 60-bit uniform from the md5 of the doc id: (m+1)/2^60 in (0,1].
    m = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
    u = (m.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    return docs.filter(F.col(weight_col) > 0).select(
        "doc_id",
        F.col(weight_col).cast("double").alias("weight"),
        (F.log(u) / F.col(weight_col)).alias("es_key"),
    )


@register("l39_weighted_sample", oracle=_L39_ORACLE)
def l39_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = weighted_sample_keys(table(spark, sf_dir, "documents"))
    return (
        keys.withColumn(
            "key_q",
            F.floor(F.col("es_key") * F.lit(_L39_SCALE)).cast("long"),
        )
        .orderBy(F.col("key_q").desc(), "doc_id")
        .limit(_L39_K)
        .select(
            "doc_id",
            F.col("weight").cast("long").alias("weight"),
            "key_q",
        )
    )


# ---------------------------------------------------------------------------
# L41: n-gram novelty scoring — per document, the fraction of its
# DISTINCT 3-gram set whose corpus-wide first occurrence (min doc_id)
# is this document. The data-pruning dual of dedup: documents with low
# novelty add little content the corpus doesn't already have, so
# curation pipelines downweight or drop them (l16 measures overlap
# against a held-out benchmark; this measures redundancy against the
# corpus ITSELF under a deterministic arrival order). NS
# training-pipeline extension.
#
# Scale shape: per-doc distinct-gram totals are computed MAP-SIDE
# (array_distinct on the per-row gram-hash array — l17's zero-shuffle
# trick), so the only data-sized shuffle is the groupBy(gram_h) min —
# 8-byte keys (gram-hash rule; gram text never exists), map-side
# combined. The novel-count relation is doc-cardinality, joined back
# doc-to-doc. The dual-consumer gram subtree is corpus-size-gated into
# a pin exactly like l13's tf.
# ---------------------------------------------------------------------------
@register(
    "l41_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                              i -> array_to_string(t[i:i+2], ' ')))) AS gram
  FROM toks
), firsts AS (
  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
), totals AS (
  SELECT doc_id, count(*) AS n_distinct_grams FROM grams GROUP BY doc_id
), novel AS (
  SELECT first_doc AS doc_id, count(*) AS n_novel FROM firsts GROUP BY first_doc
)
SELECT t.doc_id,
       t.n_distinct_grams,
       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
       round(CAST(coalesce(n.n_novel, 0) AS DOUBLE) / t.n_distinct_grams, 6) AS novelty
FROM totals t LEFT JOIN novel n USING (doc_id)
ORDER BY t.doc_id
""",
)
def l41_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty(
        table(spark, sf_dir, "documents"),
        pin_corpus=table_rows(sf_dir, "documents") > 100_000,
    )


def ngram_novelty(
    docs: DataFrame, n: int = 3, pin_corpus: bool = False
) -> DataFrame:
    """Per-doc (n_distinct_grams, n_novel, novelty) over word n-grams;
    docs shorter than ``n`` tokens emit nothing (word_ngram_hashes
    contract). ``pin_corpus``: materialize the dual-consumer gram
    subtree (corpus-size-gated by the caller, l13's measured trade)."""
    from lens_warehouse_spark.operators._helpers import pin

    per_doc = (
        docs.select("doc_id", F.split("text", " ").alias("__t"))
        .filter(F.size("__t") >= n)
        .select(
            "doc_id", F.expr("transform(__t, t -> xxhash64(t))").alias("__th")
        )
        .select(
            "doc_id", F.array_distinct(F.expr(_gram_hash_expr(n))).alias("__g")
        )
    )
    # per_doc feeds BOTH the map-side totals and the exploded firsts
    # branch; at bench SF the recompute is cheaper than materializing
    # (l13's measured trade), so the pin is corpus-size-gated.
    if pin_corpus:
        per_doc = pin("l41.per_doc", per_doc)
    firsts = (
        per_doc.select("doc_id", F.explode("__g").alias("gram_h"))
        .groupBy("gram_h")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    novel = firsts.groupBy("first_doc").agg(
        F.count(F.lit(1)).alias("__nn")
    )
    totals = per_doc.select(
        "doc_id", F.size("__g").cast("long").alias("n_distinct_grams")
    )
    return (
        totals.join(novel, totals.doc_id == novel.first_doc, "left")
        .select(
            "doc_id",
            "n_distinct_grams",
            F.coalesce(F.col("__nn"), F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce(F.col("__nn"), F.lit(0)).cast("double")
                / F.col("n_distinct_grams"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )
