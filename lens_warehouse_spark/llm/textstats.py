"""Text analysis operators L5-L7 + language-ID + fingerprinting
(SURVEY.md §2.10) over the ``documents`` table.

These are the training-data-pipeline text ops mandated by the north
star; the reference has no text analytics beyond fulltext search (public
repo ``src/lens/api.clj``; /root/reference empty, SURVEY.md §0).

Design: everything stays JVM-side — tokenization via ``split``,
shingling via ``transform(sequence(...), slice)``, scoring via integer
aggregation (exact across engines). No Python UDFs anywhere; at 100 TB
these run inside whole-stage codegen with one shuffle per groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lens_warehouse_spark.catalog import table
from lens_warehouse_spark.operators._helpers import md5_bucket, pin
from lens_warehouse_spark.registry import register

def _toks():
    return F.split("text", " ")


# ---------------------------------------------------------------------------
# L5: per-document text statistics.
# ---------------------------------------------------------------------------
@register(
    "l5_text_stats",
    oracle="""
SELECT doc_id,
       lang,
       CAST(length(text) AS BIGINT) AS text_len,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token
FROM documents
""",
)
def l5_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("text_len"),
        F.size(_toks()).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(_toks())).cast("long").alias("n_distinct"),
        F.round(
            F.length("text").cast("double") / F.size(_toks()), 6
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# L5b: corpus-level stats faceted by lang/source.
# ---------------------------------------------------------------------------
@register(
    "l5b_corpus_stats",
    oracle="""
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY lang, source
""",
)
def l5b_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.size(_toks())).cast("long").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# L6: quality filter — length bounds, lang whitelist, repetition ratio
# (distinct/total tokens), chars-per-token sanity. The standard
# pretraining-corpus gate.
# ---------------------------------------------------------------------------
@register(
    "l6_quality_filter",
    oracle="""
SELECT doc_id
FROM (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_dist
  FROM documents
)
WHERE n_chars BETWEEN 100 AND 100000
  AND lang IN ('en', 'de', 'fr', 'es')
  AND n_tok >= 10
  AND CAST(n_dist AS DOUBLE) / n_tok >= 0.3
""",
)
def l6_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(_toks()).alias("n_tok"),
        F.size(F.array_distinct(_toks())).alias("n_dist"),
    )
    return df.filter(
        F.col("n_chars").between(100, 100000)
        & F.col("lang").isin("en", "de", "fr", "es")
        & (F.col("n_tok") >= 10)
        & (F.col("n_dist").cast("double") / F.col("n_tok") >= 0.3)
    ).select("doc_id")


# ---------------------------------------------------------------------------
# L7: term frequency — top-20 corpus terms (explode -> count -> top-k).
# ---------------------------------------------------------------------------
@register(
    "l7_term_frequency",
    oracle="""
SELECT token, count(*) AS tf
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY tf DESC, token
LIMIT 20
""",
)
def l7_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .select(F.explode(_toks()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# L7b: bigram counts via positional shingling (JVM-side higher-order fns).
# ---------------------------------------------------------------------------
@register(
    "l7b_bigrams",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
tok AS (
  SELECT doc_id, unnest(l) AS w, unnest(range(1, len(l) + 1)) AS pos FROM t
),
bi AS (
  SELECT doc_id, w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
  FROM tok
)
SELECT bigram, count(*) AS n
FROM bi WHERE bigram IS NOT NULL
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""",
)
def l7b_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", _toks().alias("l"))
    # size >= 2 filter + clamp-to-1: sequence(1, 0) goes DESCENDING
    # ([1, 0]) and slice(l, 0, 2) is a runtime error, so one no-space
    # document would abort the query (and the i=1 element would count a
    # lone token as a "bigram" where the oracle's lead() emits NULL).
    bigrams = docs.filter(F.size("l") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(l) - 1, 1)),"
                " i -> concat_ws(' ', slice(l, i, 2)))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


# Footer-gated bound for reading the label column driver-side. A single
# dictionary-encoded string column streams through pyarrow at ~100M
# values/s single-threaded; 50M rows is a few hundred ms worst case —
# still far below one Spark job's fixed scheduling cost — and every test
# point (sf0.1 = 5k docs, volume mult=1000 = 5M) is orders of magnitude
# inside it. Past the bound (the 100 TB layout) the distributed
# distinct+collect is the right tool and the code falls back to it.
_LABEL_SCAN_ROW_LIMIT = 50_000_000


def _label_vocabulary(spark: SparkSession, sf_dir: str) -> list[str]:
    """Sorted distinct non-null ``lang`` labels — l9's bounded codebook.

    r14 opt round (guide §5 "the driver should do almost no data work",
    §7.3 plan-construction): this used to be a full Spark
    ``distinct().collect()`` job run INSIDE plan construction — the
    registry's only driver-side collect in a query path, ~0.24 s of
    l9's 0.46 s power time at sf0.1, all fixed job overhead for a
    5-label answer. The labels are recomputed from the parquet inputs
    on every invocation (no memo — bench reps must each pay the true
    cost); only the HOW changes: below the footer row gate, stream the
    one label column driver-side with pyarrow (~2 ms at sf0.1, no Spark
    job at all); above it, the original distributed job. Per-batch
    unique() keeps the Python-object footprint at O(#labels x batches),
    never O(rows).
    """
    from lens_warehouse_spark.catalog import table_rows

    if table_rows(sf_dir, "documents") <= _LABEL_SCAN_ROW_LIMIT:
        import pyarrow.dataset as ds

        labels: set = set()
        scan = ds.dataset(f"{sf_dir}/documents.parquet", format="parquet")
        for batch in scan.to_batches(columns=["lang"]):
            labels.update(batch.column(0).unique().to_pylist())
        labels.discard(None)
        return sorted(labels)
    docs = table(spark, sf_dir, "documents")
    return sorted(
        r["lang"]
        for r in docs.select("lang")
        .filter(F.col("lang").isNotNull())
        .distinct()
        .collect()
    )


# ---------------------------------------------------------------------------
# Language ID: corpus-trained token-frequency scorer. Weights are integer
# token counts per language (exact cross-engine); a document's score for
# a language is the sum of its tokens' weights; argmax with lang
# tiebreak. Fully relational — train + classify in one plan, weights side
# broadcast at scale.
# ---------------------------------------------------------------------------
@register(
    "l9_language_id",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), w AS (
  SELECT d.lang AS wl, token AS wt, count(*) AS cnt
  FROM tok JOIN documents d USING (doc_id)
  WHERE d.lang IS NOT NULL  -- NULL lang carries no training signal (matches Spark side)
  GROUP BY 1, 2
), scores AS (
  SELECT t.doc_id, w.wl AS cand, CAST(sum(w.cnt) AS BIGINT) AS score
  FROM tok t JOIN w ON w.wt = t.token
  GROUP BY 1, 2
), ranked AS (
  SELECT doc_id, cand,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
  FROM scores
)
SELECT r.doc_id, r.cand AS pred_lang, d.lang AS true_lang
FROM ranked r JOIN documents d USING (doc_id)
WHERE rn = 1
""",
)
def l9_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pivot-wide design: languages are a BOUNDED label set (collected
    # driver-side like a codebook, O(#langs) — not data-scaled), so the
    # per-(lang, token) weight table pivots to one vocab row per token
    # with a count column per language. The token join then emits ONE
    # row per token occurrence (not one per occurrence x matching
    # language), the per-doc score is a single wide aggregation, and the
    # argmax is a greatest()/CASE chain — no per-doc window at all.
    # Measured vs the (lang, token)-rows + window formulation: -23% at
    # the 10x volume point (1.51 -> 1.17 s). The vocab-scaled weight
    # table is NOT hint-broadcast — AQE picks the strategy from runtime
    # size (at 100 TB vocab outgrows broadcast; the equi-join shuffles).
    # MEASUREMENT CORRECTION (round-5 continuation): every A/B below
    # this line was re-run under the CHECKSUM harness after discovering
    # the old .count() timing let Catalyst prune the scoring CASE chain
    # and the pivot aggregate values — i.e. the old numbers never
    # executed the argmax at all. Superseded-but-kept results:
    # - per-(doc, token) tf PAIR rewrite: still loses (mean tf ~ 1 in
    #   this corpus; pairs ≈ occurrences, the pre-agg shuffle buys
    #   nothing). Revisit only when measured mean tf >> 1.
    # - (lang, token)-rows + per-doc window argmax: loses BADLY under
    #   honest timing (10x: 8.2 s vs 2.3 s pivot) — the join emits one
    #   row per occurrence x matching lang and the window shuffles all
    #   of it, exactly what the pivot-wide form exists to avoid.
    # - pinning tok (one tokenize pass feeds weights AND scores): the
    #   old "4.00 pinned vs 3.66 recomputed" verdict INVERTS under
    #   honest timing — 10x: 1.29 s pinned vs 3.00 s recomputed; but
    #   at sf0.1 the pin costs more than the recompute (1.55 vs 0.80),
    #   so it is corpus-size-gated below exactly like l13's tf pin.
    docs = table(spark, sf_dir, "documents")
    # NULL langs carry no training signal and would break both sorted()
    # (NoneType comparison) and the pivot column list; drop them before
    # the label collect. Pivot columns are referenced backquoted so a
    # label containing '.' is one column name, not a struct path.
    langs = _label_vocabulary(spark, sf_dir)
    if not langs:
        # No labeled training data at all: no predictions (the oracle's
        # trained-weights CTE is empty, so its join emits nothing).
        return docs.select(
            "doc_id",
            F.lit(None).cast("string").alias("pred_lang"),
            F.col("lang").alias("true_lang"),
        ).limit(0)
    lcol = [F.col(f"`{lang}`") for lang in langs]
    # Round 6: tokens are HASHED at the explode (xxhash64 per token) —
    # the token text never surfaces (output is pred_lang only), so the
    # weights pivot, the scoring join and every shuffle key become
    # 8-byte longs. Two distinct tokens colliding merge their weight
    # rows with P ~ vocab^2/2^64 (the l17 acceptance; sf0.01 oracle
    # stays exact). Measured at 100x (checksum, best-of-3): 3.56 s
    # string tokens -> 2.16 s hashed (DuckDB 1.39 s; ratio 2.55 ->
    # ~1.56).
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.expr("transform(split(text, ' '), t -> xxhash64(t))")).alias(
            "token"
        ),
    )
    # WINDOW-gated pin: tok feeds BOTH the weights pivot and the
    # scoring join. Measured at three corpus sizes (checksum harness,
    # best-of-3): 5k docs pin LOSES (1.55 vs 0.80 s — materialization
    # dominates), 50k docs pin WINS (1.29 vs 3.00 s — one tokenize
    # pass amortizes), 500k docs pin LOSES AGAIN (4.68 vs 3.38 s —
    # the persisted occurrence rows outgrow executor storage and the
    # spill churn costs more than recomputing the split+explode). So
    # the pin applies only inside the measured winning window.
    from lens_warehouse_spark.catalog import table_rows
    from lens_warehouse_spark.operators._helpers import pin

    if 10_000 < table_rows(sf_dir, "documents") <= 200_000:
        tok = pin("l9.tok", tok)
    # Train on labeled docs only: a token seen ONLY in NULL-lang docs
    # must have no weights row, so the scoring inner join drops it and
    # a doc with zero overlap with the labeled vocabulary drops out —
    # exactly the oracle's inner-join-to-w semantics.
    weights = (
        tok.filter(F.col("lang").isNotNull())
        .groupBy("token")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
    )
    scores = (
        tok.select("doc_id", "token")
        .join(weights, "token")
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.coalesce(c, F.lit(0))).alias(lang)
                for lang, c in zip(langs, lcol)
            ]
        )
    )
    # greatest() needs >= 2 columns; a single-language corpus trivially
    # predicts that language.
    best = F.greatest(*lcol) if len(lcol) > 1 else lcol[0]
    pred = F.when(lcol[0] == best, langs[0])
    for lang, c in zip(langs[1:], lcol[1:]):  # ASC chain -> ties -> smallest
        pred = pred.when(c == best, lang)
    return (
        scores.select("doc_id", pred.alias("pred_lang"))
        .join(docs.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
    )


# ---------------------------------------------------------------------------
# Document fingerprint: min-md5 over 3-token shingles (rolling-hash
# fingerprint with an engine-neutral hash).
# ---------------------------------------------------------------------------
@register(
    "l10_fingerprint",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), tok AS (
  SELECT doc_id, unnest(l) AS w, unnest(range(1, len(l) + 1)) AS pos FROM t
), sh AS (
  SELECT doc_id,
         w || ' ' || lead(w, 1) OVER dw || ' ' || lead(w, 2) OVER dw AS shingle
  FROM tok
  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT doc_id, min(md5(shingle)) AS fingerprint
FROM sh WHERE shingle IS NOT NULL
GROUP BY doc_id
""",
)
def l10_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", _toks().alias("l"))
        .filter(F.size("l") >= 3)
    )
    return docs.select(
        "doc_id",
        F.array_min(
            F.expr(
                "transform(transform(sequence(1, size(l) - 2),"
                " i -> concat_ws(' ', slice(l, i, 3))), s -> md5(s))"
            )
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# L5c: BPE-ish regex token counting — word pieces, numbers, punctuation
# as separate tokens (GPT-2-style pre-tokenizer shape, simplified).
# ---------------------------------------------------------------------------
@register(
    "l5c_regex_tokens",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_regex_tokens,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_tokens
FROM documents
""",
)
def l5c_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)))
        .cast("long")
        .alias("n_regex_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0)))
        .cast("long")
        .alias("n_number_tokens"),
    )


# ---------------------------------------------------------------------------
# L11: deterministic hash-based sampling — the training-pipeline
# "reproducible p% subset" op. Bucketing on an md5 prefix of the key is
# engine-neutral (unlike xxhash/TABLESAMPLE), so the sample is identical
# everywhere: here, in the oracle, and on a 1000-executor cluster.
# ---------------------------------------------------------------------------
@register(
    "l11_deterministic_sample",
    oracle="""
SELECT lang, count(*) AS n_sampled
FROM (
  SELECT lang,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) AS bucket
  FROM documents
)
WHERE bucket < CAST(0.2 * 65536 AS INT)
GROUP BY lang
ORDER BY lang
""",
)
def l11_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = md5_bucket(F.col("doc_id"))
    return (
        table(spark, sf_dir, "documents")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < int(0.2 * 65536))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# L11b: deterministic train/val/test split assignment (90/5/5 by hash
# bucket) — reproducible across engines, sessions, and cluster sizes.
# ---------------------------------------------------------------------------
@register(
    "l11b_split_assignment",
    oracle="""
SELECT split, lang, count(*) AS n
FROM (
  SELECT lang,
         CASE WHEN bucket < 58982 THEN 'train'
              WHEN bucket < 62259 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT lang,
           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) AS bucket
    FROM documents
  )
)
GROUP BY split, lang
ORDER BY split, lang
""",
)
def l11b_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = md5_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 58982, "train")  # floor(0.9 * 65536)
        .when(bucket < 62259, "val")  # floor(0.95 * 65536)
        .otherwise("test")
    )
    return (
        table(spark, sf_dir, "documents")
        .select("lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# L11c: mixture sampling — per-language acceptance rates (the corpus
# up/down-weighting step of pretraining-data assembly), deterministic
# via the same hash bucketing.
# ---------------------------------------------------------------------------
MIXTURE_RATES = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.3, "zh": 0.1}
# Integer bucket cutoffs, precomputed ONCE in Python: comparing the
# bucket against an engine-side float-rate cast is a parity coin flip
# (Spark's cast truncates 0.3*65536=19660.8 -> 19660, DuckDB's rounds
# -> 19661), so both the Spark filter and the oracle SQL get the SAME
# integer literals.
_MIXTURE_CUTOFFS = {
    lang: int(round(rate * 65536)) for lang, rate in MIXTURE_RATES.items()
}
_MIXTURE_CUTOFF_SQL = " ".join(
    f"WHEN '{lang}' THEN {cut}" for lang, cut in _MIXTURE_CUTOFFS.items()
)


@register(
    "l11c_mixture_sample",
    oracle=f"""
SELECT lang, count(*) AS n_kept
FROM (
  SELECT lang,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) AS bucket,
         CASE lang {_MIXTURE_CUTOFF_SQL} ELSE 0 END AS cutoff
  FROM documents
)
WHERE bucket < cutoff
GROUP BY lang
ORDER BY lang
""",
)
def l11c_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = md5_bucket(F.col("doc_id"))
    langs = list(_MIXTURE_CUTOFFS)
    cutoff = F.when(F.col("lang") == langs[0], _MIXTURE_CUTOFFS[langs[0]])
    for lang in langs[1:]:
        cutoff = cutoff.when(F.col("lang") == lang, _MIXTURE_CUTOFFS[lang])
    cutoff = cutoff.otherwise(0)
    return (
        table(spark, sf_dir, "documents")
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < cutoff)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# L12: document chunking — fixed-size token windows (the tokenize->pack
# precursor: long docs become N training-sequence chunks).
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 32


@register(
    "l12_chunking",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), chunks AS (
  SELECT doc_id, toks,
         unnest(range(CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS INT))) AS chunk_idx
  FROM t
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(toks[(chunk_idx * {CHUNK_TOKENS} + 1):((chunk_idx + 1) * {CHUNK_TOKENS})], ' ') AS chunk_text,
       CAST(len(toks[(chunk_idx * {CHUNK_TOKENS} + 1):((chunk_idx + 1) * {CHUNK_TOKENS})]) AS INT) AS n_chunk_tokens
FROM chunks
""",
)
def l12_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = CHUNK_TOKENS
    docs = table(spark, sf_dir, "documents").select("doc_id", _toks().alias("toks"))
    return docs.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.ceil(F.size("toks") / F.lit(float(k))).cast("int") - 1)
        ).alias("chunk_idx"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", F.slice("toks", F.col("chunk_idx") * k + 1, k)).alias(
            "chunk_text"
        ),
        F.size(F.slice("toks", F.col("chunk_idx") * k + 1, k)).alias(
            "n_chunk_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# L13: TF-IDF — corpus-trained term weighting; top-3 terms per document.
# All counts integer (exact); ln() rounded to 6 (libm ulp drift only).
# ---------------------------------------------------------------------------
@register(
    "l13_tfidf_top_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3
ORDER BY doc_id, rn
""",
)
def l13_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_toks()).alias("term"))
    # df derives FROM tf: rows of tf are distinct (doc_id, term) pairs,
    # so count-per-term == distinct-docs-per-term. Column pruning makes
    # the two tf subtrees differ (the df branch drops the count), so
    # Catalyst emits no ReusedExchange and the corpus would tokenize
    # TWICE. Pinning tf makes one explode+agg feed both consumers; the
    # pin MECHANISM re-measured clean at the volume points (idle
    # machine, best-of-3): 10x all pin variants ~1.65 s ≈ unpinned;
    # 100x persist 7.1 s < ckpt 8.1 s ≈ unpinned 8.2 s — columnar
    # persist wins where it matters and spills instead of OOMing (the
    # l31 lesson). At bench SF the materialization COSTS more than the
    # duplicate recompute it saves (r4 bench: 0.963 s pinned vs 0.811 s
    # r3 unpinned at sf0.1), so the pin is GATED on corpus size exactly
    # like the df_side broadcast below: small corpora recompute the
    # cheap subtree twice, big corpora pin. A per-term count window
    # would shave a little more but shuffles ALL tf rows by term — a
    # hot stopword term then lands in ONE task at web scale, while this
    # df agg map-side combines to vocabulary-sized shuffle rows. At
    # 100 TB tf is a staged table feeding both aggregates.
    #
    # NEGATIVE A/B (round 6, idle best-of-3; the script is
    # `git show ce9889a:tools/ab_l13.py`): the
    # gram-hash rule does NOT transfer here. A hash-first variant
    # (tf/df over xxhash64(term), rank()<=3 overfetch keeps boundary
    # ties, term text joined back only for the ~3/doc superset)
    # measured 1.11x SLOWER at sf0.1 and 1.09x at 100x — unlike grams,
    # terms are short and MUST surface in the output, so the
    # vocab-distinct + join-back costs more than the narrower shuffles
    # save. Pin gate re-swept post-schema-cache at 100x: pinned 3.96 s
    # vs unpinned 4.36 s — the >100k gate stands.
    from lens_warehouse_spark.operators._helpers import pin

    # Parquet footer statistic — NOT docs.count(): the eager count ran
    # a full corpus scan job at plan-construction time on every
    # invocation (bench loops, facade calls), for a number the footers
    # already hold (and _ROWCOUNT_CACHE memoizes).
    from lens_warehouse_spark.catalog import table_rows

    n_docs = table_rows(sf_dir, "documents")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if n_docs > 100_000:
        tf = pin("l13.tf", tf)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # df is VOCABULARY-sized (one row per distinct term — billions at
    # web scale), so an unconditional broadcast hint is the same
    # never-demoted-hint hazard as the scaling dims. Gate it on corpus
    # size (vocabulary grows with corpus; n_docs is already in hand):
    # small corpora keep the hint (measured +0.6 s at sf0.1 without
    # it), big corpora take the term-partitioned join and let AQE
    # upgrade at runtime if the vocabulary turns out small.
    df_side = F.broadcast(df) if n_docs <= 100_000 else df
    scored = tf.join(df_side, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    )


# ---------------------------------------------------------------------------
# L14: text cleaning / redaction — normalization + pattern scrubbing (the
# canonicalize step that feeds exact dedup). Pure regexp, engine-neutral.
# ---------------------------------------------------------------------------
@register(
    "l14_text_cleaning",
    oracle="""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '<num>', 'g'),
                           ' +', ' ', 'g')) AS clean_text,
       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digits
FROM documents
""",
)
def l14_text_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    lowered = F.lower(F.col("text"))
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(lowered, F.lit("[0-9]+"), F.lit("<num>")),
                F.lit(" +"),
                F.lit(" "),
            )
        ).alias("clean_text"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), F.lit("[0-9]"), F.lit("")))
        ).cast("int").alias("n_digits"),
    )


# ---------------------------------------------------------------------------
# L15: sequence packing — pack documents into fixed-capacity training
# sequences (first-fit-decreasing per partition). Exact bin packing is
# inherently sequential, so the distributed form partitions by a hash
# prefix, packs within each partition in pandas (Arrow batches), and
# emits (seq_id, doc_id, offset). Deterministic given the sort; the
# capacity invariant is property-tested (tests/test_packing.py).
# ---------------------------------------------------------------------------
SEQ_CAPACITY = 128  # tokens per packed sequence


def pack_documents(
    docs: DataFrame, capacity: int = SEQ_CAPACITY, n_shards: int | None = None
) -> DataFrame:
    """(doc_id, n_tokens) -> (shard, seq_id, doc_id, offset, n_tokens).

    Docs longer than ``capacity`` are truncated to it (real pipelines
    chunk first — see l12_chunking)."""
    import pandas as pd

    if n_shards is None:
        n_shards = L15_N_SHARDS  # the registered-contract default
    sized = docs.select(
        "doc_id",
        F.least(F.size(F.split("text", " ")), F.lit(capacity)).alias("n_tokens"),
        F.pmod(md5_bucket(F.col("doc_id")), F.lit(n_shards)).alias("shard"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
        bins: list[int] = []  # remaining capacity per bin
        out_seq, out_off = [], []
        for n in pdf["n_tokens"]:
            n = int(n)
            for b, rem in enumerate(bins):
                if rem >= n:
                    out_seq.append(b)
                    out_off.append(capacity - rem)
                    bins[b] = rem - n
                    break
            else:
                out_seq.append(len(bins))
                out_off.append(0)
                bins.append(capacity - n)
        return pd.DataFrame(
            {
                "shard": pdf["shard"].astype("int32"),
                "seq_id": pd.Series(out_seq, dtype="int64").values,
                "doc_id": pdf["doc_id"].values,
                "offset": pd.Series(out_off, dtype="int64").values,
                "n_tokens": pdf["n_tokens"].astype("int64").values,
            }
        )

    return sized.groupBy("shard").applyInPandas(
        pack, "shard int, seq_id long, doc_id long, offset long, n_tokens long"
    )


# Shard count used by the registered l15 contract (pack_documents'
# default). ADVICE r11: interpolate SEQ_CAPACITY and the shard count
# into the oracle instead of hard-coding twins of them — changing
# either constant now changes both sides together.
L15_N_SHARDS = 8

_L15_ORACLE = f"""
WITH sized AS (
  SELECT doc_id,
         CAST(least(len(string_split(text, ' ')), {SEQ_CAPACITY}) AS BIGINT) AS n_tokens,
         CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % {L15_N_SHARDS} AS INT) AS shard
  FROM documents
)
SELECT shard, doc_id, n_tokens,
       TRUE AS capacity_ok, TRUE AS contiguous_ok,
       TRUE AS packed_once_ok, TRUE AS halffull_ok
FROM sized
ORDER BY doc_id
"""


# Certified contract (r11 — the a2/l35 pattern): the bin assignment
# (seq_id, offset) is shard-local first-fit, inherently sequential and
# not SQL-expressible, so it cannot be hash-matched — but every input
# to it and every property of it can. The query emits the oracle-exact
# columns (shard from the shared md5 bucket idiom, n_tokens from the
# shared token-count recipe — DuckDB recomputes both) plus four
# integer-exact certificates over the packing itself:
#   capacity_ok    per row: 0 <= offset and offset + n_tokens <= 128;
#   contiguous_ok  per row: docs tile each sequence gaplessly
#                  (offset == previous offset + previous n_tokens,
#                  first doc at 0) — with capacity_ok this implies the
#                  per-sequence sum bound;
#   packed_once_ok global: every document packed exactly once;
#   halffull_ok    per shard: at most ONE sequence is <= half full —
#                  the classical first-fit guarantee (two half-empty
#                  bins contradict "didn't fit"), which bounds the
#                  packing within 2x optimal.
# All arithmetic is integer, so the contract has no float boundary to
# flip. A packing bug — an overfull bin, a gap, a dropped or duplicated
# doc, a degenerate one-doc-per-bin packing — flips a boolean and
# hash-fails. Full (seq_id, offset) surface stays on pack_documents
# (facade + tests/test_packing.py). Was rows-only r2-r10.
@register("l15_sequence_packing", oracle=_L15_ORACLE)
def l15_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cap = SEQ_CAPACITY
    docs = table(spark, sf_dir, "documents")
    # packed feeds the row checks, the per-sequence fills, and the
    # global conservation count — pin so first-fit runs once.
    packed = pin("l15.packed", pack_documents(docs))

    wseq = Window.partitionBy("shard", "seq_id").orderBy("offset")
    rows = packed.withColumn(
        "_prev_end", F.lag(F.col("offset") + F.col("n_tokens")).over(wseq)
    )

    fills = packed.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").alias("_fill")
    )
    halffull = fills.groupBy("shard").agg(
        (
            F.sum((F.col("_fill") * 2 <= cap).cast("int")) <= F.lit(1)
        ).alias("halffull_ok")
    )

    conserved = (
        packed.agg(
            F.count(F.lit(1)).alias("_np"),
            F.countDistinct("doc_id").alias("_nd"),
        )
        .crossJoin(F.broadcast(docs.agg(F.count(F.lit(1)).alias("_n"))))
        .select(
            (
                (F.col("_np") == F.col("_nd")) & (F.col("_np") == F.col("_n"))
            ).alias("packed_once_ok")
        )
    )

    return (
        rows.join(F.broadcast(halffull), "shard")  # 8 rows
        .crossJoin(F.broadcast(conserved))  # 1 row
        .select(
            "shard",
            "doc_id",
            "n_tokens",
            (
                (F.col("offset") >= 0)
                & (F.col("offset") + F.col("n_tokens") <= cap)
                & (F.col("n_tokens") >= 1)
            ).alias("capacity_ok"),
            F.coalesce(
                F.col("offset") == F.col("_prev_end"), F.col("offset") == 0
            ).alias("contiguous_ok"),
            "packed_once_ok",
            "halffull_ok",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# L11d: stratified exact-k sampling — exactly k docs per stratum
# (lang, source), chosen by deterministic md5 rank so the draw is
# engine- and cluster-size-independent (same property as l11's p%
# sampling but with a hard per-stratum quota, the form training mixture
# specs actually use: "take 10k docs per domain"). One window pass per
# stratum; at 100 TB the rank is a per-stratum top-k (TakeOrdered
# within partition after hashing on the stratum), never a global sort.
# ---------------------------------------------------------------------------
@register(
    "l11d_stratified_sample",
    oracle="""
SELECT lang, source, doc_id
FROM (
  SELECT lang, source, doc_id,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= 5
ORDER BY lang, source, doc_id
""",
)
def l11d_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        table(spark, sf_dir, "documents")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "source", "doc_id")
        .orderBy("lang", "source", "doc_id")
    )


# ---------------------------------------------------------------------------
# L25: Zipf-slope corpus diagnostic — least-squares slope of log(freq)
# vs log(rank) over the term-frequency table (natural corpora slope
# ≈ -1; synthetic/templated corpora deviate — a cheap corpus-health
# signal next to l5b's aggregate stats). regr_slope is a single
# partial-aggregable pass on both engines. The vocabulary can itself be
# huge (shingled/BPE vocabularies reach billions), so the freq-desc rank
# comes from the range-repartitioned global_rank helper, NOT a
# single-partition Window.orderBy; the remaining 100 TB cost is the
# token explode + term groupBy that l7 already pays.
# ---------------------------------------------------------------------------
@register(
    "l25_zipf_slope",
    oracle="""
WITH tf AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
), ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rk FROM tf
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       round(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 4) AS zipf_slope,
       round(regr_r2(ln(CAST(freq AS DOUBLE)), ln(CAST(rk AS DOUBLE))), 4) AS r2
FROM ranked
""",
)
def l25_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lens_warehouse_spark.operators._helpers import global_rank

    tf = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = global_rank(tf, [F.col("freq").desc(), "tok"], rank_col="rk")
    lf = F.log(F.col("freq").cast("double"))
    lr = F.log(F.col("rk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(lf, lr), 4).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# L34: inverted-index build — term -> sharded, sorted posting lists.
# The retrieval-side artifact of a corpus pipeline (BM25 / keyword
# search / contamination lookups run against it). Postings are presence
# lists of distinct doc_ids per term.
#
# Scale shape: one (doc_id, term)-distinct aggregation (map-side
# combined), then a (term, shard) collect of SORTED doc ids. Sharding
# by doc_id hash bounds every posting ARRAY by the shard's corpus
# slice — a stopword's postings never materialize as one giant row;
# at 100 TB you raise N_SHARDS with corpus size and each (term, shard)
# group stays executor-sized. Readers union shards per term (or bloom-
# prune them), exactly like a sharded search index on disk.
# ---------------------------------------------------------------------------
_IDX_SHARDS = 4


@register(
    "l34_inverted_index",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
)
SELECT term,
       doc_id % {_IDX_SHARDS} AS shard,
       CAST(count(*) AS BIGINT) AS df_shard,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM tok
GROUP BY term, doc_id % {_IDX_SHARDS}
""",
)
def l34_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Postings serialize as a comma-joined STRING, not array<bigint>:
    # registry parity rule — oracle-backed output must be flat/hashable
    # (the driver's pandas canonicalizer cannot factorize lists; a10 at
    # operators/aggregates.py:273 set the precedent). Consumers that
    # want the array split(',') it back — the sorted-CSV form is a
    # lossless, order-stable encoding of the posting list.
    tok = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_toks()).alias("term"))
        .distinct()
    )
    return (
        tok.groupBy("term", (F.col("doc_id") % _IDX_SHARDS).alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("df_shard"),
            F.concat_ws(
                ",", F.sort_array(F.collect_list("doc_id")).cast("array<string>")
            ).alias("postings"),
        )
    )


# ---------------------------------------------------------------------------
# L37: BM25 retrieval scoring — the ranking function served FROM l34's
# inverted index, here computed corpus-side for a fixed query: top-20
# documents for a multi-term query under Okapi BM25 (k1=1.2, b=0.75,
# the Lucene-style idf with +1 inside the log so scores stay positive).
#
# Scale shape: the token stream is FILTERED to the query's terms before
# any aggregation (a query has O(10) terms, so the surviving stream is
# a tiny fraction of the corpus; with l34's index materialized this
# becomes a posting-list lookup instead of a scan). Document lengths
# aggregate in the same pass over the unfiltered tokens as a
# map-side-combined count; df and avg-length are O(|query|) + O(1)
# values broadcast back. Top-k via TakeOrderedAndProject, no global
# sort. Float discipline: identical expression tree both engines,
# round 4 (registry rule 5).
# ---------------------------------------------------------------------------
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("spark", "table", "vector")


@register(
    "l37_bm25",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), dlen AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT avg(CAST(dl AS DOUBLE)) AS avgdl,
         (SELECT count(*) FROM documents) AS n FROM dlen
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN {_BM25_QUERY!r}
  GROUP BY doc_id, term
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok
  WHERE term IN {_BM25_QUERY!r}
  GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (CAST(s.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({_BM25_K1} + 1.0))
           / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
              + {_BM25_B} * CAST(d.dl AS DOUBLE) / s.avgdl))
         ) AS score
  FROM tf
  JOIN df USING (term)
  JOIN dlen d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS bm25
FROM scored
ORDER BY round(score, 4) DESC, doc_id
LIMIT 20
""",
)
def l37_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_toks()).alias("term"))
    dlen = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    qtok = tok.filter(F.col("term").isin(*_BM25_QUERY))
    tf = qtok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = qtok.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    stats = dlen.crossJoin(F.broadcast(docs.groupBy().agg(F.count(F.lit(1)).alias("n")))).groupBy("n").agg(
        F.avg(F.col("dl").cast("double")).alias("avgdl")
    )
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        1.0
        + (F.col("n").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl")
    )
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / norm
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.round(F.col("score"), 4).desc(), "doc_id")
        .limit(20)
    )
