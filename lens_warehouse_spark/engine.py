"""User-facing facade — the equivalent of the reference's ``lens.api``
namespace (public repo ``src/lens/api.clj``; /root/reference empty,
SURVEY.md §0): one object wrapping catalog access, cohort queries, and
the analytics/data-pipeline operators, so a lens-warehouse user has a
single entry point instead of hunting through operator modules.

    from lens_warehouse_spark.engine import LensWarehouse
    lw = LensWarehouse(spark, "/root/testdata/sf0.01")
    lw.table("orders")
    lw.sql("SELECT count(*) FROM orders")
    lw.cohort_count(query)          # CNF cohort, one-shuffle plan
    lw.near_duplicates(0.7)         # MinHash-LSH + exact verify
    lw.knn(query_vec_id=0, k=10)    # exact cosine top-k
    lw.sessionize("30 minutes")     # session windows per user
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType

from lens_warehouse_spark.catalog import TABLES, register_views, table
from lens_warehouse_spark.operators.cohort import (
    CohortQuery,
    cohort_count,
    cohort_facets,
    cohort_members,
)
from lens_warehouse_spark.llm.dedup import (
    jaccard,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)
from lens_warehouse_spark.llm.vector import dot

_INTERVAL_UNITS_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _interval_ms(gap: str) -> int:
    """Parse an inactivity gap into milliseconds: one or more
    '<n> <unit>' terms, summed — the interval grammar Spark's
    ``session_window`` itself accepts ('30 minutes',
    '1 hour 30 minutes', '1.5 hours'). Decimal counts are allowed
    when they resolve to whole milliseconds ('1.5 hours' == 5400000;
    '0.0005 seconds' raises). Strict on purpose: a typo'd unit or a
    sub-millisecond residue must fail loudly here, not produce
    NULL-gap sessions downstream (the wire.py date lesson)."""
    import re
    from decimal import Decimal, InvalidOperation

    terms = re.findall(
        r"(\d+(?:\.\d+)?)\s+(millisecond|second|minute|hour|day)s?", gap
    )
    consumed = re.fullmatch(
        r"\s*(?:\d+(?:\.\d+)?\s+"
        r"(?:millisecond|second|minute|hour|day)s?\s*)+",
        gap,
    )
    if not terms or not consumed:
        raise ValueError(
            f"unsupported gap interval {gap!r}; expected one or more "
            "'<n> <millisecond|second|minute|hour|day>[s]' terms"
        )
    try:
        total = sum(
            Decimal(n) * _INTERVAL_UNITS_MS[u] for n, u in terms
        )
    except InvalidOperation:  # pragma: no cover - regex precludes
        raise ValueError(f"unparseable gap interval {gap!r}") from None
    if total != int(total):
        raise ValueError(
            f"gap interval {gap!r} is not a whole number of milliseconds"
        )
    return int(total)


class LensWarehouse:
    """Session + scale-factor-directory bound engine facade."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    # -- catalog (ref: Datomic schema / entity browse) ---------------------
    def table(self, name: str) -> DataFrame:
        return table(self.spark, self.sf_dir, name)

    def tables(self) -> list[str]:
        return list(TABLES)

    def sql(self, query: str) -> DataFrame:
        """SQL over all ten tables as views.

        Views are session-global, so registration is keyed on the
        SESSION's current sf_dir, not a per-instance flag: two
        LensWarehouse instances over different sf_dirs would otherwise
        silently serve each other's data (the second instance's
        createOrReplaceTempView wins, and the first's flag suppresses
        re-registration)."""
        tag_key = "lens_warehouse_spark.views_sf_dir"
        if self.spark.conf.get(tag_key, None) != self.sf_dir:
            register_views(self.spark, self.sf_dir)
            self.spark.conf.set(tag_key, self.sf_dir)
        return self.spark.sql(query)

    # -- cohort queries (ref: the flagship capability) ---------------------
    def cohort_from_json(self, obj: dict) -> CohortQuery:
        from lens_warehouse_spark.operators.wire import cohort_from_json

        return cohort_from_json(obj)

    def cohort_members(self, query: CohortQuery, strategy: str = "tagged") -> DataFrame:
        return cohort_members(query, self.spark, self.sf_dir, strategy)

    def cohort_count(self, query: CohortQuery, strategy: str = "tagged") -> DataFrame:
        return cohort_count(query, self.spark, self.sf_dir, strategy)

    def cohort_facets(
        self,
        query: CohortQuery,
        facet_col: str = "c_mktsegment",
        strategy: str = "tagged",
    ) -> DataFrame:
        return cohort_facets(query, self.spark, self.sf_dir, facet_col, strategy)

    # -- dedup pipeline ----------------------------------------------------
    def dedup_exact(self) -> DataFrame:
        """Survivor per exact-content group (keep lowest doc_id)."""
        docs = self.table("documents").withColumn(
            "content_hash", F.sha2(F.lower(F.trim(F.col("text"))), 256)
        )
        return docs.groupBy("content_hash").agg(
            F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
        )

    def near_duplicates(self, threshold: float = 0.7) -> DataFrame:
        """LSH banding (bands/rows planned from the threshold via
        plan_lsh) + exact-Jaccard verification."""
        from lens_warehouse_spark.llm.dedup import minhash_neardup

        return minhash_neardup(self.table("documents"), threshold)

    def neardup_groups(self, threshold: float = 0.7) -> DataFrame:
        """(doc_id, canonical_id) — connected components over near-dup
        pairs; keep-one-per-cluster resolution."""
        from lens_warehouse_spark.llm.dedup import neardup_components

        docs = self.table("documents")
        pairs = self.near_duplicates(threshold).select("doc_a", "doc_b")
        return neardup_components(pairs, docs.select("doc_id"))

    def simhashes(self) -> DataFrame:
        return simhash(self.table("documents"))

    # -- curation pipeline ---------------------------------------------------
    def decontaminate(self, bench_mod: int = 97) -> DataFrame:
        """Corpus documents sharing a 5-gram with the benchmark set
        (doc_id % bench_mod == 0). Same plan as the registered l16:
        hashed grams, corpus-size-gated benchmark broadcast."""
        from lens_warehouse_spark.catalog import table_rows
        from lens_warehouse_spark.llm.curation import decontamination

        return decontamination(
            self.table("documents"),
            bench_mod,
            table_rows(self.sf_dir, "documents"),
        )

    def curate(self) -> DataFrame:
        """Per-(lang, source) counts surviving the full curation pipeline
        (dedup -> repetition -> decontamination -> quality -> sample)."""
        from lens_warehouse_spark.llm.curation import l20_curation_pipeline

        return l20_curation_pipeline(self.spark, self.sf_dir)

    # -- similarity search -------------------------------------------------
    def knn(self, query_vec_id: int, k: int = 10) -> DataFrame:
        emb = self.table("embeddings")
        q = emb.filter(F.col("vec_id") == query_vec_id).select(
            F.col("embedding").alias("q_emb")
        )
        # r8 adversarial pass: a nonexistent probe id used to produce
        # an EMPTY result (empty broadcast side x candidates = zero
        # rows) — indistinguishable from "no neighbors", the silent
        # wrong answer. A point lookup is one pruned-scan job; pay it.
        if not q.take(1):
            raise KeyError(
                f"vec_id {query_vec_id} not found in embeddings"
            )
        cand = emb.filter(F.col("vec_id") != query_vec_id)
        return (
            cand.crossJoin(F.broadcast(q))
            .select("vec_id", "label", F.round(dot("q_emb", "embedding"), 6).alias("cos"))
            .orderBy(F.col("cos").desc(), "vec_id")
            .limit(k)
        )

    def ann(self, k: int = 3, multiprobe: bool = True) -> DataFrame:
        """Approximate top-k via hyperplane LSH buckets (optionally
        multi-probe at Hamming distance 1) for probe vectors vec_id<5.

        k is threaded into the shared plan itself — filtering the
        REGISTERED queries (which pin rn <= 3 for their oracles) capped
        every request at 3 silently."""
        from lens_warehouse_spark.llm.vector import ann_lsh

        return ann_lsh(self.spark, self.sf_dir, k=k, multiprobe=multiprobe)

    def train_ivf_codebook(self, k: int = 16, iters: int = 3) -> DataFrame:
        """Spherical-k-means IVF codebook over the embeddings table."""
        from lens_warehouse_spark.llm.vector import train_codebook

        emb = self.table("embeddings").select("vec_id", "embedding")
        return train_codebook(emb, k=k, iters=iters)

    # -- time / sessions ---------------------------------------------------
    def sessionize(self, gap: str = "30 minutes") -> DataFrame:
        """Per-user sessions with an inactivity gap. Same plan as the
        registered t3: the gaps-and-islands rewrite (one user_id
        exchange), which measured 50% faster than the native batch
        session_window aggregate at volume; identical merge semantics
        (split at inter-event gap >= the threshold)."""
        from lens_warehouse_spark.operators.timeseries import sessionize_islands

        return sessionize_islands(self.table("events"), _interval_ms(gap))

    # -- sketches / layout / CDC ------------------------------------------
    def heavy_hitters(self, table_name: str = "events", key: str = "user_id", k: int = 140) -> DataFrame:
        """Exact keys with count > n/k via per-partition Misra-Gries
        candidate summaries + exact recount (operators.aggregates.a16).

        ``k`` must not exceed the summary capacity: MG with capacity C
        only guarantees survival of keys with count > n/(C+1), so a
        larger k would silently miss true heavy hitters. Integer keys
        only (the summary schema is a long column)."""
        from lens_warehouse_spark.operators.aggregates import _HH_K, _mg_summaries

        if k > _HH_K:
            raise ValueError(
                f"k={k} exceeds the Misra-Gries summary capacity {_HH_K}; "
                "the candidate set would not be a superset of the true "
                "heavy hitters"
            )
        src = self.table(table_name).select(F.col(key).alias("user_id"))
        if not isinstance(src.schema["user_id"].dataType, (LongType, IntegerType)):
            raise TypeError(
                f"heavy_hitters requires an integer key column; {key!r} is "
                f"{src.schema['user_id'].dataType.simpleString()}"
            )
        candidates = src.mapInPandas(_mg_summaries, "user_id long").distinct()
        total = src.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
        return (
            src.join(F.broadcast(candidates), "user_id", "left_semi")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("cnt") * k > F.col("n_total"))
            .select(F.col("user_id").alias(key), "cnt")
        )

    def zorder(self, df: DataFrame, cols: list[str], bits: int = 8, n_files: int = 8) -> DataFrame:
        """Cluster ``df`` along the Morton curve of ``cols`` for
        multi-dimensional file skipping (operators.layout)."""
        from lens_warehouse_spark.operators.layout import zorder_df

        return zorder_df(df, cols, bits=bits, n_files=n_files)

    def snapshot_diff(self, old: DataFrame, new: DataFrame, key: str, compare: list[str]) -> DataFrame:
        """CDC change set between two snapshots: one full-outer join on
        ``key``, rows classified I/D/U by the ``compare`` columns."""
        o = old.select(key, *compare).alias("o")
        n = new.select(key, *compare).alias("n")
        changed = F.lit(False)
        for c in compare:
            # null-safe: a value changing to or from NULL IS a change;
            # plain != evaluates to NULL there and the filter would
            # silently drop the row from the change set
            changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        return (
            o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
            .filter(
                F.col(f"n.{key}").isNull() | F.col(f"o.{key}").isNull() | changed
            )
            .select(
                F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
                F.when(F.col(f"n.{key}").isNull(), "D")
                .when(F.col(f"o.{key}").isNull(), "I")
                .otherwise("U")
                .alias("change_type"),
            )
        )

    def lm_score(self) -> DataFrame:
        """Per-document bigram-LM quality score (llm.curation.l21)."""
        from lens_warehouse_spark.llm.curation import l21_bigram_lm_score

        return l21_bigram_lm_score(self.spark, self.sf_dir)

    def redact_pii(self) -> DataFrame:
        """Scrub emails/IPv4s/phones from the corpus with per-doc audit
        counts (llm.curation.l22)."""
        from lens_warehouse_spark.llm.curation import l22_pii_redaction

        return l22_pii_redaction(self.spark, self.sf_dir)

    def retention(self) -> DataFrame:
        """Weekly cohort retention matrix over events (t14)."""
        from lens_warehouse_spark.operators.timeseries import t14_retention_matrix

        return t14_retention_matrix(self.spark, self.sf_dir)

    def attribute_purchases(self) -> DataFrame:
        """Last-touch click attribution for purchases (t15)."""
        from lens_warehouse_spark.operators.timeseries import t15_attribution

        return t15_attribution(self.spark, self.sf_dir)

    def profile(self) -> DataFrame:
        """One-pass per-column profile (nulls/distinct/min/max) (s5c)."""
        from lens_warehouse_spark.operators.extras import s5c_profile

        return s5c_profile(self.spark, self.sf_dir)

    def scd2(self) -> DataFrame:
        """SCD2 validity intervals from snapshot history (s8)."""
        from lens_warehouse_spark.operators.extras import s8_scd2_history

        return s8_scd2_history(self.spark, self.sf_dir)

    def mmr_rerank(self) -> DataFrame:
        """MMR-diversified top-k over the embedding corpus (l3j)."""
        from lens_warehouse_spark.llm.vector import l3j_mmr_rerank

        return l3j_mmr_rerank(self.spark, self.sf_dir)

    def rolling_dau(self) -> DataFrame:
        """7-day rolling distinct users (w9)."""
        from lens_warehouse_spark.operators.windows import w9_sliding_distinct

        return w9_sliding_distinct(self.spark, self.sf_dir)

    def incremental_dedup(self) -> DataFrame:
        """Admit new-batch docs unseen in the corpus hash set (l1b)."""
        from lens_warehouse_spark.llm.dedup import l1b_incremental_dedup

        return l1b_incremental_dedup(self.spark, self.sf_dir)

    def distinct_rollup(self) -> DataFrame:
        """Approximate distinct users per event_type from the mergeable
        daily HLL sketch rollup (a18)."""
        from lens_warehouse_spark.operators.aggregates import a18_hll_rollup

        return a18_hll_rollup(self.spark, self.sf_dir)

    def cohort_overlap(self) -> DataFrame:
        """Approximate pairwise cohort overlap via HLL
        inclusion-exclusion (a19)."""
        from lens_warehouse_spark.operators.aggregates import a19_sketch_overlap

        return a19_sketch_overlap(self.spark, self.sf_dir)

    def epoch_shuffle(self) -> DataFrame:
        """Deterministic training-order permutation with distributed
        global ranks (l26)."""
        from lens_warehouse_spark.llm.curation import l26_epoch_shuffle

        return l26_epoch_shuffle(self.spark, self.sf_dir)

    def budget_select(self) -> DataFrame:
        """Greedy token-budget corpus selection by quality (l27)."""
        from lens_warehouse_spark.llm.curation import l27_budget_select

        return l27_budget_select(self.spark, self.sf_dir)

    def hard_negatives(self) -> DataFrame:
        """Top-k similar, different-label negatives per anchor (l3k)."""
        from lens_warehouse_spark.llm.vector import l3k_hard_negatives

        return l3k_hard_negatives(self.spark, self.sf_dir)

    def semantic_dedup(self, trained: bool = False) -> DataFrame:
        """Embedding-space near-dup removal, SemDeDup-style (l29):
        IVF-cell clustering bounds pairwise similarity to within-cell.
        ``trained=True`` uses the Lloyd's-trained production codebook
        (l29b) instead of the deterministic seed cells."""
        from lens_warehouse_spark.llm.vector import (
            l29_semantic_dedup,
            l29b_semantic_dedup_trained,
        )

        if trained:
            return l29b_semantic_dedup_trained(self.spark, self.sf_dir)
        return l29_semantic_dedup(self.spark, self.sf_dir)

    def semantic_decontaminate(self) -> DataFrame:
        """Benchmark-overlap suspects by embedding similarity (l30) —
        catches paraphrased eval overlap n-gram decontamination misses."""
        from lens_warehouse_spark.llm.vector import l30_semantic_decontamination

        return l30_semantic_decontamination(self.spark, self.sf_dir)

    def temporal_cohort(self) -> DataFrame:
        """'A before B' sequenced cohort (u6) — the ordering constraint
        pure set algebra cannot express."""
        from lens_warehouse_spark.operators.cohort_queries import (
            u6_temporal_cohort,
        )

        return u6_temporal_cohort(self.spark, self.sf_dir)

    def exact_median(self) -> DataFrame:
        """Exact median without a global sort (a20, bracket-then-select)."""
        from lens_warehouse_spark.operators.aggregates import a20_exact_median

        return a20_exact_median(self.spark, self.sf_dir)

    def grouped_exact_median(self) -> DataFrame:
        """Per-group exact median, no group ever sorted whole (a21)."""
        from lens_warehouse_spark.operators.aggregates import (
            a21_grouped_exact_median,
        )

        return a21_grouped_exact_median(self.spark, self.sf_dir)

    def grouped_exact_percentile(self) -> DataFrame:
        """Per-group exact p90 via bracket-then-select with
        quantile_cont interpolation (a22)."""
        from lens_warehouse_spark.operators.aggregates import (
            a22_grouped_exact_percentile,
        )

        return a22_grouped_exact_percentile(self.spark, self.sf_dir)

    def skewed_join(self) -> DataFrame:
        """Salt-fan-out join on a hot-key workload (j12) — the
        semantics-transparent fallback when AQE's splitter can't divide
        a single dominant key."""
        from lens_warehouse_spark.operators.joins import j12_skew_salted_join

        return j12_skew_salted_join(self.spark, self.sf_dir)

    def stream_neardup(self) -> DataFrame:
        """Streaming incremental MinHash-LSH near-dup (t18): per-batch
        candidates against an accumulating signature store."""
        from lens_warehouse_spark.streaming.jobs import (
            t18_stream_incremental_neardup,
        )

        return t18_stream_incremental_neardup(self.spark, self.sf_dir)

    def cohort_from_transit(self, text: str):
        """EP-1 with the reference's actual transit+json encoding."""
        from lens_warehouse_spark.operators.wire import cohort_from_transit

        return cohort_from_transit(text)

    def compact(self, df: DataFrame, n_files: int, sort_cols: list[str]) -> DataFrame:
        """Small-file compaction with clustering survival (s16's
        primitive): range-repartition + in-file sort."""
        from lens_warehouse_spark.operators.layout import compact_df

        return compact_df(df, n_files, sort_cols)

    def expire_snapshots(self, base: str, keep_last: int) -> list[int]:
        """Retention maintenance on a versioned table (s17): keep the
        N newest snapshots, manifest republished before dirs die."""
        from lens_warehouse_spark.operators.timetravel import expire_snapshots

        return expire_snapshots(base, keep_last)

    def data_quality(self) -> DataFrame:
        """Constraint validation suite (s18): null/dup/range/referential
        counts across the core tables in one frame."""
        from lens_warehouse_spark.operators.extras import s18_data_quality

        return s18_data_quality(self.spark, self.sf_dir)

    def record_linkage(self) -> DataFrame:
        """Block-then-verify entity resolution (j13)."""
        from lens_warehouse_spark.operators.joins import j13_record_linkage

        return j13_record_linkage(self.spark, self.sf_dir)

    def asof(self, base_dir: str, t_ms: int) -> DataFrame:
        """Time-travel read: the versioned table at ``base_dir`` as of
        ``t_ms`` (s10; Datomic d/as-of parity — manifest resolves the
        greatest committed snapshot <= t)."""
        from lens_warehouse_spark.operators.timetravel import asof_read

        return asof_read(self.spark, base_dir, t_ms)

    def substring_dedup(self, window_tokens: int = 8) -> DataFrame:
        """Per-doc cross-document duplicated-span fraction (l31)."""
        from lens_warehouse_spark.llm.dedup import substring_dup_stats

        return substring_dup_stats(self.table("documents"), w=window_tokens)

    def gram_matrix(self) -> DataFrame:
        """Distributed X^T X over the embedding corpus (l32)."""
        from lens_warehouse_spark.llm.vector import l32_gram_matrix

        return l32_gram_matrix(self.spark, self.sf_dir)

    def pca_project(self) -> DataFrame:
        """Top-8 principal-component projection of embeddings — the full
        coordinate surface (l32b's registered form is the certified
        contract; users want the coordinates)."""
        from lens_warehouse_spark.llm.vector import pca_project

        return pca_project(self.spark, self.sf_dir)

    def canonical_selection(self) -> DataFrame:
        """Max-quality survivor per near-dup cluster (l33)."""
        from lens_warehouse_spark.llm.dedup import l33_canonical_selection

        return l33_canonical_selection(self.spark, self.sf_dir)

    def grouped_mode(self) -> DataFrame:
        """Exact modal event_type per user (a23)."""
        from lens_warehouse_spark.operators.aggregates import a23_grouped_mode

        return a23_grouped_mode(self.spark, self.sf_dir)

    def anomaly_scores(self) -> DataFrame:
        """Trailing-window z-scores of bucket volumes (t19)."""
        from lens_warehouse_spark.operators.timeseries import t19_anomaly_zscore

        return t19_anomaly_zscore(self.spark, self.sf_dir)

    def inverted_index(self) -> DataFrame:
        """Sharded, sorted posting lists per term (l34)."""
        from lens_warehouse_spark.llm.textstats import l34_inverted_index

        return l34_inverted_index(self.spark, self.sf_dir)

    def centrality(self) -> DataFrame:
        """PageRank over the within-cell kNN similarity graph — the full
        rank surface (l35's registered form is the certified contract;
        users want the ranks)."""
        from lens_warehouse_spark.llm.vector import pagerank_ranks

        return pagerank_ranks(self.spark, self.sf_dir)

    def mixture_weights(self) -> DataFrame:
        """Temperature-scaled domain sampling weights (l36)."""
        from lens_warehouse_spark.llm.curation import l36_mixture_weights

        return l36_mixture_weights(self.spark, self.sf_dir)

    def bm25(self) -> DataFrame:
        """Okapi BM25 top-20 for the fixed demo query (l37)."""
        from lens_warehouse_spark.llm.textstats import l37_bm25

        return l37_bm25(self.spark, self.sf_dir)

    def equidepth_histogram(self) -> DataFrame:
        """Exact decile binning of order totals (a24)."""
        from lens_warehouse_spark.operators.aggregates import (
            a24_equidepth_histogram,
        )

        return a24_equidepth_histogram(self.spark, self.sf_dir)

    def max_concurrency(self) -> DataFrame:
        """Per-day peak concurrent sessions (t21)."""
        from lens_warehouse_spark.operators.timeseries import t21_max_concurrency

        return t21_max_concurrency(self.spark, self.sf_dir)

    def washout_cohort(self) -> DataFrame:
        """Subjects with A then NOT B within 90 days (u7)."""
        from lens_warehouse_spark.operators.cohort_queries import u7_washout_cohort

        return u7_washout_cohort(self.spark, self.sf_dir)

    def longest_streaks(self) -> DataFrame:
        """Gaps-and-islands longest active-day streak per user (w10)."""
        from lens_warehouse_spark.operators.windows import w10_longest_streak

        return w10_longest_streak(self.spark, self.sf_dir)

    def subtree_rollup(self) -> DataFrame:
        """Recursive hierarchy subtree aggregates (g1)."""
        from lens_warehouse_spark.operators.graph import g1_subtree_rollup

        return g1_subtree_rollup(self.spark, self.sf_dir)

    def spatial_join(self) -> DataFrame:
        """Grid-bucketed within-radius point pairs (g2)."""
        from lens_warehouse_spark.operators.graph import g2_spatial_join

        return g2_spatial_join(self.spark, self.sf_dir)

    def corpus_report(self) -> DataFrame:
        """One-frame dataset card: dedup/quality/contamination/size (l38)."""
        from lens_warehouse_spark.llm.curation import l38_corpus_report

        return l38_corpus_report(self.spark, self.sf_dir)

    def rolling_dau_sketched(self) -> DataFrame:
        """7-day rolling distinct users via windowed HLL merge (a25)."""
        from lens_warehouse_spark.operators.aggregates import a25_windowed_hll

        return a25_windowed_hll(self.spark, self.sf_dir)

    def geohash_points(self) -> DataFrame:
        """Geohash-8 encode the derived point set (g3)."""
        from lens_warehouse_spark.operators.graph import g3_geohash_encode

        return g3_geohash_encode(self.spark, self.sf_dir)

    def kanon_cells(self, k: int = 5) -> DataFrame:
        """K-anonymous per-cell release (g4). ``k`` may only tighten the
        registered query's floor: g4_kanon_cells pre-suppresses cells
        below _G4_K (the oracle's fixed threshold), so a smaller k could
        not take effect — raise instead of silently behaving as k=_G4_K.
        """
        from lens_warehouse_spark.operators.graph import _G4_K, g4_kanon_cells

        if k < _G4_K:
            raise ValueError(
                f"k={k} is below the registered suppression floor "
                f"{_G4_K}; cells under {_G4_K} points are already "
                "suppressed upstream and cannot be released"
            )
        df = g4_kanon_cells(self.spark, self.sf_dir)
        return df.filter(df.n_points >= k)

    def decode_codes(self, df: DataFrame, code_col: str) -> DataFrame:
        """Code-list decode (s11; schema.clj code-list-item parity):
        resolve enum codes to labels via the broadcast metadata dim."""
        from lens_warehouse_spark.operators.timetravel import CODE_LIST

        codes = self.spark.createDataFrame(CODE_LIST, "code string, label string")
        return df.join(
            F.broadcast(codes), df[code_col] == codes.code, "left"
        ).drop("code")
