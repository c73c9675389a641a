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
    lw.query("t14_retention_matrix")  # any registered query, by name

Methods exist only where they add something to a registered query: a
real argument (``knn``, ``heavy_hitters``, ``kanon_cells``), a guard, or
a full surface the registered contract certifies instead of emitting
(``pca_project``, ``centrality``). Everything else is ``query(name)``.
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

    def query(self, name: str) -> DataFrame:
        """The registered query ``name`` (``registry.QUERIES``, SURVEY.md
        §2.12) over this session and sf_dir."""
        from lens_warehouse_spark import registry

        registry.load_all()
        return registry.QUERIES[name](self.spark, self.sf_dir)

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

    # -- similarity search -------------------------------------------------
    def knn(self, query_vec_id: int, k: int = 10) -> DataFrame:
        emb = self.table("embeddings")
        q = emb.filter(F.col("vec_id") == query_vec_id).select(
            F.col("embedding").alias("q_emb")
        )
        # A nonexistent probe id must raise: its empty broadcast side
        # would return zero rows, indistinguishable from "no
        # neighbors". A point lookup is one pruned-scan job; pay it.
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
        candidate summaries + exact recount (a16's kernel,
        ``operators.aggregates.heavy_hitters``).

        ``k`` must not exceed the summary capacity: MG with capacity C
        only guarantees survival of keys with count > n/(C+1), so a
        larger k would silently miss true heavy hitters. Integer keys
        only (the summary schema is a long column)."""
        from lens_warehouse_spark.operators.aggregates import _HH_K, heavy_hitters

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
        return heavy_hitters(src, k).select(F.col("user_id").alias(key), "cnt")

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

    def pca_project(self) -> DataFrame:
        """Top-8 principal-component projection of embeddings — the full
        coordinate surface (l32b's registered form is the certified
        contract; users want the coordinates)."""
        from lens_warehouse_spark.llm.vector import pca_project

        return pca_project(self.spark, self.sf_dir)

    def centrality(self) -> DataFrame:
        """PageRank over the within-cell kNN similarity graph — the full
        rank surface (l35's registered form is the certified contract;
        users want the ranks)."""
        from lens_warehouse_spark.llm.vector import pagerank_ranks

        return pagerank_ranks(self.spark, self.sf_dir)

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
