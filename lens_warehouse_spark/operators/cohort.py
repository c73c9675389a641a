"""Cohort query compiler (U5) — the reference's flagship capability.

Reference semantics (public repo ``src/lens/api.clj``; /root/reference
empty, SURVEY.md §0 and §2.4): a cohort query is a *conjunction of
disjunctions* of criterion atoms (CNF). Each atom ([:form id],
[:item id :range [lo hi]], [:code-list-item item code]) resolves via one
datalog query to a set of subject/visit entity ids; sets are unioned
within a disjunction (``clojure.set/union``), intersected across
disjunctions (``clojure.set/intersection``), optionally minus exclusion
criteria; the result is the count, also faceted per study-event.

Spark-first re-expression:

- An Atom compiles to a DataFrame of distinct subject keys — a
  declarative plan, not a materialized set, so Catalyst pushes each
  atom's predicate into the fact-table scan.
- The naive plan (``compile_naive``) mirrors the reference exactly:
  reduce(union) within disjunctions, reduce(intersect) across. Each
  intersect is its own shuffle — O(n_disjunctions) shuffles.
- The scaled plan (``compile_tagged``) rewrites CNF into ONE shuffle:
  union all atom key-sets tagged with their disjunction index (the
  (atom, tag) list of ``_work``: tag i for disjunction i, tag n for an
  exclusion), then gate each key on having seen every tag — folded into
  a BIGINT bitmask with ``bit_or(1 << tag)`` (``_cnf_gate``), one
  partial-aggregable shuffle, no distinct expansion.
  At 100 TB this is the difference between n sort-merge set ops over
  the subject universe and a single hash aggregation.

Subjects map to ``customer`` (c_custkey), facts to ``orders`` /
``lineitem`` (via orders for the subject key), mirroring the reference's
subject / visit / data-point layering.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lens_warehouse_spark.catalog import maybe_broadcast, table, table_rows

SUBJECT_KEY = "subject_id"


# ---------------------------------------------------------------------------
# Atoms. Each compiles to a distinct-keyed DataFrame of subject ids.
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Atom:
    """Base criterion. Subclasses fill ``keys``."""

    def keys(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        raise NotImplementedError


@dataclass(frozen=True)
class SubjectAttr(Atom):
    """Predicate on the subject dimension itself (ref: subject attrs).

    e.g. ``SubjectAttr(segments=("BUILDING",))`` or a balance range.
    """

    segments: tuple[str, ...] = ()
    min_balance: float | None = None
    max_balance: float | None = None

    def keys(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        # single predicate source: _atom_condition (shared with the
        # fused and visit-level compilers — drift between compilers is
        # exactly what the cross-strategy oracles exist to prevent)
        return (
            table(spark, sf_dir, "customer")
            .filter(_atom_condition(self))
            .select(F.col("c_custkey").alias(SUBJECT_KEY))
        )


@dataclass(frozen=True)
class OrderAtom(Atom):
    """Existence of an order matching predicates (ref: visit-level atom)."""

    priorities: tuple[str, ...] = ()
    statuses: tuple[str, ...] = ()
    date_from: str | None = None  # 'YYYY-MM-DD', inclusive
    date_to: str | None = None  # exclusive
    min_total: float | None = None

    def keys(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            table(spark, sf_dir, "orders")
            .filter(_atom_condition(self))
            .select(F.col("o_custkey").alias(SUBJECT_KEY))
        )


@dataclass(frozen=True)
class LineitemAtom(Atom):
    """Existence of a lineitem (data-point-level atom); subject key is
    reached through orders — the visit->subject ref traversal."""

    returnflags: tuple[str, ...] = ()
    min_quantity: float | None = None
    max_quantity: float | None = None

    def keys(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        li = table(spark, sf_dir, "lineitem").filter(_atom_condition(self))
        return _via_orders(
            li.select("l_orderkey"),
            table(spark, sf_dir, "orders"),
            F.col("o_custkey").alias(SUBJECT_KEY),
        )


@dataclass(frozen=True, eq=False)
class StaticAtom(Atom):
    """Atom over a prebuilt key DataFrame (testing / ad-hoc sets)."""

    df: "DataFrame"

    def keys(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return self.df.select(F.col(self.df.columns[0]).alias(SUBJECT_KEY)).distinct()


@dataclass(frozen=True)
class CohortQuery:
    """CNF: AND of ORs of atoms, minus exclusion atoms."""

    disjunctions: tuple[tuple[Atom, ...], ...]
    exclusions: tuple[Atom, ...] = field(default=())


# ---------------------------------------------------------------------------
# Compilation strategies.
# ---------------------------------------------------------------------------
def _work(query: CohortQuery) -> list[tuple[Atom, int]]:
    """The (atom, tag) list every tagged plan unions: tag i for each atom
    of disjunction i, tag n (= number of disjunctions) for exclusions."""
    n = len(query.disjunctions)
    return [(a, i) for i, d in enumerate(query.disjunctions) for a in d] + [
        (e, n) for e in query.exclusions
    ]


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def _via_orders(li: DataFrame, od: DataFrame, *cols) -> DataFrame:
    """Lineitem rows joined to their order (the data-point -> visit ->
    subject traversal); ``od`` is the caller's orders frame."""
    return li.join(
        od.select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(*cols)


def _disjunction_keys(
    spark: SparkSession, sf_dir: str, atoms: tuple[Atom, ...]
) -> DataFrame:
    """Distinct union of one disjunction's atom key-sets."""
    return _union([a.keys(spark, sf_dir) for a in atoms]).distinct()


def compile_naive(
    query: CohortQuery, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reference-shaped plan: union within, chained intersect across."""
    sets = [_disjunction_keys(spark, sf_dir, d) for d in query.disjunctions]
    out = reduce(DataFrame.intersect, sets)
    for e in query.exclusions:
        out = out.join(e.keys(spark, sf_dir), SUBJECT_KEY, "left_anti")
    return out


def _cnf_gate(union: DataFrame, n: int, *keys: str) -> DataFrame:
    """Finish a tagged CNF union: group by ``keys`` and keep groups that
    saw every disjunction tag (0..n-1) and no exclusion tag (n).

    Single-pass form: fold tags into a bitmask with bit_or (partial-
    aggregable, ONE shuffle, no distinct expansion) and gate on
    popcount — ~2x faster than countDistinct(tag) at sf0.1 and strictly
    fewer shuffle bytes (8-byte mask vs per-tag rows in the distinct
    spill). Falls back to countDistinct when the CNF is wider than the
    63 tag bits of a BIGINT (never in practice).
    """
    if n >= 63:
        return (
            union.groupBy(*keys)
            .agg(
                F.countDistinct(
                    F.when(F.col("tag") < n, F.col("tag"))
                ).alias("n_met"),
                F.max((F.col("tag") == n).cast("int")).alias("excluded"),
            )
            .filter((F.col("n_met") == n) & (F.col("excluded") == 0))
            .select(*keys)
        )
    full = (1 << n) - 1
    return (
        union.groupBy(*keys)
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(tag AS INT))")).alias("mm"))
        .filter(
            (F.col("mm").bitwiseAND(F.lit(full)) == full)
            & (F.col("mm").bitwiseAND(F.lit(1 << n)) == 0)
        )
        .select(*keys)
    )


def _compile_tagged(
    query: CohortQuery, frame: Callable[[Atom], DataFrame], *keys: str
) -> DataFrame:
    """Union every atom's ``frame`` tagged per ``_work``, then gate.
    Tagging per atom plans the same as tagging each disjunction's union:
    Catalyst pushes the tag projection through the union."""
    union = _union([frame(a).withColumn("tag", F.lit(t)) for a, t in _work(query)])
    return _cnf_gate(union, len(query.disjunctions), *keys)


def compile_tagged(
    query: CohortQuery, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-shuffle plan: tagged union + bitmask gate (_cnf_gate).

    Exclusions ride along as an extra tag whose presence disqualifies,
    so the whole CNF (including NOT) is a single hash aggregation.
    """
    return _compile_tagged(query, lambda a: a.keys(spark, sf_dir), SUBJECT_KEY)


def estimate_plan_cost(
    query: CohortQuery, sf_dir: str | None = None
) -> dict[str, dict[str, int]]:
    """Static cost model for strategy choice — counts the two quantities
    that dominate at 100 TB: fact-table SCANS (IO) and SHUFFLES (network).

    No data statistics needed: the numbers follow from the CNF shape.
    A lineitem atom costs an extra scan+shuffle (the orders traversal to
    reach the subject key). ``naive`` pays one distinct per disjunction,
    one shuffle per intersect, one per anti-join; ``tagged`` folds the
    whole CNF into a single hash aggregation; ``fused`` additionally
    collapses same-table atoms into one scan.
    """
    atoms = [a for a, _ in _work(query)]
    n_disj = len(query.disjunctions)
    n_excl = len(query.exclusions)
    n_li = sum(isinstance(a, LineitemAtom) for a in atoms)
    atom_tables = {_ATOM_SOURCE.get(type(a), f"static:{id(a)}") for a in atoms}

    def weight(tname: str) -> int:
        """Scan cost unit: 1 per scan statically, rows-per-scan when the
        sf_dir's parquet footers are available (catalog statistics)."""
        if sf_dir is None or tname.startswith("static:"):
            return 1
        return table_rows(sf_dir, tname)

    per_atom = sum(
        weight(_ATOM_SOURCE.get(type(a), f"static:{id(a)}"))
        + (weight("orders") if isinstance(a, LineitemAtom) else 0)
        for a in atoms
    )
    # compile_fused's lineitem traversal scans orders separately from any
    # orders tag scan, so it is added on top of the atom-table set.
    per_table = sum(weight(t) for t in atom_tables) + (
        weight("orders") if n_li else 0
    )
    return {
        "naive": {
            "scans": per_atom,
            "shuffles": n_disj + (n_disj - 1) + n_excl + n_li,
        },
        "tagged": {"scans": per_atom, "shuffles": 1 + n_li},
        "fused": {"scans": per_table, "shuffles": 1 + (1 if n_li else 0)},
    }


def choose_strategy(query: CohortQuery, sf_dir: str | None = None) -> str:
    """Pick the cheapest strategy by (shuffles, scans). With ``sf_dir``
    the scan term uses real parquet-footer row counts, so e.g. many
    atoms over a tiny dim table no longer tip the choice to fused.

    Falls back to ``tagged`` when an atom type has no fused form —
    mirrors compile_fused's own fallback, but choosing it up front keeps
    the reported choice honest.
    """
    costs = estimate_plan_cost(query, sf_dir)
    if not _fusable(query):
        del costs["fused"]
    return min(costs, key=lambda s: (costs[s]["shuffles"], costs[s]["scans"]))


def cohort_members(
    query: CohortQuery, spark: SparkSession, sf_dir: str, strategy: str = "tagged"
) -> DataFrame:
    if strategy == "auto":
        strategy = choose_strategy(query, sf_dir)
    fn = {
        "tagged": compile_tagged,
        "naive": compile_naive,
        "fused": compile_fused,
    }[strategy]
    return fn(query, spark, sf_dir)


def cohort_count(
    query: CohortQuery, spark: SparkSession, sf_dir: str, strategy: str = "tagged"
) -> DataFrame:
    """The reference's primary answer: how many subjects match."""
    return cohort_members(query, spark, sf_dir, strategy).agg(
        F.count(F.lit(1)).alias("n_subjects")
    )


def cohort_facets(
    query: CohortQuery,
    spark: SparkSession,
    sf_dir: str,
    facet_col: str = "c_mktsegment",
    strategy: str = "tagged",
) -> DataFrame:
    """Faceted counts (ref: per-study-event counts): members joined back
    to the subject dim and counted per facet value."""
    members = cohort_members(query, spark, sf_dir, strategy)
    cu = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias(SUBJECT_KEY), facet_col
    )
    return (
        members.join(cu, SUBJECT_KEY)
        .groupBy(F.col(facet_col).alias("facet"))
        .agg(F.count(F.lit(1)).alias("n_subjects"))
        .orderBy("facet")
    )


# ---------------------------------------------------------------------------
# Fused compilation: one scan per source table, regardless of atom count.
# ---------------------------------------------------------------------------
def _atom_condition(atom: Atom) -> "F.Column":
    """Predicate Column for an atom on its source table's columns."""
    cond = F.lit(True)
    if isinstance(atom, SubjectAttr):
        if atom.segments:
            cond = cond & F.col("c_mktsegment").isin(*atom.segments)
        if atom.min_balance is not None:
            cond = cond & (F.col("c_acctbal") >= atom.min_balance)
        if atom.max_balance is not None:
            cond = cond & (F.col("c_acctbal") <= atom.max_balance)
    elif isinstance(atom, OrderAtom):
        if atom.priorities:
            cond = cond & F.col("o_orderpriority").isin(*atom.priorities)
        if atom.statuses:
            cond = cond & F.col("o_orderstatus").isin(*atom.statuses)
        if atom.date_from:
            cond = cond & (
                F.col("o_orderdate") >= F.lit(atom.date_from).cast("timestamp")
            )
        if atom.date_to:
            cond = cond & (
                F.col("o_orderdate") < F.lit(atom.date_to).cast("timestamp")
            )
        if atom.min_total is not None:
            cond = cond & (F.col("o_totalprice") >= atom.min_total)
    elif isinstance(atom, LineitemAtom):
        if atom.returnflags:
            cond = cond & F.col("l_returnflag").isin(*atom.returnflags)
        if atom.min_quantity is not None:
            cond = cond & (F.col("l_quantity") >= atom.min_quantity)
        if atom.max_quantity is not None:
            cond = cond & (F.col("l_quantity") <= atom.max_quantity)
    else:
        raise TypeError(f"atom {type(atom).__name__} not fusable")
    return cond


_ATOM_SOURCE = {SubjectAttr: "customer", OrderAtom: "orders", LineitemAtom: "lineitem"}
_SOURCE_KEY = {"customer": "c_custkey", "orders": "o_custkey", "lineitem": None}


def _fusable(query: CohortQuery) -> bool:
    """Every atom has a row condition (``_atom_condition``)."""
    return all(type(a) in _ATOM_SOURCE for a, _ in _work(query))


def _tag_scan(src: DataFrame, atoms: list[tuple[Atom, int]], *cols) -> DataFrame:
    """One pass over ``src``: keep rows matching any atom and emit one
    (``cols``, tag) row per atom the row satisfies."""
    # Each condition Column is built once and reused by the tag array and
    # the prefilter: half the Py4J calls of the compiler's hottest loop.
    conds = [(_atom_condition(a), tag) for a, tag in atoms]
    tags = F.array(*[F.when(c, F.lit(tag)) for c, tag in conds])
    return src.filter(reduce(operator.or_, [c for c, _ in conds])).select(
        *cols, F.explode(F.filter(tags, lambda x: x.isNotNull())).alias("tag")
    )


def compile_fused(
    query: CohortQuery, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tagged-aggregation plan with per-table atom fusion.

    compile_tagged scans a fact table once per atom; clinical criteria
    sets routinely have dozens of atoms over the same observation table,
    so at 100 TB the scan count dominates. Here every source table is
    scanned ONCE: each row emits the tags of all atoms it satisfies
    (``_tag_scan``), then the same single bitmask-gate shuffle
    (_cnf_gate) finishes the CNF. Falls back to compile_tagged for atom
    types without fusion support (e.g. StaticAtom).
    """
    if not _fusable(query):
        return compile_tagged(query, spark, sf_dir)
    per_table: dict[str, list[tuple[Atom, int]]] = {}
    for a, tag in _work(query):
        per_table.setdefault(_ATOM_SOURCE[type(a)], []).append((a, tag))

    parts: list[DataFrame] = []
    for tname, atoms in per_table.items():
        src = table(spark, sf_dir, tname)
        if tname == "lineitem":
            tagged = _tag_scan(src, atoms, F.col("l_orderkey"))
            od = table(spark, sf_dir, "orders")
            parts.append(
                _via_orders(tagged, od, F.col("o_custkey").alias(SUBJECT_KEY), "tag")
            )
        else:
            key = F.col(_SOURCE_KEY[tname]).alias(SUBJECT_KEY)
            parts.append(_tag_scan(src, atoms, key))
    return _cnf_gate(_union(parts), len(query.disjunctions), SUBJECT_KEY)


# ---------------------------------------------------------------------------
# Visit-level resolution. The reference's atoms resolve to VISIT eid sets
# (one datalog query per atom over visit/data-point entities), and the
# endpoint reports visit counts alongside subject counts (SURVEY.md §2.4).
# Mapping: visit = order (o_orderkey), subject = customer (o_custkey).
# ---------------------------------------------------------------------------
VISIT_KEY = "visit_id"


def _visit_cols() -> tuple:
    return F.col("o_custkey").alias(SUBJECT_KEY), F.col("o_orderkey").alias(VISIT_KEY)


def _visit_keys(atom: Atom, spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subject_id, visit_id) pairs whose visit satisfies the atom.
    Subject-level atoms qualify ALL visits of matching subjects."""
    od = table(spark, sf_dir, "orders")
    if isinstance(atom, OrderAtom):
        return od.filter(_atom_condition(atom)).select(*_visit_cols())
    if isinstance(atom, LineitemAtom):
        li = table(spark, sf_dir, "lineitem").filter(_atom_condition(atom))
        return _via_orders(li.select("l_orderkey"), od, *_visit_cols())
    if isinstance(atom, SubjectAttr):
        subjects = atom.keys(spark, sf_dir)
        return od.join(
            subjects, od.o_custkey == F.col(SUBJECT_KEY), "left_semi"
        ).select(*_visit_cols())
    raise TypeError(f"atom {type(atom).__name__} has no visit-level form")


def compile_visits_tagged(
    query: CohortQuery, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Visit-level CNF: same one-shuffle tagged aggregation, keyed by
    (subject_id, visit_id)."""
    return _compile_tagged(
        query, lambda a: _visit_keys(a, spark, sf_dir), SUBJECT_KEY, VISIT_KEY
    )


def cohort_visit_counts(
    query: CohortQuery, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's headline answer shape: visit count + subject count."""
    members = compile_visits_tagged(query, spark, sf_dir)
    return members.agg(
        F.count(F.lit(1)).alias("n_visits"),
        F.countDistinct(SUBJECT_KEY).alias("n_subjects"),
    )


def compile_visits_fused(
    query: CohortQuery, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Visit-level CNF with atom fusion: ONE orders ⋈ broadcast(customer)
    pass evaluates every order-level and subject-level atom as a row
    condition (subject attrs are just columns of the joined row);
    lineitem atoms ride a single lineitem ⋈ orders branch. Same single
    bitmask-gate shuffle (_cnf_gate) as compile_visits_tagged, combined
    map-side: repartitioning the union by subject before the gate was
    rejected (AB_U5D_r14.json) for 2.1x the exchange bytes at sf0.1."""
    if not _fusable(query):
        return compile_visits_tagged(query, spark, sf_dir)
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    # LEFT join: an order with no customer row keeps its order-level
    # atoms; its subject atoms read NULL, i.e. false, as in _visit_keys.
    base = od.join(
        maybe_broadcast(cu, sf_dir, "customer"),
        od.o_custkey == cu.c_custkey,
        "left",
    )
    work = _work(query)
    row_atoms = [(a, t) for a, t in work if not isinstance(a, LineitemAtom)]
    li_atoms = [(a, t) for a, t in work if isinstance(a, LineitemAtom)]

    parts: list[DataFrame] = []
    if row_atoms:
        parts.append(_tag_scan(base, row_atoms, *_visit_cols()))
    if li_atoms:
        li = table(spark, sf_dir, "lineitem")
        tagged = _tag_scan(li, li_atoms, "l_orderkey")
        parts.append(_via_orders(tagged, od, *_visit_cols(), "tag"))
    return _cnf_gate(_union(parts), len(query.disjunctions), SUBJECT_KEY, VISIT_KEY)
