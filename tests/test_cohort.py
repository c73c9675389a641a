"""Property tests for the cohort CNF compiler (SURVEY.md §5.2).

The tagged one-shuffle plan must be semantically identical to the
reference-shaped intersect chain, and both must match brute-force
Python set algebra, for arbitrary CNF structures.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lens_warehouse_spark.operators.cohort import (
    CohortQuery,
    StaticAtom,
    compile_naive,
    compile_tagged,
)

SUBJECTS = list(range(30))

key_sets = st.lists(
    st.sampled_from(SUBJECTS), min_size=0, max_size=15, unique=True
).map(frozenset)

cnf = st.tuples(
    st.lists(st.lists(key_sets, min_size=1, max_size=3), min_size=1, max_size=3),
    st.lists(key_sets, min_size=0, max_size=2),
)


def brute_force(disjunctions, exclusions):
    result = None
    for atoms in disjunctions:
        dset = set().union(*atoms) if atoms else set()
        result = dset if result is None else (result & dset)
    for e in exclusions:
        result -= e
    return result or set()


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cnf=cnf)
def test_cohort_strategies_agree(spark, cnf):
    disjunctions, exclusions = cnf

    def to_atom(keys):
        df = spark.createDataFrame(
            [(int(k),) for k in sorted(keys)] or [(None,)], "subject_id long"
        ).filter("subject_id IS NOT NULL")
        return StaticAtom(df=df)

    query = CohortQuery(
        disjunctions=tuple(tuple(to_atom(a) for a in d) for d in disjunctions),
        exclusions=tuple(to_atom(e) for e in exclusions),
    )
    expected = brute_force(
        [[set(a) for a in d] for d in disjunctions], [set(e) for e in exclusions]
    )
    naive = {r.subject_id for r in compile_naive(query, spark, "").collect()}
    tagged = {r.subject_id for r in compile_tagged(query, spark, "").collect()}
    assert naive == expected
    assert tagged == expected


def test_example_cohort_counts_match_strategies(spark):
    from lens_warehouse_spark.operators.cohort import cohort_count
    from lens_warehouse_spark.operators.cohort_queries import EXAMPLE_COHORT

    sf = "/root/testdata/sf0.001"
    n_tagged = cohort_count(EXAMPLE_COHORT, spark, sf, "tagged").collect()[0][0]
    n_naive = cohort_count(EXAMPLE_COHORT, spark, sf, "naive").collect()[0][0]
    n_fused = cohort_count(EXAMPLE_COHORT, spark, sf, "fused").collect()[0][0]
    assert n_tagged == n_naive == n_fused > 0


# ---------------------------------------------------------------------------
# Randomized real-atom strategy agreement: _atom_condition (fused plans)
# must match Atom.keys() (tagged/naive plans) for arbitrary atom configs,
# not just the example cohort.
# ---------------------------------------------------------------------------
import random as _random

from lens_warehouse_spark.operators.cohort import (
    LineitemAtom,
    OrderAtom,
    SubjectAttr,
    compile_fused,
    compile_tagged,
    compile_visits_fused,
    compile_visits_tagged,
)

_SF = "/root/testdata/sf0.001"


def _random_atom(rng):
    kind = rng.choice(["order", "order", "lineitem", "subject"])
    if kind == "order":
        return OrderAtom(
            priorities=tuple(
                rng.sample(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    rng.randint(0, 2),
                )
            ),
            statuses=tuple(rng.sample(["F", "O", "P"], rng.randint(0, 1))),
            date_from=rng.choice([None, "1996-01-01", "1998-06-01"]),
            date_to=rng.choice([None, "1999-01-01"]),
            min_total=rng.choice([None, 150000.0]),
        )
    if kind == "lineitem":
        return LineitemAtom(
            returnflags=tuple(rng.sample(["A", "N", "R"], rng.randint(0, 2))),
            min_quantity=rng.choice([None, 25.0]),
            max_quantity=rng.choice([None, 45.0]),
        )
    return SubjectAttr(
        segments=tuple(
            rng.sample(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                rng.randint(0, 2),
            )
        ),
        min_balance=rng.choice([None, 0.0]),
        max_balance=rng.choice([None, 5000.0]),
    )


def test_all_strategies_agree_on_random_real_atoms(spark):
    rng = _random.Random(1234)
    for trial in range(6):
        query = CohortQuery(
            disjunctions=tuple(
                tuple(_random_atom(rng) for _ in range(rng.randint(1, 2)))
                for _ in range(rng.randint(1, 3))
            ),
            exclusions=tuple(_random_atom(rng) for _ in range(rng.randint(0, 1))),
        )
        subj = {
            frozenset(r.subject_id for r in fn(query, spark, _SF).collect())
            for fn in (compile_naive, compile_tagged, compile_fused)
        }
        assert len(subj) == 1, f"trial {trial}: subject strategies disagree: {query}"
        vis = {
            frozenset(
                (r.subject_id, r.visit_id) for r in fn(query, spark, _SF).collect()
            )
            for fn in (compile_visits_tagged, compile_visits_fused)
        }
        assert len(vis) == 1, f"trial {trial}: visit strategies disagree: {query}"


def test_choose_strategy_cost_model():
    from lens_warehouse_spark.operators.cohort import (
        choose_strategy,
        estimate_plan_cost,
    )
    from lens_warehouse_spark.operators.cohort_queries import EXAMPLE_COHORT

    # Multi-atom CNF with repeated tables -> fused (fewest scans, 1 shuffle).
    assert choose_strategy(EXAMPLE_COHORT) == "fused"
    costs = estimate_plan_cost(EXAMPLE_COHORT)
    assert costs["fused"]["scans"] < costs["tagged"]["scans"]
    assert costs["tagged"]["shuffles"] < costs["naive"]["shuffles"]

    # Single subject-dim atom -> naive is already minimal (one distinct,
    # no tag machinery).
    single = CohortQuery(disjunctions=((SubjectAttr(segments=("BUILDING",)),),))
    assert choose_strategy(single) == "naive"
    assert estimate_plan_cost(single)["naive"]["shuffles"] == 1


def test_auto_strategy_matches_explicit(spark):
    from lens_warehouse_spark.operators.cohort import cohort_members
    from lens_warehouse_spark.operators.cohort_queries import EXAMPLE_COHORT

    auto = {r.subject_id for r in
            cohort_members(EXAMPLE_COHORT, spark, _SF, strategy="auto").collect()}
    fused = {r.subject_id for r in
             cohort_members(EXAMPLE_COHORT, spark, _SF, strategy="fused").collect()}
    assert auto == fused


def test_stats_fed_cost_model():
    from lens_warehouse_spark.operators.cohort import (
        choose_strategy,
        estimate_plan_cost,
        table_rows,
    )
    from lens_warehouse_spark.operators.cohort_queries import EXAMPLE_COHORT

    # footer row counts match the known generator sizes ordering
    assert table_rows(_SF, "lineitem") > table_rows(_SF, "orders") > 0

    static = estimate_plan_cost(EXAMPLE_COHORT)
    stats = estimate_plan_cost(EXAMPLE_COHORT, _SF)
    # same shuffle structure, scan units become rows
    for strat in static:
        assert static[strat]["shuffles"] == stats[strat]["shuffles"]
        assert stats[strat]["scans"] >= static[strat]["scans"]
    # fused still wins for the example (repeated orders-table atoms)
    assert choose_strategy(EXAMPLE_COHORT, _SF) == "fused"

    # row-weighting flips a choice scan-count alone would get wrong:
    # many atoms over the tiny customer dim + one lineitem atom -> the
    # scan side is dominated by lineitem either way, but fused still
    # collapses the repeated lineitem scans; verify the numbers are
    # row-scaled (lineitem rows show up in the scan term)
    assert stats["tagged"]["scans"] > table_rows(_SF, "lineitem")


@pytest.mark.parametrize("n", [62, 63, 64])
def test_cnf_gate_matches_set_algebra_around_the_bitmask_width(spark, n):
    """_cnf_gate folds tags into a BIGINT bitmask below 63 disjunctions and
    falls back to countDistinct from 63 on; both sides of the switch must
    keep exactly the keys that saw every tag 0..n-1 and never tag n."""
    from lens_warehouse_spark.operators.cohort import _cnf_gate

    rng = _random.Random(n)
    every = set(range(n))
    tags_of = {
        0: every,
        1: every | {n},  # excluded
        2: every - {n - 1},  # misses the highest disjunction bit
        3: every - {0},
    }
    for s in range(4, 12):
        tags_of[s] = {t for t in every if rng.random() < 0.97} | (
            {n} if rng.random() < 0.3 else set()
        )
    rows = [(s, t) for s, tags in tags_of.items() for t in sorted(tags)]
    rows += rows[::5]  # duplicate (key, tag) rows must not matter
    union = spark.createDataFrame(rows, "subject_id long, tag int")

    got = {r.subject_id for r in _cnf_gate(union, n, "subject_id").collect()}
    expected = {s for s, tags in tags_of.items() if every <= tags and n not in tags}
    assert 0 in expected and {1, 2, 3}.isdisjoint(expected)
    assert got == expected
