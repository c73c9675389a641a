"""Static checks of the plan audit (tools/explain_report.py); no Spark
session needed."""

from __future__ import annotations

import ast
import os

from tools.explain_report import normalize_plan

REPORT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "explain_report.py",
)


def test_checks_literal_has_no_duplicate_keys():
    """A repeated key in the CHECKS literal silently drops the first
    entry's gates (the dict keeps only the last value)."""
    with open(REPORT) as fh:
        module = ast.parse(fh.read())
    literal = next(
        node.value
        for node in module.body
        if isinstance(node, ast.AnnAssign) and node.target.id == "CHECKS"
    )
    keys = [k.value for k in literal.keys]
    dups = sorted({k for k in keys if keys.count(k) > 1})
    assert not dups, f"CHECKS repeats keys: {dups}"


_PLAN = """== Physical Plan ==
* Project (2)
+- * Scan ExistingRDD (1)


(1) Scan ExistingRDD [codegen id : {cg}]
Output [1]: [v#{a}L]
Arguments: [v#{a}L], MapPartitionsRDD[{rdd}] at localCheckpoint, ExistingRDD

(2) Project [codegen id : {cg}]
Output [1]: [r#{b}L]
Input [1]: [v#{a}L]
Project: {expr} AS r#{b}L, filter(a#{a}, lambdafunction((lambda x_{lam}#{b} > 0), lambda x_{lam}#{b}, false))
"""


def _plan(
    expr: str, a: int = 12, b: int = 15, cg: int = 1, rdd: int = 57, lam: int = 3
) -> str:
    return _PLAN.format(expr=expr.format(a=a), a=a, b=b, cg=cg, rdd=rdd, lam=lam)


def test_normalize_plan_masks_run_ids_but_sees_expressions():
    base = normalize_plan(_plan("cast(v#{a}L as bigint)"))
    # expression ids, codegen stages, checkpointed RDD ids and the lambda
    # variable counter vary with the run and with what ran before
    assert base == normalize_plan(_plan("cast(v#{a}L as bigint)", 40, 41, 3, 99, 17))
    # an expression-only change keeps the operator tree but must drift
    changed = normalize_plan(_plan("v#{a}L"))
    assert changed != base
    assert changed.splitlines()[:3] == base.splitlines()[:3]
