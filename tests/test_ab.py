"""``tools/ab.py``: the equivalence gate, the per-arm layer block and the
scope of an arm's ``@k=v`` confs, through the function ``main`` calls."""

from __future__ import annotations

from pyspark.sql import functions as F

from lens_warehouse_spark import registry
from tools import ab

NAME = "a3_faceted_counts"
_calls: list[str | None] = []


def plus_one(spark, sf_dir):
    _calls.append(None)
    registry.load_all()
    return registry.QUERIES[NAME](spark, sf_dir).withColumn("n", F.col("n") + 1)


def recording(spark, sf_dir):
    _calls.append(spark.conf.get("spark.sql.shuffle.partitions"))
    registry.load_all()
    return registry.QUERIES[NAME](spark, sf_dir)


def test_identical_arms_pass_with_full_layer_block(spark, sf_dir):
    out = ab.run(spark, NAME, NAME, sf_dir, pairs=1)
    assert out["rows_equal"] is True
    assert out["A"]["checksum"] == out["B"]["checksum"]
    assert out["A"]["checksum"][0] > 0
    assert 0 <= out["b_wins"] <= 1
    for arm in (out["A"], out["B"]):
        assert len(arm["wall_s"]) == 1
        wall = arm["wall_s"][0]
        assert 0.9 * wall <= arm["build_s"][0] + arm["plan_s"][0] + arm["exec_s"][0] <= wall + 0.001
        layers = arm["layers"]
        assert set(layers) == {
            "analysis_ms", "optimization_ms", "planning_ms",
            "jobs", "stages", "tasks", "shuffle_bytes_written", "exchanges",
        }
        assert layers["jobs"] >= 1 and layers["stages"] >= 1 and layers["tasks"] >= 1
        assert layers["exchanges"] >= 1  # the group-by shuffles
        assert layers["shuffle_bytes_written"] > 0


def test_unequal_arm_fails_before_any_timed_rep(spark, sf_dir):
    _calls.clear()
    out = ab.run(spark, NAME, f"{__name__}:plus_one", sf_dir, pairs=3)
    assert out["rows_equal"] is False
    assert "A" not in out and "B" not in out
    assert len(_calls) == 1  # built once, for the equivalence check only


def test_arm_confs_apply_to_that_arm_only_and_are_restored(spark, sf_dir):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    _calls.clear()
    out = ab.run(spark, NAME, f"{__name__}:recording@{key}=3", sf_dir, pairs=1)
    assert out["rows_equal"] is True
    assert _calls and set(_calls) == {"3"}
    assert spark.conf.get(key) == before

    unset = "spark.sql.test.abArmConf"
    with ab.arm_confs(spark, {unset: "x"}):
        assert spark.conf.get(unset) == "x"
    assert spark.conf.get(unset, None) is None
