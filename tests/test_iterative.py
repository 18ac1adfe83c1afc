"""Iterative operator tests: BFS recursive lookup, connected components,
concurrent repartition, sub-flow inclusion."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tuktu_spark.operators import make_operator, make_source
from tuktu_spark.operators.iterative import bfs_expand, connected_components


def test_bfs_expand_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "parent long, child long"
    )
    seed = spark.createDataFrame([(1,)], "id long")
    out = bfs_expand(seed, edges, "id", "parent", "child", max_iterations=10)
    got = {(r["node"]): r["depth"] for r in out.collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_handles_diamond_without_duplicates(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "parent long, child long"
    )
    seed = spark.createDataFrame([(1,)], "id long")
    out = bfs_expand(seed, edges, "id", "parent", "child").collect()
    nodes = [r["node"] for r in out]
    assert sorted(nodes) == [1, 2, 3, 4]  # node 4 reached once, min depth


def test_connected_components_two_clusters(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 8)], "id_a long, id_b long"
    )
    out = connected_components(edges)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_connected_components_long_path_converges(spark):
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = connected_components(edges)
    assert set(r["component"] for r in out.collect()) == {0}


def test_connected_components_round_cap_raises(spark, monkeypatch):
    """Reaching the round cap without convergence raises instead of
    returning partial labels."""
    from tuktu_spark.operators import iterative

    monkeypatch.setattr(iterative, "MAX_ROUNDS", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="not converged after 1 rounds"):
        connected_components(edges)


@pytest.mark.parametrize(
    "config", [{"algorithm": "star"}, {"algorithm": "label"}, {"max_iterations": 40}]
)
def test_connected_components_removed_keys_fail_loudly(spark, config):
    from tuktu_spark.flow.compiler import compile_flow

    key = next(iter(config))
    flow = {
        "generators": [{
            "id": "g", "name": "inline",
            "config": {"rows": [[1, 2]], "columns": ["id_a", "id_b"]},
            "next": ["cc"],
        }],
        "processors": [
            {"id": "cc", "name": "connected_components", "config": config, "next": []}
        ],
    }
    with pytest.raises(ValueError, match=f"'connected_components'.*'{key}'") as info:
        compile_flow(spark, flow)
    assert "node cc (connected_components)" in info.value.__notes__


def _persistent_rdds(spark) -> dict:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i): rdds.get(i) for i in rdds.keySet()}


def test_dedup_flow_checkpoints_released_by_next_run(spark, sf_dir):
    """The connected-components rounds of one run_flow do not outlive the
    next run: once a second run has built and run its action, no
    checkpoint RDD of the first run is still persisted."""
    from tuktu_spark.flow import run_flow

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flows", "examples", "dedup_documents.json",
    )
    before = set(_persistent_rdds(spark))
    first = run_flow(spark, path, params={"dir": sf_dir})["groups"]
    rows = sorted(map(tuple, first.collect()))
    checkpoints = {
        i for i, rdd in _persistent_rdds(spark).items()
        if i not in before and rdd.isCheckpointed()
    }
    assert checkpoints
    second = run_flow(spark, path, params={"dir": sf_dir})["groups"]
    assert sorted(map(tuple, second.collect())) == rows
    assert not checkpoints & set(_persistent_rdds(spark))


def test_concurrent_repartitions_by_anchor(spark):
    df = spark.range(100).withColumn("k", F.col("id") % 4)
    op = make_operator("concurrent", {"anchor_fields": ["k"], "partitions": 4})
    out = op(df)
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 100


def test_include_flow_source(spark, tmp_path):
    sub = {
        "generators": [
            {
                "id": "g",
                "name": "inline",
                "config": {"rows": [[1], [2]], "columns": ["a"]},
                "next": ["dbl"],
            }
        ],
        "processors": [
            {
                "id": "dbl",
                "name": "arithmetic",
                "config": {"expression": "${a} * #{factor}", "field": "b"},
                "next": [],
            }
        ],
    }
    p = tmp_path / "sub.json"
    p.write_text(json.dumps(sub))
    df = make_source(
        spark, "flow", {"path": str(p), "node": "dbl", "params": {"factor": 10}}
    )
    assert sorted(r["b"] for r in df.collect()) == [10.0, 20.0]


def test_asof_join_latest_preceding(spark):
    from tuktu_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("a", 5, "e1"), ("a", 10, "e2"), ("a", 2, "e0"), ("b", 7, "e3")],
        "k string, ts long, ev string",
    )
    right = spark.createDataFrame(
        [("a", 3, 30.0), ("a", 10, 100.0), ("b", 9, 90.0)],
        "k string, rts long, px double",
    )
    out = asof_join(left, right, ["k"], "ts", "rts", ["px"])
    got = {r["ev"]: (r["px"], r["matched_ts"]) for r in out.collect()}
    assert got["e1"] == (30.0, 3)     # latest rts <= 5 is 3
    assert got["e2"] == (100.0, 10)   # tie: equal ts matches
    assert got["e0"] == (None, None)  # nothing precedes ts=2
    assert got["e3"] == (None, None)  # right 'b' at 9 > 7


def test_range_join_bands(spark):
    from tuktu_spark.operators import make_operator

    facts = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 25.0)], "id long, v double")
    bands = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 20.0, "mid")], "lo double, hi double, band string"
    )
    op = make_operator("range_join", {"value": "v", "lo": "lo", "hi": "hi"})
    got = {r["id"]: r["band"] for r in op(facts, bands).collect()}
    assert got == {1: "low", 2: "mid"}  # 25.0 falls outside every band


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from tuktu_spark.operators import make_operator

    # one hot key (90% of rows) + a long tail
    left = spark.range(2000).select(
        F.when(F.col("id") < 1800, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(1, "hot"), (1900, "cold"), (1950, "cold2")], "k long, label string"
    )
    op = make_operator("salted_join", {"on": ["k"], "salt": 4})
    salted = op(left, right)
    plain = left.join(right, "k")
    assert salted.count() == plain.count() == 1802
    a = sorted((r["k"], r["v"], r["label"]) for r in salted.collect())
    b = sorted((r["k"], r["v"], r["label"]) for r in plain.collect())
    assert a == b
