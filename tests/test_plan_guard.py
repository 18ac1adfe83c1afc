"""Full-registry cartesian/bnlj plan guard as a pytest (r11 verdict #7).

tests/test_plans.py pins plan shapes for SPECIFIC pipelines; this guard
explains EVERY registry query and asserts (a) no CartesianProduct
anywhere and (b) every BroadcastNestedLoopJoin belongs to a query on
scripts/plan_audit.py's BNLJ_ALLOWLIST, each entry carrying a written
scalar/query-size justification.

Building all ~217 query plans costs a full sweep's build time (streaming
replays and ML trainers execute during build), so that test is OPT-IN:
``SPARK_GRAFT_PLAN_GUARD=1 python -m pytest tests/test_plan_guard.py``.
The canonical per-round invocation is ``python scripts/plan_audit.py
--all``, which additionally appends the findings + allowlist to
PLAN_AUDIT.md; this pytest wrapper exists so CI environments with time
budget can enforce the same invariant without the artifact write.
``test_guard_sees_behind_a_shared_fanout_node`` runs by default: it
pins that the guard audits the plans hidden behind lineage cuts.
"""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pa():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "plan_audit.py",
    )
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_guard_sees_behind_a_shared_fanout_node(spark, pa, monkeypatch):
    """A cross join inside a shared fan-out node is cut off from its
    branches' plans (they read ``Scan ExistingRDD``); audit_build still
    flags it, from the plan the flow compiler shares."""
    from tuktu_spark.flow import run_flow
    from tuktu_spark.operators.registry import OPERATORS

    monkeypatch.setitem(
        OPERATORS, "self_cross_count",
        lambda config: lambda df: df.crossJoin(df.select(F.col("a").alias("b")))
        .groupBy("a").count(),
    )
    flow = {
        "generators": [{
            "id": "g", "name": "inline",
            "config": {"rows": [[1], [2], [3]], "columns": ["a"]},
            "next": ["x"],
        }],
        "processors": [
            {"id": "x", "name": "self_cross_count", "config": {}, "next": ["lo", "hi"]},
            {"id": "lo", "name": "filter", "config": {"expression": "${a} < 2"},
             "next": []},
            {"id": "hi", "name": "filter", "config": {"expression": "${a} >= 2"},
             "next": []},
        ],
    }

    def nested_loops(a: dict) -> int:
        return a["cartesian"] + a["bnlj"]

    leaf = run_flow(spark, flow)["lo"]
    assert nested_loops(pa.audit(pa.plan_of(leaf))) == 0  # hidden by the cut
    assert nested_loops(pa.audit_build(lambda: run_flow(spark, flow)["lo"])) > 0


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_PLAN_GUARD") != "1",
    reason="full-registry plan guard is a sweep-cost run; set "
    "SPARK_GRAFT_PLAN_GUARD=1 (canonical form: scripts/plan_audit.py --all)",
)
def test_full_registry_cartesian_free_and_bnlj_allowlisted(spark, sf_dir, pa):
    from tuktu_spark.queries import load_all

    carts, rogue, errors = [], [], []
    for name, qd in sorted(load_all().items()):
        try:
            a = pa.audit_build(lambda: qd.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - the guard reports, not hides
            errors.append((name, str(e).splitlines()[0]))
            continue
        if a["cartesian"]:
            carts.append(name)
        if a["bnlj"] and name not in pa.BNLJ_ALLOWLIST:
            rogue.append(name)
    assert not carts, f"CartesianProduct in: {carts}"
    assert not rogue, f"unadjudicated BroadcastNestedLoopJoin in: {rogue}"
    assert not errors, f"plan build errors: {errors}"
