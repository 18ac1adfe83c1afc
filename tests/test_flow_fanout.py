"""Fan-out sharing in the flow compiler: a batch processor node with two or
more ``next`` ids, no ``cache`` and a shuffle in its plan runs its
exchanges once, and every branch reads those shuffle files and broadcasts
(FLOWSPEC.md "Fan-out"). Both sides of the rule are pinned here, and each
branch's rows are compared with the same flow compiled without sharing."""

from __future__ import annotations

import contextlib

import pytest

from tuktu_spark.flow import compile_flow, compiler, run_flow


@contextlib.contextmanager
def _confs(spark, confs: dict):
    """Set session confs for the body, then restore the previous values."""
    before = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextlib.contextmanager
def _job_group(spark, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs(spark, group) -> list[tuple[str | None, list[int]]]:
    """(description, stage ids) of every job run in ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    out = []
    for job in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        desc = store.job(job).description()
        out.append((None if desc.isEmpty() else desc.get(), list(sc.statusTracker().getJobInfo(job).stageIds)))
    return out


def _map_stages_run(spark, group) -> int:
    """Shuffle map stages that ran (were not skipped) in ``group``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = {s for _, ids in _jobs(spark, group) for s in ids}
    run = 0
    for sid in stages:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "SKIPPED" and sd.shuffleWriteRecords() > 0:
            run += 1
    return run


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def _unshared(monkeypatch):
    """Compile as the code did before sharing: no node qualifies."""
    monkeypatch.setattr(compiler, "_holds_shuffle", lambda df: False)


def _shared_labels(spark, group) -> list[str]:
    return [d for d, _ in _jobs(spark, group) if d and "shared by" in d]


def _reruns_shuffle(df) -> bool:
    return "Exchange hashpartitioning" in df._jdf.queryExecution().executedPlan().toString()


# the test tables are small enough to broadcast; keep the join shuffled
_NO_AUTO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def _join_fanout(sf_dir) -> dict:
    """orders x customer (shuffled join) fanned out to a filter leaf and an
    aggregate leaf."""
    return {
        "generators": [
            {"id": "o", "name": "parquet", "config": {"path": f"{sf_dir}/orders.parquet"},
             "next": ["j"]},
            {"id": "c", "name": "parquet", "config": {"path": f"{sf_dir}/customer.parquet"},
             "next": ["j"]},
        ],
        "processors": [
            {"id": "j", "name": "join", "config": {"on": [["o_custkey", "c_custkey"]]},
             "next": ["big", "bynation"]},
            {"id": "big", "name": "filter", "config": {"expression": "${o_totalprice} > 100000"},
             "next": []},
            {"id": "bynation", "name": "aggregate_by_value",
             "config": {"group": ["c_nationkey"], "aggregations": {"n": "count()"}}, "next": []},
        ],
    }


def _run_and_collect(spark, flow, group):
    with _job_group(spark, group):
        out = run_flow(spark, flow)
        rows = {nid: _rows(df) for nid, df in out.items()}
    return out, rows


def test_join_fanout_runs_its_map_stages_once(spark, sf_dir, monkeypatch):
    """The join's two shuffle map stages run once for both leaves (the
    aggregate leaf adds its own), against twice each unshared; every
    branch's rows equal the unshared compile's."""
    flow = _join_fanout(sf_dir)
    with _confs(spark, _NO_AUTO_BROADCAST):
        out, shared = _run_and_collect(spark, flow, "fanout-shared")
        assert not _reruns_shuffle(out["big"])
        assert _map_stages_run(spark, "fanout-shared") == 3
        with monkeypatch.context() as m:
            _unshared(m)
            out, unshared = _run_and_collect(spark, flow, "fanout-unshared")
        assert _reruns_shuffle(out["big"])
        assert _map_stages_run(spark, "fanout-unshared") == 5
    assert shared == unshared
    assert len(shared["big"]) > 0 and len(shared["bynation"]) > 0


def test_shared_jobs_say_which_node_and_why(spark, sf_dir):
    """The eager jobs of a shared node are labelled
    ``node <id> (<operator>): shared by <n> branches`` in Spark's status
    store; the caller's description is restored afterwards."""
    with _confs(spark, _NO_AUTO_BROADCAST):
        with _job_group(spark, "fanout-labels"):
            run_flow(spark, _join_fanout(sf_dir))
            assert spark.sparkContext.getLocalProperty("spark.job.description") == "fanout-labels"
    labels = [desc for desc, _ in _jobs(spark, "fanout-labels")]
    # one job per shuffle map stage of the join, run while it built
    assert labels.count("node j (join): shared by 2 branches") == 2


@pytest.mark.parametrize("upstream", ["filter", "broadcast_join"])
def test_scan_and_broadcast_fanouts_are_not_shared(spark, sf_dir, upstream):
    """A fan-out node without a shuffle (scan + filter, or a broadcast
    join) keeps recomputing: each branch's own filter is still pushed into
    the scan."""
    gens = [{"id": "o", "name": "parquet", "config": {"path": f"{sf_dir}/orders.parquet"},
             "next": ["mid"]}]
    if upstream == "filter":
        mid = {"id": "mid", "name": "filter", "config": {"expression": "${o_totalprice} > 1000"}}
    else:
        gens.append({"id": "c", "name": "parquet",
                     "config": {"path": f"{sf_dir}/customer.parquet"}, "next": ["mid"]})
        mid = {"id": "mid", "name": "join",
               "config": {"on": [["o_custkey", "c_custkey"]], "broadcast": True}}
    flow = {
        "generators": gens,
        "processors": [
            {**mid, "next": ["high", "low"]},
            {"id": "high", "name": "filter", "config": {"expression": "${o_totalprice} > 200000"},
             "next": []},
            {"id": "low", "name": "filter", "config": {"expression": "${o_totalprice} < 2000"},
             "next": []},
        ],
    }
    with _job_group(spark, f"fanout-{upstream}"):
        out = run_flow(spark, flow)
    for nid, pushed in (("high", "GreaterThan(o_totalprice,200000.0)"),
                        ("low", "LessThan(o_totalprice,2000.0)")):
        plan = out[nid]._jdf.queryExecution().executedPlan().toString()
        scans = [seg.split("]", 1)[0] for seg in plan.split("PushedFilters: ")[1:]]
        assert any(pushed in scan for scan in scans)
    assert not _shared_labels(spark, f"fanout-{upstream}")


def _agg_fanout(sf_dir, cache: bool) -> dict:
    agg = {"id": "agg", "name": "aggregate_by_value",
           "config": {"group": ["o_custkey"], "aggregations": {"n": "count()"}},
           "next": ["many", "few"]}
    if cache:
        agg["cache"] = True
    return {
        "generators": [{"id": "o", "name": "parquet",
                        "config": {"path": f"{sf_dir}/orders.parquet"}, "next": ["agg"]}],
        "processors": [
            agg,
            {"id": "many", "name": "filter", "config": {"expression": "${n} > 10"}, "next": []},
            {"id": "few", "name": "filter", "config": {"expression": "${n} <= 10"}, "next": []},
        ],
    }


def test_cached_fanout_is_persisted_not_shared(spark, sf_dir, monkeypatch):
    """``cache: true`` still goes through tables.persist, and sharing is
    not added on top of the cache."""
    from tuktu_spark import tables

    persisted = []
    monkeypatch.setattr(compiler, "persist", lambda df: persisted.append(df) or tables.persist(df))
    with _job_group(spark, "fanout-cached"):
        out = run_flow(spark, _agg_fanout(sf_dir, cache=True))
        rows = {nid: _rows(df) for nid, df in out.items()}
    assert len(persisted) == 1
    for df in out.values():
        assert "InMemoryRelation" in df._jdf.queryExecution().withCachedData().toString()
    assert not _shared_labels(spark, "fanout-cached")
    shared = {nid: _rows(df) for nid, df in run_flow(spark, _agg_fanout(sf_dir, cache=False)).items()}
    assert rows == shared


def test_stream_flow_is_not_shared(spark, monkeypatch):
    """A flow with a streaming generator shares nothing, not even a static
    fan-out node with a shuffle: the check is never reached."""
    def fail(df):
        raise AssertionError("a stream flow must not be considered for sharing")

    monkeypatch.setattr(compiler, "_holds_shuffle", fail)
    flow = {
        "generators": [
            {"id": "ev", "name": "rate_stream", "config": {"constant": {"k": 1}},
             "next": ["enrich"]},
            {"id": "dim", "name": "inline",
             "config": {"rows": [[1, "a"], [1, "b"], [2, "c"]], "columns": ["k", "name"]},
             "next": ["dimagg"]},
        ],
        "processors": [
            {"id": "dimagg", "name": "aggregate_by_value",
             "config": {"group": ["k"], "aggregations": {"n": "count()"}},
             "next": ["enrich", "side"]},
            {"id": "enrich", "name": "join", "config": {"on": ["k"]}, "next": []},
            {"id": "side", "name": "filter", "config": {"expression": "${n} > 1"}, "next": []},
        ],
    }
    out = compile_flow(spark, flow)
    assert out["enrich"].isStreaming
    assert _reruns_shuffle(out["side"])
    assert [tuple(r) for r in out["side"].collect()] == [(1, 2)]


def test_rejoined_diamond_matches_unshared(spark, sf_dir, monkeypatch):
    """A -> B, A -> C, B + C -> join: the branches re-join each other over
    the shared node and give the rows the unshared compile gives."""
    flow = {
        "generators": [{"id": "o", "name": "parquet",
                        "config": {"path": f"{sf_dir}/orders.parquet"}, "next": ["a"]}],
        "processors": [
            {"id": "a", "name": "aggregate_by_value",
             "config": {"group": ["o_custkey"],
                        "aggregations": {"n": "count()", "spend": "sum(${o_totalprice})"}},
             "next": ["b", "c"]},
            {"id": "b", "name": "filter", "config": {"expression": "${n} > 5"}, "next": ["j"]},
            {"id": "c", "name": "field_filter", "config": {"fields": ["o_custkey", "spend"]},
             "next": ["j"]},
            {"id": "j", "name": "join", "config": {"on": ["o_custkey"]}, "next": []},
        ],
    }
    with _job_group(spark, "fanout-rejoin"):
        shared = _rows(run_flow(spark, flow)["j"])
    assert set(_shared_labels(spark, "fanout-rejoin")) == {
        "node a (aggregate_by_value): shared by 2 branches"
    }
    _unshared(monkeypatch)
    assert shared == _rows(run_flow(spark, flow)["j"]) and shared


def test_random_column_is_the_same_in_every_branch(spark, sf_dir, monkeypatch):
    """A random column added at a shared node (``uuid()``, drawn from a
    seeded generator per partition, like ``rand()``) has one value per row
    in every branch: the node runs once and pushes the same rows to all
    branches, as Tuktu does. Unshared, each branch re-runs the node and,
    when AQE coalesces the branches' shuffles differently, draws other
    values for the same row."""
    flow = {
        "generators": [{"id": "o", "name": "parquet",
                        "config": {"path": f"{sf_dir}/orders.parquet"}, "next": ["agg"]}],
        "processors": [
            {"id": "agg", "name": "aggregate_by_value",
             "config": {"group": ["o_custkey"], "aggregations": {"n": "count()"}},
             "next": ["tag"]},
            {"id": "tag", "name": "uuid_add", "config": {"field": "u"}, "next": ["all", "ids"]},
            {"id": "all", "name": "filter", "config": {"expression": "${n} > 0"}, "next": []},
            {"id": "ids", "name": "field_filter", "config": {"fields": ["o_custkey", "u"]},
             "next": []},
        ],
    }

    def branches():
        out = run_flow(spark, flow)
        return ({r["o_custkey"]: r["u"] for r in out[nid].collect()} for nid in ("all", "ids"))

    # coalesce by bytes, so the branches' pruned shuffles coalesce apart
    with _confs(spark, {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    }):
        every, ids = branches()
        assert every and every == ids
        _unshared(monkeypatch)
        every, ids = branches()
    assert every.keys() == ids.keys() and every != ids
