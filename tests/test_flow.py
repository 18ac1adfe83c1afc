"""End-to-end flow-spec tests — the analogue of the reference's
BaseFlowTester (test/tuktu/test/flow/BaseFlowTester.scala:99-191): load a
JSON flow config, run the compiled pipeline, compare against expected."""

from __future__ import annotations

import pytest

from tuktu_spark.flow import FlowError, compile_flow, run_flow


def test_vertical_slice(spark, sf_dir):
    """SURVEY.md §7.1: source -> filter (predicate expr) -> groupBy+agg
    expr -> sort -> limit — Tuktu's CSVGenerator -> PacketFilter ->
    AggregateByValue -> Sort -> Take chain."""
    flow = {
        "generators": [
            {
                "id": "src",
                "name": "parquet",
                "config": {"path": f"{sf_dir}/lineitem.parquet"},
                "next": ["filt"],
            }
        ],
        "processors": [
            {
                "id": "filt",
                "name": "filter",
                "config": {"expression": "${l_quantity} > 10 && ${l_returnflag} != 'N'"},
                "next": ["agg"],
            },
            {
                "id": "agg",
                "name": "aggregate_by_value",
                "config": {
                    "group": ["l_returnflag"],
                    "aggregations": {"n": "count()", "qty": "sum(${l_quantity})"},
                },
                "next": ["srt"],
            },
            {"id": "srt", "name": "sort", "config": {"by": [{"field": "qty", "desc": True}]}, "next": ["top"]},
            {"id": "top", "name": "take", "config": {"n": 1}, "next": []},
        ],
    }
    out = run_flow(spark, flow)
    assert list(out) == ["top"]
    row = out["top"].collect()[0]
    assert row["n"] > 0 and row["l_returnflag"] in ("A", "R")


def test_fanout_fanin_union(spark):
    """Diamond DAG: one generator fans out to two filter branches that merge
    (fan-out = shared lineage, fan-in = unionByName; SURVEY.md §1.4)."""
    flow = {
        "generators": [
            {
                "id": "g",
                "name": "inline",
                "config": {"rows": [[1], [2], [3], [4]], "columns": ["v"]},
                "next": ["low", "high"],
            }
        ],
        "processors": [
            {"id": "low", "name": "filter", "config": {"expression": "${v} <= 2"}, "next": ["merge"]},
            {"id": "high", "name": "filter", "config": {"expression": "${v} >= 4"}, "next": ["merge"]},
            {"id": "merge", "name": "union_merge", "config": {}, "next": []},
        ],
    }
    out = run_flow(spark, flow)
    assert sorted(r["v"] for r in out["merge"].collect()) == [1, 2, 4]


def test_join_two_generators(spark):
    flow = {
        "generators": [
            {"id": "facts", "name": "inline",
             "config": {"rows": [[1, 10.0], [2, 20.0]], "columns": ["k", "amount"]},
             "next": ["j"]},
            {"id": "dims", "name": "inline",
             "config": {"rows": [[1, "one"]], "columns": ["k", "label"]},
             "next": ["j"]},
        ],
        "processors": [
            {"id": "j", "name": "join", "config": {"on": ["k"], "how": "left", "broadcast": True}, "next": []}
        ],
    }
    out = run_flow(spark, flow)
    got = {r["k"]: r["label"] for r in out["j"].collect()}
    assert got == {1: "one", 2: None}


def test_config_params_substitution(spark, sf_dir):
    """#{param} config-time substitution (utils.scala:150-162)."""
    flow = {
        "generators": [
            {"id": "g", "name": "parquet", "config": {"path": "#{dir}/orders.parquet"}, "next": ["t"]}
        ],
        "processors": [
            {"id": "t", "name": "take", "config": {"n": "#{n}", "by": ["o_orderkey"]}, "next": []}
        ],
    }
    out = run_flow(spark, flow, params={"dir": sf_dir, "n": 5})
    assert out["t"].count() == 5


def test_dead_node_pruning(spark):
    """Processors unreachable from a generator are never compiled
    (Dispatcher.scala:94-104) — even if they'd error."""
    flow = {
        "generators": [
            {"id": "g", "name": "inline", "config": {"rows": [[1]], "columns": ["v"]}, "next": ["ok"]}
        ],
        "processors": [
            {"id": "ok", "name": "skip", "config": {}, "next": []},
            {"id": "dead", "name": "filter", "config": {"expression": "${missing_col} > 0"}, "next": []},
        ],
    }
    outputs = compile_flow(spark, flow)
    assert "dead" not in outputs and "ok" in outputs


def test_unknown_edge_raises(spark):
    flow = {
        "generators": [
            {"id": "g", "name": "inline", "config": {"rows": [[1]], "columns": ["v"]}, "next": ["nope"]}
        ],
        "processors": [],
    }
    with pytest.raises(FlowError):
        compile_flow(spark, flow)


def test_flow_from_file(spark, tmp_path, sf_dir):
    import json

    cfg = {
        "generators": [
            {"id": "g", "name": "parquet", "config": {"path": f"{sf_dir}/region.parquet"}, "next": ["c"]}
        ],
        "processors": [{"id": "c", "name": "field_filter", "config": {"fields": ["r_name"]}, "next": []}],
    }
    path = tmp_path / "flow.json"
    path.write_text(json.dumps(cfg))
    out = run_flow(spark, str(path))
    assert out["c"].count() == 5


def test_streaming_flow_end_to_end(spark):
    """Unbounded flow: rate_stream generator -> arithmetic -> filter,
    run as a streaming query through the same compiler path."""
    import time

    from tuktu_spark.flow.compiler import run_stream_flow

    flow = {
        "generators": [
            {
                "id": "src",
                "name": "rate_stream",
                "config": {"rows_per_second": 50, "constant": {"tag": "t"}},
                "next": ["calc"],
            }
        ],
        "processors": [
            {
                "id": "calc",
                "name": "arithmetic",
                "config": {"expression": "${value} * 2", "field": "doubled"},
                "next": ["keep"],
            },
            {
                "id": "keep",
                "name": "filter",
                "config": {"expression": "${doubled} >= 0"},
                "next": [],
            },
        ],
    }
    q, name = run_stream_flow(spark, flow, node="keep")
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table(name).count() > 0:
                break
            time.sleep(0.5)
        rows = spark.table(name).collect()
        assert rows and all(r["doubled"] == 2 * r["value"] for r in rows)
        assert all(r["tag"] == "t" for r in rows)
    finally:
        q.stop()


def test_example_flows_run(spark, sf_dir):
    """The flows/examples corpus (the reference's configs/flowtests
    analogue) must compile and run end-to-end."""
    import os

    from tuktu_spark.flow import run_flow

    base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "flows", "examples")
    out = run_flow(spark, os.path.join(base, "pricing_summary.json"), params={"dir": sf_dir})
    assert out["top"].count() >= 2

    out = run_flow(spark, os.path.join(base, "dedup_documents.json"), params={"dir": sf_dir})
    comp = out["groups"].collect()
    assert comp and all(r["component"] <= r["id"] for r in comp)

    out = run_flow(spark, os.path.join(base, "text_quality_audit.json"), params={"dir": sf_dir})
    rows = {r["predicted_lang"]: r["docs"] for r in out["agg"].collect()}
    assert sum(rows.values()) > 0

    try:
        out = run_flow(
            spark,
            os.path.join(base, "dedup_documents_bucketed.json"),
            params={"dir": sf_dir},
        )
        comp = out["groups"].collect()
        assert comp and all(r["component"] <= r["id"] for r in comp)
    finally:
        spark.sql("DROP TABLE IF EXISTS doc_shingle_index")


def test_cycle_raises(spark):
    flow = {
        "generators": [
            {"id": "g", "name": "inline", "config": {"rows": [[1]], "columns": ["a"]},
             "next": ["p1"]}
        ],
        "processors": [
            {"id": "p1", "name": "identity", "config": {}, "next": ["p2"]},
            {"id": "p2", "name": "identity", "config": {}, "next": ["p1"]},
        ],
    }
    with pytest.raises(FlowError, match="cycle"):
        compile_flow(spark, flow)


def test_unknown_operator_lists_known_names(spark):
    from tuktu_spark.operators.registry import UnknownOperatorError

    flow = {
        "generators": [
            {"id": "g", "name": "inline", "config": {"rows": [[1]], "columns": ["a"]},
             "next": ["p"]}
        ],
        "processors": [{"id": "p", "name": "no_such_op", "config": {}, "next": []}],
    }
    with pytest.raises(UnknownOperatorError, match="no_such_op"):
        compile_flow(spark, flow)


def test_wrong_input_arity_reports_node(spark):
    flow = {
        "generators": [
            {"id": "g", "name": "inline", "config": {"rows": [[1]], "columns": ["a"]},
             "next": ["j"]}
        ],
        # join needs two inputs but only one parent feeds it
        "processors": [{"id": "j", "name": "join", "config": {"on": ["a"]}, "next": []}],
    }
    with pytest.raises(Exception, match="join"):
        compile_flow(spark, flow)


def _one_node_flow(name: str, config: dict) -> dict:
    return {
        "generators": [
            {"id": "g", "name": "inline", "config": {"rows": [[1]], "columns": ["a"]},
             "next": ["p"]}
        ],
        "processors": [{"id": "p", "name": name, "config": config, "next": []}],
    }


def test_operator_failure_keeps_type_and_notes_node(spark):
    """Any exception an operator raises while compiling keeps its type and
    carries a note naming the node and its operator."""
    from pyspark.errors import AnalysisException

    flow = _one_node_flow("filter", {"expression": "${missing_col} > 0"})
    with pytest.raises(AnalysisException) as info:
        compile_flow(spark, flow)
    assert "node p (filter)" in info.value.__notes__


def test_source_failure_notes_node(spark):
    flow = _one_node_flow("identity", {})
    flow["generators"][0]["name"] = "no_such_source"
    with pytest.raises(KeyError) as info:
        compile_flow(spark, flow)
    assert "node g (no_such_source)" in info.value.__notes__


def test_operator_returning_nothing_names_node(spark, monkeypatch):
    from tuktu_spark.operators.registry import OPERATORS

    monkeypatch.setitem(OPERATORS, "returns_none", lambda config: lambda df: None)
    with pytest.raises(FlowError, match="at node 'p' returned no DataFrame"):
        compile_flow(spark, _one_node_flow("returns_none", {}))


@pytest.mark.parametrize(
    "name, config",
    [
        ("duplicate_span_intervals", {"n": 5, "engine": "sql"}),
        ("remove_duplicate_spans", {"n": 5, "engine": "arrow"}),
        ("zip_merge", {"order_by": ["a"], "engine": "window"}),
        ("js_merge", {"order_by": ["a"], "engine": "bounded"}),
    ],
)
def test_removed_engine_key_fails_loudly(spark, name, config):
    """A flow that still sets the removed ``engine`` key fails at compile
    time, naming the operator, the key and the node — it must not run a
    different kernel than the one it asked for."""
    with pytest.raises(ValueError, match=f"'{name}'.*'engine'") as info:
        compile_flow(spark, _one_node_flow(name, config))
    assert f"node p ({name})" in info.value.__notes__


# --- boolean config keys (operators.registry.flag) ---------------------------


@pytest.mark.parametrize("value, kept", [("false", [3, 4]), ("TRUE", [1, 2]), (False, [3, 4])])
def test_filter_negate_from_string_param(spark, value, kept):
    """A ``#{param}`` filled with the string "false" leaves the filter as
    it is; it used to read as true and invert it."""
    flow = _one_node_flow("filter", {"expression": "${a} > 2", "negate": "#{neg}"})
    flow["generators"][0]["config"]["rows"] = [[1], [2], [3], [4]]
    out = run_flow(spark, flow, params={"neg": value})
    assert sorted(r["a"] for r in out["p"].collect()) == kept


@pytest.mark.parametrize("value, header", [("false", False), ("true", True)])
def test_csv_sink_header_from_string_param(spark, tmp_path, value, header):
    flow = _one_node_flow("csv_sink", {"path": str(tmp_path / "out"), "header": "#{hdr}"})
    run_flow(spark, flow, params={"hdr": value})
    lines = [
        line
        for part in (tmp_path / "out").glob("part-*.csv")
        for line in part.read_text().splitlines()
    ]
    assert lines.count("1") == 1
    assert ("a" in lines) == header  # the header line names the column


@pytest.mark.parametrize("value, hinted", [("false", False), ("true", True)])
def test_join_broadcast_from_string_param(spark, value, hinted):
    flow = {
        "generators": [
            {"id": "l", "name": "inline", "config": {"rows": [[1, "x"]], "columns": ["k", "a"]},
             "next": ["j"]},
            {"id": "r", "name": "inline", "config": {"rows": [[1, "y"]], "columns": ["k", "b"]},
             "next": ["j"]},
        ],
        "processors": [
            {"id": "j", "name": "join", "config": {"on": ["k"], "broadcast": "#{bc}"}, "next": []},
        ],
    }
    out = run_flow(spark, flow, params={"bc": value})["j"]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert ("strategy=broadcast" in plan) == hinted
    assert [tuple(r) for r in out.collect()] == [(1, "x", "y")]


def test_non_boolean_flag_fails_loudly(spark):
    flow = _one_node_flow("filter", {"expression": "${a} > 0", "negate": "no"})
    with pytest.raises(ValueError, match="'negate' must be true or false, got 'no'") as info:
        compile_flow(spark, flow)
    assert "node p (filter)" in info.value.__notes__


@pytest.mark.parametrize("node", ["nope", "dead"])
def test_run_stream_flow_unknown_or_pruned_node(spark, node):
    """Asking for a node that is not compiled (unknown, or pruned as
    unreachable) is a FlowError naming it and listing the compiled ids."""
    from tuktu_spark.flow.compiler import run_stream_flow

    flow = _one_node_flow("identity", {})
    flow["processors"].append({"id": "dead", "name": "identity", "config": {}, "next": []})
    with pytest.raises(FlowError, match=rf"node '{node}' is not a compiled node.*\['g', 'p'\]"):
        run_stream_flow(spark, flow, node=node)


def test_run_flow_param_value_containing_placeholder_text(spark):
    """A substituted parameter VALUE that itself contains literal '#{x}'
    text must NOT be re-matched by a second substitution pass (run_flow
    used to re-run substitution inside compile_flow with empty maps and
    raise 'missing config parameter')."""
    flow = {
        "generators": [
            {"id": "g", "name": "inline",
             "config": {"rows": [[1]], "columns": ["a"]}, "next": ["p"]}
        ],
        "processors": [
            {"id": "p", "name": "add_constant",
             "config": {"field": "note", "value": "#{msg}"}, "next": []}
        ],
    }
    out = run_flow(spark, flow, params={"msg": "see #{docs} for details"})
    (df,) = out.values()
    assert df.first()["note"] == "see #{docs} for details"


def test_llm_pretraining_pipeline_end_to_end(spark, sf_dir, tmp_path_factory):
    """Round-4 verdict #8: the full LLM training-data pipeline as one flow
    spec — scrub -> quality -> bucketed-index minhash dedup -> components
    -> anti-join dupes -> decontaminate -> mixture sample -> pack ->
    partitioned parquet — runs at test scale, and its semantics are
    independently recomputed below."""
    import uuid

    from pyspark.sql import functions as F

    out_dir = str(tmp_path_factory.mktemp("llmflow")) + "/corpus"
    table = f"llm_idx_{uuid.uuid4().hex[:8]}"
    try:
        run_flow(
            spark,
            "flows/examples/llm_pretraining_pipeline.json",
            params={"dir": sf_dir, "out": out_dir, "index_table": table},
        )
        got = spark.read.parquet(out_dir)
        # partitioned layout: lang is a partition column on disk
        assert "lang" in got.columns and got.count() > 0
        langs = {r["lang"] for r in got.select("lang").distinct().collect()}
        assert "en" in langs
        # packing invariant: within each lang, chunk_ids are dense from 0
        chunks = got.groupBy("lang").agg(
            F.min("chunk_id").alias("lo"), F.countDistinct("chunk_id").alias("n"),
            F.max("chunk_id").alias("hi"),
        )
        for r in chunks.collect():
            assert r["lo"] == 0 and r["hi"] == r["n"] - 1, r
        # PII scrub happened upstream: no raw emails survive in text
        assert got.filter(F.col("text").rlike(r"[\w.+-]+@[\w-]+\.[A-Za-z]{2,}")).count() == 0
        # sampling is the deterministic hash rule — zh rate 0.3 < en rate 0.9
        # implies fewer zh survivors than the pre-sample ratio would give;
        # just pin determinism: a re-run writes the identical kept-set
        ids1 = sorted(r["doc_id"] for r in got.select("doc_id").collect())
        run_flow(
            spark,
            "flows/examples/llm_pretraining_pipeline.json",
            params={"dir": sf_dir, "out": out_dir, "index_table": table},
        )
        ids2 = sorted(r["doc_id"] for r in
                      spark.read.parquet(out_dir).select("doc_id").collect())
        assert ids1 == ids2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_llm_pipeline_dedup_join_reads_bucketed_index_shuffle_free(spark, sf_dir):
    """The verify-join inside minhash_dedup_from_index must start from the
    bucket-aligned partitioning of the managed shingle-index table: the
    id-keyed self-join of the index plans with ZERO Exchange operators
    (write once, dedup many at 100 TB)."""
    import uuid

    from tuktu_spark.llm import dedup as D

    table = f"llm_idx_{uuid.uuid4().hex[:8]}"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    D.write_shingle_index(docs, table, buckets=4)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        idx = spark.table(table)
        joined = idx.join(
            idx.withColumnRenamed("shingles", "shingles_b"), "doc_id"
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "Exchange" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_video_frame_extract_flow(spark, sf_dir):
    """The video probe->schedule flow example: MP4 headers are synthesized
    deterministically, the probe reads real container metadata, and the
    schedule emits one work unit per second of probed duration."""
    from pyspark.sql import functions as F

    out = run_flow(
        spark, "flows/examples/video_frame_extract.json", params={"dir": sf_dir}
    )
    assert set(out) == {"probe", "schedule"}
    probed = out["probe"]
    assert probed.filter(F.col("format") != "mp4").count() == 0
    assert probed.filter(F.col("width") != 640).count() == 0
    n_units = out["schedule"].count()
    # durations are (doc_id % 30 + 1) seconds; schedule = duration+1 rows
    want = probed.agg(
        F.sum((F.col("duration_ms") / 1000).cast("long") + 1)
    ).first()[0]
    assert n_units == want and n_units > 0


def test_ann_index_pipeline_flow(spark, sf_dir):
    """Write-once IVF index + bucket-pruned ANN query as one flow spec."""
    import uuid

    table = f"ivf_flow_{uuid.uuid4().hex[:8]}"
    try:
        out = run_flow(
            spark, "flows/examples/ann_index_pipeline.json",
            params={"dir": sf_dir, "index_table": table},
        )
        topk = out["topk"]
        rows = topk.collect()
        assert rows and all(r["rank"] <= 5 for r in rows)
        assert len({r["query_id"] for r in rows}) > 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_centroids")


def test_dsir_select_flow(spark, sf_dir, tmp_path_factory):
    """flows/examples/dsir_select.json: the dsir_select merger receives
    (raw, target) in edge order, selects k=100 ids, and the semi join
    carries the selected documents to the sink; the kept set equals the
    library call's selection."""
    from pyspark.sql import functions as F

    from tuktu_spark.llm.dsir import dsir_select

    out_dir = str(tmp_path_factory.mktemp("dsirflow")) + "/picked"
    run_flow(
        spark,
        "flows/examples/dsir_select.json",
        params={"dir": sf_dir, "out": out_dir},
    )
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(out_dir).select("doc_id").collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", F.split("text", " ").alias("tokens")
    )
    want = sorted(
        r["doc_id"]
        for r in dsir_select(
            docs, docs.filter(F.col("lang") == "en"), k=100, buckets=256
        ).collect()
    )
    assert got == want and len(got) == 100


def test_video_scene_pipeline_flow(spark, sf_dir):
    """REAL video->pixels->scene-cuts wiring as a flow spec: AVI synth,
    per-frame dHash, LAG+bit_count cut window."""
    import os

    from tuktu_spark.flow import run_flow

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flows", "examples",
    )
    out = run_flow(
        spark, os.path.join(base, "video_scene_pipeline.json"),
        params={"dir": sf_dir},
    )
    rows = out["cuts"].collect()
    # 100 videos x 4 frames -> 3 deltas each; constant dt gradient ->
    # deterministic hamming per video (exact values pinned by the oracled
    # driver query; here: shape + no within-video frame loss)
    assert len(rows) == 300
    assert {r["frame_idx"] for r in rows} == {1, 2, 3}


def test_multimodal_curation_pipeline_flow(spark, sf_dir):
    """Video corpus -> per-frame dHash -> (scene cuts, cross-video frame
    dedup) as one flow spec; the frame-pair leg uses a composite key so
    the shared banded-Hamming join dedups at FRAME granularity."""
    import os

    from tuktu_spark.flow import run_flow

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flows", "examples",
    )
    out = run_flow(
        spark,
        os.path.join(base, "multimodal_curation_pipeline.json"),
        params={"dir": sf_dir},
    )
    cuts = out["cuts"].collect()
    assert len(cuts) == 600  # 200 videos x 3 deltas
    pairs = out["frame_pairs"].collect()
    # media_synth_avi uses gradient (id%256, 3, 7, 11): videos with
    # id % 256 equal AND same dims produce identical frames; at 200 docs
    # ids are distinct mod 256, but within a video dt=11 keeps frames
    # distinct too -- so exact-dup pairs come only from dHash-equal
    # gradient collisions, which DO occur (dHash is shift-invariant).
    assert all(r["hamming"] == 0 for r in pairs)
    assert len(pairs) > 0


def test_webdataset_repack_pipeline_flow(spark, sf_dir):
    """Tar shards -> members -> samples -> byte-deterministic repack as
    one flow spec; conservation of samples across the lifecycle."""
    import os

    from tuktu_spark.flow import run_flow

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flows", "examples",
    )
    out = run_flow(
        spark,
        os.path.join(base, "webdataset_repack_pipeline.json"),
        params={"dir": sf_dir},
    )
    packed = out["repack"].collect()
    assert sum(r["n_samples"] for r in packed) == 300  # 100 shards x 3
    assert len(packed) == 4 and all(r["byte_len"] % 10240 == 0 for r in packed)


def test_webdataset_image_dedup_pipeline_flow(spark, sf_dir):
    """Tar -> real PNG decode -> dHash dedup -> tar: survivors equal the
    distinct-signature count, and the repacked shards round-trip."""
    import os

    from pyspark.sql import functions as F

    from tuktu_spark.flow import run_flow
    from tuktu_spark.llm import multimodal as MM

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flows", "examples",
    )
    out = run_flow(
        spark,
        os.path.join(base, "webdataset_image_dedup_pipeline.json"),
        params={"dir": sf_dir},
    )
    n_classes = out["kept_tap"].count()  # one row per signature class
    packed = out["repack"].collect()
    kept = sum(r["n_samples"] for r in packed)
    assert kept == n_classes  # exactly one survivor per signature class
    assert 0 < kept < 300  # the dedup did real work on 300 samples
    # the output tars are real: untar and count samples back
    re = spark.createDataFrame(
        [(r["shard_idx"], bytes(r["shard"])) for r in packed],
        "doc_id long, shard binary",
    )
    s2 = MM.webdataset_samples(MM.untar_members_table(re, "doc_id", "shard"))
    assert s2.count() == kept
    assert s2.filter(F.element_at("parts", "png").isNull()).count() == 0


def test_flagship_curation_lifecycle_flow(spark, sf_dir):
    """flows/examples/webdataset_curation_lifecycle.json — the flagship
    oracled lifecycle: ingest -> dedup -> decontaminate -> strip ->
    reshard. Shape checks here (the value oracle is the driver query
    flow_multimodal_curation): 4 shards, every eval-matching image
    dropped, metadata removed from every survivor."""
    # compile_flow: run_flow returns leaves only; the pack node is interior
    from tuktu_spark.flow import compile_flow

    out = compile_flow(
        spark,
        "flows/examples/webdataset_curation_lifecycle.json",
        params={"dir": sf_dir},
    )
    final = {r["shard_idx"]: r for r in out["final"].collect()}
    assert set(final) == {0, 1, 2, 3}
    assert all(r["meta_removed"] > 0 for r in final.values())
    # the packed tars exist and carry exactly the surviving samples
    packed = {r["shard_idx"]: r for r in out["pack"].collect()}
    assert {k: v["n_samples"] for k, v in packed.items()} == {
        k: v["n_samples"] for k, v in final.items()
    }
    assert all(r["byte_len"] % 10240 == 0 for r in packed.values())


def test_paragraph_dedup_slim_engine_flow_roundtrip(spark, sf_dir):
    """The engine='slim' paragraph dedup is reachable from a FLOW CONFIG
    and agrees with the default engine (round-6 verdict #9)."""
    def flow_for(engine):
        return {
            "generators": [
                {"id": "src", "name": "parquet",
                 "config": {"path": f"{sf_dir}/documents.parquet"},
                 "next": ["dd"]}
            ],
            "processors": [
                {"id": "dd", "name": "paragraph_dedup",
                 "config": {"text_field": "text", "id_field": "doc_id",
                            "sep_regex": "\\.\\s+", "engine": engine,
                            "rebuild": True},
                 "next": []}
            ],
        }

    slim = {r["doc_id"]: r["text"] for r in run_flow(spark, flow_for("slim"))["dd"].collect()}
    full = {r["doc_id"]: r["text"] for r in run_flow(spark, flow_for("full"))["dd"].collect()}
    assert slim == full and len(slim) > 0


def test_ivfpq_append_mode_flow_roundtrip(spark, sf_dir):
    """ivfpq_index_write mode='append' is reachable from a FLOW CONFIG:
    build the index over even-id vectors, append odd-id vectors against
    the FROZEN model, and the probe sees both (round-6 verdict #9)."""
    import uuid

    table = f"ivfpq_flow_{uuid.uuid4().hex[:8]}"
    base_cfg = {"table": table, "nlist": 4, "m": 4, "k_codes": 8,
                "buckets": 4, "id_field": "vec_id", "vec_field": "embedding"}

    def wflow(expr, mode):
        return {
            "generators": [
                {"id": "src", "name": "parquet",
                 "config": {"path": f"{sf_dir}/embeddings.parquet"},
                 "next": ["pick"]}
            ],
            "processors": [
                {"id": "pick", "name": "filter",
                 "config": {"expression": expr}, "next": ["w"]},
                {"id": "w", "name": "ivfpq_index_write",
                 "config": {**base_cfg, "mode": mode}, "next": []},
            ],
        }

    try:
        run_flow(spark, wflow("${vec_id} % 2 == 0", "overwrite"))["w"].collect()
        n_even = spark.table(table).count()
        run_flow(spark, wflow("${vec_id} % 2 == 1", "append"))["w"].collect()
        n_all = spark.table(table).count()
        assert n_all > n_even
        total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        assert n_all == total
    finally:
        for suffix in ("", "_centroids", "_codebooks"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_web_corpus_refinement_flow(spark, sf_dir):
    """flows/examples/web_corpus_refinement.json: the RefinedWeb front end
    as one config-driven DAG — URL blocklist, HTML extraction, line-wise
    boilerplate removal, quality features, slim paragraph dedup, PII
    scrub — extended r12 (r11 verdict #4) with fuzzy-pair keep-best
    cluster collapse and the normalized span max_frac policy. Shape +
    semantics checks against direct library calls."""
    import json

    from pyspark.sql import functions as F

    from tuktu_spark.llm import dedup as DD
    from tuktu_spark.llm.decontaminate import decontaminate_spans_policy

    out = run_flow(
        spark, "flows/examples/web_corpus_refinement.json",
        params={"dir": sf_dir},
    )
    df = out["policy"]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_all = docs.count()
    n_zz = docs.filter(F.col("lang") == "zz").count()
    got = df.count()
    # the blocklist drops every zz-domain doc; dedup/keep-best/policy may
    # drop more, so the bound is <= with a nonempty floor
    assert 0 < got <= n_all - n_zz
    zz_ids = {r["doc_id"] for r in docs.filter(F.col("lang") == "zz").collect()}
    kept_ids = {r["doc_id"] for r in df.select("doc_id").collect()}
    assert not (zz_ids & kept_ids)
    row = df.first()
    assert "<" not in row["clean"] and "script" not in row["clean"]
    # the quality audit branch (fan-out leaf) carries the features
    qcols = out["quality"].columns
    assert "predicted_lang" in qcols and "n_tokens" in qcols

    # semantics of the r12 tail: replay the front end up to the PII
    # scrub (same spec truncated at "pii"), then compose the keep-best +
    # span-policy stages from the library directly — the flow's policy
    # leaf must match row-for-row
    with open("flows/examples/web_corpus_refinement.json") as f:
        spec = json.load(f)
    spec["generators"] = [g for g in spec["generators"] if g["id"] != "evalsrc"]
    tail_ids = {"score", "pairs", "keepbest", "policy", "evalslice"}
    spec["processors"] = [
        p for p in spec["processors"] if p["id"] not in tail_ids
    ]
    for p in spec["processors"]:
        if p["id"] == "pii":
            p["next"] = []
    corpus = run_flow(spark, spec, params={"dir": sf_dir})["pii"]
    feats = corpus.withColumn(
        "n_tokens",
        F.size(F.split(F.trim("clean"), r"\s+")),
    )
    pairs = DD.ngram_jaccard_pairs(
        feats, "clean", "doc_id", 3, 0.5, distinct_content="auto"
    )
    kept = DD.keep_cluster_representatives(
        feats, pairs, id_col="doc_id", score_col="n_tokens"
    )
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    want = decontaminate_spans_policy(
        kept, ev, max_frac=0.5, corpus_text="clean", corpus_id="doc_id",
        eval_text="text", n=13, normalize=True,
    )
    got_rows = {(r["doc_id"], r["clean"]) for r in df.collect()}
    want_rows = {
        (r["doc_id"], r["clean"])
        for r in want.select("doc_id", "clean").collect()
    }
    assert got_rows == want_rows


def test_tokenize_and_pack_flow(spark, sf_dir):
    """flows/examples/tokenize_and_pack.json: learned unigram tokenizer ->
    per-doc piece counts -> per-language token-budget packing -> a
    deterministic epoch-0 reading order. Chunk ids must follow the
    greedy cumulative rule within each language stream; (shard,
    epoch_pos) must match epoch_shuffle's library contract row-for-row
    (r13)."""
    from pyspark.sql import functions as F

    from tuktu_spark.llm.mixing import epoch_shuffle

    out = run_flow(
        spark, "flows/examples/tokenize_and_pack.json", params={"dir": sf_dir}
    )
    df = out["proj"]
    rows = df.orderBy("lang", "doc_id").collect()
    assert rows and all(r["n_tokens"] > 0 for r in rows)
    cum: dict = {}
    for r in rows:
        c = cum.get(r["lang"], 0) + r["n_tokens"]
        cum[r["lang"]] = c
        assert r["chunk_id"] == (c - 1) // 512, r
    want = {
        r["doc_id"]: (r["shard"], r["epoch_pos"])
        for r in epoch_shuffle(
            df.select("doc_id"), 4, seed=13, epoch=0
        ).collect()
    }
    assert {r["doc_id"]: (r["shard"], r["epoch_pos"]) for r in rows} == want


def test_streaming_decontaminate_lifecycle_flow(spark, sf_dir, tmp_path_factory):
    """flows/examples/streaming_decontaminate_lifecycle.json (r12): the
    frozen eval gram artifact is written IN the DAG (write_eval_grams,
    wired as the ingest nodes' second input so the artifact-write
    orders before the first batch), then two sequential micro-batches
    of the max_frac span-policy store — the union of the batch
    partitions must equal the whole-corpus batch
    decontaminate_spans_policy, and the in-flow compaction (every 2
    batches) must have folded batch 0."""
    import os

    from pyspark.sql import functions as F

    from tuktu_spark.llm.decontaminate import decontaminate_spans_policy

    base = tmp_path_factory.mktemp("decon_lifecycle")
    grams_dir = str(base / "eval_grams")
    out_dir = str(base / "out")
    out = run_flow(
        spark, "flows/examples/streaming_decontaminate_lifecycle.json",
        params={
            "dir": sf_dir, "grams_dir": grams_dir, "out_dir": out_dir,
            "eval_mod": "7", "n": "5",
        },
    )
    # passthrough leaf carries the full piped corpus
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    assert out["ingest1"].count() == docs.count()

    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    want = {
        (r["doc_id"], r["text"])
        for r in decontaminate_spans_policy(
            docs, ev, max_frac=0.5, n=5
        ).collect()
    }
    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out_dir).select("doc_id", "text").collect()
    }
    assert want and got == want
    # compact_every=2 fired after batch 1: batch 0 folded into the
    # compacted partition, batch 1 (newest) kept real
    batches = {p for p in os.listdir(out_dir) if p.startswith("batch_id=")}
    assert batches == {"batch_id=-1", "batch_id=1"}, batches


def test_decontaminate_ingest_batch_modes_and_validation(
    spark, sf_dir, tmp_path
):
    """The decontaminate_ingest_batch flow op: report and spans modes
    against the same frozen artifact match the batch library truth;
    bloom_path engages the prefilter regime without changing results;
    statically-detectable config errors fail at op build, not mid-DAG."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    import tuktu_spark.operators.llm_ops  # noqa: F401 - registers ops
    from tuktu_spark.operators.registry import OPERATORS
    from tuktu_spark.llm.decontaminate import (
        build_gram_bloom,
        contamination_report,
        decontaminate_spans,
        save_gram_bloom,
        write_eval_gram_table,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    grams_dir = str(tmp_path / "grams")
    write_eval_gram_table(ev, grams_dir, n=5)
    bloom_path = save_gram_bloom(
        build_gram_bloom(ev, n=5, n_bits=1 << 14, k=3),
        str(tmp_path / "bloom"), k=3, n=5,
    )

    make = OPERATORS["decontaminate_ingest_batch"]

    want_report = {
        (r["doc_id"], r["n_matched_grams"])
        for r in contamination_report(docs, ev, n=5).collect()
    }
    for tag, extra in (("plain", {}), ("bloom", {"bloom_path": bloom_path})):
        out_dir = str(tmp_path / f"rep_{tag}")
        t = make({
            "eval_grams_dir": grams_dir, "out_dir": out_dir, "n": 5,
            "mode": "report", **extra,
        })
        assert t(docs) is docs  # passthrough
        got = {
            (r["doc_id"], r["n_matched_grams"])
            for r in spark.read.parquet(out_dir).collect()
        }
        assert got == want_report, tag

    out_dir = str(tmp_path / "spans")
    t = make({
        "eval_grams_dir": grams_dir, "out_dir": out_dir, "n": 5,
        "mode": "spans",
    })
    t(docs)
    want_spans = {
        (r["doc_id"], r["text"])
        for r in decontaminate_spans(docs, ev, n=5).collect()
    }
    got_spans = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out_dir).select("doc_id", "text").collect()
    }
    assert got_spans == want_spans

    with _pytest.raises(ValueError, match="report|spans|policy"):
        make({"eval_grams_dir": grams_dir, "out_dir": "x", "mode": "nope"})
    with _pytest.raises(ValueError, match="max_frac"):
        make({
            "eval_grams_dir": grams_dir, "out_dir": "x",
            "mode": "spans", "max_frac": 0.5,
        })


def test_decontaminate_ingest_batch_attribution_mode(spark, sf_dir, tmp_path):
    """mode='attribution' (r12): the ingest op against an ATTRIBUTED
    artifact written by the write_eval_grams op matches batch
    contamination_attribution."""
    from pyspark.sql import functions as F

    import tuktu_spark.operators.llm_ops  # noqa: F401
    from tuktu_spark.llm.decontaminate import contamination_attribution
    from tuktu_spark.operators.registry import OPERATORS
    from tuktu_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    grams_dir = str(tmp_path / "attr_grams")
    OPERATORS["write_eval_grams"](
        {"path": grams_dir, "n": 5, "eval_id_field": "eval_id"}
    )(ev)
    out_dir = str(tmp_path / "out")
    OPERATORS["decontaminate_ingest_batch"]({
        "eval_grams_dir": grams_dir, "out_dir": out_dir, "n": 5,
        "mode": "attribution",
    })(docs)
    want = {
        (r["doc_id"], r["eval_id"], r["n_shared_grams"])
        for r in contamination_attribution(docs, ev, n=5).collect()
    }
    got = {
        (r["doc_id"], r["eval_id"], r["n_shared_grams"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert want and got == want


def test_decontaminate_ingest_batch_fuzzy_mode(spark, sf_dir, tmp_path):
    """mode='fuzzy' (r13): the ingest op against a write_eval_fuzzy
    artifact matches batch fuzzy_contamination_pairs; fuzzy-only config
    is rejected elsewhere (threshold outside mode='fuzzy', bloom_path
    with it)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    import tuktu_spark.operators.llm_ops  # noqa: F401
    from tuktu_spark.llm.decontaminate import fuzzy_contamination_pairs
    from tuktu_spark.operators.registry import OPERATORS
    from tuktu_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    fuzzy_dir = str(tmp_path / "fuzzy_art")
    OPERATORS["write_eval_fuzzy"]({"path": fuzzy_dir, "n": 3})(ev)
    out_dir = str(tmp_path / "out")
    OPERATORS["decontaminate_ingest_batch"]({
        "eval_grams_dir": fuzzy_dir, "out_dir": out_dir, "n": 3,
        "mode": "fuzzy", "threshold": 0.8,
    })(docs)
    want = {
        (r["doc_id"], r["eval_id"], round(r["jaccard"], 12))
        for r in fuzzy_contamination_pairs(
            docs, ev, n=3, threshold=0.8
        ).collect()
    }
    got = {
        (r["doc_id"], r["eval_id"], round(r["jaccard"], 12))
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "eval_id", "jaccard").collect()
    }
    assert want and got == want

    with _pytest.raises(ValueError, match="threshold"):
        OPERATORS["decontaminate_ingest_batch"]({
            "eval_grams_dir": fuzzy_dir, "out_dir": "x",
            "mode": "report", "threshold": 0.8,
        })
    with _pytest.raises(ValueError, match="bloom"):
        OPERATORS["decontaminate_ingest_batch"]({
            "eval_grams_dir": fuzzy_dir, "out_dir": "x",
            "mode": "fuzzy", "bloom_path": "y",
        })


def test_streaming_attribution_lifecycle_flow(spark, sf_dir, tmp_path_factory):
    """flows/examples/streaming_attribution_lifecycle.json (r13 — r12
    verdict #5): SUITE-granularity attribution end-to-end in a config
    DAG — the eval slice's lang column renamed to 'suite', the
    ATTRIBUTED (suite, gram) artifact written IN the DAG, two
    micro-batches of the attribution store. The store union must equal
    whole-corpus contamination_attribution with the suite column as
    eval_id, row-for-row; in-flow compaction (every 2 batches) must
    have folded batch 0."""
    import os

    from pyspark.sql import functions as F

    from tuktu_spark.llm.decontaminate import contamination_attribution

    base = tmp_path_factory.mktemp("attr_lifecycle")
    grams_dir = str(base / "eval_grams")
    out_dir = str(base / "out")
    out = run_flow(
        spark, "flows/examples/streaming_attribution_lifecycle.json",
        params={
            "dir": sf_dir, "grams_dir": grams_dir, "out_dir": out_dir,
            "eval_mod": "7", "n": "5",
        },
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    assert out["ingest1"].count() == docs.count()  # passthrough leaf

    ev = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 7 == 0)
        .select(F.col("lang").alias("suite"), "text")
    )
    want = {
        (r["doc_id"], r["suite"], r["n_shared_grams"])
        for r in contamination_attribution(
            docs, ev, eval_id="suite", n=5
        ).collect()
    }
    got = {
        (r["doc_id"], r["suite"], r["n_shared_grams"])
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "suite", "n_shared_grams")
        .collect()
    }
    assert want and got == want
    # fewer suites than eval docs: attribution actually aggregated ACROSS
    # eval examples within a suite (the granularity under test), not one
    # row per eval doc
    assert len({s for _, s, _ in got}) < ev.count()
    batches = {p for p in os.listdir(out_dir) if p.startswith("batch_id=")}
    assert batches == {"batch_id=-1", "batch_id=1"}, batches


def test_build_jobs_carry_their_node_id(spark, tmp_path):
    """Every Spark job a flow launches while it builds (source schema
    inference, the sink's write) carries ``node <id> (<operator>)`` as its
    job description; the caller's description is restored afterwards."""
    src = tmp_path / "in.json"
    src.write_text('{"k": 1}\n{"k": 2}\n{"k": 3}\n')
    flow = {
        "generators": [{"id": "src", "name": "json", "config": {"path": str(src)}, "next": ["keep"]}],
        "processors": [
            {"id": "keep", "name": "filter", "config": {"expression": "${k} > 1"}, "next": ["sink"]},
            {"id": "sink", "name": "parquet_sink",
             "config": {"path": str(tmp_path / "out"), "mode": "overwrite"}, "next": []},
        ],
    }
    sc = spark.sparkContext
    sc.setJobGroup("flow-node-labels", "caller")
    try:
        run_flow(spark, flow)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    labels = []
    for job in sc.statusTracker().getJobIdsForGroup("flow-node-labels"):
        desc = store.job(job).description()
        labels.append(None if desc.isEmpty() else desc.get())
    nodes = {"node src (json)", "node keep (filter)", "node sink (parquet_sink)"}
    assert labels and set(labels) <= nodes
    assert {"node src (json)", "node sink (parquet_sink)"} <= set(labels)


# --- persist lifetime (tables.persist / tables.release) ---------------------


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cached_relations(df) -> int:
    return df._jdf.queryExecution().withCachedData().toString().count(
        "InMemoryRelation"
    )


def test_two_dedup_nodes_keep_both_caches_until_the_action(spark, sf_dir):
    """A flow with two dedup-family nodes on one source: building the
    second node must not drop the first node's caches before the action
    (each node's plan reads the same caches as when built alone)."""
    def flow(*nodes):
        procs = {
            "jac": {"id": "jac", "name": "jaccard_dedup",
                    "config": {"threshold": 0.5}, "next": []},
            "mh": {"id": "mh", "name": "minhash_dedup",
                   "config": {"threshold": 0.5}, "next": []},
        }
        return {
            "generators": [{
                "id": "src", "name": "parquet",
                "config": {"path": f"{sf_dir}/documents.parquet"},
                "next": list(nodes),
            }],
            "processors": [procs[n] for n in nodes],
        }

    alone, want = {}, {}
    for n in ("jac", "mh"):
        df = run_flow(spark, flow(n))[n]
        alone[n] = _cached_relations(df)
        want[n] = sorted(map(tuple, df.collect()))
    assert alone["jac"] > 0 and alone["mh"] > 0
    both = run_flow(spark, flow("jac", "mh"))
    assert {n: _cached_relations(df) for n, df in both.items()} == alone
    assert {n: sorted(map(tuple, df.collect())) for n, df in both.items()} == want


def test_cached_node_persists_do_not_pile_up_across_runs(spark):
    """Five runs of an inline-fed flow with a ``cache: true`` node hold at
    most one run's cache; release() returns to the baseline."""
    from tuktu_spark.tables import release

    flow = {
        "generators": [{
            "id": "g", "name": "inline", "cache": True,
            "config": {"rows": [[1], [2], [3]], "columns": ["v"]},
            "next": ["keep"],
        }],
        "processors": [
            {"id": "keep", "name": "filter", "config": {"expression": "${v} > 1"},
             "next": []},
        ],
    }
    release()
    baseline = len(_persistent_rdd_ids(spark))
    for _ in range(5):
        assert run_flow(spark, flow)["keep"].count() == 2
    assert len(_persistent_rdd_ids(spark)) <= baseline + 1
    release()
    assert len(_persistent_rdd_ids(spark)) == baseline


def test_rerun_of_cached_fanout_recomputes(spark, sf_dir):
    """A re-run of a cached fan-out over an unchanged parquet source
    builds its own cache instead of reading the previous run's."""
    flow = {
        "generators": [{
            "id": "src", "name": "parquet",
            "config": {"path": f"{sf_dir}/orders.parquet"}, "next": ["big"],
        }],
        "processors": [
            {"id": "big", "name": "filter", "cache": True,
             "config": {"expression": "${o_totalprice} > 1000"},
             "next": ["n_open", "n_done"]},
            {"id": "n_open", "name": "filter",
             "config": {"expression": "${o_orderstatus} == 'O'"}, "next": []},
            {"id": "n_done", "name": "filter",
             "config": {"expression": "${o_orderstatus} == 'F'"}, "next": []},
        ],
    }
    counts, ids = [], []
    for _ in range(2):
        before = _persistent_rdd_ids(spark)
        out = run_flow(spark, flow)
        counts.append({n: df.count() for n, df in out.items()})
        ids.append(_persistent_rdd_ids(spark) - before)
    assert counts[0] == counts[1]
    assert len(ids[1]) == 1  # the second run materialized a fresh cache
    assert not (ids[0] & _persistent_rdd_ids(spark))  # the first run's is gone


def test_cache_operator_released_by_next_run_flow(spark):
    from pyspark import StorageLevel

    def flow(op):
        return {
            "generators": [{
                "id": "g", "name": "inline",
                "config": {"rows": [[1], [2]], "columns": ["v"]}, "next": ["c"],
            }],
            "processors": [{"id": "c", "name": op, "config": {}, "next": []}],
        }

    cached = run_flow(spark, flow("cache"))["c"]
    assert cached.count() == 2
    assert cached.storageLevel != StorageLevel.NONE
    run_flow(spark, flow("distinct"))
    assert cached.storageLevel == StorageLevel.NONE
