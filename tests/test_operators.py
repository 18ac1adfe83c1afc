"""Per-operator unit tests — DataFrame-in/DataFrame-out golden checks,
mirroring the reference's BaseProcessorTest harness
(test/tuktu/test/processor/BaseProcessorTest.scala:18-42) over the fixture
shapes in FIXTURES.md §A."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from tuktu_spark.operators import make_operator, make_source
from tuktu_spark.operators.registry import UnknownOperatorError


@pytest.fixture(scope="module")
def flat_df(spark):
    # FIXTURES.md A.1: flat mixed-scalar rows
    return spark.createDataFrame(
        [
            ("ann", 34, 9.5, True),
            ("bob", 29, 7.25, False),
            ("cyd", 41, 8.0, True),
        ],
        ["name", "age", "score", "active"],
    )


@pytest.fixture(scope="module")
def nested_df(spark):
    # FIXTURES.md A.2: nested struct rows
    return spark.createDataFrame(
        [
            Row(payload=Row(user=Row(id=1, tags=["a", "b"]), score=3.5), name="x"),
            Row(payload=Row(user=Row(id=2, tags=["c"]), score=4.5), name="y"),
        ]
    )


@pytest.fixture(scope="module")
def array_df(spark):
    # FIXTURES.md A.3: array rows
    return spark.createDataFrame(
        [
            (1, [1, 2, 3], ["x", "y", "z"], "a,b,,c"),
            (2, [4], ["w"], "solo"),
        ],
        ["id", "xs", "ys", "csv"],
    )


def rows(df, *cols):
    out = df.select(*cols) if cols else df
    return [tuple(r) for r in out.collect()]


class TestProjection:
    def test_field_filter_with_defaults(self, flat_df):
        t = make_operator(
            "field_filter",
            {"fields": [{"path": "name", "as": "n"}, {"path": "age"}, "score"]},
        )
        out = t(flat_df)
        assert out.columns == ["n", "age", "score"]

    def test_field_filter_nested_path(self, nested_df):
        t = make_operator("field_filter", {"fields": [{"path": "payload.user.id", "as": "uid"}]})
        assert sorted(rows(t(nested_df))) == [(1,), (2,)]

    def test_field_remove(self, flat_df):
        out = make_operator("field_remove", {"fields": ["active", "score"]})(flat_df)
        assert out.columns == ["name", "age"]

    def test_field_copy(self, nested_df):
        out = make_operator("field_copy", {"copies": [{"path": "payload.score", "as": "s"}]})(
            nested_df
        )
        assert sorted(r["s"] for r in out.collect()) == [3.5, 4.5]

    def test_field_rename(self, flat_df):
        out = make_operator("field_rename", {"renames": {"name": "who", "age": "years"}})(flat_df)
        assert set(out.columns) == {"who", "years", "score", "active"}

    def test_constant_and_template(self, flat_df):
        t1 = make_operator("constant_add", {"field": "tag", "value": "T"})
        t2 = make_operator(
            "template_add", {"field": "label", "template": "${name}:${age}"}
        )
        out = t2(t1(flat_df))
        got = {r["name"]: (r["tag"], r["label"]) for r in out.collect()}
        assert got["ann"] == ("T", "ann:34")

    def test_running_count(self, flat_df):
        out = make_operator(
            "running_count", {"order_by": ["age"], "field": "seq", "step_size": 2}
        )(flat_df)
        got = {r["name"]: r["seq"] for r in out.collect()}
        assert got == {"bob": 0, "ann": 2, "cyd": 4}

    def test_uuid_add(self, flat_df):
        out = make_operator("uuid_add", {"field": "u"})(flat_df)
        vals = [r["u"] for r in out.collect()]
        assert len(set(vals)) == 3 and all(len(v) == 36 for v in vals)

    def test_replace_chain(self, spark):
        df = spark.createDataFrame([("aXbXc",)], ["s"])
        out = make_operator(
            "replace", {"field": "s", "replacements": [["X", "-"], ["a", "A"]]}
        )(df)
        assert out.first()["s"] == "A-b-c"

    def test_predicate_field(self, flat_df):
        out = make_operator(
            "predicate_field", {"expression": "${age} > 30 && ${active} == true", "field": "p"}
        )(flat_df)
        got = {r["name"]: r["p"] for r in out.collect()}
        assert got == {"ann": True, "bob": False, "cyd": True}


class TestFilters:
    def test_packet_filter_negate(self, flat_df):
        t = make_operator("filter", {"expression": "${age} >= 34", "negate": True})
        assert [r["name"] for r in t(flat_df).collect()] == ["bob"]

    def test_batch_filter(self, spark):
        # keep whole "packet" (group) iff >= 2 rows match (BaseProcessors:468-484)
        df = spark.createDataFrame(
            [("p1", 5), ("p1", 6), ("p2", 1), ("p2", 9)], ["packet", "v"]
        )
        t = make_operator(
            "filter",
            {"expression": "${v} > 4", "batch_by": ["packet"], "batch_min_count": 2},
        )
        assert sorted(r["v"] for r in t(df).collect()) == [5, 6]

    def test_regex_filter_tree(self, flat_df):
        t = make_operator(
            "regex_filter",
            {
                "expression": {
                    "type": "or",
                    "terms": [
                        {"field": "name", "regex": "^a"},
                        {"type": "negate", "terms": [{"field": "name", "regex": "o"}]},
                    ],
                }
            },
        )
        assert sorted(r["name"] for r in t(flat_df).collect()) == ["ann", "cyd"]

    def test_absent_fields(self, spark):
        df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "v"])
        t = make_operator("absent_fields_filter", {"fields": ["v"]})
        assert [r["id"] for r in t(df).collect()] == [1]

    def test_contains_all(self, spark):
        df = spark.createDataFrame([(1, ["a", "b", "c"]), (2, ["a"])], ["id", "vals"])
        t = make_operator("contains_all_filter", {"field": "vals", "values": ["a", "b"]})
        assert [r["id"] for r in t(df).collect()] == [1]


class TestReshape:
    def test_explode_and_length(self, array_df):
        t = make_operator("explode", {"field": "xs", "as": "x"})
        out = t(array_df)
        assert out.count() == 4
        t2 = make_operator("seq_length", {"field": "xs", "as": "n"})
        assert {r["id"]: r["n"] for r in t2(array_df).collect()} == {1: 3, 2: 1}

    def test_zip_explode(self, array_df):
        t = make_operator("zip_explode", {"left": "xs", "right": "ys", "as_left": "x", "as_right": "y"})
        got = sorted(rows(t(array_df), "x", "y"))
        assert got == [(1, "x"), (2, "y"), (3, "z"), (4, "w")]

    def test_string_split_drop_empty(self, array_df):
        t = make_operator(
            "string_split", {"field": "csv", "separator": ",", "as": "parts", "drop_empty": True}
        )
        got = {r["id"]: r["parts"] for r in t(array_df).collect()}
        assert got == {1: ["a", "b", "c"], 2: ["solo"]}

    def test_implode_roundtrip(self, array_df):
        t = make_operator("string_implode", {"field": "ys", "separator": "|", "as": "joined"})
        got = {r["id"]: r["joined"] for r in t(array_df).collect()}
        assert got == {1: "x|y|z", 2: "w"}

    def test_collect_implode(self, spark):
        df = spark.createDataFrame([("a", 2), ("a", 1), ("b", 3)], ["k", "v"])
        t = make_operator("collect_implode", {"field": "v", "group_by": ["k"]})
        got = {r["k"]: r["v"] for r in t(df).collect()}
        assert got == {"a": [1, 2], "b": [3]}

    def test_head_and_element(self, array_df):
        h = make_operator("head_of_list", {"field": "xs", "as": "h"})
        e = make_operator("list_element", {"field": "xs", "index": 5, "as": "fifth"})
        out = e(h(array_df))
        got = {r["id"]: (r["h"], r["fifth"]) for r in out.collect()}
        assert got == {1: (1, None), 2: (4, None)}

    def test_flatten_struct(self, nested_df):
        t = make_operator("flatten_struct", {"separator": "_"})
        out = t(nested_df)
        assert set(out.columns) == {"payload_user_id", "payload_user_tags", "payload_score", "name"}

    def test_wrap_and_to_json(self, flat_df):
        wrapped = make_operator("wrap_struct", {"field": "datum"})(flat_df)
        assert wrapped.columns == ["datum"]
        j = make_operator("to_json", {"as": "js"})(flat_df.select("name", "age"))
        assert '"name":"ann"' in j.filter("age = 34").first()["js"]

    def test_json_fetch_and_parse(self, spark):
        df = spark.createDataFrame(
            [(1, '{"user": {"id": 7, "tags": ["x"]}, "n": 2}')], ["id", "js"]
        )
        fetched = make_operator(
            "json_fetch",
            {"field": "js", "fields": [{"path": "$.user.id", "as": "uid"},
                                       {"path": "$.missing", "as": "m", "default": "d"}]},
        )(df)
        r = fetched.first()
        assert (r["uid"], r["m"]) == ("7", "d")
        parsed = make_operator("from_json", {"field": "js", "as": "obj"})(df)
        assert parsed.first()["obj"]["user"]["id"] == 7

    def test_csv_string_and_parse(self, spark):
        df = spark.createDataFrame([("bob;29;NY",)], ["line"])
        parsed = make_operator(
            "csv_parse", {"field": "line", "separator": ";", "headers": ["n", "a", "c"]}
        )(df)
        assert tuple(parsed.select("n", "a", "c").first()) == ("bob", "29", "NY")
        back = make_operator("csv_string", {"fields": ["n", "a", "c"], "separator": ";"})(parsed)
        assert back.first()["csv"] == "bob;29;NY"

    def test_fixed_width(self, spark):
        df = spark.createDataFrame([("ab  123x",)], ["s"])
        out = make_operator(
            "fixed_width", {"field": "s", "widths": [4, 3, 1], "headers": ["a", "b", "c"]}
        )(df)
        assert tuple(out.select("a", "b", "c").first()) == ("ab", "123", "x")


class TestConvertTime:
    def test_casts(self, spark):
        df = spark.createDataFrame([("3.5", "2020-01-02 03:04:05")], ["n", "d"])
        out = make_operator("to_number", {"field": "n", "type": "double"})(df)
        assert out.first()["n"] == 3.5
        out = make_operator("to_date", {"field": "d"})(df)
        assert out.first()["d"].year == 2020
        arr = spark.createDataFrame([(["1", "2"],)], ["xs"])
        out = make_operator("to_number", {"field": "xs", "type": "int"})(arr)
        assert out.first()["xs"] == [1, 2]

    def test_timestamp_normalize(self, spark):
        df = spark.createDataFrame([("2020-03-15 10:47:33",)], ["t"]).selectExpr(
            "CAST(t AS TIMESTAMP) AS t"
        )
        t1 = make_operator("timestamp_normalize", {"field": "t", "unit": "hours", "as": "h"})
        assert str(t1(df).first()["h"]) == "2020-03-15 10:00:00"
        t15 = make_operator(
            "timestamp_normalize", {"field": "t", "unit": "minutes", "n": 15, "as": "q"}
        )
        assert str(t15(df).first()["q"]) == "2020-03-15 10:45:00"

    def test_period_add_and_duration(self, spark):
        df = spark.createDataFrame([("2020-01-30 00:00:00", "2020-03-02 00:00:00")], ["a", "b"])
        df = df.selectExpr("CAST(a AS TIMESTAMP) a", "CAST(b AS TIMESTAMP) b")
        out = make_operator(
            "period_add", {"field": "a", "amounts": {"months": 1, "days": 2}, "as": "c"}
        )(df)
        # add_months clamps Jan 30 + 1 month -> Feb 29 (leap), +2 days -> Mar 2
        assert str(out.first()["c"]).startswith("2020-03-02")
        d = make_operator("duration_days", {"start": "a", "end": "b", "as": "dd"})(df)
        assert d.first()["dd"] == 32

    def test_arith_compute_round(self, spark):
        df = spark.createDataFrame([(2.0, 3.0)], ["x", "y"])
        out = make_operator(
            "arith_compute", {"expression": "${x} ^ ${y} + 0.123", "field": "r", "round": 1}
        )(df)
        assert out.first()["r"] == 8.1

    def test_max_field_by_value(self, spark):
        df = spark.createDataFrame([(1.0, 5.0, 3.0)], ["a", "b", "c"])
        out = make_operator("max_field_by_value", {"fields": ["a", "b", "c"]})(df)
        assert out.first()["max_field"] == "b"


class TestAggregates:
    def test_aggregate_by_value(self, spark):
        df = spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 5.0)], ["k", "v"])
        t = make_operator(
            "aggregate_by_value",
            {"group": ["k"], "aggregations": {"total": "sum(${v})", "halfavg": "avg(${v}) / 2"}},
        )
        got = {r["k"]: (r["total"], r["halfavg"]) for r in t(df).collect()}
        assert got == {"a": (4.0, 1.0), "b": (5.0, 2.5)}

    def test_group_agg_and_stats(self, spark):
        df = spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 5.0)], ["k", "v"])
        t = make_operator(
            "group_agg",
            {"group": ["k"], "aggregations": [{"op": "sum", "field": "v"}, {"op": "count", "field": "v", "as": "n"}]},
        )
        got = {r["k"]: (r["sum_v"], r["n"]) for r in t(df).collect()}
        assert got == {"a": (4.0, 2), "b": (5.0, 1)}
        m = make_operator("median", {"field": "v"})(df)
        assert m.first()["median"] == 3.0
        mr = make_operator("midrange", {"field": "v"})(df)
        assert mr.first()["midrange"] == 3.0

    def test_mode_and_histogram(self, spark):
        df = spark.createDataFrame([(x,) for x in [1, 1, 2, 3, 3, 3]], ["v"])
        mode = make_operator("mode", {"field": "v"})(df)
        r = mode.first()
        assert (r["v"], r["n_mode"]) == (3, 3)
        hist = make_operator("count_values", {"field": "v"})(df)
        assert {r["v"]: r["amount"] for r in hist.collect()} == {1: 2, 2: 1, 3: 3}

    def test_correlation(self, spark):
        df = spark.createDataFrame([(1.0, 2.0), (2.0, 4.0), (3.0, 6.0)], ["x", "y"])
        out = make_operator("correlation", {"fields": ["x", "y"]})(df)
        assert out.first()["corr_x_y"] == pytest.approx(1.0)


class TestSortSampleDedup:
    def test_sort_take_drop(self, flat_df):
        t = make_operator("sort", {"by": [{"field": "age", "desc": True}]})
        assert [r["name"] for r in t(flat_df).collect()] == ["cyd", "ann", "bob"]
        top = make_operator("take", {"n": 2, "by": [{"field": "age", "desc": True}]})
        assert [r["name"] for r in top(flat_df).collect()] == ["cyd", "ann"]
        rest = make_operator("drop_first", {"n": 2, "by": [{"field": "age", "desc": True}]})
        assert [r["name"] for r in rest(flat_df).collect()] == ["bob"]

    def test_dedup_deterministic(self, spark):
        df = spark.createDataFrame(
            [("k1", 2, "second"), ("k1", 1, "first"), ("k2", 9, "only")],
            ["k", "ord", "v"],
        )
        t = make_operator("dedup", {"keys": ["k"], "order_by": ["ord"]})
        got = {r["k"]: r["v"] for r in t(df).collect()}
        assert got == {"k1": "first", "k2": "only"}

    def test_stratified(self, spark):
        df = spark.createDataFrame([("a", i) for i in range(5)] + [("b", 9)], ["k", "v"])
        t = make_operator("stratified_sample", {"keys": ["k"], "n": 2, "order_by": ["v"]})
        out = t(df)
        assert out.groupBy("k").count().rdd.map(tuple).collectAsMap() == {"a": 2, "b": 1}


class TestJoinsMerge:
    def test_join_broadcast(self, spark):
        left = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
        right = spark.createDataFrame([(1, "dim1")], ["id", "d"])
        t = make_operator("join", {"on": ["id"], "how": "left", "broadcast": True})
        got = {r["id"]: r["d"] for r in t(left, right).collect()}
        assert got == {1: "dim1", 2: None}

    def test_union_merge_missing_cols(self, spark):
        a = spark.createDataFrame([(1, "a")], ["id", "x"])
        b = spark.createDataFrame([(2, "b")], ["id", "y"])
        out = make_operator("union_merge", {})(a, b)
        assert out.count() == 2 and set(out.columns) == {"id", "x", "y"}

    def test_zip_merge_overwrite(self, spark):
        a = spark.createDataFrame([(1, "a1"), (2, "a2")], ["pos", "v"])
        b = spark.createDataFrame([(1, "b1"), (2, "b2")], ["pos", "v"])
        out = make_operator("zip_merge", {"order_by": ["pos"]})(a, b)
        got = sorted(tuple(r) for r in out.select("v").collect())
        assert got == [("b1",), ("b2",)]  # later branch overwrites shared field

    def test_js_merge_key_precedence(self, spark):
        # JSMerger: the js column's item lists concatenate, later branches
        # lose keys already claimed by earlier ones; other fields zip-merge
        a = spark.createDataFrame(
            [(1, "x", [{"k1": "v1"}, {"k2": "v2"}])],
            "pos int, other string, tuktu_js_field array<map<string,string>>",
        )
        b = spark.createDataFrame(
            [(1, "y", [{"k2": "CLOBBER", "k3": "v3"}])],
            "pos int, name string, tuktu_js_field array<map<string,string>>",
        )
        out = make_operator("js_merge", {"order_by": ["pos"]})(a, b)
        r = out.first()
        assert r["tuktu_js_field"] == [{"k1": "v1"}, {"k2": "v2"}, {"k3": "v3"}]
        assert r["other"] == "x" and r["name"] == "y"

    def test_js_merge_null_padding_keeps_surviving_side(self, spark):
        # padded full join leaves the shorter branch's js column NULL for
        # the extra rows; the reference zipAll-pads with empty lists, so
        # the longer branch's items must survive (concat(NULL, x) must not
        # wipe them)
        a = spark.createDataFrame(
            [(1, [{"k1": "v1"}]), (2, [{"k2": "v2"}])],
            "pos int, tuktu_js_field array<map<string,string>>",
        )
        b = spark.createDataFrame(
            [(1, [{"k3": "v3"}])],
            "pos int, tuktu_js_field array<map<string,string>>",
        )
        out = make_operator("js_merge", {"order_by": ["pos"], "padding": True})(a, b)
        got = {r["pos"]: r["tuktu_js_field"] for r in out.collect()}
        assert got[1] == [{"k1": "v1"}, {"k3": "v3"}]
        assert got[2] == [{"k2": "v2"}]  # not NULL

    def test_js_merge_without_js_column_degrades_to_zip(self, spark):
        a = spark.createDataFrame([(1, "a1")], ["pos", "v"])
        b = spark.createDataFrame([(1, "b1")], ["pos", "v"])
        out = make_operator("js_merge", {"order_by": ["pos"]})(a, b)
        assert [r["v"] for r in out.collect()] == ["b1"]


class TestSources:
    def test_inline_rows(self, spark):
        df = make_source(spark, "inline", {"rows": [[1, "a"], [2, "b"]], "columns": ["id", "v"]})
        assert df.count() == 2

    def test_dummy_and_random(self, spark):
        df = make_source(spark, "dummy", {"message": "hi", "max_amount": 3, "result": "m"})
        assert [r["m"] for r in df.collect()] == ["hi"] * 3
        rnd = make_source(spark, "random", {"max": 10, "amount": 5, "seed": 1})
        vals = [r["num"] for r in rnd.collect()]
        assert len(vals) == 5 and all(0 <= v < 10 for v in vals)

    def test_time_sequence(self, spark):
        df = make_source(
            spark,
            "time_sequence",
            {"start": "2020-01-01 00:00:00", "end": "2020-01-01 03:00:00",
             "interval": "1 hour", "result": "t"},
        )
        assert df.count() == 4

    def test_time_sequence_spaced_result_name(self, spark):
        df = make_source(
            spark,
            "time_sequence",
            {"start": "2020-01-01 00:00:00", "end": "2020-01-03 00:00:00",
             "interval": "1 day", "result": "day start"},
        )
        ref = spark.sql(
            "SELECT explode(sequence(TIMESTAMP '2020-01-01 00:00:00', "
            "TIMESTAMP '2020-01-03 00:00:00', INTERVAL 1 day)) AS t"
        )
        assert df.columns == ["day start"]
        assert df.schema[0].dataType == ref.schema[0].dataType
        assert [r[0] for r in df.collect()] == [r[0] for r in ref.collect()]

    def test_csv_header_flag_parsed_strictly(self, spark, tmp_path):
        from tuktu_spark.flow import run_flow

        p = tmp_path / "h.csv"
        p.write_text("1,a\n2,b\n3,c\n")
        flow = {"generators": [
            {"id": "g", "name": "csv", "config": {"path": str(p), "header": "#{hdr}"}}
        ]}
        assert run_flow(spark, flow, params={"hdr": "false"})["g"].count() == 3
        assert run_flow(spark, flow, params={"hdr": "TRUE"})["g"].count() == 2
        assert make_source(spark, "csv", {"path": str(p), "header": False}).count() == 3
        with pytest.raises(ValueError, match="'header'"):
            make_source(spark, "csv", {"path": str(p), "header": "no"})
        with pytest.raises(ValueError, match="'infer_schema'"):
            make_source(spark, "csv", {"path": str(p), "infer_schema": 1})

    def test_line_source(self, spark, tmp_path):
        p = tmp_path / "f.txt"
        p.write_text("l0\nl1\nl2\nl3\n")
        df = make_source(
            spark, "line", {"path": str(p), "start_line": 1, "end_line": 2, "result": "line"}
        )
        assert sorted(r["line"] for r in df.collect()) == ["l1", "l2"]

    def test_line_source_bounds_recompute_stable(self, spark, tmp_path):
        """Round-7 verdict #4: line-bound numbering must be persist-FREE
        and renumber identically under lineage recompute (executor loss on
        a preemptible cluster). Multiple files -> multiple scan splits ->
        nontrivial monotonic-id ordering; the bounded kernel pins no
        cache, and dropping every cached block between two full
        evaluations (the recompute simulation available in local mode)
        must select the same lines."""
        from tuktu_spark.operators.joins import _POSITIONAL_PERSISTED

        for i in range(4):
            (tmp_path / f"part-{i}.txt").write_text(
                "".join(f"f{i}l{j}\n" for j in range(25))
            )
        before = len(_POSITIONAL_PERSISTED)
        df = make_source(
            spark,
            "line",
            {"path": str(tmp_path), "start_line": 10, "end_line": 79, "result": "line"},
        )
        first = sorted(r["line"] for r in df.collect())
        assert len(_POSITIONAL_PERSISTED) == before, "bounded kernel must not persist"
        assert len(first) == 70
        # drop every cached/shuffle-cached block, then re-evaluate the SAME
        # DataFrame: all stages recompute from the file scan
        spark.catalog.clearCache()
        second = sorted(r["line"] for r in df.collect())
        assert first == second

    def test_unknown_operator(self):
        with pytest.raises(UnknownOperatorError):
            make_operator("definitely_not_real")


def test_approx_sketch_operators(spark):
    from tuktu_spark.operators import make_operator
    from pyspark.sql import functions as F

    df = spark.range(20000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") % 7).alias("g"),
        F.col("id").cast("double").alias("v"),
    )
    ndv = make_operator("approx_distinct", {"fields": ["k"], "rsd": 0.02})(df).collect()[0]
    assert abs(ndv["k_approx_ndv"] - 1000) / 1000 < 0.05
    q = make_operator(
        "approx_quantiles", {"field": "v", "probabilities": [0.5], "accuracy": 10000}
    )(df).collect()[0]
    assert abs(q["v_quantiles"][0] - 10000) < 200
    fi = make_operator("freq_items", {"fields": ["g"], "support": 0.1})(df).collect()[0]
    assert set(fi["g_freqItems"]) == set(range(7))


class TestOrcAvro:
    def test_orc_roundtrip(self, spark, tmp_path):
        from tuktu_spark.operators.registry import make_operator, make_source

        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
        path = str(tmp_path / "t.orc")
        make_operator("orc_sink", {"path": path})(df)
        back = make_source(spark, "orc", {"path": path})
        assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b"), (3, "c")]
        assert back.schema == df.schema

    def test_orc_partitioned_write(self, spark, tmp_path):
        import os

        from tuktu_spark.operators.registry import make_operator

        df = spark.createDataFrame(
            [(1, "x"), (2, "y")], "id long, part string"
        )
        path = str(tmp_path / "p.orc")
        make_operator("orc_sink", {"path": path, "partition_by": ["part"]})(df)
        assert {d for d in os.listdir(path) if d.startswith("part=")} == {
            "part=x", "part=y"
        }

    def test_avro_source_gated(self, spark, tmp_path):
        import pytest

        from tuktu_spark.operators.registry import make_source

        with pytest.raises((NotImplementedError, Exception)):
            make_source(spark, "avro", {"path": str(tmp_path / "nope.avro")})

    def test_avro_sink_gated(self, spark, tmp_path):
        import pytest

        from tuktu_spark.operators.registry import make_operator

        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises((NotImplementedError, Exception)):
            make_operator("avro_sink", {"path": str(tmp_path / "x.avro")})(df)


def test_ensure_parallelism_adaptive(spark, tmp_path):
    """ensure_parallelism (round 7): repartition ONLY when the scan has
    fewer partitions than cores — the cluster-scale branch (>= cores
    partitions) must be a no-op with no exchange added."""
    from tuktu_spark.tables import ensure_parallelism

    one = spark.createDataFrame([(i,) for i in range(100)], ["x"]).coalesce(1)
    up = ensure_parallelism(one)
    assert up.rdd.getNumPartitions() > 1
    assert sorted(r["x"] for r in up.collect()) == list(range(100))

    cores = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(cores)
    same = ensure_parallelism(wide)
    assert same is wide  # identical object: no plan change at scale


class TestPlanMemoHygiene:
    """r14 (r13 verdict #7 / advice #1): the reader-plan memo lives on the
    SparkSession object, so a different session object can never be handed
    a DataFrame bound to another (possibly dead) session, and the memo is
    garbage-collected with its session instead of pinning it globally."""

    def test_memo_is_per_session_object(self, spark, sf_dir):
        from tuktu_spark.tables import load_table

        df1 = load_table(spark, sf_dir, "region")
        assert load_table(spark, sf_dir, "region") is df1  # memo hit

        other = spark.newSession()
        df2 = load_table(other, sf_dir, "region")
        assert df2 is not df1  # a different session never shares plans
        assert df2.sparkSession is other
        # and the memos are independent attribute dicts
        assert spark._tuktu_plan_memo is not other._tuktu_plan_memo

    def test_memo_is_capped(self, spark, sf_dir):
        from tuktu_spark import tables as T

        s = spark.newSession()
        memo = T._plan_memo_of(s)
        for i in range(T._PLAN_MEMO_MAX_ENTRIES):
            memo[("fake", str(i), False)] = None
        # next real load clears the oversized memo instead of growing it
        T.load_table(s, sf_dir, "region")
        assert len(T._plan_memo_of(s)) <= T._PLAN_MEMO_MAX_ENTRIES


    def test_rewritten_table_is_read_again(self, spark, tmp_path):
        import os
        import time

        from tuktu_spark.tables import load_table, table_path

        sf = str(tmp_path)
        path = table_path(sf, "region")

        def write(n, age_s):
            spark.range(n).write.mode("overwrite").parquet(path)
            t = time.time_ns() - int(age_s * 1e9)  # past the racy window
            for d, _, files in os.walk(path):
                for f in files:
                    os.utime(os.path.join(d, f), ns=(t, t))

        write(3, 60)
        df1 = load_table(spark, sf, "region")
        assert load_table(spark, sf, "region") is df1  # unchanged: memo hit
        write(5, 30)
        df2 = load_table(spark, sf, "region")
        assert df2 is not df1
        assert df2.count() == 5
        assert load_table(spark, sf, "region") is df2


class TestColumnMemo:
    """r14 (r13 verdict #4): memo_column caches pure expression subtrees
    per SparkContext so repeated query builds stop re-paying py4j
    round-trips for identical Column trees."""

    def test_hit_returns_same_object_and_skips_builder(self, spark):
        from pyspark.sql import functions as F

        from tuktu_spark.tables import memo_column

        calls = []

        def build():
            calls.append(1)
            return F.col("x") + 1

        c1 = memo_column(("test.memo", "a"), build)
        c2 = memo_column(("test.memo", "a"), build)
        assert c1 is c2
        assert len(calls) == 1
        # a different key builds fresh
        c3 = memo_column(("test.memo", "b"), build)
        assert c3 is not c1
        assert len(calls) == 2

    def test_memoized_column_reusable_across_frames_and_sessions(self, spark):
        from pyspark.sql import functions as F

        from tuktu_spark.tables import memo_column

        doubled = memo_column(("test.memo.double",), lambda: F.col("x") * 2)
        a = spark.range(3).selectExpr("id as x").select(doubled.alias("y"))
        assert sorted(r["y"] for r in a.collect()) == [0, 2, 4]
        # Columns are unresolved expressions owned by the JVM gateway,
        # not a session: the same memoized tree must resolve in a
        # sibling session of the same SparkContext.
        other = spark.newSession()
        b = other.range(2).selectExpr("id + 10 as x").select(doubled.alias("y"))
        assert sorted(r["y"] for r in b.collect()) == [20, 22]

    def test_parameterized_dedup_builders_not_cross_keyed(self, spark):
        # hashed_shingles memoizes per n — different n must not collide
        from tuktu_spark.llm.dedup import hashed_shingles

        df = spark.createDataFrame(
            [(1, "a b c d")], ["doc_id", "text"]
        )
        n2 = hashed_shingles(df, "text", "doc_id", 2).collect()[0]["shingles"]
        n3 = hashed_shingles(df, "text", "doc_id", 3).collect()[0]["shingles"]
        assert len(n2) == 3 and len(n3) == 2


def test_partition_by_keys_width_is_default_parallelism(spark):
    """r14 (r13 advice #4): partition_by_keys must not physically plan the
    input per call (df.rdd) — width comes from defaultParallelism or the
    spark.tuktu.partition.width override."""
    from tuktu_spark.tables import partition_by_keys

    df = spark.range(100).selectExpr("id as doc_id", "id * 2 as v")
    out = partition_by_keys(df, "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(100))

    spark.conf.set("spark.tuktu.partition.width", "7")
    try:
        assert partition_by_keys(df, "doc_id").rdd.getNumPartitions() == 7
    finally:
        spark.conf.unset("spark.tuktu.partition.width")
