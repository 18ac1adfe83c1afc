"""Regression tests for the round-1 verdict/advice findings.

Each test pins one of the round-2 fixes:
- session portability (driver supplies a vanilla SparkSession)
- count()/distinct() typed bigint in the expression language
- word_shingles on short/empty documents
- deterministic flow fan-in order
- bounded dummy_variables cardinality
- scoped persist (no cache leak across repeated dedup runs)
- idempotent streaming MinHash batch processor
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tuktu_spark.expressions.arithmetic import arith_column
from tuktu_spark.llm import dedup as D
from tuktu_spark.tables import load_table


class TestSessionPortability:
    def test_load_table_restores_required_confs(self, spark, sf_dir):
        """The driver passes its OWN session — load_table must self-heal any
        conf the query layer depends on (nanosAsLong, UTC timezone)."""
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            e = load_table(spark, sf_dir, "events")
            assert dict(e.dtypes)["ts"] == "timestamp"
            assert e.limit(1).count() == 1
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
            assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.session.timeZone", "UTC")

    def test_registered_queries_heal_session(self, spark, sf_dir):
        from tuktu_spark.queries import load_all

        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        try:
            q = load_all()["histogram_event_types"]
            assert q.fn(spark, sf_dir).count() > 0
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


class TestCountTyping:
    def test_count_and_distinct_are_bigint(self, spark):
        sdf = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 2.0)], ["k", "v"])
        out = sdf.groupBy("k").agg(
            arith_column("count()", mode="agg").alias("n"),
            arith_column("distinct(${v})", mode="agg").alias("d"),
            arith_column("sum(${v})", mode="agg").alias("s"),
        )
        dtypes = dict(out.dtypes)
        assert dtypes["n"] == "bigint" and dtypes["d"] == "bigint"
        assert dtypes["s"] == "double"

    def test_count_composes_to_double(self, spark):
        sdf = spark.createDataFrame([(1.0,), (2.0,)], ["v"])
        out = sdf.agg(arith_column("count() / 2", mode="agg").alias("h"))
        assert dict(out.dtypes)["h"] == "double"
        assert out.first()["h"] == 1.0

    def test_window_mode_count_bigint(self, spark):
        sdf = spark.createDataFrame([(1.0,), (2.0,)], ["v"])
        out = sdf.select(
            arith_column("count()", mode="window").alias("n"),
            arith_column("distinct(${v})", mode="window").alias("d"),
        )
        dtypes = dict(out.dtypes)
        assert dtypes["n"] == "bigint" and dtypes["d"] == "bigint"


class TestShortDocShingles:
    def test_short_and_empty_docs_survive(self, spark):
        sdf = spark.createDataFrame(
            [
                (1, ""),
                (2, "one"),
                (3, "one two"),
                (4, "one two three"),
                (5, "one two three four"),
            ],
            ["doc_id", "text"],
        )
        rows = {
            r["doc_id"]: r["sh"]
            for r in sdf.select(
                "doc_id", D.word_shingles(F.col("text"), 3).alias("sh")
            ).collect()
        }
        assert rows[1] == [] and rows[2] == [] and rows[3] == []
        assert rows[4] == ["one two three"]
        assert rows[5] == ["one two three", "two three four"]

    def test_minhash_pipeline_with_short_docs(self, spark):
        sdf = spark.createDataFrame(
            [(1, "x"), (2, ""), (3, "a b c d e f g"), (4, "a b c d e f g")],
            ["doc_id", "text"],
        )
        pairs = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_dedup_pairs(sdf, threshold=0.8).collect()
        }
        assert (3, 4) in pairs
        # short docs have empty shingle sets: never emitted as verified dups
        assert all(a not in (1, 2) and b not in (1, 2) for a, b in pairs)

    def test_ngram_jaccard_with_short_docs(self, spark):
        sdf = spark.createDataFrame(
            [(1, "x y"), (2, "a b c d e"), (3, "a b c d e")], ["doc_id", "text"]
        )
        pairs = {
            (r["id_a"], r["id_b"])
            for r in D.ngram_jaccard_pairs(sdf, threshold=0.9).collect()
        }
        assert pairs == {(2, 3)}


class TestFlowFanInOrder:
    def test_left_join_parent_order_is_declaration_order(self, spark):
        """Two processor branches feeding a left join: the FIRST-declared
        branch must be the left side regardless of hash seed."""
        from tuktu_spark.flow.compiler import compile_flow

        flow = {
            "generators": [
                {
                    "id": "gen",
                    "name": "inline",
                    "config": {
                        "rows": [[1, "a"], [2, "b"], [3, "c"]],
                        "columns": ["k", "v"],
                    },
                    "next": ["left_side", "right_side"],
                }
            ],
            "processors": [
                {
                    "id": "left_side",
                    "name": "field_filter",
                    "config": {"fields": ["k", "v"]},
                    "next": ["joined"],
                },
                {
                    "id": "right_side",
                    "name": "filter",
                    "config": {"expression": "${k} <= 1"},
                    "next": ["joined"],
                },
                {
                    "id": "joined",
                    "name": "join",
                    "config": {"on": ["k"], "how": "left_anti"},
                    "next": [],
                },
            ],
        }
        out = compile_flow(spark, flow)["joined"]
        # left anti: rows of the FIRST branch (all 3) minus matches in the
        # second (k=1) -> {2, 3}. If parent order ever flipped, this would
        # produce 0 rows instead.
        assert sorted(r["k"] for r in out.collect()) == [2, 3]


class TestDummyVariablesCap:
    def test_over_cap_raises(self, spark):
        sdf = spark.range(50).select(F.col("id").cast("string").alias("c"))
        with pytest.raises(ValueError, match="distinct"):
            from tuktu_spark.ml.features import dummy_variables

            dummy_variables(sdf, "c", max_categories=10)

    def test_under_cap_ok(self, spark):
        from tuktu_spark.ml.features import dummy_variables

        sdf = spark.createDataFrame([("a",), ("b",)], ["c"])
        out = dummy_variables(sdf, "c", max_categories=10)
        assert {"c_a", "c_b"} <= set(out.columns)


class TestScopedPersist:
    def test_no_cache_leak_across_runs(self, spark, sf_dir):
        """Cache count is DELTA-stable across repeated flow runs and query
        builds: each entry releases the previous run's persists (other
        tests in the shared session may hold their own caches)."""
        from tuktu_spark.flow import run_flow
        from tuktu_spark.queries import load_all
        from tuktu_spark.tables import release

        jvm_sc = spark.sparkContext._jsc.sc()
        release()
        baseline = jvm_sc.getPersistentRDDs().size()
        flow = {
            "generators": [{
                "id": "src", "name": "parquet",
                "config": {"path": f"{sf_dir}/documents.parquet"}, "next": ["mh"],
            }],
            "processors": [
                {"id": "mh", "name": "minhash_dedup", "config": {}, "next": []},
            ],
        }
        q = load_all()["dedup_ngram_jaccard"].fn
        for build in (lambda: run_flow(spark, flow)["mh"], lambda: q(spark, sf_dir)):
            build().count()
            one_run = jvm_sc.getPersistentRDDs().size()
            assert one_run > baseline
            for _ in range(2):
                build().count()
            assert jvm_sc.getPersistentRDDs().size() == one_run
        release()
        assert jvm_sc.getPersistentRDDs().size() <= baseline


class TestStreamingIdempotence:
    def test_replayed_batch_is_noop(self, spark, sf_dir, tmp_path):
        from tuktu_spark.streaming.llm import make_minhash_batch_processor

        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .limit(60)
        )
        b0 = docs.filter(F.col("doc_id") % 2 == 0)
        b1 = docs.filter(F.col("doc_id") % 2 == 1)
        proc = make_minhash_batch_processor(
            spark, str(tmp_path / "store"), str(tmp_path / "pairs")
        )
        proc(b0, 0)
        proc(b1, 1)
        pairs_dir = str(tmp_path / "pairs")
        first = spark.read.parquet(pairs_dir)
        n_pairs, n_sigs = (
            first.count(),
            spark.read.parquet(str(tmp_path / "store/signatures")).count(),
        )
        assert n_sigs == docs.count()
        # replay both batches (foreachBatch retry semantics): no duplicates
        proc(b0, 0)
        proc(b1, 1)
        assert spark.read.parquet(pairs_dir).count() == n_pairs
        assert (
            spark.read.parquet(str(tmp_path / "store/signatures")).count() == n_sigs
        )
        # no self pairs, normalized order
        bad = spark.read.parquet(pairs_dir).filter(F.col("id_a") >= F.col("id_b"))
        assert bad.count() == 0


class TestRound4AdviceFixes:
    """Regression tests for the round-4 advisor's low-severity findings."""

    def test_corrupt_body_falls_back_not_crashes(self):
        # valid PNG signature + garbage body -> NotImplementedError from
        # decode_pixels (not zlib.error), and _decode_image_bytes falls back
        # to the probe seam instead of failing the Spark task
        import pytest

        from tuktu_spark.llm import multimodal as M

        corrupt_png = M.make_png(4, 4)[:40] + b"\xde\xad\xbe\xef" * 10
        with pytest.raises(NotImplementedError):
            M.decode_pixels(corrupt_png)
        w, h, feat = M._decode_image_bytes(corrupt_png)
        assert w > 0 and h > 0 and len(feat) == 8

        corrupt_jpeg = M.make_jpeg(8, 8)[:30] + b"\x00" * 16 if hasattr(M, "make_jpeg") else None
        if corrupt_jpeg:
            M._decode_image_bytes(corrupt_jpeg)  # must not raise

    def test_truncated_v1_mvhd_probe_contract(self):
        # a version-1 mvhd box cut short must not raise struct.error
        import struct

        from tuktu_spark.llm import multimodal as M

        mvhd_body = b"\x01\x00\x00\x00" + b"\x00" * 20  # v1, truncated
        mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
        info = M.probe_media(ftyp + moov)
        assert info["format"] == "mp4"
        assert "duration_ms" not in info

    def test_viterbi_batch_many_states_no_int8_wrap(self):
        # >127 states: int8 backtrack pointers would wrap; argmax ties are
        # broken toward higher indices via the biased emission row
        import numpy as np

        from tuktu_spark.ml.hmm import HmmModel, viterbi_path, viterbi_paths_batch

        n = 150
        rng = np.random.default_rng(7)
        pi = rng.dirichlet(np.ones(n))
        a = rng.dirichlet(np.ones(n), size=n)
        b = rng.dirichlet(np.ones(5), size=n)
        model = HmmModel(pi=pi, a=a, b=b)
        obs = [[0, 3, 1, 4, 2, 2, 0], [1, 1, 4]]
        got = viterbi_paths_batch([np.array(o) for o in obs], model)
        want = [list(viterbi_path(np.array(o), model)) for o in obs]
        assert [list(p) for p in got] == want

    def test_sheet_temp_path_reused_and_cleaned(self):
        from tuktu_spark.queries import reshape as R

        p1 = R._sheet_path("xls")
        p2 = R._sheet_path("xls")
        assert p1 == p2  # one file per process, no per-call leak
        import os

        assert os.path.exists(p1)


class TestZipMergeDistributed:
    """zip_merge numbers branches with the distributed positional kernel
    (no single-partition funnel) yet assigns the same positional indices
    as a global ``row_number() OVER (ORDER BY ...)`` (round-4 perf_weak
    #1); the references below are built from that window directly."""

    def test_identical_to_window_engine(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from tuktu_spark.operators import make_operator

        a = spark.range(0, 500).selectExpr("id AS k", "id * 2 AS va")
        b = spark.range(0, 500).selectExpr("id AS k2", "id * 3 AS vb")
        d = make_operator("zip_merge", {"order_by": {"0": ["k"], "1": ["k2"]}})(a, b)
        w = a.withColumn("rn", F.row_number().over(Window.orderBy("k"))).join(
            b.withColumn("rn", F.row_number().over(Window.orderBy("k2"))), "rn"
        )
        key = lambda r: (r["k"], r["va"], r["k2"], r["vb"])
        assert sorted(map(key, w.collect())) == sorted(map(key, d.collect()))
        assert d.count() == 500

    def test_padding_engine_equivalence(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from tuktu_spark.operators import make_operator

        a = spark.range(0, 300).selectExpr("id AS k", "id AS va")
        b = spark.range(0, 120).selectExpr("id AS k", "id * 7 AS vb")
        d = make_operator("zip_merge", {"order_by": ["k"], "padding": True})(a, b)
        rn = F.row_number().over(Window.orderBy("k"))
        # padded rows keep the longer branch's fields; b's k wins elsewhere
        w = (
            a.withColumn("rn", rn)
            .join(b.withColumn("rn", rn).withColumnRenamed("k", "kb"), "rn", "full")
            .select(F.coalesce("kb", "k").alias("k"), "va", "vb")
        )
        key = lambda r: (r["k"], r["va"], r["vb"])
        assert sorted(map(key, w.collect()), key=str) == sorted(map(key, d.collect()), key=str)
        assert d.count() == 300

    def test_distributed_numbering_is_parallel(self, spark):
        from tuktu_spark.operators.joins import _global_row_number

        df = spark.range(0, 10_000).selectExpr("id AS k", "id % 7 AS v")
        out = _global_row_number(df, ["k"], "rn")
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # the data-carrying window is clustered by partition id, parallel
        assert "hashpartitioning(__pid__" in plan
        rows = out.orderBy("k").collect()
        assert [r["rn"] for r in rows] == list(range(1, 10_001))
