"""POS tagger + RBEM polarity tests: rule semantics hand-checked, negation
flips, the Arrow kernels against their pure-Python reference models, and
SQL-oracle generator parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tuktu_spark.ml.rbem import (
    pos_tag_case_sql,
    pos_tags,
    rbem_emissions,
    rbem_polarity,
)


def _tag(spark, tokens):
    df = spark.createDataFrame([(tokens,)], "toks array<string>")
    return df.select(pos_tags(F.col("toks")).alias("t")).first()["t"]


class TestPosTagger:
    def test_lexicon_and_suffix_rules(self, spark):
        # round 6: -er defaults to NN (agentive nouns dominate OOV;
        # "runner" was previously mis-pinned JJR); -ier covers comparatives
        got = _tag(
            spark,
            ["The", "quick", "runner", "happier", "quickly", "jumped",
             "over", "13", "walls"],
        )
        assert got == ["DT", "NN", "NN", "JJR", "RB", "VBD", "IN", "CD", "NNS"]

    def test_capitalized_is_nnp(self, spark):
        assert _tag(spark, ["London", "london"]) == ["NNP", "NN"]

    def test_lexicon_beats_suffix(self, spark):
        # "this" ends in 's' but is a lexicon DT; "is" too short for -s rule
        assert _tag(spark, ["this", "is"]) == ["DT", "VB"]

    def test_suffix_needs_margin(self, spark):
        # suffix applies only when token is >= suffix+3 chars ("fez" ends
        # in nothing taggable and is not in the trained lexicon)
        from tuktu_spark.ml.rbem import FULL_LEXICON

        assert "fez" not in FULL_LEXICON and "boxes" not in FULL_LEXICON
        assert _tag(spark, ["fez", "boxes"]) == ["NN", "NNS"]

    def test_sql_case_matches_column_chain(self, spark, duck):
        words = [
            "The", "cat", "cats", "running", "walked", "slowly", "bigger",
            "biggest", "useful", "famous", "active", "breakable", "42",
            "3.14", "London", "and", "must", "who", "it", "ed", "ly", "x",
        ]
        spark_tags = _tag(spark, words)
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        sql = f"""
        SELECT list_transform({arr}, tok -> {pos_tag_case_sql('tok')}) AS t
        """
        # DuckDB list_transform lambda: single-arg
        duck_tags = duck.execute(sql).fetchone()[0]
        assert spark_tags == duck_tags


class TestRbem:
    def _emissions(self, spark, tokens, **kw):
        df = spark.createDataFrame([(tokens,)], "toks array<string>")
        return df.select(
            rbem_emissions(F.col("toks"), **kw).alias("e")
        ).first()["e"]

    def test_single_seed_decay(self, spark):
        e = self._emissions(
            spark,
            ["a", "good", "b", "c"],
            seeds=["good"], left_flips=[], right_flips=[],
        )
        # seed at index 1: 2^-1, 2^0, 2^-1, 2^-2
        assert e == [0.5, 1.0, 0.5, 0.25]

    def test_two_seeds_sum(self, spark):
        e = self._emissions(
            spark,
            ["good", "x", "good"],
            seeds=["good"], left_flips=[], right_flips=[],
        )
        assert e == [1.25, 1.0, 1.25]

    def test_right_flip_negates_suffix(self, spark):
        e = self._emissions(
            spark,
            ["good", "not", "x"],
            seeds=["good"], left_flips=[], right_flips=["not"],
        )
        # flip at 1 negates positions >= 1
        assert e == [1.0, -0.5, -0.25]

    def test_left_flip_negates_prefix(self, spark):
        e = self._emissions(
            spark,
            ["x", "not", "good"],
            seeds=["good"], left_flips=["not"], right_flips=[],
        )
        # left flip at 1 negates positions <= 1
        assert e == [-0.25, -0.5, 1.0]

    def test_double_flip_cancels(self, spark):
        e = self._emissions(
            spark,
            ["not", "not", "good"],
            seeds=["good"], left_flips=[], right_flips=["not"],
        )
        # flip@0 negates [0..2], flip@1 negates [1..2]: position 0 flipped
        # once, positions 1-2 twice (cancel)
        assert e == [-0.25, 0.5, 1.0]

    def test_polarity_score(self, spark):
        df = spark.createDataFrame(
            [(1, ["good", "x"]), (2, ["bad", "x"]), (3, ["not", "good"]), (4, ["x"])],
            "id int, tokens array<string>",
        )
        out = {r["id"]: r["polarity"] for r in rbem_polarity(df).collect()}
        assert out[1] == 1.5  # good: 1 + 0.5
        assert out[2] == -1.5
        assert out[3] == -1.5  # flip at 0 negates everything
        assert out[4] == 0.0

    def test_discretize(self, spark):
        df = spark.createDataFrame(
            [(1, ["good"]), (2, ["bad"]), (3, ["x"])], "id int, tokens array<string>"
        )
        out = {
            r["id"]: r["polarity"]
            for r in rbem_polarity(df, discretize=True).collect()
        }
        assert out == {1: 1.0, 2: -1.0, 3: 0.0}

    def test_empty_tokens(self, spark):
        df = spark.createDataFrame([(1, [])], "id int, tokens array<string>")
        assert rbem_polarity(df).first()["polarity"] == 0.0

    def test_case_insensitive_matching(self, spark):
        df = spark.createDataFrame([(1, ["GOOD", "Bad"])], "id int, tokens array<string>")
        # good at 0 (+), bad at 1 (-): (1 - 0.5) + (0.5 - 1) = 0
        assert rbem_polarity(df).first()["polarity"] == 0.0


class TestRbemEngines:
    def test_arrow_and_sql_identical_with_both_flip_directions(self, spark, sf_dir):
        """The Arrow scorer equals the per-doc reference ``_score_doc``
        bit for bit, with left and right flips both in play."""
        from pyspark.sql import functions as F

        from tuktu_spark.ml.rbem import _score_doc, rbem_polarity

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", F.split("text", " ").alias("tokens")
        ).limit(150)
        extra = spark.createDataFrame(
            [(9001, ["fast", "the", "slow", "not", "fast"]),
             (9002, []), (9003, ["the"])],
            "doc_id long, tokens array<string>",
        )
        alld = docs.unionByName(extra)
        kw = dict(positive=["fast"], negative=["slow"], left_flips=["not"],
                  right_flips=["the"], decay=2.0, max_distance=20)
        rows = rbem_polarity(alld, "tokens", **kw).select(
            "doc_id", "tokens", "polarity"
        ).collect()
        sets = [frozenset(kw[k]) for k in
                ("positive", "negative", "left_flips", "right_flips")]
        got = {r["doc_id"]: r["polarity"] for r in rows}
        want = {r["doc_id"]: _score_doc(r["tokens"], *sets, 2.0, 20) for r in rows}
        assert got == want and len(got) == 153
        # 9001 by hand: signs (-, +, +, +, -) from the flips at 1 and 3;
        # emissions 2^-|i-0| + 2^-|i-4| - 2^-|i-2| -> -1.875
        assert got[9001] == -1.875 and got[9002] == 0.0


class TestRbemPerLanguage:
    """Per-language RBEM models (round-5: reference ships one model per
    language — Sentiment.scala:20-133)."""

    def test_bundled_models_load_and_validate(self):
        from tuktu_spark.ml.rbem import load_rbem_models

        models = load_rbem_models()
        assert {"en", "nl", "de", "fr", "es"} <= set(models)
        for lang, m in models.items():
            assert m["positive"] and m["negative"], lang
            assert not m["left_flips"]  # oracle generator's contract

    def test_language_dispatch(self, spark):
        from tuktu_spark.ml.rbem import rbem_polarity_by_lang

        models = {
            "en": {"positive": ["good"], "negative": ["bad"],
                   "left_flips": [], "right_flips": ["not"]},
            "de": {"positive": ["gut"], "negative": ["schlecht"],
                   "left_flips": [], "right_flips": ["nicht"]},
        }
        df = spark.createDataFrame(
            [(1, "en", ["good"]), (2, "en", ["not", "good"]),
             (3, "de", ["gut"]), (4, "de", ["good"]),  # en word, de model
             (5, "xx", ["good"])],                     # unknown language
            "id long, lang string, tokens array<string>",
        )
        got = {r["id"]: r["polarity"]
               for r in rbem_polarity_by_lang(df, models=models).collect()}
        assert got[1] > 0 and got[3] > 0
        assert got[2] < 0          # negator flips the english match
        assert got[4] == 0.0       # wrong-language seeds don't fire
        assert got[5] == 0.0       # unknown language -> empty model

    def test_matches_single_model_when_language_constant(self, spark):
        from tuktu_spark.ml.rbem import rbem_polarity, rbem_polarity_by_lang

        rows = [(i, "en", f"alpha good beta bad not good gamma w{i}".split())
                for i in range(30)]
        df = spark.createDataFrame(rows, "id long, lang string, tokens array<string>")
        m = {"positive": ["good"], "negative": ["bad"],
             "left_flips": [], "right_flips": ["not"]}
        by_lang = rbem_polarity_by_lang(df, models={"en": m})
        single = rbem_polarity(df, positive=m["positive"], negative=m["negative"],
                               left_flips=[], right_flips=m["right_flips"])
        a = {r["id"]: r["polarity"] for r in by_lang.collect()}
        b = {r["id"]: r["polarity"] for r in single.collect()}
        assert a == b  # bit-identical (dyadic decay)

    def test_operator_by_language(self, spark):
        from tuktu_spark.operators import make_operator

        df = spark.createDataFrame(
            [(1, "en", ["good"]), (2, "de", ["schlecht"])],
            "id long, lang string, tokens array<string>",
        )
        out = make_operator("rbem_polarity", {"by_language": True})(df)
        got = {r["id"]: r["polarity"] for r in out.collect()}
        assert got[1] > 0 and got[2] < 0


class TestPosEngines:
    def test_arrow_and_sql_identical(self, spark, sf_dir):
        """The Arrow tagger equals ``pos_tag_python`` token by token."""
        from tuktu_spark.ml.rbem import pos_tag_python, pos_tags

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", F.split("text", " ").alias("toks")
        ).limit(200)
        extra = spark.createDataFrame(
            [(99999, ["The", "CAT", "42", "3.14", "London", "running",
                      "fez", "Dogs", "a1B", ""]), (99998, [])],
            "doc_id long, toks array<string>",
        )
        rows = d.unionByName(extra).select(
            "doc_id", "toks", pos_tags(F.col("toks")).alias("t")
        ).collect()
        assert len(rows) == 202
        for r in rows:
            assert r["t"] == [pos_tag_python(t) for t in r["toks"]], r["doc_id"]

    def test_python_mirror_matches_case_sql(self, duck):
        from tuktu_spark.ml.rbem import pos_tag_case_sql, pos_tag_python

        words = ["The", "cat", "cats", "running", "walked", "slowly",
                 "bigger", "biggest", "useful", "famous", "active", "42",
                 "3.14", "London", "and", "must", "who", "it", "ed", "x",
                 "fez", "Dogs", "sat", "painting"]
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        duck_tags = duck.execute(
            f"SELECT list_transform({arr}, tok -> {pos_tag_case_sql('tok')})"
        ).fetchone()[0]
        assert [pos_tag_python(w) for w in words] == duck_tags


class TestScoreBatchKernel:
    """The batch-vectorized Arrow kernel must be row-identical to the
    per-doc reference scorer (round-6 re-vectorization after the r5
    per-row map regressed the bench 2.1x)."""

    def test_batch_matches_doc_reference(self):
        import random

        from tuktu_spark.ml.rbem import _score_batch, _score_doc

        rng = random.Random(61)
        vocab = ["fast", "slow", "the", "not", "Word", "x", "YES", "data", ""]
        pos, neg = frozenset(["fast", "yes"]), frozenset(["slow"])
        lf, rf = frozenset(["not"]), frozenset(["the"])
        arrs = [None, [], ["fast"], ["the", "fast"]] + [
            [rng.choice(vocab) for _ in range(rng.randrange(0, 40))]
            for _ in range(200)
        ]
        got = _score_batch(arrs, pos, neg, lf, rf, 2.0, 20)
        for i, arr in enumerate(arrs):
            want = _score_doc(arr, pos, neg, lf, rf, 2.0, 20)
            assert got[i] == want, (i, arr, got[i], want)

    def test_batch_empty_models(self):
        from tuktu_spark.ml.rbem import _score_batch

        e = frozenset()
        got = _score_batch([["a", "b"], None, []], e, e, e, e, 2.0, 20)
        assert list(got) == [0.0, 0.0, 0.0]

    def test_lazy_training_no_import_io(self):
        # ADVICE r5: training must not run at import. Re-import the module
        # fresh and assert the cache is unpopulated until first use.
        import importlib
        import sys

        saved = sys.modules.pop("tuktu_spark.ml.rbem")
        try:
            import tuktu_spark.ml.rbem as fresh

            fresh = importlib.reload(fresh)
            assert fresh._TRAINED_CACHE is None
            lex = fresh.FULL_LEXICON  # triggers training via __getattr__
            assert fresh._TRAINED_CACHE is not None and len(lex) > 100
        finally:
            sys.modules["tuktu_spark.ml.rbem"] = saved

    def test_chunked_expansion_identical(self, monkeypatch):
        # force many tiny chunks through the ragged pair expansion
        import random

        import tuktu_spark.ml.rbem as R

        rng = random.Random(99)
        vocab = ["fast", "slow", "the", "not", "x"]
        arrs = [
            [rng.choice(vocab) for _ in range(rng.randrange(0, 30))]
            for _ in range(80)
        ]
        pos, neg = frozenset(["fast"]), frozenset(["slow"])
        lf, rf = frozenset(["not"]), frozenset(["the"])
        whole = R._score_batch(arrs, pos, neg, lf, rf, 2.0, 20)
        monkeypatch.setattr(R, "_PAIR_CHUNK", 7)
        chunked = R._score_batch(arrs, pos, neg, lf, rf, 2.0, 20)
        assert list(whole) == list(chunked)

    def test_split_fast_path_identical(self, spark, sf_dir):
        """round 6: in-kernel literal split == F.split(text, ' ') tokens,
        scores bit-identical (incl. empty-field behavior)."""
        from pyspark.sql import functions as F

        from tuktu_spark.ml.rbem import rbem_polarity

        df = spark.createDataFrame(
            [(1, "fast  slow the fast"), (2, " the fast "), (3, None), (4, "")],
            "doc_id long, text string",
        ).unionByName(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").limit(200)
        )
        kw = dict(positive=["fast"], negative=["slow"], left_flips=[],
                  right_flips=["the"])
        via_arrays = rbem_polarity(
            df.select("doc_id", F.split("text", " ").alias("tokens")),
            tokens_col="tokens", **kw,
        ).select("doc_id", "polarity")
        via_split = rbem_polarity(
            df, tokens_col="text", split=" ", **kw
        ).select("doc_id", "polarity")
        a = {r["doc_id"]: r["polarity"] for r in via_arrays.collect()}
        b = {r["doc_id"]: r["polarity"] for r in via_split.collect()}
        assert a == b

    def test_trailing_empty_and_none_docs(self):
        """Round-6 review fix: a batch ENDING in empty/None docs used to
        IndexError in seg_incl_cumsum (start offset == flat length)."""
        from tuktu_spark.ml.rbem import _score_batch, _score_doc

        pos, neg = frozenset(["fast"]), frozenset(["slow"])
        lf, rf = frozenset(["not"]), frozenset(["the"])
        for arrs in (
            [["fast", "x"], []],
            [["fast", "x"], None],
            [None, [], ["the", "fast"], None, []],
            [[], None],
        ):
            got = list(_score_batch(arrs, pos, neg, lf, rf, 2.0, 20))
            want = [_score_doc(a, pos, neg, lf, rf, 2.0, 20) for a in arrs]
            assert got == want, arrs

    def test_trailing_null_rows_through_spark(self, spark):
        from pyspark.sql import functions as F

        from tuktu_spark.ml.rbem import rbem_polarity

        df = spark.createDataFrame(
            [(1, ["fast", "x"]), (2, None), (3, [])],
            "doc_id long, tokens array<string>",
        ).coalesce(1)  # one Arrow batch, null/empty LAST
        out = {r["doc_id"]: r["polarity"]
               for r in rbem_polarity(df, positive=["fast"], negative=[],
                                      left_flips=[], right_flips=[]).collect()}
        assert out[1] == 1.5 and out[2] == 0.0 and out[3] == 0.0


_OUTSIDE_CWD_SCRIPT = r"""
import sys

sys.path.insert(0, sys.argv[1])  # the driver finds the package; workers must not
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tuktu_spark.ml.rbem import pos_tags

def tag(spark):
    df = spark.createDataFrame([(["The", "cats", "ran"],)], "toks array<string>")
    return df.select(pos_tags(F.col("toks")).alias("t")).first()["t"]

if sys.argv[2] == "get_spark":
    from tuktu_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1,
                      extra_conf={"spark.driver.memory": "1g"})
else:
    from tuktu_spark.tables import ensure_session_confs

    spark = SparkSession.builder.master("local[1]").getOrCreate()
    try:
        tag(spark)
        print("FOREIGN SESSION TAGGED WITHOUT THE FIX")
    except Exception as e:
        assert "No module named 'tuktu_spark'" in str(e), str(e)[-2000:]
    ensure_session_confs(spark)
print("TAGS", tag(spark))
spark.stop()
"""


@pytest.mark.parametrize("how", ["get_spark", "ensure_session_confs"])
def test_arrow_udf_workers_import_package_from_any_cwd(tmp_path, how):
    """The Arrow kernels run in Python workers that import ``tuktu_spark``;
    a session started with its cwd outside the repo must still tag. The
    foreign-session case first shows the failure without the fix."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    # no route to the package through the inherited environment
    keep = [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
            if p and os.path.abspath(p) != root]
    env["PYTHONPATH"] = os.pathsep.join(keep)
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_CWD_SCRIPT, root, how],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "TAGS ['DT', 'NNS', 'VBD']" in proc.stdout, proc.stdout
    assert "WITHOUT THE FIX" not in proc.stdout
