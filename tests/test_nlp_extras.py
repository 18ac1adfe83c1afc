"""Cleanup family, PMI, url_parse, word2vec_nearest tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tuktu_spark.ml.nlp import (
    ascii_fold,
    pmi_cooccurrence,
    pmi_discriminating,
    remove_emoji,
    remove_punctuation,
    remove_short_tokens,
)
from tuktu_spark.operators import make_operator


def _one(spark, tokens, expr):
    df = spark.createDataFrame([(tokens,)], "t array<string>")
    return df.select(expr(F.col("t")).alias("o")).first()["o"]


class TestCleanup:
    def test_punctuation_tokens_dropped(self, spark):
        got = _one(spark, ["hi", "!", "...", "a,b", "-"], remove_punctuation)
        # only tokens that ARE punctuation go; 'a,b' stays (reference matches whole token)
        assert got == ["hi", "a,b"]

    def test_short_tokens(self, spark):
        got = _one(spark, ["a", "ab", "abc"], lambda c: remove_short_tokens(c, 2))
        assert got == ["abc"]

    def test_emoji_stripped(self, spark):
        got = _one(spark, ["hi\U0001F600", "ok"], remove_emoji)
        assert got == ["hi", "ok"]

    def test_ascii_fold(self, spark):
        got = _one(spark, ["café", "naïve", "x1y!"], ascii_fold)
        assert got == ["cafe", "naive", "xy"]

    def test_clean_tokens_operator_chain(self, spark):
        df = spark.createDataFrame(
            [(["Hello", "!", "café", "a"],)], "tokens array<string>"
        )
        op = make_operator(
            "clean_tokens",
            {"punctuation": True, "min_chars": 1, "ascii_fold": True, "case": "lower"},
        )
        got = op(df).first()["tokens"]
        assert got == ["hello", "cafe"]


class TestPmi:
    @pytest.fixture()
    def corpus(self, spark):
        rows = [
            ("x", ["fast", "car", "road"]),
            ("x", ["fast", "car"]),
            ("x", ["slow", "walk"]),
            ("y", ["fast", "walk"]),
        ]
        return spark.createDataFrame(rows, "lang string, tokens array<string>")

    def test_hand_computed_ratio(self, corpus):
        got = {
            (r["lang"], r["seed"], r["word"]): r["pmi"]
            for r in pmi_cooccurrence(
                corpus, "tokens", ["fast"], "lang", log=False
            ).collect()
        }
        # class x: docs with 'fast' = 2; 'car' in both -> cnt_vw=2, cnt_v=2
        assert got[("x", "fast", "car")] == pytest.approx((2 / 2) / 2)
        # 'road' in one of them, corpus count 1
        assert got[("x", "fast", "road")] == pytest.approx((1 / 2) / 1)
        # class y: one doc; walk cnt_v=1 within class y
        assert got[("y", "fast", "walk")] == pytest.approx((1 / 1) / 1)

    def test_log_is_log_of_ratio(self, corpus):
        ratios = {
            (r["lang"], r["seed"], r["word"]): r["pmi"]
            for r in pmi_cooccurrence(corpus, "tokens", ["fast"], "lang", log=False).collect()
        }
        logs = {
            (r["lang"], r["seed"], r["word"]): r["pmi"]
            for r in pmi_cooccurrence(corpus, "tokens", ["fast"], "lang", log=True).collect()
        }
        for k, v in ratios.items():
            assert logs[k] == pytest.approx(math.log(v))

    def test_discriminating_subtracts_other_classes(self, corpus):
        out = {
            (r["lang"], r["seed"], r["word"]): r["score"]
            for r in pmi_discriminating(
                corpus, "tokens", ["fast"], "lang", retain=10
            ).collect()
        }
        # 'walk' appears for both classes: x score = pmi_x - pmi_y
        logs = {
            (r["lang"], r["word"]): r["pmi"]
            for r in pmi_cooccurrence(corpus, "tokens", ["fast"], "lang").collect()
        }
        assert out[("x", "fast", "walk")] == pytest.approx(
            logs[("x", "walk")] - logs[("y", "walk")]
        ) if ("x", "walk") in logs else True
        # 'car' appears only in class x: score = raw pmi
        assert out[("x", "fast", "car")] == pytest.approx(logs[("x", "car")])

    def test_no_label_mode(self, spark, corpus):
        out = pmi_cooccurrence(corpus, "tokens", ["fast"], None, log=False)
        assert {"seed", "word", "pmi"} == set(out.columns)
        got = {r["word"]: r["pmi"] for r in out.collect()}
        # 3 docs contain fast; car appears in 2 of them, corpus cnt 2
        assert got["car"] == pytest.approx((2 / 3) / 2)


class TestUrlParse:
    def test_parts(self, spark):
        df = spark.createDataFrame(
            [("https://example.com/a/b?x=1&y=2",)], "url string"
        )
        out = make_operator("url_parse", {"field": "url"})(df).first()
        assert out["protocol"] == "https"
        assert out["host"] == "example.com"
        assert out["path"] == "/a/b"
        assert out["query"] == "x=1&y=2"


class TestWord2VecNearest:
    def test_nearest_words_shape(self, spark, sf_dir):
        from tuktu_spark.tables import load_table

        docs = load_table(spark, sf_dir, "documents").select("text").limit(200)
        out = make_operator(
            "word2vec_nearest",
            {"text_field": "text", "words": ["fast", "zzz_oov"], "k": 3},
        )(docs)
        rows = out.collect()
        assert set(out.columns) == {"probe", "word", "similarity"}
        probes = {r["probe"] for r in rows}
        assert probes == {"fast"}  # OOV probe skipped cleanly
        assert len(rows) == 3


class TestBm25:
    def test_matches_hand_computed(self, spark):
        import math

        from tuktu_spark.ml.nlp import bm25

        docs = spark.createDataFrame(
            [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple")],
            "doc_id long, text string",
        )
        rows = {
            (r["doc_id"], r["term"]): r
            for r in bm25(docs, use_log=True).collect()
        }
        # corpus: N=3, dl = [3, 2, 1], avgdl = 2
        # apple: df=2; doc 1 tf=2 dl=3
        r = rows[(1, "apple")]
        idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
        norm = 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.0))
        assert abs(r["bm25"] - idf * norm) < 1e-12
        assert (r["tf"], r["df_t"], r["dl"]) == (2, 2, 3)
        # cherry: df=1, doc 2 tf=1 dl=2 (dl == avgdl -> norm over 1+k1)
        r = rows[(2, "cherry")]
        idf = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
        norm = 1 * 2.2 / (1 + 1.2)
        assert abs(r["bm25"] - idf * norm) < 1e-12

    def test_length_normalization_orders_docs(self, spark):
        from tuktu_spark.ml.nlp import bm25

        # same tf for 'x', shorter doc must score higher (b > 0)
        docs = spark.createDataFrame(
            [(1, "x filler filler filler filler filler filler"), (2, "x")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r["bm25"] for r in bm25(docs).collect() if r["term"] == "x"}
        assert rows[2] > rows[1]


class TestBm25Search:
    def test_topk_retrieval(self, spark):
        from tuktu_spark.ml.nlp import bm25_search

        docs = spark.createDataFrame(
            [
                (1, "spark engine spark cluster"),
                (2, "spark"),
                (3, "cluster cluster cluster"),
                (4, "unrelated words entirely"),
            ],
            "doc_id long, text string",
        )
        rows = bm25_search(docs, "spark cluster", k=3).collect()
        assert [r["doc_id"] for r in rows][0] == 1  # matches both terms
        assert len(rows) == 3
        assert {r["doc_id"] for r in rows} == {1, 2, 3}  # doc 4 scores 0 terms
        assert rows[0]["n_terms"] == 2


class TestBm25EdgeSemantics:
    """Pins the operator contract the r14 single-pass rewrite must keep:
    zero-token docs (empty text / all-stopword) still count in n_docs and
    contribute dl=0 to avgdl, and duplicate ids score against the id's
    max row length — exactly the r13 three-scan implementation's output."""

    def test_zero_token_docs_enter_corpus_stats(self, spark):
        import math

        from tuktu_spark.ml.nlp import bm25

        docs = spark.createDataFrame(
            [(1, "apple banana apple"), (2, ""), (3, "the and of")],
            "doc_id long, text string",
        )
        rows = {(r["doc_id"], r["term"]): r for r in bm25(docs, use_log=True).collect()}
        # docs 2 and 3 have zero post-stopword tokens: no output rows...
        assert set(rows) == {(1, "apple"), (1, "banana")}
        # ...but they count in N and avgdl: N=3, dl_sum=3, avgdl=1
        r = rows[(1, "apple")]
        idf = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
        norm = 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 1.0))
        assert (r["tf"], r["df_t"], r["dl"]) == (2, 1, 3)
        assert abs(r["bm25"] - idf * norm) < 1e-12

    def test_duplicate_ids_use_max_row_length(self, spark):
        import math

        from tuktu_spark.ml.nlp import bm25

        # same id twice: r13 semantics joined dl = max(size) across the
        # id's rows; tf stays per (term, id) over all of the id's tokens
        docs = spark.createDataFrame(
            [(1, "apple banana"), (1, "cherry date elder fig"), (2, "apple")],
            "doc_id long, text string",
        )
        rows = {(r["doc_id"], r["term"]): r for r in bm25(docs, use_log=True).collect()}
        r = rows[(1, "apple")]
        # N=2 distinct ids, dl(1)=max(2,4)=4, dl(2)=1, dl_sum=5, avgdl=2.5
        assert (r["tf"], r["df_t"], r["dl"]) == (1, 2, 4)
        idf = math.log(1 + (2 - 2 + 0.5) / (2 + 0.5))
        norm = 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 4 / 2.5))
        assert abs(r["bm25"] - idf * norm) < 1e-12
