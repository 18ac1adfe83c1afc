"""DSIR importance resampling (llm/dsir.py — Xie et al. 2023): hashed
n-gram featurization vs a pure-Python reference, llr exactness, weight
sums, selection semantics (top-k and Gumbel), and plan shape (broadcast
llr join, TakeOrderedAndProject selection, no Python in the hot path).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from tuktu_spark.llm.dsir import (
    LLR_SCALE_BITS,
    dsir_sample_gumbel,
    dsir_select,
    dsir_select_topk,
    dsir_weights,
    fit_bucket_counts,
    hashed_ngram_features,
    train_dsir_llr,
)

B = 32

# target-ish docs reuse a small "domain" vocabulary; raw-only docs don't
DOCS = [
    (1, "alpha beta gamma alpha beta"),
    (2, "alpha beta beta gamma"),
    (3, "delta epsilon zeta eta theta"),
    (4, "iota kappa lam mu nu"),
    (5, "alpha gamma beta alpha"),
    (6, "xi omicron pi rho sigma"),
    (7, "solo"),
    (8, ""),
]
TARGET_IDS = {1, 2}


def py_feats(text: str) -> list[int]:
    toks = text.split(" ")
    grams = list(toks)
    grams += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B for g in grams
    ]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string").select(
        "doc_id", F.split("text", " ").alias("tokens")
    )


class TestFeatures:
    def test_matches_python_reference(self, spark, docs):
        got = {
            d: sorted(r["bucket"] for r in rows)
            for d, rows in _group(
                hashed_ngram_features(docs, buckets=B).collect()
            ).items()
        }
        want = {d: sorted(py_feats(t)) for d, t in DOCS}
        assert got == want

    def test_single_token_doc_has_no_bigrams(self, spark, docs):
        n = (
            hashed_ngram_features(docs, buckets=B)
            .filter(F.col("doc_id") == 7)
            .count()
        )
        assert n == 1  # just the unigram

    def test_trigram_order(self, spark, docs):
        feats = hashed_ngram_features(docs, buckets=B, max_n=3).filter(
            F.col("doc_id") == 1
        )
        toks = DOCS[0][1].split(" ")
        grams = (
            toks
            + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            + [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        )
        want = sorted(
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B
            for g in grams
        )
        assert sorted(r["bucket"] for r in feats.collect()) == want


class TestLlrAndWeights:
    def test_llr_matches_python_reference(self, spark, docs):
        tgt = docs.filter(F.col("doc_id").isin(*TARGET_IDS))
        tf = hashed_ngram_features(tgt, buckets=B)
        rf = hashed_ngram_features(docs, buckets=B)
        llr = dict(train_dsir_llr(tf, rf, buckets=B, smoothing=1.0))
        ct: dict[int, int] = {}
        cr: dict[int, int] = {}
        for d, t in DOCS:
            for b in py_feats(t):
                cr[b] = cr.get(b, 0) + 1
                if d in TARGET_IDS:
                    ct[b] = ct.get(b, 0) + 1
        tt = sum(ct.values()) + 1.0 * B
        tr = sum(cr.values()) + 1.0 * B
        want = {
            b: math.floor(
                (1 << LLR_SCALE_BITS)
                * (
                    math.log(ct.get(b, 0) + 1.0)
                    - math.log(tt)
                    - math.log(cr.get(b, 0) + 1.0)
                    + math.log(tr)
                )
            )
            for b in range(B)
        }
        assert llr == want

    def test_weights_are_exact_integer_sums(self, spark, docs):
        tgt = docs.filter(F.col("doc_id").isin(*TARGET_IDS))
        tf = hashed_ngram_features(tgt, buckets=B)
        rf = hashed_ngram_features(docs, buckets=B)
        llr = train_dsir_llr(tf, rf, buckets=B)
        w = {
            r["doc_id"]: (r["n_feats"], r["logw_q"])
            for r in dsir_weights(rf, llr).collect()
        }
        lut = dict(llr)
        for d, t in DOCS:
            feats = py_feats(t)
            assert w[d] == (len(feats), sum(lut[b] for b in feats))

    def test_target_docs_outrank_raw_only(self, spark, docs):
        sel = dsir_select(
            docs, docs.filter(F.col("doc_id").isin(*TARGET_IDS)), k=3, buckets=B
        )
        top = [r["doc_id"] for r in sel.collect()]
        # the two target docs and their vocabulary-sharing neighbor (5)
        # must win the resampling toward the target distribution
        assert set(top) == {1, 2, 5}


class TestSelection:
    def test_topk_deterministic_ties_by_id(self, spark):
        w = spark.createDataFrame(
            [(3, 4, 10), (1, 4, 10), (2, 4, 99), (4, 4, -5)],
            "doc_id int, n_feats long, logw_q long",
        )
        got = [r["doc_id"] for r in dsir_select_topk(w, 3).collect()]
        assert got == [2, 1, 3]

    def test_gumbel_is_run_deterministic(self, spark, docs):
        tgt = docs.filter(F.col("doc_id").isin(*TARGET_IDS))
        a = dsir_select(docs, tgt, k=4, buckets=B, method="gumbel")
        b = dsir_select(docs, tgt, k=4, buckets=B, method="gumbel")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_gumbel_seed_changes_draw_keys(self, spark, docs):
        tgt = docs.filter(F.col("doc_id").isin(*TARGET_IDS))
        rf = hashed_ngram_features(docs, buckets=B)
        llr = train_dsir_llr(hashed_ngram_features(tgt, buckets=B), rf, B)
        w = dsir_weights(rf, llr)
        a = {r["doc_id"]: r["gumbel_key"] for r in dsir_sample_gumbel(w, 8, seed="s1").collect()}
        b = {r["doc_id"]: r["gumbel_key"] for r in dsir_sample_gumbel(w, 8, seed="s2").collect()}
        assert a != b


class TestPlanShape:
    def test_selection_plan(self, spark, docs):
        tgt = docs.filter(F.col("doc_id").isin(*TARGET_IDS))
        sel = dsir_select(docs, tgt, k=3, buckets=B)
        plan = sel._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan  # partial top-k, no global sort
        assert "BroadcastHashJoin" in plan  # llr table broadcast
        for udf_marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert udf_marker not in plan  # pure column algebra


def _group(rows):
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["doc_id"], []).append(r)
    return out


class TestStreaming:
    def test_streaming_weights_equal_batch_and_idempotent(self, spark, docs, tmp_path):
        import tests.test_streaming as TS
        from tuktu_spark.streaming.llm import (
            make_dsir_weight_batch_processor,
            streaming_dsir_weights,
        )

        tgt = docs.filter(F.col("doc_id").isin(*TARGET_IDS))
        rf = hashed_ngram_features(docs, buckets=B)
        llr = train_dsir_llr(hashed_ngram_features(tgt, buckets=B), rf, B)
        stream = TS.STR.replay_dataframe(
            docs, str(tmp_path / "replay"), chunks=3, order_col="doc_id"
        )
        q = streaming_dsir_weights(
            stream, llr, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            buckets=B,
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["doc_id"], r["n_feats"], r["logw_q"])
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }
        want = {
            (r["doc_id"], r["n_feats"], r["logw_q"])
            for r in dsir_weights(rf, llr).collect()
        }
        assert got == want and len(want) == len(DOCS)
        # idempotent replay: re-deliver exactly batch 0's documents
        store = spark.read.parquet(str(tmp_path / "out"))
        n = store.count()
        b0_ids = [
            r["doc_id"] for r in store.filter(F.col("batch_id") == 0).collect()
        ]
        proc = make_dsir_weight_batch_processor(
            spark, llr, str(tmp_path / "out"), buckets=B
        )
        proc(docs.filter(F.col("doc_id").isin(b0_ids)), 0)
        assert spark.read.parquet(str(tmp_path / "out")).count() == n


class TestFlaggedFit:
    def test_single_pass_llr_equals_two_pass(self, spark, docs):
        from tuktu_spark.llm.dsir import train_dsir_llr_flagged

        tgt = docs.filter(F.col("doc_id").isin(*TARGET_IDS))
        two_pass = train_dsir_llr(
            hashed_ngram_features(tgt, buckets=B),
            hashed_ngram_features(docs, buckets=B),
            buckets=B,
        )
        flagged = docs.withColumn(
            "is_target", F.col("doc_id").isin(*TARGET_IDS)
        )
        one_pass = train_dsir_llr_flagged(
            hashed_ngram_features(flagged, buckets=B, keep_cols=("is_target",)),
            buckets=B,
        )
        assert one_pass == two_pass
