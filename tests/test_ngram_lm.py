"""Stupid-backoff n-gram LM (llm/ngram_lm.py): backoff arithmetic vs a
pure-Python reference, doc-start truncation, OOV handling, min-count
context safety, CCNet buckets/filter, the shuffle-join model path, and
plan shape (one corpus shuffle, broadcast count joins).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tuktu_spark.llm.ngram_lm import (
    NgramLM,
    perplexity_buckets,
    perplexity_filter,
    score_ngram_lm,
    train_ngram_lm,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on the hat"),
    (3, "a dog sat on the mat"),
    (4, "the cat ran"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string").select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    return df.cache()


def _py_lm(docs: list[list[str]], n: int, min_count: int):
    """Independent pure-Python trainer."""
    counts = [dict() for _ in range(n)]
    total = 0
    for toks in docs:
        total += len(toks)
        for k in range(1, n + 1):
            for i in range(len(toks) - k + 1):
                g = " ".join(toks[i : i + k])
                counts[k - 1][g] = counts[k - 1].get(g, 0) + 1
    for k in range(n):
        counts[k] = {g: c for g, c in counts[k].items() if c >= min_count}
    return counts, total


def _py_score(toks: list[str], counts, total: int, n: int, alpha: float):
    """Independent per-doc reference: returns (probs, hits_by_order)."""
    probs = []
    hits = [0] * (n + 1)  # hits[k] for order k

    def s_order(i: int, k: int) -> float:
        if k == 1:
            c = counts[0].get(toks[i])
            if c is not None:
                return c / total
            return 1.0 / total
        g = " ".join(toks[i - k + 1 : i + 1])
        ctx = " ".join(toks[i - k + 1 : i])
        c = counts[k - 1].get(g)
        if c is not None:
            return c / counts[k - 2][ctx]
        return alpha * s_order(i, k - 1)

    for i in range(len(toks)):
        k = min(i + 1, n)
        probs.append(s_order(i, k))
        if counts[0].get(toks[i]) is not None:
            hits[1] += 1
        for kk in range(2, n + 1):
            if i >= kk - 1 and " ".join(toks[i - kk + 1 : i + 1]) in counts[kk - 1]:
                hits[kk] += 1
    return probs, hits


class TestFusedTraining:
    @pytest.mark.parametrize("min_count", [1, 2])
    def test_fused_identical_to_per_order(self, spark, corpus, min_count):
        """r9 (verdict #6): the single-pass (k, gram) aggregation must
        produce the SAME model as the per-order jobs — counts are exact
        integers, so set equality per order, not approximation. The
        corpus includes an EMPTY-token doc (r10, advisor): sequence(1, 0)
        descends to [1, 0] and the unguarded slice threw
        INVALID_PARAMETER_VALUE.START — real corpora always contain
        empty/short documents, and per_order (posexplode drops empties)
        never had the hazard."""
        empties = spark.createDataFrame(
            [(90, []), (91, ["solo"])], "doc_id long, tokens array<string>"
        )
        corpus = corpus.unionByName(empties)
        a = train_ngram_lm(corpus, n=3, min_count=min_count, method="fused")
        b = train_ngram_lm(
            corpus, n=3, min_count=min_count, method="per_order"
        )
        assert a.total == b.total
        assert a.fused is not None and b.fused is None
        for k in range(1, 4):
            ra = {(r["gram"], r["cnt"]) for r in a.order_table(k).collect()}
            rb = {(r["gram"], r["cnt"]) for r in b.order_table(k).collect()}
            assert ra == rb, (min_count, k)

    def test_unknown_method_rejected(self, spark, corpus):
        with pytest.raises(ValueError, match="method"):
            train_ngram_lm(corpus, method="bogus")

    @pytest.mark.parametrize("min_count", [1, 2])
    def test_persist_total_sentinel(self, spark, corpus, min_count):
        """Optimization r13: persist=True derives ``total`` from the
        k=0 sentinel row of the SAME fused aggregation (no second
        corpus-scan job). The model must stay bit-identical to the
        per-order path: same total (sentinel count == pre-prune token
        count, min_count-exempt), same order tables (the sentinel never
        leaks into them), and identical scores."""
        empties = spark.createDataFrame(
            [(90, []), (91, ["solo"])], "doc_id long, tokens array<string>"
        )
        c = corpus.unionByName(empties)
        a = train_ngram_lm(c, n=3, min_count=min_count, persist=True)
        b = train_ngram_lm(c, n=3, min_count=min_count, method="per_order")
        assert a.persisted
        assert a.total == b.total
        ks = {r["k"] for r in a.fused.select("k").distinct().collect()}
        assert 0 in ks  # sentinel row present even under min_count=2
        for k in range(1, 4):
            ra = {(r["gram"], r["cnt"]) for r in a.order_table(k).collect()}
            rb = {(r["gram"], r["cnt"]) for r in b.order_table(k).collect()}
            assert ra == rb, (min_count, k)
        sa = {tuple(r) for r in score_ngram_lm(corpus, a).collect()}
        sb = {tuple(r) for r in score_ngram_lm(corpus, b).collect()}
        assert sa == sb
        # .persist() on an already-pinned model is a no-op, not a re-pin
        assert a.persist() is a


class TestBackoffMath:
    @pytest.mark.parametrize("min_count", [1, 2])
    def test_matches_python_reference(self, spark, corpus, min_count):
        lm = train_ngram_lm(corpus, n=3, min_count=min_count)
        got = {
            r["doc_id"]: r
            for r in score_ngram_lm(corpus, lm).collect()
        }
        docs = {i: t.split(" ") for i, t in DOCS}
        counts, total = _py_lm(list(docs.values()), 3, min_count)
        assert lm.total == total
        for did, toks in docs.items():
            probs, hits = _py_score(toks, counts, total, 3, 0.4)
            r = got[did]
            assert r["n_pos"] == len(toks)
            assert (r["hits1"], r["hits2"], r["hits3"]) == (hits[1], hits[2], hits[3])
            assert r["mean_prob"] == pytest.approx(sum(probs) / len(probs), rel=1e-12)
            logp = sum(math.log10(p) for p in probs)
            assert r["logprob10"] == pytest.approx(logp, abs=1e-9)
            assert r["ppl"] == pytest.approx(10 ** (-logp / len(toks)), rel=1e-9)
            assert r["prob_q30"] == sum(math.floor(p * (1 << 30)) for p in probs)

    def test_doc_start_truncation(self, spark, corpus):
        # position 0 must use the unigram even when trigram counts exist
        lm = train_ngram_lm(corpus, n=3, min_count=1)
        one = spark.createDataFrame(
            [(9, ["the"])], "doc_id long, tokens array<string>"
        )
        r = score_ngram_lm(one, lm).collect()[0]
        the_count = {x["gram"]: x["cnt"] for x in lm.counts[0].collect()}["the"]
        assert r["mean_prob"] == pytest.approx(the_count / lm.total, rel=1e-12)

    def test_oov_floor(self, spark, corpus):
        lm = train_ngram_lm(corpus, n=2, min_count=1)
        oov = spark.createDataFrame(
            [(9, ["zebra"])], "doc_id long, tokens array<string>"
        )
        r = score_ngram_lm(oov, lm).collect()[0]
        assert r["hits1"] == 0
        assert r["mean_prob"] == pytest.approx(1.0 / lm.total, rel=1e-12)

    def test_min_count_context_safety(self, spark, corpus):
        # shared min_count prune: wherever a k-gram count survives, its
        # (k-1)-gram context count survives too (cnt(ctx) >= cnt(gram)),
        # so the backoff division is total — check on real tables
        lm = train_ngram_lm(corpus, n=3, min_count=2)
        c2 = {r["gram"] for r in lm.counts[1].collect()}
        c1 = {r["gram"] for r in lm.counts[0].collect()}
        assert all(g.split(" ")[0] in c1 for g in c2)
        # and scoring emits no nulls
        out = score_ngram_lm(corpus, lm).collect()
        assert all(r["mean_prob"] is not None for r in out)

    def test_shuffle_join_path_matches_broadcast(self, spark, corpus):
        lm = train_ngram_lm(corpus, n=3, min_count=1)
        a = {
            r["doc_id"]: r["prob_q30"]
            for r in score_ngram_lm(corpus, lm, broadcast_counts=True).collect()
        }
        b = {
            r["doc_id"]: r["prob_q30"]
            for r in score_ngram_lm(corpus, lm, broadcast_counts=False).collect()
        }
        assert a == b


class TestCCNetStage:
    def test_buckets_terciles(self, spark, corpus):
        lm = train_ngram_lm(corpus, n=2, min_count=1)
        scored = score_ngram_lm(corpus, lm)
        out = perplexity_buckets(scored)
        buckets = {r["doc_id"]: r["bucket"] for r in out.collect()}
        assert set(buckets.values()) <= {"head", "middle", "tail"}
        assert len(buckets) == 4
        # the lowest-perplexity doc is in the head
        ppls = {r["doc_id"]: r["ppl"] for r in scored.collect()}
        best = min(ppls, key=ppls.get)
        assert buckets[best] == "head"

    def test_buckets_per_language(self, spark, corpus):
        lang = spark.createDataFrame(
            [(1, "en"), (2, "en"), (3, "nl"), (4, "nl")], "doc_id long, lang string"
        )
        lm = train_ngram_lm(corpus, n=2, min_count=1)
        out = perplexity_buckets(score_ngram_lm(corpus, lm), lang)
        rows = out.collect()
        assert {r["lang"] for r in rows} == {"en", "nl"}
        # within each language at least one head doc exists
        for lg in ("en", "nl"):
            assert any(r["bucket"] == "head" for r in rows if r["lang"] == lg)

    def test_filter_threshold(self, spark, corpus):
        lm = train_ngram_lm(corpus, n=3, min_count=1)
        ppls = {
            r["doc_id"]: r["ppl"] for r in score_ngram_lm(corpus, lm).collect()
        }
        cut = sorted(ppls.values())[1]  # keep exactly the 2 best docs
        kept = perplexity_filter(corpus, lm, max_ppl=cut)
        want = {d for d, p in ppls.items() if p <= cut}
        assert {r["doc_id"] for r in kept.collect()} == want
        assert kept.columns == corpus.columns

    def test_operators(self, spark, corpus):
        from tuktu_spark.operators.registry import make_operator

        scored = make_operator("ngram_lm_score", {"min_count": 1})(corpus)
        assert scored.count() == 4
        filt = make_operator(
            "ngram_perplexity_filter", {"min_count": 1, "max_ppl": 1e9}
        )(corpus)
        assert filt.count() == 4
        lang_corpus = corpus.withColumn("lang", F.lit("en"))
        b = make_operator(
            "ngram_perplexity_buckets", {"min_count": 1, "lang_field": "lang"}
        )(lang_corpus)
        assert set(b.select("bucket").distinct().toPandas()["bucket"]) <= {
            "head", "middle", "tail",
        }


class TestPlanShape:
    def test_one_corpus_shuffle_and_broadcast_joins(self, spark, sf_dir):
        from tests.test_plans import plan_of
        from tuktu_spark.tables import load_table

        from tuktu_spark.tables import release

        release()
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.split("text", " ").alias("tokens")
        )
        # persisted model — the query/operator path: count tables are
        # InMemoryRelations, computed once each
        lm = train_ngram_lm(d, n=3, min_count=2).persist()
        plan = plan_of(score_ngram_lm(d, lm))
        assert "SinglePartition" not in plan
        assert "CartesianProduct" not in plan
        # formatted explain prints each node twice (tree + detail):
        # 5 joins = c1, c2+ctx, c3+ctx
        assert plan.count("BroadcastHashJoin") == 10
        # the WHOLE text shuffles the corpus by doc exactly ONCE — the
        # scoring window's exchange, reused by the final per-doc
        # aggregate. Fused training (r9) removed the per-order cache
        # builds' doc-keyed window exchanges entirely: the one cached
        # (k, gram, cnt) parent is built from the token arrays with no
        # window, and all five broadcast sides are filters over it.
        assert plan.count("hashpartitioning(doc_id") == 1
        assert plan.count("InMemoryRelation") >= 5  # 5 refs to the cache
        release()


class TestArpa:
    def _write_model(self, tmp_path):
        from tuktu_spark.llm.ngram_lm import write_arpa

        p = str(tmp_path / "m.arpa")
        write_arpa(
            p,
            [
                [("the", -0.5, -0.25), ("cat", -1.0, -0.5), ("<unk>", -5.0, None)],
                [("the cat", -0.125, -0.0625), ("cat sat", -0.75, 0.0)],
                [("the cat sat", -0.25,)],
            ],
            3,
        )
        return p

    def test_read_roundtrip(self, spark, tmp_path):
        from tuktu_spark.llm.ngram_lm import read_arpa

        lm = read_arpa(spark, self._write_model(tmp_path))
        assert lm.n == 3 and lm.unk_log10 == -5.0
        t1 = {r["gram"]: (r["log10p"], r["bow"]) for r in lm.tables[0].collect()}
        assert t1["the"] == (-0.5, -0.25)
        assert t1["<unk>"] == (-5.0, 0.0)
        t3 = {r["gram"]: r["log10p"] for r in lm.tables[2].collect()}
        assert t3 == {"the cat sat": -0.25}

    def test_katz_cascade(self, spark, tmp_path):
        from tuktu_spark.llm.ngram_lm import read_arpa, score_arpa

        lm = read_arpa(spark, self._write_model(tmp_path))
        df = spark.createDataFrame(
            [(1, ["the", "cat", "sat"]), (2, ["cat", "zebra"])],
            "doc_id long, tokens array<string>",
        )
        got = {r["doc_id"]: r for r in score_arpa(df, lm).collect()}
        # doc 1: pos0 = p1(the) = -0.5; pos1 = p2(the cat) = -0.125;
        # pos2 = p3(the cat sat) = -0.25
        assert got[1]["logprob10"] == pytest.approx(-0.875, abs=1e-12)
        # doc 2: pos0 = p1(cat) = -1.0; pos1: "cat zebra" unlisted ->
        # bow(cat) = -0.5 + [p1(zebra) missing -> unk -5.0] = -5.5
        assert got[2]["logprob10"] == pytest.approx(-6.5, abs=1e-12)
        assert got[1]["ppl"] == pytest.approx(10 ** (0.875 / 3), rel=1e-12)

    def test_backoff_weight_zero_when_context_unlisted(self, spark, tmp_path):
        from tuktu_spark.llm.ngram_lm import read_arpa, score_arpa

        lm = read_arpa(spark, self._write_model(tmp_path))
        df = spark.createDataFrame(
            [(1, ["zebra", "cat"])], "doc_id long, tokens array<string>"
        )
        r = score_arpa(df, lm).collect()[0]
        # pos0: unk = -5.0; pos1: "zebra cat" unlisted, ctx "zebra"
        # unlisted -> bow 0 + p1(cat) = -1.0
        assert r["logprob10"] == pytest.approx(-6.0, abs=1e-12)

    def test_operator_with_bundled_model(self, spark):
        import os

        from tuktu_spark import llm as _llm
        from tuktu_spark.operators.registry import make_operator

        path = os.path.join(os.path.dirname(_llm.__file__), "data", "mini_lm.arpa")
        df = spark.createDataFrame(
            [(1, "the fast scan"), (2, "join merge sort")],
            "doc_id long, text string",
        )
        out = make_operator("arpa_lm_score", {"model_path": path})(df)
        rows = out.collect()
        assert len(rows) == 2 and all(r["ppl"] > 0 for r in rows)


class TestArrayEngine:
    def test_array_positions_equal_window(self, spark, corpus):
        lm = train_ngram_lm(corpus, n=3, min_count=2)
        a = sorted(
            map(tuple, score_ngram_lm(corpus, lm).select(
                "doc_id", "n_pos", "hits1", "hits2", "hits3", "prob_q30"
            ).collect())
        )
        b = sorted(
            map(tuple, score_ngram_lm(corpus, lm, engine="array").select(
                "doc_id", "n_pos", "hits1", "hits2", "hits3", "prob_q30"
            ).collect())
        )
        assert a == b

    def test_array_engine_plan_has_no_window(self, spark, corpus):
        # the stream-legality claim: the gram CONSTRUCTION itself uses no
        # window function (a frozen model's training plan, which does, is
        # materialized before any stream starts)
        from tests.test_plans import plan_of
        from tuktu_spark.llm.ngram_lm import _positions

        plan = plan_of(_positions(corpus, "tokens", "doc_id", 3, engine="array"))
        assert "Window" not in plan
        plan_w = plan_of(_positions(corpus, "tokens", "doc_id", 3))
        assert "Window" in plan_w

    def test_arpa_array_equals_window(self, spark, tmp_path):
        from tuktu_spark.llm.ngram_lm import read_arpa, score_arpa

        lm = read_arpa(spark, TestArpa._write_model(TestArpa(), tmp_path))
        df = spark.createDataFrame(
            [(1, ["the", "cat", "sat"]), (2, ["zebra", "cat"])],
            "doc_id long, tokens array<string>",
        )
        a = sorted(map(tuple, score_arpa(df, lm).select("doc_id", "lp_q20").collect()))
        b = sorted(map(tuple, score_arpa(df, lm, engine="array")
                       .select("doc_id", "lp_q20").collect()))
        assert a == b


class TestStreamingScore:
    def test_streaming_equals_batch_and_idempotent(self, spark, tmp_path):
        import tests.test_streaming as TS
        from tuktu_spark.streaming.llm import (
            make_lm_score_batch_processor,
            streaming_lm_score,
        )

        corpus = spark.createDataFrame(DOCS, "doc_id long, text string").select(
            "doc_id", F.split("text", " ").alias("tokens")
        )
        lm = train_ngram_lm(corpus, n=3, min_count=1)
        # freeze the model (collect-free: persist + materialize)
        lm.persist()
        stream = TS.STR.replay_dataframe(
            corpus, str(tmp_path / "replay"), chunks=2, order_col="doc_id"
        )
        q = streaming_lm_score(
            stream, lm, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["doc_id"], r["prob_q30"])
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }
        want = {
            (r["doc_id"], r["prob_q30"])
            for r in score_ngram_lm(corpus, lm).collect()
        }
        assert got == want and len(want) == 4
        # idempotent replay of batch 0
        n = spark.read.parquet(str(tmp_path / "out")).count()
        proc = make_lm_score_batch_processor(
            spark, lm, str(tmp_path / "out")
        )
        proc(corpus.limit(2), 0)
        assert spark.read.parquet(str(tmp_path / "out")).count() == n


class TestArpaAtScale:
    """Round-6 verdict #8: the 'LM beyond broadcast budget' path. A ~100 MB
    trigram ARPA model is generated DISTRIBUTED (spark.range -> text
    parts; never through the driver), parsed with read_arpa, and scored
    with broadcast_tables=False under a 1 MB broadcast threshold — the
    realistic cluster setting where the model tables must shuffle-join.
    Pins (a) value equality with the broadcast path, (b) the shuffle-join
    plan shape (SortMergeJoin on the gram tables, zero broadcasts of
    them)."""

    V = 50_000
    PER_HEAD = 30

    def _write_big_arpa(self, spark, path: str) -> None:
        from pyspark.sql import functions as F

        tab = F.lit("\t")
        v, per = self.V, self.PER_HEAD

        def fmt(x):
            return F.format_number(x, 6)

        uni = spark.range(v).select(
            F.concat(
                fmt(-(1.0 + (F.col("id") % 40) * 0.1)), tab,
                F.concat(F.lit("w"), F.col("id")), tab,
                fmt(-(0.1 + (F.col("id") % 7) * 0.05)),
            ).alias("value")
        )
        bi = spark.range(v * per).select(
            (F.col("id") % v).alias("i"), (F.col("id") / v).cast("long").alias("s")
        ).select(
            F.concat(
                fmt(-(0.5 + ((F.col("i") + F.col("s")) % 30) * 0.05)), tab,
                F.concat(F.lit("w"), F.col("i"), F.lit(" w"),
                         (F.col("i") * 7 + F.col("s")) % v), tab,
                fmt(F.lit(-0.2)),
            ).alias("value")
        )
        tri = spark.range(v * per).select(
            (F.col("id") % v).alias("i"), (F.col("id") / v).cast("long").alias("s")
        ).select(
            F.concat(
                fmt(-(0.3 + ((F.col("i") + F.col("s")) % 20) * 0.05)), tab,
                F.concat(F.lit("w"), F.col("i"), F.lit(" w"),
                         (F.col("i") * 7 + F.col("s")) % v, F.lit(" w"),
                         (F.col("i") * 13 + F.col("s")) % v),
            ).alias("value")
        )
        header = spark.createDataFrame(
            [("\\data\\",), (f"ngram 1={v}",), (f"ngram 2={v*per}",),
             (f"ngram 3={v*per}",), ("\\1-grams:",), ("\\2-grams:",),
             ("\\3-grams:",), ("\\end\\",)],
            ["value"],
        )
        header.union(uni).union(bi).union(tri).write.mode("overwrite").text(path)

    def test_shuffle_join_scoring_matches_broadcast(self, spark, tmp_path_factory):
        import os

        from pyspark.sql import functions as F

        from tuktu_spark.llm.ngram_lm import read_arpa, score_arpa

        path = str(tmp_path_factory.mktemp("bigarpa") / "model.arpa")
        self._write_big_arpa(spark, path)
        size = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path) if f.startswith("part-")
        )
        assert size > 80 * 1024 * 1024, f"fixture only {size} bytes"

        lm = read_arpa(spark, path)
        assert lm.n == 3

        v = self.V
        corpus = spark.range(2_000).select(
            F.col("id").alias("doc_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(49)),
                lambda t: F.concat(F.lit("w"), F.pmod(F.col("id") * 31 + t, F.lit(v))),
            ).alias("tokens"),
        )
        a = score_arpa(corpus, lm, broadcast_tables=True)
        b = score_arpa(corpus, lm, broadcast_tables=False)

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # the cluster-realistic setting: the model exceeds any broadcast
            # budget, so the unhinted path must shuffle-join
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(1024 * 1024))
            plan = b._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
            got_b = {r["doc_id"]: (r["n_pos"], r["lp_q20"]) for r in b.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        got_a = {r["doc_id"]: (r["n_pos"], r["lp_q20"]) for r in a.collect()}
        assert got_a == got_b and len(got_a) == 2_000
        # sanity: listed grams actually hit (not everything backs off to <unk>)
        hits = b.agg(F.sum("n_pos")).collect()[0][0]
        assert hits == 2_000 * 50
