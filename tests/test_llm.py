"""LLM-pipeline operator tests: dedup recall, simhash properties,
similarity search sanity, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tuktu_spark.llm import dedup as D
from tuktu_spark.llm import multimodal as M
from tuktu_spark.llm import similarity as S
from tuktu_spark.llm import text as T
from tuktu_spark.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


class TestDedup:
    def test_exact_dedup_synthetic(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "different")], ["doc_id", "text"]
        )
        out = {r["canonical_id"]: r["n_copies"] for r in D.exact_dedup(df).collect()}
        assert out == {1: 2, 3: 1}

    def test_minhash_matches_exact_jaccard(self, docs):
        """LSH+verify must equal the exhaustive pair set on the corpus
        (recall check backing the shared oracle of dedup_minhash_lsh)."""
        exact = {
            (r["id_a"], r["id_b"])
            for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_dedup_pairs(docs, threshold=0.8).collect()
        }
        assert exact, "corpus should contain planted near-duplicates"
        assert lsh == exact

    def test_simhash_identical_text_same_hash(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x y z unrelated w")],
            ["doc_id", "text"],
        )
        vals = {r["doc_id"]: r["simhash"] for r in D.simhash_table(df).collect()}
        assert vals[1] == vals[2]
        assert vals[1] != vals[3]

    def test_simhash_near_pairs_on_corpus(self, docs):
        """Planted near-dups (jaccard ~0.99) should land within hamming<=8."""
        pairs = D.simhash_near_pairs(docs, max_hamming=8).collect()
        exact = {
            (r["id_a"], r["id_b"])
            for r in D.ngram_jaccard_pairs(docs, threshold=0.9).collect()
        }
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        assert exact and exact <= found

    def test_banding_shapes(self, docs):
        sigs = D.minhash_signatures(docs.limit(10))
        row = sigs.first()
        assert len(row["signature"]) == D.NUM_HASHES
        assert all(0 <= v < D.MERSENNE_P for v in row["signature"])


class TestSimilarity:
    def test_self_cosine_is_one(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings").limit(5)
        v = emb.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        out = v.select(S.cosine(F.col("v"), F.col("v")).alias("c")).collect()
        assert all(abs(r["c"] - 1.0) < 1e-12 for r in out)

    def test_bruteforce_topk_shape(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 3)
        out = S.brute_force_topk(emb, q, k=4).collect()
        assert len(out) == 12
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
        for ranks in by_q.values():
            ranks.sort()
            cosines = [c for _, c in ranks]
            assert cosines == sorted(cosines, reverse=True)

    def test_ivf_subset_of_bucket(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 3)
        brute = S.brute_force_topk(emb, q, k=3)
        ivf = S.ivf_bucketed_topk(emb, q, k=3, bits=4)
        # approximate: every IVF hit must score <= the exact best at its rank
        b = {(r["query_id"], r["rank"]): r["cosine"] for r in brute.collect()}
        for r in ivf.collect():
            assert r["cosine"] <= b[(r["query_id"], r["rank"])] + 1e-12


class TestText:
    def test_language_id_picks_stopworded_lang(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat and the dog is in the house"),
                (2, "der Hund und die Katze ist von der Stadt"),
                (3, "le chat et la maison est pour les amis"),
            ],
            ["doc_id", "text"],
        )
        got = {r["doc_id"]: r["p"] for r in df.select("doc_id", T.predicted_language("text").alias("p")).collect()}
        assert got == {1: "en", 2: "de", 3: "fr"}

    def test_quality_features_values(self, spark):
        df = spark.createDataFrame([(1, "The cat, the hat! 42")], ["doc_id", "text"])
        out = df.select(
            *[c.alias(n) for n, c in T.quality_features("text").items()]
        ).first()
        assert out["n_tokens"] == 5
        assert out["n_chars"] == 20
        assert out["stopword_ratio"] == pytest.approx(2 / 5)
        assert out["digit_ratio"] == pytest.approx(2 / 20)

    def test_fingerprint_deterministic_and_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c"), (3, "c b a")], ["doc_id", "text"]
        )
        got = {r["doc_id"]: r["f"] for r in df.select("doc_id", T.fingerprint("text").alias("f")).collect()}
        assert got[1] == got[2] and got[1] != got[3]


class TestMultimodal:
    def test_attach_and_decode(self, spark):
        df = spark.createDataFrame([("payload-one",), ("payload-two-longer",)], ["raw"])
        media = M.attach_binary(df, "raw", media_type="image/fake")
        assert set(media.columns) == {"media", "media_type", "byte_len", "checksum"}
        feats = M.decode_features(media)
        rows = feats.collect()
        assert len(rows) == 2
        for r in rows:
            assert len(r["feature"]) == 8
            assert r["width"] >= 1 and r["height"] >= 1
        # deterministic: same bytes -> same features
        again = {r["checksum"]: r["feature"] for r in M.decode_features(media).collect()}
        for r in rows:
            assert again[r["checksum"]] == r["feature"]

    def test_frame_sample_plan(self, spark):
        df = spark.createDataFrame([("x" * 5000,)], ["raw"])
        media = M.attach_binary(df, "raw")
        frames = M.frame_sample_plan(media, every_n=2).collect()
        assert [r["frame_idx"] for r in frames] == [0, 2, 4]


class TestMediaHeaders:
    """Real, dependency-free container parsing (probe_media): spec-valid
    bytes in, true metadata out."""

    def test_png_roundtrip(self):
        info = M.probe_media(M.make_png(640, 480))
        assert info == {"format": "png", "width": 640, "height": 480}

    def test_wav_roundtrip(self):
        info = M.probe_media(M.make_wav(44100, 2, 44100, bits=16))
        assert info["format"] == "wav"
        assert info["channels"] == 2 and info["sample_rate"] == 44100
        assert info["bits"] == 16 and info["duration_ms"] == 1000

    def test_jpeg_sof_header(self):
        # minimal marker stream: SOI, APP0 (JFIF), SOF0 with 123x456
        import struct

        # APP0 length 16 counts the 2 length bytes: 14 payload bytes follow
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 11)
            + b"\x08"
            + struct.pack(">HH", 456, 123)
            + b"\x01\x11\x00"
        )
        data = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
        assert M.probe_media(data) == {
            "format": "jpeg", "width": 123, "height": 456,
        }

    def test_gif_and_bmp(self):
        import struct

        gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
        assert M.probe_media(gif) == {"format": "gif", "width": 320, "height": 200}
        bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600) + b"\x00" * 10
        assert M.probe_media(bmp) == {"format": "bmp", "width": 800, "height": 600}

    def test_unknown_and_empty(self):
        assert M.probe_media(b"plain text")["format"] == "unknown"
        assert M.probe_media(b"")["format"] == "empty"

    def test_decode_features_uses_real_dimensions(self, spark):
        png = M.make_png(31, 17)
        df = spark.createDataFrame([(bytearray(png),)], "raw binary")
        media = M.attach_binary(df, "raw", media_type="image/png")
        row = M.decode_features(media).first()
        assert (row["width"], row["height"]) == (31, 17)

    def test_probe_table_distributed(self, spark):
        rows = [(bytearray(M.make_png(10 + i, 20)),) for i in range(5)] + [
            (bytearray(M.make_wav(8000, 1, 400)),)
        ]
        df = spark.createDataFrame(rows, "raw binary")
        probed = M.probe_table(M.attach_binary(df, "raw")).collect()
        fmts = sorted(r["format"] for r in probed)
        assert fmts == ["png"] * 5 + ["wav"]
        wav = next(r for r in probed if r["format"] == "wav")
        assert wav["sample_rate"] == 8000 and wav["duration_ms"] == 50


def test_ngram_jaccard_prefix_filter_matches_naive(spark):
    """The PPJoin-style prefix+length filtering must be lossless: compare
    against a Python-computed naive all-pairs truth."""
    texts = [
        (0, "a b c d e f g h"),
        (1, "a b c d e f g x"),   # near-dup of 0
        (2, "a b c d e f g h"),   # exact dup of 0
        (3, "z y x w v u t s"),
        (4, "completely different words here now ok fine yes"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")

    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    want = {}
    for i, ta in texts:
        for j, tb in texts:
            if i < j:
                A, B = shingles(ta), shingles(tb)
                jac = len(A & B) / len(A | B)
                if jac >= 0.5:
                    want[(i, j)] = round(jac, 9)

    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert got == want and (0, 2) in got


def test_verify_jaccard_engines_identical(spark):
    """Optimization r13: the Arrow (numpy intersect1d) verification engine
    must be bit-identical to the codegen array_intersect form — same
    pairs, same jaccard doubles (both divide the same exact integers)."""
    texts = [
        (0, "a b c d e f g h"),
        (1, "a b c d e f g x"),
        (2, "a b c d e f g h"),
        (3, "a b c q e f g h"),
        (4, "z y x w v u t s"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    h = D.hashed_shingles(df, "text", "doc_id", 3)
    ids = [t[0] for t in texts]
    cands = spark.createDataFrame(
        [(i, j) for i in ids for j in ids if i < j], "id_a long, id_b long"
    )
    a = {tuple(r) for r in
         D._verify_jaccard_pairs(cands, h, h, "doc_id", 0.2, engine="sql").collect()}
    b = {tuple(r) for r in
         D._verify_jaccard_pairs(cands, h, h, "doc_id", 0.2, engine="arrow").collect()}
    assert a == b and a  # identical incl. the jaccard doubles, non-empty
    with pytest.raises(ValueError, match="engine"):
        D._verify_jaccard_pairs(cands, h, h, "doc_id", 0.2, engine="bogus")


class TestDecontamination:
    def _corpus(self, spark):
        base = "w%d " * 20
        rows = [
            (1, " ".join(f"a{i}" for i in range(20))),          # clean
            (2, " ".join(f"b{i}" for i in range(20))),          # = eval example
            (3, " ".join(f"b{i}" for i in range(14)) + " tail1 tail2"),  # shares 13-gram prefix
            (4, "short doc only"),                               # < n tokens
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    def test_report_flags_overlapping_docs(self, spark):
        from tuktu_spark.llm.decontaminate import contamination_report

        corpus = self._corpus(spark)
        eval_set = spark.createDataFrame(
            [(" ".join(f"b{i}" for i in range(20)),)], "text string"
        )
        got = {
            r["doc_id"]: r["n_matched_grams"]
            for r in contamination_report(corpus, eval_set, n=13).collect()
        }
        assert set(got) == {2, 3}
        assert got[2] == 8  # 20 tokens -> 8 distinct 13-grams, all matched
        assert got[3] == 2  # b0..b13 window: grams at offsets 0 and 1

    def test_decontaminate_removes_flagged(self, spark):
        from tuktu_spark.llm.decontaminate import decontaminate

        corpus = self._corpus(spark)
        eval_set = spark.createDataFrame(
            [(" ".join(f"b{i}" for i in range(20)),)], "text string"
        )
        kept = sorted(r["doc_id"] for r in decontaminate(corpus, eval_set, n=13).collect())
        assert kept == [1, 4]

    def test_eval_grams_broadcast(self, spark):
        from tuktu_spark.llm.decontaminate import contamination_report

        corpus = self._corpus(spark)
        eval_set = spark.createDataFrame([("x y z",)], "text string")
        plan = (
            contamination_report(corpus, eval_set, n=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestFuzzyDecontamination:
    """fuzzy_contamination_pairs / decontaminate_fuzzy (r13): bipartite
    MinHash-LSH near-dup decontamination — banding proposes, exact
    Jaccard verifies, so on deterministic inputs the output equals the
    exact corpus-vs-eval pair set."""

    def _corpus(self, spark):
        long_a = " ".join(f"a{i}" for i in range(40))
        long_b = " ".join(f"b{i}" for i in range(40))
        near_b = " ".join(
            ("XX" if i == 7 else f"b{i}") for i in range(40)
        )  # one token changed: high-jaccard near-dup of long_b
        rows = [
            (1, long_a),           # clean
            (2, long_b),           # == eval example (j = 1.0)
            (3, near_b),           # near-dup of eval (j ~ 0.85)
            (4, "tiny doc"),       # < n tokens: no shingles, never flagged
            (5, " ".join(f"c{i}" for i in range(40))),  # clean
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    def _eval(self, spark):
        return spark.createDataFrame(
            [(100, " ".join(f"b{i}" for i in range(40))),
             (101, " ".join(f"z{i}" for i in range(40))),
             (102, "al so tiny")],  # degenerate eval doc: 3 tokens -> 1 shingle... still valid
            "eval_id int, text string",
        )

    @staticmethod
    def _exact_pairs(corpus_rows, eval_rows, n=3, threshold=0.5):
        def shingles(text):
            t = [w for w in text.split() if w]
            return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

        out = {}
        for did, dtext in corpus_rows:
            sa = shingles(dtext)
            if not sa:
                continue
            for eid, etext in eval_rows:
                sb = shingles(etext)
                if not sb:
                    continue
                j = len(sa & sb) / len(sa | sb)
                if j >= threshold:
                    out[(did, eid)] = j
        return out

    def test_pairs_equal_exact_reference(self, spark):
        from tuktu_spark.llm.decontaminate import fuzzy_contamination_pairs

        corpus, ev = self._corpus(spark), self._eval(spark)
        got = {
            (r["doc_id"], r["eval_id"]): r["jaccard"]
            for r in fuzzy_contamination_pairs(
                corpus, ev, n=3, threshold=0.5
            ).collect()
        }
        want = self._exact_pairs(
            [(r["doc_id"], r["text"]) for r in corpus.collect()],
            [(r["eval_id"], r["text"]) for r in ev.collect()],
        )
        assert got == pytest.approx(want)
        assert (2, 100) in got and got[(2, 100)] == 1.0
        assert (3, 100) in got and 0.5 <= got[(3, 100)] < 1.0

    def test_filter_form_drops_flagged_keeps_degenerates(self, spark):
        from tuktu_spark.llm.decontaminate import decontaminate_fuzzy

        corpus, ev = self._corpus(spark), self._eval(spark)
        kept = sorted(
            r["doc_id"]
            for r in decontaminate_fuzzy(
                corpus, ev.select("text"), n=3, threshold=0.5
            ).collect()
        )
        # 2 (exact leak) and 3 (near-dup) drop; the tiny doc passes
        # through — it cannot reach any positive threshold
        assert kept == [1, 4, 5]

    def test_normalize_matches_case_punct_perturbed_eval(self, spark):
        from pyspark.sql import functions as F

        from tuktu_spark.llm.decontaminate import fuzzy_contamination_pairs

        corpus = self._corpus(spark)
        ev = self._eval(spark).withColumn(
            "text", F.upper(F.regexp_replace("text", " ", ", "))
        )
        raw = fuzzy_contamination_pairs(
            corpus, ev, n=3, threshold=0.5
        ).count()
        norm = {
            (r["doc_id"], r["eval_id"])
            for r in fuzzy_contamination_pairs(
                corpus, ev, n=3, threshold=0.5, normalize=True
            ).collect()
        }
        assert raw == 0  # perturbed eval shares no raw shingles
        assert {(2, 100), (3, 100)} <= norm

    def test_validation_errors(self, spark):
        from tuktu_spark.llm.decontaminate import fuzzy_contamination_pairs

        corpus, ev = self._corpus(spark), self._eval(spark)
        with pytest.raises(ValueError, match="identically-named"):
            fuzzy_contamination_pairs(
                corpus, ev.withColumnRenamed("eval_id", "doc_id"),
                eval_id="doc_id",
            )
        with pytest.raises(ValueError, match="threshold > 0"):
            fuzzy_contamination_pairs(corpus, ev, threshold=0.0)

    def test_flow_op_report_and_filter(self, spark):
        import tuktu_spark.operators.llm_ops  # noqa: F401
        from tuktu_spark.operators.registry import OPERATORS

        corpus, ev = self._corpus(spark), self._eval(spark)
        rep = OPERATORS["fuzzy_decontaminate"](
            {"report": True, "n": 3, "threshold": 0.5}
        )(corpus, ev)
        assert {(r["doc_id"], r["eval_id"]) for r in rep.collect()} == {
            (2, 100), (3, 100)
        }
        kept = OPERATORS["fuzzy_decontaminate"]({"n": 3, "threshold": 0.5})(
            corpus, ev.select("text")
        )
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4, 5]
        with pytest.raises(ValueError, match="inputs"):
            OPERATORS["fuzzy_decontaminate"]({})(corpus)

    def test_eval_side_broadcasts_no_corpus_self_join(self, spark):
        from tuktu_spark.llm.decontaminate import fuzzy_contamination_pairs

        corpus, ev = self._corpus(spark), self._eval(spark)
        plan = (
            fuzzy_contamination_pairs(corpus, ev, n=3, threshold=0.5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_engine_shuffle_bit_identical_without_broadcast(self, spark):
        """The beyond-broadcast escape hatch: with the planner's own
        broadcasting disabled entirely (autoBroadcastJoinThreshold=-1,
        the stand-in for an eval side too big to broadcast),
        engine='shuffle' must produce the broadcast engine's exact
        output through genuine shuffle joins — no BroadcastHashJoin
        anywhere in the plan."""
        from tuktu_spark.llm.decontaminate import fuzzy_contamination_pairs

        corpus, ev = self._corpus(spark), self._eval(spark)
        want = {
            (r["doc_id"], r["eval_id"]): r["jaccard"]
            for r in fuzzy_contamination_pairs(
                corpus, ev, n=3, threshold=0.5
            ).collect()
        }
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = fuzzy_contamination_pairs(
                corpus, ev, n=3, threshold=0.5, engine="shuffle"
            )
            got = {
                (r["doc_id"], r["eval_id"]): r["jaccard"]
                for r in df.collect()
            }
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert got == pytest.approx(want)
        assert "BroadcastHashJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_engine_auto_dispatches_on_shingle_budget(self, spark):
        from tuktu_spark.llm.decontaminate import (
            _fuzzy_shingled,
            fuzzy_contamination_pairs,
            pick_fuzzy_engine,
        )

        corpus, ev = self._corpus(spark), self._eval(spark)
        h_e = _fuzzy_shingled(ev, "text", "eval_id", 3, False)
        assert pick_fuzzy_engine(h_e) == "broadcast"
        eng, total = pick_fuzzy_engine(
            h_e, budget_shingles=1, with_count=True
        )
        assert eng == "shuffle" and total > 1
        # 'auto' resolves inside the entry point and still matches
        got = {
            (r["doc_id"], r["eval_id"])
            for r in fuzzy_contamination_pairs(
                corpus, ev, n=3, threshold=0.5, engine="auto"
            ).collect()
        }
        assert {(2, 100), (3, 100)} <= got

    def test_engine_validation(self, spark):
        from tuktu_spark.llm.decontaminate import _fuzzy_pairs_against

        corpus, ev = self._corpus(spark), self._eval(spark)
        with pytest.raises(ValueError, match="unknown fuzzy engine"):
            _fuzzy_pairs_against(
                corpus, ev, "text", "doc_id", "eval_id", 3, 0.5, False,
                engine="bloom",
            )

    def test_suite_summary_folds_pairs_per_suite(self, spark):
        """fuzzy_overlap_summary: per-example pairs folded by the eval
        suite label — doc 2 (j=1.0 vs example 100) and doc 3 (near-dup)
        both hit suite 's1'; suite 's2' (example 101, no corpus match)
        is absent; a doc near-duping TWO examples of one suite counts
        once in n_contaminated_docs, twice in n_flagged_pairs."""
        from pyspark.sql import functions as F

        from tuktu_spark.llm.decontaminate import fuzzy_overlap_summary

        corpus = self._corpus(spark)
        # third example: ALSO equal to long_b -> doc 2 pairs with both
        # s1 examples (j=1.0 each), doc 3 near-dups both
        ev = self._eval(spark).withColumn(
            "suite", F.when(F.col("eval_id") == 101, "s2").otherwise("s1")
        ).union(
            spark.createDataFrame(
                [(103, " ".join(f"b{i}" for i in range(40)), "s1")],
                "eval_id int, text string, suite string",
            )
        )
        rows = {
            r["suite"]: r
            for r in fuzzy_overlap_summary(
                corpus, ev, n=3, threshold=0.5
            ).collect()
        }
        assert set(rows) == {"s1"}
        s1 = rows["s1"]
        assert s1["n_contaminated_docs"] == 2  # docs 2 and 3, each once
        assert s1["n_flagged_pairs"] == 4      # each vs examples 100+103
        assert s1["max_jaccard"] == 1.0
        with pytest.raises(ValueError, match="suite"):
            fuzzy_overlap_summary(corpus, self._eval(spark))

    def test_flow_op_suite_summary(self, spark):
        from pyspark.sql import functions as F

        import tuktu_spark.operators.llm_ops  # noqa: F401
        from tuktu_spark.operators.registry import OPERATORS

        corpus = self._corpus(spark)
        ev = self._eval(spark).withColumn(
            "suite", F.when(F.col("eval_id") == 101, "s2").otherwise("s1")
        )
        out = OPERATORS["fuzzy_decontaminate"](
            {"suite_field": "suite", "n": 3, "threshold": 0.5}
        )(corpus, ev)
        rows = {r["suite"]: r for r in out.collect()}
        assert set(rows) == {"s1"}
        assert rows["s1"]["n_contaminated_docs"] == 2


class TestQuantization:
    def test_round_trip_error_bounded(self, spark, sf_dir):
        from tuktu_spark.llm.similarity import (
            dequantize_embedding,
            quantize_embedding,
        )
        from tuktu_spark.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        q = emb.select(
            "vec_id",
            F.col("embedding").alias("orig"),
            quantize_embedding(F.col("embedding")).alias("q"),
        )
        err = q.select(
            F.aggregate(
                F.zip_with(
                    dequantize_embedding(F.col("q")),
                    F.transform("orig", lambda x: x.cast("double")),
                    lambda a, b: F.abs(a - b),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ).alias("max_err"),
            F.col("q.scale").alias("scale"),
        )
        # symmetric rounding: per-element error <= scale/2
        bad = err.filter(F.col("max_err") > F.col("scale") * 0.5 + 1e-12)
        assert bad.count() == 0

    def test_quantized_cosine_close_to_exact(self, spark, sf_dir):
        from tuktu_spark.llm.similarity import cosine, quantize_embedding, quantized_cosine
        from tuktu_spark.tables import load_table

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").limit(40)
        a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
        b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
        pairs = a.join(b, F.col("ia") < F.col("ib"))
        both = pairs.select(
            "ia", "ib",
            cosine(F.col("ea"), F.col("eb")).alias("exact"),
            quantized_cosine(
                quantize_embedding(F.col("ea")), quantize_embedding(F.col("eb"))
            ).alias("approx"),
        )
        worst = both.agg(F.max(F.abs(F.col("exact") - F.col("approx")))).first()[0]
        assert worst < 0.02  # int8 cosine stays within 2 points

    def test_zero_vector_safe(self, spark):
        from tuktu_spark.llm.similarity import quantize_embedding

        df = spark.createDataFrame([(1, [0.0] * 4)], "id int, v array<float>")
        row = df.select(quantize_embedding(F.col("v")).alias("q")).first()["q"]
        assert row["codes"] == [0, 0, 0, 0] and row["scale"] == 1.0


class TestDegenerateDocSkew:
    """Short/empty docs must not explode the LSH candidate join: they all
    share one sentinel MinHash signature (and simhash 0), which at corpus
    scale is a quadratic hot bucket. VERDICT r2 'What's wrong #1'."""

    @pytest.fixture(scope="class")
    def polluted(self, spark, docs):
        # 10k degenerate docs: empty, whitespace-only, and 1-2 token texts
        # (all below the 3-token shingle minimum).
        junk = spark.range(1_000_000, 1_010_000).select(
            F.col("id").alias("doc_id"),
            F.element_at(
                F.array(F.lit(""), F.lit("   "), F.lit("one"), F.lit("two tokens")),
                (F.col("id") % 4 + 1).cast("int"),
            ).alias("text"),
        )
        return docs.select("doc_id", "text").unionByName(junk)

    def test_minhash_pairs_unchanged_by_degenerate_docs(self, docs, polluted):
        clean = {(r["id_a"], r["id_b"]) for r in D.minhash_dedup_pairs(docs).collect()}
        dirty = {(r["id_a"], r["id_b"]) for r in D.minhash_dedup_pairs(polluted).collect()}
        assert clean == dirty

    def test_no_degenerate_candidate_blowup(self, spark, polluted):
        """The banded self-join must produce ZERO candidate pairs among the
        10k degenerate docs (pre-fix it produced ~10k^2/2 through one hot
        bucket per band)."""
        sigs = D.minhash_signatures(polluted)
        cands = D.minhash_lsh_candidates(sigs)
        degenerate_pairs = cands.filter(
            (F.col("id_a") >= 1_000_000) | (F.col("id_b") >= 1_000_000)
        )
        assert degenerate_pairs.limit(1).count() == 0

    def test_simhash_pairs_unchanged_by_tokenless_docs(self, spark, docs):
        """Simhash excludes only ZERO-token docs (matching the SQL oracle,
        where token-less docs vanish at the unnest): they all share simhash
        0 and would hot-bucket every chunk. Non-empty identical short docs
        are genuine Hamming-0 pairs — exact-dedup territory, not excluded."""
        junk = spark.range(1_000_000, 1_010_000).select(
            F.col("id").alias("doc_id"),
            F.element_at(
                F.array(F.lit(""), F.lit("   "), F.lit(" \t "), F.lit("\n")),
                (F.col("id") % 4 + 1).cast("int"),
            ).alias("text"),
        )
        polluted = docs.select("doc_id", "text").unionByName(junk)
        clean = {
            (r["id_a"], r["id_b"])
            for r in D.simhash_near_pairs(docs, max_hamming=3).collect()
        }
        dirty = {
            (r["id_a"], r["id_b"])
            for r in D.simhash_near_pairs(polluted, max_hamming=3).collect()
        }
        assert clean == dirty

    def test_empty_shingle_docs_reports_dropped(self, polluted):
        n = D.empty_shingle_docs(polluted).count()
        assert n == 10_000


class TestLanguageIdNgram:
    """Cavnar-Trenkle rank-profile language ID (llm/text.py): trained
    per-lang n-gram profiles + out-of-place distance. The full pipeline
    is also oracle-checked end-to-end (text_language_id_ngram)."""

    def test_char_and_word_grams(self, spark):
        from tuktu_spark.llm.text import char_ngrams

        df = spark.createDataFrame([("ab cd",)], "t string")
        chars = df.select(char_ngrams("t", (2,)).alias("g")).first()["g"]
        assert chars == ["ab", "b ", " c", "cd"]
        words = df.select(char_ngrams("t", (1, 2), unit="word").alias("g")).first()["g"]
        assert words == ["ab", "cd", "ab cd"]
        empty = spark.createDataFrame([("",)], "t string")
        assert empty.select(char_ngrams("t", (2,), unit="word").alias("g")).first()["g"] == []

    def test_profiles_ranked_and_capped(self, spark):
        from tuktu_spark.llm.text import language_ngram_profiles

        df = spark.createDataFrame(
            [("en", "aa aa bb"), ("fr", "cc cc dd")], "lang string, text string"
        )
        prof = language_ngram_profiles(df, top_k=2, n_set=(1,), unit="word")
        got = {(r["lang"], r["gram"]): r["rank"] for r in prof.collect()}
        assert got[("en", "aa")] == 1 and got[("en", "bb")] == 2
        assert got[("fr", "cc")] == 1 and got[("fr", "dd")] == 2

    def test_self_trained_accuracy_floor(self, spark, sf_dir):
        from tuktu_spark.llm.text import (
            classify_language_ngram,
            language_ngram_profiles,
        )
        from tuktu_spark.tables import load_table
        from pyspark.sql import functions as F

        d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        prof = language_ngram_profiles(d, top_k=300, unit="word")
        pred = classify_language_ngram(d, prof, id_col="doc_id", top_k=300, unit="word")
        acc = (
            pred.join(d.select("doc_id", "lang"), "doc_id")
            .agg(F.avg((F.col("predicted_lang") == F.col("lang")).cast("double")))
            .first()[0]
        )
        assert acc >= 0.6  # 5 classes, 0.2 chance; word profiles reach ~0.76


class TestAnnIvf:
    """k-means IVF + multi-probe sign-LSH ANN (llm/similarity.py):
    recall economics against the exact brute-force scan."""

    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        return load_table(spark, sf_dir, "embeddings").cache()

    @pytest.fixture(scope="class")
    def truth(self, emb):
        q = emb.filter(F.col("vec_id") < 20)
        return {
            (r["query_id"], r["neighbor_id"])
            for r in S.brute_force_topk(emb, q, k=5).collect()
        }

    def recall(self, pairs, truth):
        return len(pairs & truth) / len(truth)

    def test_kmeans_ivf_recall_rises_with_probes(self, emb, truth):
        q = emb.filter(F.col("vec_id") < 20)
        cents = S.train_ivf_centroids(emb, nlist=16)
        recalls = []
        for n_probe in (1, 4, 8):
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in S.ivf_kmeans_topk(emb, q, cents, k=5, n_probe=n_probe).collect()
            }
            recalls.append(self.recall(got, truth))
        assert recalls == sorted(recalls)  # monotone in n_probe
        assert recalls[-1] >= 0.7  # half the lists -> high recall

    def test_kmeans_ivf_full_probe_is_exact(self, emb, truth):
        q = emb.filter(F.col("vec_id") < 20)
        cents = S.train_ivf_centroids(emb, nlist=8)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ivf_kmeans_topk(emb, q, cents, k=5, n_probe=8).collect()
        }
        assert got == truth  # probing every list == brute force

    def test_multiprobe_beats_single_probe(self, emb, truth):
        q = emb.filter(F.col("vec_id") < 20)
        single = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ivf_bucketed_topk(emb, q, k=5, bits=8).collect()
        }
        multi = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ivf_multiprobe_topk(emb, q, k=5, bits=8, n_probe=8).collect()
        }
        assert self.recall(multi, truth) >= self.recall(single, truth)

    def test_ann_operator(self, spark, emb):
        from tuktu_spark.operators.registry import make_operator

        out = make_operator(
            "ann_topk",
            {"k": 3, "method": "kmeans_ivf", "nlist": 8, "n_probe": 2,
             "query_filter": "vec_id < 5"},
        )(emb)
        rows = out.collect()
        assert {r["query_id"] for r in rows} == {0, 1, 2, 3, 4}
        assert all(1 <= r["rank"] <= 3 for r in rows)


def _py_minhash(shingles):
    """Reference MinHash: per hash function, min(((h mod P) * a + b) mod P)
    over the shingle hashes in exact integer arithmetic; an empty array
    yields the all-P sentinel."""
    from tuktu_spark.llm import dedup as D

    P = D.MERSENNE_P
    if not shingles:
        return [P] * D.NUM_HASHES
    return [min(((h % P) * a + b) % P for h in shingles)
            for a, b in zip(D.HASH_A, D.HASH_B)]


def _py_simhash(text):
    """Reference SimHash: tokens split on Java's \\s class, token hash =
    first 15 hex chars of md5, bit b set iff more tokens have it set than
    not; no tokens -> 0."""
    import hashlib
    import re

    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
    out = 0
    for b in range(48):
        ones = sum((h >> b) & 1 for h in hs)
        if 2 * ones > len(hs):
            out |= 1 << b
    return out


class TestSignatureEngines:
    def test_arrow_and_sql_signatures_identical(self, spark, sf_dir):
        """The Arrow MinHash kernel equals the exact-integer reference."""
        from tuktu_spark.llm import dedup as D

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
        h = D.hashed_shingles(docs, "text", "doc_id", 3)
        rows = h.join(D.minhash_signatures_from_hashed(h, "doc_id"), "doc_id").collect()
        got = {r["doc_id"]: r["signature"] for r in rows}
        want = {r["doc_id"]: _py_minhash(r["shingles"]) for r in rows}
        assert got == want and len(got) == 100

    def test_empty_shingles_sentinel_both_engines(self, spark):
        from tuktu_spark.llm import dedup as D

        df = spark.createDataFrame([(1, "x"), (2, "a b c d")], "doc_id long, text string")
        h = D.hashed_shingles(df, "text", "doc_id", 3)
        rows = h.join(D.minhash_signatures_from_hashed(h, "doc_id"), "doc_id").collect()
        sigs = {r["doc_id"]: r["signature"] for r in rows}
        assert sigs[1] == [D.MERSENNE_P] * D.NUM_HASHES  # sentinel for the short doc
        assert sigs[2][0] < D.MERSENNE_P
        assert all(r["signature"] == _py_minhash(r["shingles"]) for r in rows)

    def test_simhash_engines_identical(self, spark, sf_dir):
        """The Arrow SimHash kernel equals the md5 bit-vote reference."""
        from pyspark.sql import functions as F

        from tuktu_spark.llm import dedup as D

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
        extra = spark.createDataFrame([(9001, ""), (9002, "  "), (9003, "one")],
                                      "doc_id long, text string")
        rows = (docs.select("doc_id", "text").unionByName(extra)
                .select("doc_id", "text", D.simhash(F.col("text")).alias("s"))
                .collect())
        got = {r["doc_id"]: r["s"] for r in rows}
        want = {r["doc_id"]: _py_simhash(r["text"]) for r in rows}
        assert got == want and len(got) == 103
        assert got[9001] == 0 and got[9002] == 0 and got[9003] != 0


class TestMediaCodecsExtra:
    def test_wav_square_roundtrip(self):
        from tuktu_spark.llm.multimodal import decode_wav_samples, make_wav

        data = make_wav(16000, 2, n_samples=10, square=(500, 4))
        rate, ch, samples = decode_wav_samples(data)
        assert (rate, ch) == (16000, 2)
        # frames: + + - -  + + - -  + +   (each duplicated per channel)
        per_frame = [500, 500, -500, -500, 500, 500, -500, -500, 500, 500]
        expected = [v for v in per_frame for _ in range(2)]
        assert samples == expected

    def test_wav_nonpcm_bits_rejected(self):
        import struct as _st

        import pytest as _pytest

        from tuktu_spark.llm.multimodal import decode_wav_samples, make_wav

        # 8-bit is now in the envelope (decoded centered)...
        _, _, s = decode_wav_samples(make_wav(8000, 1, 10, bits=8))
        assert s == [0] * 10
        # ...but 24-bit still falls to the seam
        w = bytearray(make_wav(8000, 1, 10))
        i = w.find(b"fmt ")
        w[i + 22 : i + 24] = _st.pack("<H", 24)
        with _pytest.raises(NotImplementedError):
            decode_wav_samples(bytes(w))

    def test_mp4_probe_fields(self):
        from tuktu_spark.llm.multimodal import make_mp4, probe_media

        info = probe_media(make_mp4(320, 240, 42000))
        assert info == {
            "format": "mp4", "duration_ms": 42000, "width": 320, "height": 240,
        }

    def test_mp4_not_matched_for_other_formats(self):
        from tuktu_spark.llm.multimodal import _parse_mp4, make_png

        assert _parse_mp4(make_png(4, 4)) is None


class TestProductQuantization:
    def _normalized(self, spark, sf_dir):
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        norm = F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        return emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double") / norm).alias("embedding"),
        )

    def test_codebook_shapes_and_determinism(self, spark, sf_dir):
        from tuktu_spark.llm import similarity as S

        embn = self._normalized(spark, sf_dir)
        b1 = S.train_pq_codebooks(embn, m=8, k=16)
        b2 = S.train_pq_codebooks(embn, m=8, k=16)
        assert len(b1) == 8 and all(len(cb) == 16 and len(cb[0]) == 8 for cb in b1)
        assert b1 == b2  # seeded KMeans, same data -> identical codebooks

    def test_codes_in_range_and_compression(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from tuktu_spark.llm import similarity as S

        embn = self._normalized(spark, sf_dir)
        books = S.train_pq_codebooks(embn, m=16, k=16)
        enc = S.pq_encode(embn, books)
        stats = enc.agg(
            F.min(F.array_min("pq_codes")), F.max(F.array_max("pq_codes")),
            F.min(F.size("pq_codes")), F.max(F.size("pq_codes")),
        ).first()
        assert stats[0] >= 0 and stats[1] <= 15 and stats[2] == stats[3] == 16

    def test_rerank_recall_floor(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from tuktu_spark.llm import similarity as S

        embn = self._normalized(spark, sf_dir)
        queries = embn.filter(F.col("vec_id") < 10)
        books = S.train_pq_codebooks(embn, m=16, k=16)
        enc = S.pq_encode(embn, books)
        ann = S.pq_rerank_topk(enc, queries, books, k=5, shortlist=50)
        bf = S.brute_force_topk(embn, queries, k=5)
        hits = bf.select("query_id", "neighbor_id").join(
            ann.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        ).count()
        assert hits / bf.count() >= 0.6
        per_q = ann.groupBy("query_id").count()
        assert per_q.agg(F.max("count")).first()[0] <= 5


class TestParagraphDedup:
    """CCNet/Dolma paragraph-level dedup (round 5)."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "alpha beta\n\nshared block\n\ngamma"),
             (2, "shared block\n\ndelta"),
             (3, "delta\n\nshared block\n\n\n\nepsilon"),
             (4, "")],
            "doc_id long, text string",
        )

    def test_first_occurrence_survives(self, spark):
        from tuktu_spark.llm.dedup import paragraph_dedup

        out = paragraph_dedup(self._df(spark)).collect()
        kept = {(r["doc_id"], r["para"]) for r in out if r["keep"]}
        dropped = {(r["doc_id"], r["para"]) for r in out if not r["keep"]}
        assert (1, "shared block") in kept          # first occurrence: doc 1
        assert (2, "shared block") in dropped
        assert (3, "shared block") in dropped
        assert (2, "delta") in kept                 # doc 2 precedes doc 3
        assert (3, "delta") in dropped
        assert not any(r["doc_id"] == 4 for r in out)  # empty doc -> no rows

    def test_rebuild_preserves_order_and_joiner(self, spark):
        from tuktu_spark.llm.dedup import paragraph_dedup_rebuild

        got = {r["doc_id"]: r["text"]
               for r in paragraph_dedup_rebuild(self._df(spark)).collect()}
        assert got[1] == "alpha beta\n\nshared block\n\ngamma"
        assert got[2] == "delta"
        assert got[3] == "epsilon"

    def test_operator_registered(self, spark):
        from tuktu_spark.operators import make_operator

        out = make_operator("paragraph_dedup", {"rebuild": True})(self._df(spark))
        assert out.count() == 3

    def test_dedup_window_is_hash_partitioned_not_global(self, spark):
        from tuktu_spark.llm.dedup import paragraph_dedup

        plan = paragraph_dedup(self._df(spark))._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SinglePartition" not in plan
        assert "hashpartitioning(md5" in plan or "hashpartitioning(_w" in plan, plan


    def test_slim_engine_identical(self, spark, sf_dir):
        """Round-6 verdict #6: engine='slim' (md5-only window shuffle +
        id-clustered text re-join) is pinned identical to engine='full'
        on both the hand fixture and the corpus sample."""
        from tuktu_spark.llm.dedup import paragraph_dedup, paragraph_dedup_rebuild

        key = lambda r: (r["doc_id"], r["para_idx"], r["para"], r["keep"])
        a = sorted(map(key, paragraph_dedup(self._df(spark)).collect()))
        b = sorted(map(key, paragraph_dedup(self._df(spark), engine="slim").collect()))
        assert a == b

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
        fa = sorted(map(key, paragraph_dedup(docs).collect()))
        fb = sorted(map(key, paragraph_dedup(docs, engine="slim").collect()))
        assert fa == fb and len(fa) > 0

        ra = {r["doc_id"]: r["text"]
              for r in paragraph_dedup_rebuild(self._df(spark)).collect()}
        rb = {r["doc_id"]: r["text"]
              for r in paragraph_dedup_rebuild(self._df(spark), engine="slim").collect()}
        assert ra == rb

    def test_slim_rebuild_reuses_id_partitioning(self, spark, sf_dir):
        """The slim rebuild's groupBy(id) must ride the dedup join's id
        repartition — no extra text-scale exchange between join and agg."""
        from tuktu_spark.llm.dedup import paragraph_dedup_rebuild

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = paragraph_dedup_rebuild(docs, engine="slim")._jdf.queryExecution(
        ).explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        import re as _re

        # exchanges: md5-window (slim), two id repartitions (slim + text),
        # and nothing else — the final agg reuses hashpartitioning(doc_id)
        n_exchanges = len(set(_re.findall(r"\(\d+\) Exchange", plan)))
        assert n_exchanges <= 3, plan


class TestDuplicateNgramSpans:
    def test_flags_repeated_windows_only(self, spark):
        from tuktu_spark.llm.dedup import duplicate_ngram_spans

        df = spark.createDataFrame(
            [(1, "a b c d e unique1 tail1"),
             (2, "x a b c d e unique2"),
             (3, "totally different words here now six")],
            "doc_id long, text string",
        )
        out = duplicate_ngram_spans(df, n=5, min_count=2).collect()
        spans = {(r["doc_id"], r["start_idx"]) for r in out}
        # 'a b c d e' occurs at doc1 pos0 and doc2 pos1; nothing else repeats
        assert spans == {(1, 0), (2, 1)}
        assert all(r["n_dups"] == 2 for r in out)

    def test_short_docs_yield_no_spans(self, spark):
        from tuktu_spark.llm.dedup import duplicate_ngram_spans

        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b")], "doc_id long, text string"
        )
        assert duplicate_ngram_spans(df, n=5).count() == 0

    def test_single_exchange_plan(self, spark):
        from tuktu_spark.llm.dedup import duplicate_ngram_spans

        df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
        plan = duplicate_ngram_spans(df, n=3)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        import re

        assert len(set(re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan))) == 1
        assert "SinglePartition" not in plan


def test_ngram_spans_engines_identical(spark, sf_dir):
    """The Arrow window hash (hashlib.md5) equals the naive window model
    over the same corpus, the md5 of each window's text included."""
    import hashlib

    from tests.test_llm_property import naive_ngram_spans
    from tuktu_spark.llm.dedup import duplicate_ngram_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    key = lambda r: (r["doc_id"], r["start_idx"], r["gram_hash"], r["n_dups"])
    got = sorted(map(key, duplicate_ngram_spans(docs, n=10).collect()))
    want = sorted(
        (i, j, hashlib.md5(g.encode()).hexdigest(), c)
        for (i, j), (g, c) in naive_ngram_spans(rows, 10, 2).items()
    )
    assert got == want and len(got) > 0


class TestIvfIndex:
    """Write-once/query-many IVF: bucketed inverted lists + bucket-pruned
    probes (round 5 — mirrors the shingle-index pattern)."""

    def test_index_results_identical_to_direct(self, spark, sf_dir):
        import uuid

        from tuktu_spark.llm import similarity as S

        table = f"ivf_idx_{uuid.uuid4().hex[:8]}"
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 8)
        cents = S.train_ivf_centroids(emb, nlist=8)
        S.write_ivf_index(emb, table, cents, buckets=8)
        try:
            direct = S.ivf_kmeans_topk(emb, queries, cents, k=5, n_probe=4)
            indexed = S.ivf_topk_from_index(
                spark, table, queries, cents, k=5, n_probe=4
            )
            key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"],
                             round(r["cosine"], 12))
            assert sorted(map(key, direct.collect())) == sorted(
                map(key, indexed.collect())
            )
            # the scan is bucket-pruned to the probed lists
            plan = indexed._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            assert "SelectedBucketsCount" in plan, plan
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_append_assigns_to_existing_centroids(self, spark, sf_dir):
        """Round-6 verdict #4: mode='append' must be exactly incremental —
        (write A, append B) probes identical to a full rewrite of A∪B
        with the SAME centroids, and the appended index still prunes."""
        import uuid

        from tuktu_spark.llm import similarity as S
        from tuktu_spark.operators.registry import make_operator

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        a_half = emb.filter(F.col("vec_id") % 2 == 0)
        b_half = emb.filter(F.col("vec_id") % 2 == 1)
        queries = emb.filter(F.col("vec_id") < 8)
        t = f"ivf_app_{uuid.uuid4().hex[:8]}"
        try:
            make_operator(
                "ivf_index_write", {"table": t, "nlist": 8, "buckets": 8}
            )(a_half)
            make_operator("ivf_index_write", {"table": t, "mode": "append",
                                              "buckets": 8})(b_half)
            cents = S.load_ivf_centroids(spark, t)
            S.write_ivf_index(emb, f"{t}_full", cents, buckets=8)
            inc = S.ivf_topk_from_index(spark, t, queries, cents, k=5, n_probe=4)
            full = S.ivf_topk_from_index(
                spark, f"{t}_full", queries, cents, k=5, n_probe=4
            )
            key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])
            assert sorted(map(key, inc.collect())) == sorted(map(key, full.collect()))
            plan = inc._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            assert "SelectedBucketsCount" in plan
        finally:
            for tbl in (t, f"{t}_centroids", f"{t}_full"):
                spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    def test_append_without_index_errors(self, spark, sf_dir):
        import pytest as _pytest

        from tuktu_spark.operators.registry import make_operator

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with _pytest.raises(ValueError, match="append"):
            make_operator(
                "ivf_index_write",
                {"table": "ivf_missing_idx_zz", "mode": "append"},
            )(emb)


class TestSampleExactK:
    """Exact-k deterministic sampling (round 6)."""

    def test_exact_size_and_parallelism_invariance(self, spark, sf_dir):
        from tuktu_spark.llm.mixing import sample_exact_k

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = {r["doc_id"] for r in sample_exact_k(d, 25).select("doc_id").collect()}
        b = {r["doc_id"]
             for r in sample_exact_k(d.repartition(17), 25).select("doc_id").collect()}
        assert a == b and len(a) == 25

    def test_stratified_exact_k_per_group(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from tuktu_spark.llm.mixing import sample_exact_k

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = sample_exact_k(d, 7, stratify_col="lang")
        per = out.groupBy("lang").count().collect()
        assert all(r["count"] == 7 for r in per) and len(per) > 1

    def test_operator_and_subset_of_corpus(self, spark, sf_dir):
        from tuktu_spark.operators.registry import make_operator

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = make_operator("sample_exact_k", {"k": 10})(d)
        ids = {r["doc_id"] for r in out.select("doc_id").collect()}
        all_ids = {r["doc_id"] for r in d.select("doc_id").collect()}
        assert len(ids) == 10 and ids <= all_ids


class TestDuplicateSpanRemoval:
    """Maximal span merging + substring removal (round 6 — the Lee et al.
    removal stage on top of the window signal)."""

    def _df(self, spark):
        boiler = "one two three four five six seven eight nine ten"
        return spark.createDataFrame(
            [(1, f"alpha {boiler} omega"),
             (2, f"beta {boiler} gamma"),
             (3, "unique text entirely different words here today"),
             (4, f"{boiler} {boiler}")],
            "doc_id long, text string",
        )

    def test_maximal_intervals(self, spark):
        from tuktu_spark.llm.dedup import duplicate_span_intervals

        got = {(r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
               for r in duplicate_span_intervals(self._df(spark), n=5,
                                                 min_count=2).collect()}
        # the 10-token boiler flags starts 1..6 in docs 1/2 -> [1, 11);
        # doc 4 is the boiler twice: every window duplicated -> [0, 20)
        assert got == {(1, 1, 11, 10), (2, 1, 11, 10), (4, 0, 20, 20)}

    def test_removal_rewrite_and_full_drop(self, spark):
        from tuktu_spark.llm.dedup import remove_duplicate_spans

        got = {r["doc_id"]: r["text"]
               for r in remove_duplicate_spans(self._df(spark), n=5,
                                               min_count=2).collect()}
        assert got == {
            1: "alpha omega",
            2: "beta gamma",
            3: "unique text entirely different words here today",
        }  # doc 4 fully duplicated -> dropped

    def test_engines_identical_on_corpus(self, spark, sf_dir):
        """Maximal intervals equal the naive window model merged per doc."""
        from tests.test_llm_property import naive_span_intervals
        from tuktu_spark.llm.dedup import duplicate_span_intervals

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
        rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
        key = lambda r: (r["doc_id"], r["span_start"], r["span_end"])
        got = set(map(key, duplicate_span_intervals(docs, n=10).collect()))
        assert got == naive_span_intervals(rows, 10, 2) and len(got) > 0

    def test_operators_registered(self, spark):
        from tuktu_spark.operators.registry import make_operator

        out = make_operator("remove_duplicate_spans", {"n": 5})(self._df(spark))
        assert set(out.columns) == {"doc_id", "text"}
        iv = make_operator("duplicate_span_intervals", {"n": 5})(self._df(spark))
        assert {"span_start", "span_end", "span_len"} <= set(iv.columns)

    def test_plan_shapes(self, spark, sf_dir):
        """intervals: gram clustering + ONE doc clustering shared by the
        lag window, island cumsum and groupBy (prefix rule) = 2
        exchanges; removal adds only the corpus re-join = 3. Never a
        single-partition stage."""
        import re as _re

        from tuktu_spark.llm.dedup import (
            duplicate_span_intervals,
            remove_duplicate_spans,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for fn, cap in ((duplicate_span_intervals, 2), (remove_duplicate_spans, 3)):
            plan = fn(d, n=10)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            ex = len(set(_re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan)))
            assert ex <= cap, (fn.__name__, ex)
            assert "SinglePartition" not in plan


class TestNormalizeText:
    """Unicode normalization stage (round 6)."""

    def test_nfc_composes_and_cleans(self, spark):
        from tuktu_spark.llm.text import normalize_text

        decomposed = "Cafe" + chr(0x301)  # e + combining acute
        df = spark.createDataFrame(
            [(1, f"  a  b\t{decomposed}\x07 c\x85d  "), (2, None), (3, "")],
            "id long, text string",
        )
        got = {r["id"]: r["text"] for r in normalize_text(df).collect()}
        assert got[1] == "a b Café cd"  # composed, ctrl-stripped, collapsed
        assert got[2] is None and got[3] == ""

    def test_nfkc_folds_compatibility(self, spark):
        from tuktu_spark.llm.text import normalize_text

        df = spark.createDataFrame([(1, "ﬁn ①")], "id long, text string")
        got = normalize_text(df, form="NFKC").first()["text"]
        assert got == "fin 1"  # fi ligature + circled-one folded

    def test_bad_form_rejected(self, spark):
        import pytest as _pytest

        from tuktu_spark.llm.text import normalize_text

        df = spark.range(1).selectExpr("'x' AS text")
        with _pytest.raises(ValueError, match="form"):
            normalize_text(df, form="NFX")

    def test_operator_and_zero_shuffles(self, spark, sf_dir):
        from tuktu_spark.operators.registry import make_operator

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = make_operator("normalize_text", {})(d)
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange" not in plan  # scan-pass stage
        assert out.count() == d.count()


class TestSemDeDup:
    """SemDeDup (round 6): cluster-scoped semantic dedup."""

    def test_keep_rule_hand_fixture(self, spark):
        from tuktu_spark.llm.similarity import semdedup

        # two orthogonal clusters; c1: three near-identical vectors,
        # c2: two orthogonal-ish (no dups)
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),   # dup of 1/3
            (3, [0.98, 0.10, 0.0]),    # dup of 1/2, least centroid-similar
            (4, [0.0, 1.0, 0.0]),
            (5, [0.0, 0.0, 1.0]),      # assigned c2 but not a near-dup of 4
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
        out = {r["vec_id"]: (r["cluster_id"], r["keep"])
               for r in semdedup(df, cents, eps=0.01).collect()}
        # vector 3 is the least centroid-similar of the dup set -> kept;
        # 1 and 2 are beaten by it
        assert out[3] == (1, True)
        assert out[1][1] is False and out[2][1] is False
        assert out[4][1] is True and out[5][1] is True

    def test_plan_single_cluster_shuffle_no_cartesian(self, spark, sf_dir):
        from tuktu_spark.llm.similarity import semdedup, train_ivf_centroids

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = train_ivf_centroids(emb, nlist=8)
        plan = semdedup(emb, cents, eps=0.5)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "CartesianProduct" not in plan
        assert "SinglePartition" not in plan

    def test_operator_trains_centroids(self, spark, sf_dir):
        from tuktu_spark.operators.registry import make_operator

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = make_operator("semdedup", {"nlist": 4, "eps": 0.7})(emb)
        rows = out.collect()
        assert len(rows) == emb.count()
        assert {r["cluster_id"] for r in rows} <= set(range(1, 5))
        assert any(r["keep"] for r in rows)


class TestHtmlExtract:
    def _x(self, spark, html):
        from tuktu_spark.llm.text import html_extract_text

        df = spark.createDataFrame([(html,)], "h string")
        return df.select(html_extract_text("h").alias("t")).collect()[0]["t"]

    def test_basic_page(self, spark):
        got = self._x(
            spark,
            "<html><head><style>p{x}</style><script>if(1<2){}</script></head>"
            "<body><h1>Title</h1><p>Hello world</p><div>tail</div></body></html>",
        )
        assert got == "Title Hello world tail"

    def test_script_content_never_leaks(self, spark):
        got = self._x(spark, "<p>a</p><SCRIPT>var SECRET=1;</SCRIPT><p>b</p>")
        assert "SECRET" not in got and got == "a b"

    def test_entity_single_pass(self, spark):
        # &amp;lt; decodes ONE level to the literal string "&lt;"
        got = self._x(spark, "<p>x &amp;lt; y &amp; z &#39;q&#39;</p>")
        assert got == "x &lt; y & z 'q'"

    def test_block_breaks_separate_words(self, spark):
        got = self._x(spark, "<p>one</p><p>two</p><br>three")
        assert got == "one two three"

    def test_unclosed_tag_degrades_gracefully(self, spark):
        got = self._x(spark, "<div><b>bold text</div> after")
        assert got == "bold text after"

    def test_plan_is_pure_codegen(self, spark):
        from tuktu_spark.llm.text import html_extract_text

        df = spark.createDataFrame([("<p>a</p>",)], "h string")
        out = df.select(html_extract_text("h").alias("t"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan


class TestSemanticDecontam:
    def _emb(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0]),   # eval
            (2, [0.99, 0.14, 0.0]), # paraphrase of 1 (cos ~0.99)
            (3, [0.0, 1.0, 0.0]),   # clean
            (4, [0.0, 0.0, 1.0]),   # clean
            (5, [-1.0, 0.0, 0.0]),  # opposite — cos = -1, clean
        ]
        return spark.createDataFrame(rows, "doc_id long, embedding array<double>")

    def test_drops_near_eval_keeps_rest(self, spark):
        from tuktu_spark.llm.decontaminate import semantic_decontaminate

        emb = self._emb(spark)
        ev = emb.filter(F.col("doc_id") == 1)
        kept = sorted(
            r["doc_id"]
            for r in semantic_decontaminate(emb, ev, threshold=0.9).collect()
        )
        assert kept == [3, 4, 5]  # 1 is its own match, 2 is the paraphrase

    def test_report_counts_and_max_cos(self, spark):
        from tuktu_spark.llm.decontaminate import semantic_decontaminate

        emb = self._emb(spark)
        ev = emb.filter(F.col("doc_id").isin(1, 3))
        rep = {
            r["doc_id"]: (r["n_eval_hits"], round(r["max_cos"], 6))
            for r in semantic_decontaminate(
                emb, ev, threshold=0.9, report=True
            ).collect()
        }
        assert rep[1] == (1, 1.0) and rep[3] == (1, 1.0)
        assert rep[2][0] == 1 and rep[2][1] > 0.98
        assert 4 not in rep and 5 not in rep

    def test_eval_side_broadcasts(self, spark):
        from tuktu_spark.llm.decontaminate import semantic_decontaminate

        emb = self._emb(spark)
        ev = emb.filter(F.col("doc_id") == 1)
        out = semantic_decontaminate(emb, ev, threshold=0.9)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan and "SortMergeJoin" not in plan


class TestResizeNearest:
    def test_identity_resize(self, spark):
        from tuktu_spark.llm.multimodal import (
            decode_png_pixels,
            make_png,
            resize_nearest,
        )

        png = make_png(4, 3, gradient=(10, 3, 7), filters=[0, 1, 2, 3, 4])
        w, h, c, pix = decode_png_pixels(png)
        assert (w, h, c) == (4, 3, 1)
        assert resize_nearest(pix, w, h, c, 4, 3) == (4, 3, 1, pix)

    def test_downsample_coordinates(self, spark):
        from tuktu_spark.llm.multimodal import resize_nearest

        # 4x2 grayscale grid with value = 10*y + x
        pix = bytes([0, 1, 2, 3, 10, 11, 12, 13])
        _, _, _, out = resize_nearest(pix, 4, 2, 1, 2, 1)
        # out(x,0) = in((x*4)//2, 0) -> x=0 -> in(0,0)=0 ; x=1 -> in(2,0)=2
        assert list(out) == [0, 2]

    def test_upsample_replicates(self, spark):
        from tuktu_spark.llm.multimodal import resize_nearest

        pix = bytes([5, 9])  # 2x1
        _, _, _, out = resize_nearest(pix, 2, 1, 1, 4, 2)
        # src_x for x=0..3: 0,0,1,1 ; both rows identical
        assert list(out) == [5, 5, 9, 9, 5, 5, 9, 9]

    def test_rgb_channels_kept_together(self, spark):
        from tuktu_spark.llm.multimodal import resize_nearest

        pix = bytes([1, 2, 3, 4, 5, 6])  # 2x1 RGB
        _, _, _, out = resize_nearest(pix, 2, 1, 3, 1, 1)
        assert list(out) == [1, 2, 3]

    def test_gradient_png_roundtrip(self, spark):
        from tuktu_spark.llm.multimodal import decode_png_pixels, make_png

        png = make_png(5, 4, gradient=(100, 3, 7), filters=[0, 1, 2, 3, 4])
        w, h, c, pix = decode_png_pixels(png)
        want = bytes((100 + 3 * x + 7 * y) % 256 for y in range(4) for x in range(5))
        assert (w, h, c) == (5, 4, 1) and pix == want

    def test_invalid_dims(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import resize_nearest

        with pytest.raises(ValueError):
            resize_nearest(b"\x00", 1, 1, 1, 0, 1)


class TestAudioResample:
    def test_identity(self, spark):
        from tuktu_spark.llm.multimodal import resample_nearest_audio

        s = [1, 2, 3, 4]
        assert resample_nearest_audio(s, 1, 4) == s

    def test_downsample_indices(self, spark):
        from tuktu_spark.llm.multimodal import resample_nearest_audio

        s = [10, 11, 12, 13, 14, 15]  # 6 frames mono
        # src for j=0..2: (j*6)//3 = 0,2,4
        assert resample_nearest_audio(s, 1, 3) == [10, 12, 14]

    def test_upsample_replicates_frames(self, spark):
        from tuktu_spark.llm.multimodal import resample_nearest_audio

        s = [7, -7]  # 2 frames mono
        assert resample_nearest_audio(s, 1, 4) == [7, 7, -7, -7]

    def test_stereo_frames_stay_paired(self, spark):
        from tuktu_spark.llm.multimodal import resample_nearest_audio

        s = [1, 2, 3, 4, 5, 6]  # 3 stereo frames (L,R)
        # src frames for n_out=2: 0, 1
        assert resample_nearest_audio(s, 2, 2) == [1, 2, 3, 4]

    def test_wav_roundtrip_resample(self, spark):
        from tuktu_spark.llm.multimodal import (
            decode_wav_samples,
            make_wav,
            resample_nearest_audio,
        )

        wav = make_wav(8000, 2, n_samples=10, square=(100, 4))
        rate, ch, samples = decode_wav_samples(wav)
        out = resample_nearest_audio(samples, ch, 5)
        # src frames: (j*10)//5 = 0,2,4,6,8 -> phases j%4 = 0,2,0,2,0
        want_frames = [100, -100, 100, -100, 100]
        assert out == [v for f in want_frames for v in (f, f)]

    def test_invalid_params(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import resample_nearest_audio

        with pytest.raises(ValueError):
            resample_nearest_audio([1], 1, 0)
        assert resample_nearest_audio([], 1, 3) == []


class TestCrop:
    def test_crop_window_values(self, spark):
        from tuktu_spark.llm.multimodal import crop_pixels

        # 4x3 grid value = 10*y + x
        pix = bytes(10 * y + x for y in range(3) for x in range(4))
        cw, ch, c, out = crop_pixels(pix, 4, 3, 1, 1, 1, 2, 2)
        assert (cw, ch, c) == (2, 2, 1)
        assert list(out) == [11, 12, 21, 22]

    def test_out_of_bounds_raises(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import crop_pixels

        pix = bytes(4)
        with pytest.raises(ValueError):
            crop_pixels(pix, 2, 2, 1, 1, 1, 2, 2)

    def test_seeded_offset_deterministic_and_in_range(self, spark):
        from tuktu_spark.llm.multimodal import seeded_crop_offset

        for i in range(50):
            x0, y0 = seeded_crop_offset(i, 10, 8, 4, 2)
            assert (x0, y0) == seeded_crop_offset(i, 10, 8, 4, 2)
            assert 0 <= x0 <= 6 and 0 <= y0 <= 6
        # different seed moves at least one window
        assert any(
            seeded_crop_offset(i, 10, 8, 4, 2, "a")
            != seeded_crop_offset(i, 10, 8, 4, 2, "b")
            for i in range(50)
        )


class TestGifCodec:
    def test_roundtrip_small_and_large(self, spark):
        from tuktu_spark.llm.multimodal import decode_gif_pixels, make_gif

        for w, h in ((1, 1), (7, 5), (40, 30)):  # 40x30 forces CLEAR resets
            g = make_gif(w, h, gradient=(11, 3, 7))
            gw, gh, c, rgb = decode_gif_pixels(g)
            want = bytearray()
            for y in range(h):
                for x in range(w):
                    v = (11 + 3 * x + 7 * y) % 256
                    want += bytes([v, (2 * v) % 256, (3 * v) % 256])
            assert (gw, gh, c) == (w, h, 3) and rgb == bytes(want)

    def test_general_lzw_kwkwk_case(self, spark):
        from tuktu_spark.llm.multimodal import _lzw_decode

        # min_size=2: CLEAR=4 END=5; stream 4,1,6,5 — code 6 == next_code
        # is the KwKwK case -> [1,1]; total output [1,1,1]
        assert _lzw_decode(2, bytes([140, 11])) == [1, 1, 1]

    def test_decode_pixels_dispatches_gif(self, spark):
        from tuktu_spark.llm.multimodal import decode_pixels, make_gif

        w, h, c, rgb = decode_pixels(make_gif(4, 3, gradient=(0, 1, 1)))
        assert (w, h, c) == (4, 3, 3) and len(rgb) == 36

    def test_interlaced_roundtrip_exact(self, spark):
        from tuktu_spark.llm.multimodal import decode_gif_pixels, make_gif

        # 4-pass interlace: stored row order scatters back exactly
        for w, h in ((1, 1), (7, 5), (16, 13), (40, 30)):
            plain = decode_gif_pixels(make_gif(w, h, gradient=(11, 3, 7)))
            inter = decode_gif_pixels(
                make_gif(w, h, gradient=(11, 3, 7), interlaced=True)
            )
            assert plain == inter

    def test_interlace_row_order_is_specd(self, spark):
        from tuktu_spark.llm.multimodal import gif_interlace_rows

        assert gif_interlace_rows(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
        assert sorted(gif_interlace_rows(30)) == list(range(30))

    def test_gif89a_accepted(self, spark):
        from tuktu_spark.llm.multimodal import decode_gif_pixels, make_gif

        g = b"GIF89a" + make_gif(3, 2)[6:]
        w, h, c, _ = decode_gif_pixels(g)
        assert (w, h, c) == (3, 2, 3)


class TestBmpCodec:
    def test_roundtrip_with_padding(self, spark):
        from tuktu_spark.llm.multimodal import decode_bmp_pixels, make_bmp

        for w, h in ((1, 1), (5, 4), (3, 7)):  # w=5,3 -> padded rows
            bmp = make_bmp(w, h, gradient=(9, 3, 7))
            gw, gh, c, rgb = decode_bmp_pixels(bmp)
            want = bytearray()
            for y in range(h):
                for x in range(w):
                    v = (9 + 3 * x + 7 * y) % 256
                    want += bytes([v, (2 * v) % 256, (3 * v) % 256])
            assert (gw, gh, c) == (w, h, 3) and rgb == bytes(want)

    def test_row_order_is_top_down(self, spark):
        from tuktu_spark.llm.multimodal import decode_bmp_pixels, make_bmp

        # dy=1: first decoded row must be y=0 (value seed), not y=h-1
        _, _, _, rgb = decode_bmp_pixels(make_bmp(1, 3, gradient=(50, 0, 1)))
        assert rgb[0] == 50 and rgb[3] == 51 and rgb[6] == 52

    def test_unsupported_depth_raises_seam(self, spark):
        import struct as st

        import pytest

        from tuktu_spark.llm.multimodal import decode_bmp_pixels, make_bmp

        bmp = bytearray(make_bmp(2, 2))
        bmp[28:30] = st.pack("<H", 8)  # 8bpp
        with pytest.raises(NotImplementedError):
            decode_bmp_pixels(bytes(bmp))

    def test_decode_pixels_dispatches_bmp(self, spark):
        from tuktu_spark.llm.multimodal import decode_pixels, make_bmp

        w, h, c, rgb = decode_pixels(make_bmp(4, 2))
        assert (w, h, c) == (4, 2, 3) and len(rgb) == 24


def _dhash_of(png: bytes) -> tuple[int, int]:
    from tuktu_spark.llm.multimodal import decode_pixels, dhash_bits

    w, h, c, pix = decode_pixels(png)
    return dhash_bits(pix, w, h, c)


class TestImageDhash:
    def test_identical_images_identical_hash(self, spark):
        from tuktu_spark.llm.multimodal import make_png

        assert _dhash_of(make_png(12, 9, gradient=(7, 3, 5))) == _dhash_of(
            make_png(12, 9, gradient=(7, 3, 5))
        )

    def test_hash_halves_are_32bit_nonnegative(self, spark):
        from tuktu_spark.llm.multimodal import make_png

        for i in range(20):
            hi, lo = _dhash_of(
                make_png(3 + i % 14, 2 + i % 9, gradient=(i * 11 % 256, 3, 7))
            )
            assert 0 <= hi < (1 << 32) and 0 <= lo < (1 << 32)

    def test_near_identical_images_small_hamming(self, spark):
        from tuktu_spark.llm.multimodal import make_png

        # steps of 48/96 wrap mod 256, so gradient-sign bits carry real
        # structure (small-step ramps never wrap -> all-ones hashes)
        base = _dhash_of(make_png(20, 16, gradient=(50, 48, 96)))
        near = _dhash_of(make_png(20, 16, gradient=(51, 48, 96)))
        far = _dhash_of(make_png(20, 16, gradient=(50, 96, 48)))
        d_near = bin(base[0] ^ near[0]).count("1") + bin(base[1] ^ near[1]).count("1")
        d_far = bin(base[0] ^ far[0]).count("1") + bin(base[1] ^ far[1]).count("1")
        assert d_near <= 6 < d_far

    def test_near_pairs_finds_planted_dups(self, spark):
        from tuktu_spark.llm.multimodal import (
            image_dhash_near_pairs,
            image_dhash_table,
            make_png,
        )

        rows = []
        for i in range(12):
            seed = (i % 6) * 37  # docs i and i+6 are identical images
            rows.append(
                (i, bytearray(make_png(10, 8, gradient=(seed, 48, 96))))
            )
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        hashes = image_dhash_table(df, "doc_id")
        pairs = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in image_dhash_near_pairs(hashes, max_hamming=0).collect()
        }
        assert pairs == {(i, i + 6, 0) for i in range(6)}


class TestAviVideo:
    def test_dib_roundtrip_exact(self, spark):
        from tuktu_spark.llm.multimodal import decode_avi_frames, make_avi

        for w, h, n in ((1, 1, 1), (5, 4, 3), (3, 7, 2)):  # w=5,3 -> padded rows
            avi = make_avi(w, h, n, codec="DIB ", gradient=(9, 3, 7, 11))
            gw, gh, frames = decode_avi_frames(avi)
            assert (gw, gh, len(frames)) == (w, h, n)
            for t, rgb in enumerate(frames):
                want = bytearray()
                for y in range(h):
                    for x in range(w):
                        v = (9 + 3 * x + 7 * y + 11 * t) % 256
                        want += bytes([v, (2 * v) % 256, (3 * v) % 256])
                assert rgb == bytes(want)

    def test_probe_media_parses_avi(self, spark):
        from tuktu_spark.llm.multimodal import make_avi, probe_media

        info = probe_media(make_avi(6, 4, 5, fps=10))
        assert info["format"] == "avi"
        assert (info["width"], info["height"], info["n_frames"]) == (6, 4, 5)
        assert info["duration_ms"] == 500

    def test_mjpg_frames_match_direct_jpeg_decode(self, spark):
        from tuktu_spark.llm.jpeg import decode_jpeg_pixels, make_jpeg
        from tuktu_spark.llm.multimodal import decode_avi_frames, make_avi

        avi = make_avi(8, 8, 2, codec="MJPG", gradient=(100, 0, 0, 50))
        w, h, frames = decode_avi_frames(avi)
        assert (w, h, len(frames)) == (8, 8, 2)
        for t, shade in enumerate((100, 150)):
            _, _, c, pix = decode_jpeg_pixels(make_jpeg(8, 8, shade=shade))
            assert c == 1
            assert frames[t] == bytes(b for p in pix for b in (p, p, p))

    def test_truncated_dib_frame_raises_seam(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import decode_avi_frames, make_avi

        avi = make_avi(4, 3, 1)
        with pytest.raises(NotImplementedError):
            decode_avi_frames(avi[:-8])  # cut into the last frame chunk

    def test_foreign_codec_raises_seam(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import decode_avi_frames, make_avi

        avi = bytearray(make_avi(4, 3, 1, codec="MJPG"))
        # an H.264-style stream: same chunk ids, non-JPEG sample bytes
        i = avi.find(b"00dc")
        avi[i + 8 : i + 12] = b"\x00\x00\x00\x01"  # NAL start code, not SOI
        with pytest.raises(NotImplementedError):
            decode_avi_frames(bytes(avi))

    def test_frame_stats_table_distributed(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        def synth(ids):
            return ids.map(
                lambda i: MM.make_avi(3, 2, 1 + int(i) % 2, gradient=(int(i), 1, 2, 3))
            )

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        df = spark.range(6).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("media"),
        )
        out = MM.video_frame_stats_table(df, "doc_id").collect()
        # ids 1,3,5 carry 2 frames; 0,2,4 carry 1 -> 9 rows
        assert len(out) == 9
        by_key = {(r["id"], r["frame_idx"]): r for r in out}
        for (i, t), r in by_key.items():
            ps = sum(
                v + (2 * v) % 256 + (3 * v) % 256
                for y in range(2)
                for x in range(3)
                for v in [(i + x + 2 * y + 3 * t) % 256]
            )
            assert (r["width"], r["height"], r["channels"]) == (3, 2, 3)
            assert r["pixel_sum"] == ps


class TestAudioFingerprint:
    def test_bits_match_manual_energy_deltas(self, spark):
        from tuktu_spark.llm.multimodal import (
            audio_fingerprint_bits, decode_wav_samples, make_wav,
        )

        wav = make_wav(n_samples=300, ramp=(7, 512))
        _, ch, s = decode_wav_samples(wav)
        hi, lo = audio_fingerprint_bits(s, ch)
        L = len(s) // 65
        e = [sum(x * x for x in s[t * L : (t + 1) * L]) for t in range(65)]
        want_hi = want_lo = 0
        for k in range(64):
            if e[k + 1] > e[k]:
                if k < 32:
                    want_hi |= 1 << k
                else:
                    want_lo |= 1 << (k % 32)
        assert (hi, lo) == (want_hi, want_lo)
        assert 0 <= hi < 2**32 and 0 <= lo < 2**32

    def test_stereo_uses_channel_zero(self, spark):
        from tuktu_spark.llm.multimodal import (
            audio_fingerprint_bits, decode_wav_samples, make_wav,
        )

        mono = make_wav(channels=1, n_samples=260, ramp=(5, 256))
        stereo = make_wav(channels=2, n_samples=260, ramp=(5, 256))
        _, c1, s1 = decode_wav_samples(mono)
        _, c2, s2 = decode_wav_samples(stereo)
        assert audio_fingerprint_bits(s1, c1) == audio_fingerprint_bits(s2, c2)

    def test_too_short_raises(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import audio_fingerprint_bits

        with pytest.raises(ValueError):
            audio_fingerprint_bits([1] * 10, 1)

    def test_near_pair_recovery_distributed(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        # ids 0 and 100 get IDENTICAL waveforms; others differ strongly
        def synth(ids):
            def mk(i):
                i = int(i)
                key = 0 if i in (0, 100) else i
                return MM.make_wav(
                    n_samples=325, ramp=(3 + key % 11, 200 + 16 * (key % 20))
                )

            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        df = spark.createDataFrame(
            [(i,) for i in (0, 3, 7, 100)], "doc_id bigint"
        ).select(
            "doc_id", pandas_udf("binary")(synth)(F.col("doc_id")).alias("media")
        )
        fps = MM.audio_fingerprint_table(df, "doc_id")
        pairs = MM.audio_fingerprint_near_pairs(fps, max_hamming=0).collect()
        assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(0, 100, 0)]

    def test_features_table_matches_manual(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        def synth(ids):
            return ids.map(
                lambda i: MM.make_wav(
                    channels=1 + int(i) % 2,
                    n_samples=260 + int(i) * 13,
                    ramp=(3 + int(i), 128 + 32 * int(i)),
                )
            )

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        df = spark.range(4).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("media"),
        )
        out = {r["id"]: r for r in MM.audio_features_table(df, "doc_id").collect()}
        for i in range(4):
            n = 260 + i * 13
            step, md = 3 + i, 128 + 32 * i
            mono = [(j * step) % md - md // 2 for j in range(n)]
            zcr = sum(
                1 for j in range(1, n) if (mono[j - 1] < 0) != (mono[j] < 0)
            )
            L = n // 16
            e = [sum(x * x for x in mono[t * L : (t + 1) * L]) for t in range(16)]
            loudest = max(range(16), key=lambda t: e[t])
            r = out[i]
            assert r["n_mono"] == n and r["zcr"] == zcr
            assert r["peak_abs"] == max(abs(x) for x in mono)
            assert r["loudest_frame"] == loudest
            assert r["loudest_energy"] == e[loudest]


class TestVideoSceneCuts:
    def test_frame_dhash_and_cuts_distributed(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        def synth(ids):
            def mk(i):
                i = int(i)
                n = 6
                grads = [
                    (i % 256, 3 if (t // 2) % 2 == 0 else 253, 7)
                    for t in range(n)
                ]
                return MM.make_avi(5, 4, n, frame_gradients=grads)

            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        df = spark.range(3).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("media"),
        )
        hashes = MM.video_frame_dhash_table(df, "doc_id")
        cuts = MM.video_scene_cuts(hashes, threshold=8).collect()
        # 6 frames -> 5 deltas per video; scene flips at t=2 and t=4
        assert len(cuts) == 15
        for r in cuts:
            expect_cut = r["frame_idx"] in (2, 4)
            assert r["is_cut"] == expect_cut, r
            if not expect_cut:
                assert r["hamming"] == 0

    def test_frame_dhash_matches_single_image(self, spark):
        from tuktu_spark.llm.multimodal import (
            decode_avi_frames, dhash_bits, make_avi,
        )

        avi = make_avi(7, 5, 3, gradient=(20, 3, 7, 11))
        w, h, frames = decode_avi_frames(avi)
        for t, rgb in enumerate(frames):
            hi, lo = dhash_bits(rgb, w, h, 3)
            assert 0 <= hi < 2**32 and 0 <= lo < 2**32


class TestMjpegFrames:
    def test_partial_mcu_even_shades_decode_exact(self, spark):
        from tuktu_spark.llm.multimodal import decode_avi_frames, make_avi

        shades = [0, 128, 254]
        avi = make_avi(5, 4, 3, codec="MJPG", frame_shades=shades)
        w, h, frames = decode_avi_frames(avi)
        assert (w, h) == (5, 4)
        for shade, rgb in zip(shades, frames):
            assert set(rgb) == {shade}
            assert len(rgb) == 5 * 4 * 3


class TestMp4Samples:
    def test_multi_chunk_roundtrip_exact(self, spark):
        from tuktu_spark.llm.multimodal import decode_mp4_samples, make_mp4_mjpeg

        shades = [0, 50, 100, 150, 200, 254, 12]
        for spc in (None, 2, 3, 5):
            mp4 = make_mp4_mjpeg(6, 5, shades, samples_per_chunk=spc)
            w, h, frames = decode_mp4_samples(mp4)
            assert (w, h, len(frames)) == (6, 5, 7)
            for s, f in zip(shades, frames):
                assert set(f) == {s} and len(f) == 6 * 5 * 3

    def test_probe_media_still_parses(self, spark):
        from tuktu_spark.llm.multimodal import make_mp4_mjpeg, probe_media

        info = probe_media(make_mp4_mjpeg(6, 5, [10, 20, 30]))
        assert info["format"] == "mp4"
        assert (info["width"], info["height"]) == (6, 5)
        assert info["duration_ms"] == 300

    def test_foreign_codec_raises_seam(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import decode_mp4_samples, make_mp4_mjpeg

        mp4 = bytearray(make_mp4_mjpeg(4, 4, [10]))
        i = mp4.find(b"jpeg", 20)
        mp4[i : i + 4] = b"avc1"
        with pytest.raises(NotImplementedError):
            decode_mp4_samples(bytes(mp4))

    def test_header_only_mp4_raises_seam(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import decode_mp4_samples, make_mp4

        with pytest.raises(NotImplementedError):
            decode_mp4_samples(make_mp4(640, 360, 5000))

    def test_video_dispatch_covers_both_containers(self, spark):
        from tuktu_spark.llm.multimodal import (
            decode_video_frames, make_avi, make_mp4_mjpeg,
        )

        w1, h1, f1 = decode_video_frames(make_avi(4, 3, 2))
        w2, h2, f2 = decode_video_frames(make_mp4_mjpeg(4, 3, [10, 20]))
        assert (w1, h1, len(f1)) == (4, 3, 2)
        assert (w2, h2, len(f2)) == (4, 3, 2)


class TestMp4Timestamps:
    def test_variable_deltas_rle_expansion(self, spark):
        from tuktu_spark.llm.multimodal import make_mp4_mjpeg, mp4_sample_timestamps

        deltas = [40, 60, 80, 40, 60]
        mp4 = make_mp4_mjpeg(4, 4, [10] * 5, frame_deltas=deltas)
        assert mp4_sample_timestamps(mp4) == [0, 40, 100, 180, 220]

    def test_constant_deltas_single_run(self, spark):
        from tuktu_spark.llm.multimodal import make_mp4_mjpeg, mp4_sample_timestamps

        mp4 = make_mp4_mjpeg(4, 4, [10, 12, 14])
        # constant 100 ms deltas RLE to one run
        assert mp4.count(b"stts") == 1
        assert mp4_sample_timestamps(mp4) == [0, 100, 200]

    def test_header_only_raises_seam(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import make_mp4, mp4_sample_timestamps

        with pytest.raises(NotImplementedError):
            mp4_sample_timestamps(make_mp4(640, 360, 5000))


class TestIndexedPng:
    def test_roundtrip_exact_all_filters(self, spark):
        from tuktu_spark.llm.multimodal import decode_pixels, make_png

        png = make_png(
            5, 4, gradient=(9, 3, 7), filters=[0, 1, 2, 3, 4], indexed=True
        )
        w, h, c, rgb = decode_pixels(png)
        assert (w, h, c) == (5, 4, 3)
        want = bytearray()
        for y in range(4):
            for x in range(5):
                v = (9 + 3 * x + 7 * y) % 256
                want += bytes([v, (2 * v) % 256, (3 * v) % 256])
        assert rgb == bytes(want)

    def test_missing_plte_raises_seam(self, spark):
        import struct as st
        import zlib

        import pytest

        from tuktu_spark.llm.multimodal import decode_png_pixels, make_png

        png = bytearray(make_png(4, 3, indexed=True, gradient=(0, 1, 1)))
        # excise the PLTE chunk (12-byte framing + 768-byte payload)
        i = png.find(b"PLTE") - 4
        ln = st.unpack(">I", png[i : i + 4])[0]
        del png[i : i + 12 + ln]
        with pytest.raises(NotImplementedError):
            decode_png_pixels(bytes(png))

    def test_out_of_range_index_raises(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import decode_pixels, make_png

        png = bytearray(make_png(2, 2, indexed=True, gradient=(250, 1, 1)))
        # shrink the palette to 16 entries: indices 250.. overflow it
        import struct as st
        import zlib

        i = png.find(b"PLTE") - 4
        ln = st.unpack(">I", png[i : i + 4])[0]
        payload = bytes(png[i + 8 : i + 8 + 48])  # 16 entries
        new = (
            st.pack(">I", 48) + b"PLTE" + payload
            + st.pack(">I", zlib.crc32(b"PLTE" + payload) & 0xFFFFFFFF)
        )
        png[i : i + 12 + ln] = new
        with pytest.raises(NotImplementedError):  # ValueError -> seam map
            decode_pixels(bytes(png))


class TestWav8Bit:
    def test_8bit_roundtrip_matches_16bit_waveform(self, spark):
        from tuktu_spark.llm.multimodal import decode_wav_samples, make_wav

        w8 = make_wav(n_samples=300, bits=8, ramp=(3, 200))
        w16 = make_wav(n_samples=300, bits=16, ramp=(3, 200))
        r8, c8, s8 = decode_wav_samples(w8)
        _, _, s16 = decode_wav_samples(w16)
        assert s8 == s16 == [(i * 3) % 200 - 100 for i in range(300)]

    def test_8bit_silence_is_centered(self, spark):
        from tuktu_spark.llm.multimodal import decode_wav_samples, make_wav

        _, _, s = decode_wav_samples(make_wav(n_samples=10, bits=8))
        assert s == [0] * 10  # stored as 0x80, decoded centered

    def test_fingerprint_agnostic_to_width(self, spark):
        from tuktu_spark.llm.multimodal import (
            audio_fingerprint_bits, decode_wav_samples, make_wav,
        )

        # small amplitudes fit both widths: identical fingerprints
        f = []
        for bits in (8, 16):
            _, ch, s = decode_wav_samples(
                make_wav(n_samples=325, bits=bits, ramp=(3, 200))
            )
            f.append(audio_fingerprint_bits(s, ch))
        assert f[0] == f[1]

    def test_other_widths_raise_seam(self, spark):
        import struct as st

        import pytest

        from tuktu_spark.llm.multimodal import decode_wav_samples, make_wav

        w = bytearray(make_wav(n_samples=10))
        i = w.find(b"fmt ")
        w[i + 22 : i + 24] = st.pack("<H", 24)  # claim 24-bit
        with pytest.raises(NotImplementedError):
            decode_wav_samples(bytes(w))


class TestGifLocalPalette:
    def _to_local(self, g: bytes) -> bytes:
        hdr = bytearray(g[:13])
        gct, rest = g[13 : 13 + 768], g[13 + 768 :]
        hdr[10] &= 0x7F  # clear the GCT flag
        desc = bytearray(rest[:10])
        desc[9] |= 0x87  # LCT present, 256 entries
        return bytes(hdr) + bytes(desc) + gct + rest[10:]

    def test_local_table_decodes_identically(self, spark):
        from tuktu_spark.llm.multimodal import decode_gif_pixels, make_gif

        g = make_gif(5, 4, gradient=(9, 3, 7))
        assert decode_gif_pixels(self._to_local(g)) == decode_gif_pixels(g)

    def test_no_palette_at_all_raises_seam(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import decode_gif_pixels, make_gif

        g = make_gif(4, 3)
        hdr = bytearray(g[:13])
        hdr[10] &= 0x7F
        with pytest.raises(NotImplementedError):
            decode_gif_pixels(bytes(hdr) + g[13 + 768 :])


class TestLumaHistogram:
    def test_histogram_matches_manual_and_flat_signal(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        # id 0: flat image (one bin gets everything); id 1: gradient
        def synth(ids):
            def mk(i):
                if int(i) == 0:
                    return MM.make_png(6, 5, shade=100)
                return MM.make_png(6, 5, gradient=(0, 50, 90))

            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        df = spark.range(2).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("media"),
        )
        rows = MM.image_luma_histogram_table(df, "doc_id").collect()
        flat = [r for r in rows if r["id"] == 0]
        assert len(flat) == 1 and flat[0]["n"] == 30  # all pixels, one bin
        assert flat[0]["bin"] == (4 * 100) // 64
        grad = {(r["bin"]): r["n"] for r in rows if r["id"] == 1}
        manual: dict[int, int] = {}
        for y in range(5):
            for x in range(6):
                v = (50 * x + 90 * y) % 256
                b = 4 * v // 64
                manual[b] = manual.get(b, 0) + 1
        assert grad == manual


class TestCodecCorruptionContracts:
    def test_corrupt_stsz_count_maps_to_seam(self, spark):
        import struct as st

        import pytest

        from tuktu_spark.llm.multimodal import decode_mp4_samples, make_mp4_mjpeg

        mp4 = bytearray(make_mp4_mjpeg(4, 4, [10, 20]))
        i = mp4.find(b"stsz")
        mp4[i + 8 : i + 12] = st.pack(">I", 0)
        mp4[i + 12 : i + 16] = st.pack(">I", 1 << 30)  # memory-bomb count
        with pytest.raises(NotImplementedError):
            decode_mp4_samples(bytes(mp4))

    def test_corrupt_stts_count_maps_to_seam(self, spark):
        import struct as st

        import pytest

        from tuktu_spark.llm.multimodal import make_mp4_mjpeg, mp4_sample_timestamps

        mp4 = bytearray(make_mp4_mjpeg(4, 4, [10]))
        i = mp4.find(b"stts")
        mp4[i + 12 : i + 16] = st.pack(">I", 1 << 29)  # run count bomb
        with pytest.raises(NotImplementedError):
            mp4_sample_timestamps(bytes(mp4))

    def test_gif_short_local_palette_index_overflow(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import decode_gif_pixels, decode_pixels, make_gif

        g = make_gif(4, 3, gradient=(250, 1, 1))
        hdr = bytearray(g[:13])
        gct, rest = g[13 : 13 + 768], g[13 + 768 :]
        hdr[10] &= 0x7F
        desc = bytearray(rest[:10])
        desc[9] |= 0x80  # local table, 2 entries
        local = bytes(hdr) + bytes(desc) + gct[:6] + rest[10:]
        with pytest.raises(ValueError):
            decode_gif_pixels(local)
        # ...and the unified dispatch maps it to the documented seam
        with pytest.raises(NotImplementedError):
            decode_pixels(local)


class TestWebDatasetShards:
    def test_untar_and_group_end_to_end(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        def synth(ids):
            def mk(i):
                return MM.make_tar_shard(
                    [
                        ("000000.png", MM.make_png(4, 3)),
                        ("000000.txt", b"caption zero"),
                        ("sub/000001.png", MM.make_png(2, 2)),
                        ("sub/000001.seg.json", b"{}"),
                    ]
                )

            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        df = spark.range(2).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("shard"),
        )
        members = MM.untar_members_table(df, "doc_id", "shard")
        rows = members.collect()
        assert len(rows) == 8
        # directory prefix stripped; multi-dot ext preserved after key
        exts = {(r["key"], r["ext"]) for r in rows if r["shard_id"] == 0}
        assert exts == {
            ("000000", "png"), ("000000", "txt"),
            ("000001", "png"), ("000001", "seg.json"),
        }
        samples = MM.webdataset_samples(members).collect()
        assert len(samples) == 4  # 2 shards x 2 keys
        s0 = next(s for s in samples if s["shard_id"] == 0 and s["key"] == "000000")
        assert s0["n_parts"] == 2
        assert bytes(s0["parts"]["txt"]) == b"caption zero"
        # the png member decodes through the real pipeline
        w, h, c, _ = MM.decode_pixels(bytes(s0["parts"]["png"]))
        assert (w, h) == (4, 3)

    def test_determinism_and_corrupt_seam(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import make_tar_shard

        a = make_tar_shard([("k.txt", b"v")])
        b = make_tar_shard([("k.txt", b"v")])
        assert a == b  # zeroed metadata -> content-hash friendly

        import io
        import tarfile

        with pytest.raises(tarfile.TarError):
            tarfile.open(fileobj=io.BytesIO(b"not a tar"), mode="r:*")


class TestPackTarShards:
    def _samples(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        def synth(ids):
            def mk(i):
                i = int(i)
                return MM.make_tar_shard(
                    [
                        (f"{i:04d}a.bin", bytes((i + j) % 256 for j in range(20 + i))),
                        (f"{i:04d}a.txt", b"t" * (5 + i)),
                        (f"{i:04d}b.bin", bytes(10)),
                        (f"{i:04d}b.txt", b"u" * 3),
                    ]
                )

            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        shards = spark.range(6).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("shard"),
        )
        return MM.webdataset_samples(
            MM.untar_members_table(shards, "doc_id", "shard")
        )

    def test_roundtrip_and_byte_determinism(self, spark):
        from tuktu_spark.llm import multimodal as MM

        samples = self._samples(spark).cache()
        packed = MM.pack_tar_shards(samples, n_shards=3)
        rows = packed.collect()
        assert sum(r["n_samples"] for r in rows) == 12
        # untar the packed shards: sample maps identical to the input
        re = spark.createDataFrame(
            [(r["shard_idx"], bytes(r["shard"])) for r in rows],
            "doc_id long, shard binary",
        )
        s2 = MM.webdataset_samples(MM.untar_members_table(re, "doc_id", "shard"))
        key = lambda df: {
            r["key"]: {e: bytes(b) for e, b in r["parts"].items()}
            for r in df.collect()
        }
        assert key(samples) == key(s2)
        # byte determinism under a different input partitioning
        m2 = {
            r["shard_idx"]: bytes(r["shard"])
            for r in MM.pack_tar_shards(samples.repartition(7), n_shards=3).collect()
        }
        assert {r["shard_idx"]: bytes(r["shard"]) for r in rows} == m2


class TestStripMetadata:
    def test_png_strip_is_exact_inverse(self, spark):
        from tuktu_spark.llm.multimodal import (
            decode_pixels, make_png, strip_media_metadata,
        )

        plain = make_png(4, 3, gradient=(5, 3, 7))
        tagged = make_png(
            4, 3, gradient=(5, 3, 7),
            text_chunks=[("Author", "x" * 20), ("GPS", "y" * 7)],
        )
        stripped, n, blen = strip_media_metadata(tagged)
        assert stripped == plain  # byte-identical to never-tagged
        assert n == 2 and blen == (12 + 6 + 1 + 20) + (12 + 3 + 1 + 7)
        assert decode_pixels(stripped) == decode_pixels(tagged)

    def test_jpeg_strip_preserves_pixels(self, spark):
        from tuktu_spark.llm.jpeg import decode_jpeg_pixels, make_jpeg
        from tuktu_spark.llm.multimodal import strip_media_metadata

        j = make_jpeg(9, 5, shade=100)
        sj, n, blen = strip_media_metadata(j)
        assert n == 1 and blen == 18  # APP0 JFIF
        assert decode_jpeg_pixels(sj) == decode_jpeg_pixels(j)

    def test_idempotent(self, spark):
        from tuktu_spark.llm.multimodal import make_png, strip_media_metadata

        tagged = make_png(4, 3, text_chunks=[("k", "v")])
        once, _, _ = strip_media_metadata(tagged)
        twice, n, blen = strip_media_metadata(once)
        assert twice == once and n == 0 and blen == 0

    def test_unsupported_container_raises(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import make_gif, strip_media_metadata

        with pytest.raises(NotImplementedError):
            strip_media_metadata(make_gif(4, 3))


class TestImageDecontaminate:
    def test_drops_exact_and_near_eval_matches(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        # corpus: ids 0/3 share eval image 0's signature family; 1 is a
        # strongly brightness-shifted copy (dHash is shift-invariant,
        # hamming 0); 2 is a different gradient direction
        def synth(ids):
            def mk(i):
                i = int(i)
                if i == 1:
                    return MM.make_png(7, 6, gradient=(200, 3, 7))
                dx = 3 if i in (0, 3) else 253
                return MM.make_png(7, 6, gradient=(40 + i, dx, 7))

            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        corpus = spark.range(4).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("media"),
        )

        def esynth(ids):
            return ids.map(lambda e: MM.make_png(7, 6, gradient=(40, 3, 7)))

        esynth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        eval_media = spark.range(1).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(esynth)(F.col("id")).alias("media"),
        )
        kept = sorted(
            r["doc_id"]
            for r in MM.image_decontaminate(
                corpus, eval_media, max_hamming=2
            ).collect()
        )
        # 0, 1 and 3 are brightness-shifted copies (hamming 0, modulo
        # wrap effects within tolerance) -> dropped; 2 stays
        assert kept == [2]

    def test_zero_eval_set_keeps_everything(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        def synth(ids):
            return ids.map(lambda i: MM.make_png(5, 4, gradient=(int(i), 3, 7)))

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        corpus = spark.range(3).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("media"),
        )
        empty = corpus.filter("doc_id < 0")
        assert MM.image_decontaminate(corpus, empty).count() == 3


class TestAudioTrimAndDecontaminate:
    def test_trim_bounds_and_energy(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        def synth(ids):
            def mk(i):
                if int(i) == 2:  # all silent
                    return MM.make_wav(n_samples=40)
                return MM.make_wav(n_samples=50, ramp=(7, 101), pad=(5, 9))

            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        df = spark.range(3).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("media"),
        )
        out = {r["id"]: r for r in MM.audio_trim_silence_table(df, "doc_id").collect()}
        r = out[0]
        mono = [(i * 7) % 101 - 50 for i in range(50)]
        assert (r["lead_silence"], r["trail_silence"]) == (5, 9)
        assert r["trimmed_len"] == 50
        assert r["trimmed_sq_sum"] == sum(v * v for v in mono)
        silent = out[2]
        assert silent["trimmed_len"] == 0 and silent["trimmed_sq_sum"] == 0
        assert silent["lead_silence"] == 40 and silent["trail_silence"] == 0

    def test_audio_decontaminate_drops_matching_waveform(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm import multimodal as MM

        def synth(ids):
            def mk(i):
                key = 0 if int(i) in (0, 2) else int(i)
                return MM.make_wav(n_samples=325, ramp=(5 + 2 * key, 200 + 16 * key))

            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        corpus = spark.range(4).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(synth)(F.col("id")).alias("media"),
        )

        def esynth(ids):
            return ids.map(lambda e: MM.make_wav(n_samples=325, ramp=(5, 200)))

        esynth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        eval_media = spark.range(1).select(
            F.col("id").alias("doc_id"),
            pandas_udf("binary")(esynth)(F.col("id")).alias("media"),
        )
        kept = sorted(
            r["doc_id"]
            for r in MM.audio_decontaminate(corpus, eval_media, max_hamming=0).collect()
        )
        assert kept == [1, 3]  # clips 0 and 2 share the eval waveform


def test_jpeg_strip_passes_standalone_markers(spark):
    from tuktu_spark.llm.multimodal import strip_media_metadata
    from tuktu_spark.llm.jpeg import make_jpeg

    j = bytearray(make_jpeg(8, 8, shade=100))
    j[2:2] = b"\xff\x01"  # TEM: standalone, no length field
    sj, n, b = strip_media_metadata(bytes(j))
    assert n == 1 and b == 18  # only the APP0 goes
    assert b"\xff\x01" in sj


def test_tar_duplicate_member_last_wins(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from tuktu_spark.llm import multimodal as MM

    def synth(ids):
        return ids.map(
            lambda i: MM.make_tar_shard(
                [("k.txt", b"old"), ("k.png", b"p"), ("k.txt", b"new")]
            )
        )

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    df = spark.range(1).select(
        F.col("id").alias("doc_id"),
        pandas_udf("binary")(synth)(F.col("id")).alias("shard"),
    )
    members = MM.untar_members_table(df, "doc_id", "shard")
    rows = {(r["key"], r["ext"]): bytes(r["data"]) for r in members.collect()}
    assert rows == {("k", "txt"): b"new", ("k", "png"): b"p"}
    # and the sample map builds without duplicate-key errors
    samples = MM.webdataset_samples(members).collect()
    assert bytes(samples[0]["parts"]["txt"]) == b"new"


def test_video_frames_at_variable_durations(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from tuktu_spark.llm import multimodal as MM

    def synth(ids):
        return ids.map(
            lambda i: MM.make_mp4_mjpeg(
                4, 4, [0, 100, 200], frame_deltas=[150, 70, 130]
            )
        )

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    df = spark.range(1).select(
        F.col("id").alias("doc_id"),
        pandas_udf("binary")(synth)(F.col("id")).alias("media"),
    )
    rows = {
        r["tick_ms"]: r["frame_idx"]
        for r in MM.video_frames_at_table(df, "doc_id", interval_ms=100).collect()
    }
    # stts starts: [0, 150, 220]; ticks through the last start (220)
    assert rows == {0: 0, 100: 0, 200: 1}


class TestTiffCodec:
    def test_multistrip_roundtrip_exact(self, spark):
        from tuktu_spark.llm.multimodal import decode_tiff_pixels, make_tiff

        for w, h, rps in ((1, 1, 1), (5, 7, 3), (8, 4, 2), (6, 10, 4)):
            t = make_tiff(w, h, gradient=(9, 3, 7), rows_per_strip=rps)
            dw, dh, c, rgb = decode_tiff_pixels(t)
            want = bytearray()
            for y in range(h):
                for x in range(w):
                    v = (9 + 3 * x + 7 * y) % 256
                    want += bytes([v, (2 * v) % 256, (3 * v) % 256])
            assert (dw, dh, c) == (w, h, 3) and rgb == bytes(want)

    def test_grayscale_and_probe_and_dispatch(self, spark):
        from tuktu_spark.llm.multimodal import (
            decode_pixels, decode_tiff_pixels, make_tiff, probe_media,
        )

        g = make_tiff(4, 3, gradient=(0, 1, 1), rgb=False)
        assert decode_tiff_pixels(g)[:3] == (4, 3, 1)
        info = probe_media(make_tiff(6, 4))
        assert info == {"format": "tiff", "width": 6, "height": 4}
        assert decode_pixels(make_tiff(6, 4))[:3] == (6, 4, 3)

    def test_compressed_raises_seam(self, spark):
        import struct as st

        import pytest

        from tuktu_spark.llm.multimodal import decode_tiff_pixels, make_tiff

        t = bytearray(make_tiff(4, 3))
        # find the Compression entry (tag 259) in the IFD and claim LZW (5)
        i = t.find(st.pack("<HH", 259, 3))
        assert i > 0
        t[i + 8 : i + 10] = st.pack("<H", 5)
        with pytest.raises(NotImplementedError):
            decode_tiff_pixels(bytes(t))

    def test_truncated_strip_maps_to_seam_via_dispatch(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import decode_pixels, make_tiff

        t = make_tiff(6, 8, rows_per_strip=8)
        # cut into the single strip: decode_pixels maps ValueError -> seam
        broken = t[:8] + t[8 : 8 + 10]  # header + 10 pixel bytes, no IFD
        with pytest.raises(NotImplementedError):
            decode_pixels(broken)


class TestPnmCodec:
    def test_roundtrip_with_comment_header(self, spark):
        from tuktu_spark.llm.multimodal import decode_pnm_pixels, make_pnm

        for rgb in (True, False):
            img = make_pnm(5, 4, gradient=(9, 3, 7), rgb=rgb, comment="scanner")
            w, h, c, px = decode_pnm_pixels(img)
            assert (w, h, c) == (5, 4, 3 if rgb else 1)
            want = bytearray()
            for y in range(4):
                for x in range(5):
                    v = (9 + 3 * x + 7 * y) % 256
                    want += (
                        bytes([v, (2 * v) % 256, (3 * v) % 256]) if rgb else bytes([v])
                    )
            assert px == bytes(want)

    def test_probe_and_dispatch(self, spark):
        from tuktu_spark.llm.multimodal import decode_pixels, make_pnm, probe_media

        assert probe_media(make_pnm(6, 2)) == {
            "format": "pnm", "width": 6, "height": 2,
        }
        assert decode_pixels(make_pnm(6, 2))[:3] == (6, 2, 3)

    def test_nonstandard_maxval_and_truncation_raise(self, spark):
        import pytest

        from tuktu_spark.llm.multimodal import decode_pixels, decode_pnm_pixels, make_pnm

        img = bytearray(make_pnm(4, 3))
        i = img.find(b"255")
        img[i : i + 3] = b"511"
        with pytest.raises(NotImplementedError):
            decode_pnm_pixels(bytes(img))
        with pytest.raises(NotImplementedError):  # ValueError -> seam map
            decode_pixels(make_pnm(4, 3)[:-5])


class TestG711:
    def test_anchor_values_match_public_tables(self, spark):
        from tuktu_spark.llm.multimodal import alaw_decode_sample, ulaw_decode_sample

        assert ulaw_decode_sample(0x00) == -32124
        assert ulaw_decode_sample(0x80) == 32124
        assert ulaw_decode_sample(0xFF) == 0
        assert alaw_decode_sample(0x55) == -8
        assert alaw_decode_sample(0xD5) == 8
        assert alaw_decode_sample(0x00) == -5504
        assert alaw_decode_sample(0x80) == 5504

    def test_wav_fmt_dispatch(self, spark):
        from tuktu_spark.llm.multimodal import (
            alaw_decode_sample, decode_wav_samples, make_g711_wav,
            ulaw_decode_sample,
        )

        codes = [(i * 7) % 256 for i in range(50)]
        for codec, fn in (("ulaw", ulaw_decode_sample), ("alaw", alaw_decode_sample)):
            rate, ch, s = decode_wav_samples(make_g711_wav(codes, codec=codec))
            assert (rate, ch) == (8000, 1)
            assert s == [fn(c) for c in codes]

    def test_unknown_fmt_raises_seam(self, spark):
        import struct as st

        import pytest

        from tuktu_spark.llm.multimodal import decode_wav_samples, make_g711_wav

        w = bytearray(make_g711_wav([1, 2, 3]))
        i = w.find(b"fmt ")
        w[i + 8 : i + 10] = st.pack("<H", 2)  # ADPCM
        with pytest.raises(NotImplementedError):
            decode_wav_samples(bytes(w))


def test_line_filter_rules(spark):
    """Each line rule in isolation + the rewrite/audit contract."""
    from tuktu_spark.llm.text import line_filter_table

    df = spark.createDataFrame(
        [
            (1, "good prose line here\n42 1234 99\n!!! --- ***\nok line yes\nx"),
            (2, "all boilerplate\n123456"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in line_filter_table(
            df, min_chars=4, max_digit_frac=0.4, max_punct_frac=0.4
        ).collect()
    }
    # doc 1: digits line dropped (digit frac 8/10), decoration line dropped
    # (punct frac 9/11), 'x' dropped (min_chars)
    assert out[1]["text"] == "good prose line here\nok line yes"
    assert out[1]["n_lines"] == 5 and out[1]["n_kept"] == 2
    assert out[1]["chars_removed"] == len("42 1234 99") + len("!!! --- ***") + 1
    # doc 2: 'all boilerplate' kept, digits dropped
    assert out[2]["text"] == "all boilerplate" and out[2]["n_kept"] == 1

    # drop_regex + total wipeout -> empty text, not a lost row
    wiped = line_filter_table(
        spark.createDataFrame([(3, "menu\nhome")], ["doc_id", "text"]),
        min_chars=1, drop_regex="^(menu|home)$",
    ).collect()[0]
    assert wiped["text"] == "" and wiped["n_kept"] == 0


def test_line_filter_flow_operator(spark):
    from tuktu_spark.operators import make_operator

    df = spark.createDataFrame([(1, "keep this line\nno")], ["doc_id", "text"])
    out = make_operator("line_filter", {"min_chars": 5})(df).collect()[0]
    assert out["text"] == "keep this line" and out["n_lines"] == 2


def test_url_host_and_blocklist(spark):
    from tuktu_spark.llm.text import registrable_suffix, url_blocklist_filter, url_host

    df = spark.createDataFrame(
        [
            (1, "https://EXAMPLE.com/a?b=1"),
            (2, "http://user:pw@sub.Bad.org:8080/x"),
            (3, "ftp://deep.a.b.bad.org/f"),
            (4, "not a url"),
            (5, "https://bad.org.evil.net/phish"),  # suffix-ONLY match must not drop
        ],
        ["doc_id", "url"],
    )
    hosts = {r["doc_id"]: r["h"] for r in df.select("doc_id", url_host("url").alias("h")).collect()}
    assert hosts == {
        1: "example.com", 2: "sub.bad.org", 3: "deep.a.b.bad.org",
        4: "", 5: "bad.org.evil.net",
    }
    kept = sorted(
        r["doc_id"] for r in url_blocklist_filter(df, "url", ["bad.org"]).collect()
    )
    assert kept == [1, 4, 5]  # 2 and 3 are subdomains of bad.org; 5 is NOT
    sfx = {
        r["doc_id"]: r["d"]
        for r in df.select(
            "doc_id", registrable_suffix(url_host("url")).alias("d")
        ).collect()
    }
    assert sfx[3] == "bad.org" and sfx[1] == "example.com" and sfx[4] == ""


def test_edit_distance_pairs_matches_naive(spark):
    """BOTH candidate filters (r8 Ed-Join prefix default + r7 Gravano
    count) + levenshtein pipeline == naive all-pairs, on adversarial
    short binary-alphabet strings (stresses the short and cross buckets
    where either bound is vacuous, and — binary alphabet — every q-gram
    is corpus-hot, the prefix filter's worst case)."""
    import itertools
    import random

    from tuktu_spark.llm.dedup import edit_distance_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return dp[n]

    rng = random.Random(7)
    words = [
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 9)))
        for _ in range(100)
    ]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    for d in (1, 2):
        want = {
            (i, j, lev(words[i], words[j]))
            for i, j in itertools.combinations(range(len(words)), 2)
            if lev(words[i], words[j]) <= d
        }
        for method in ("prefix", "count"):
            got = {
                (r["id_a"], r["id_b"], r["dist"])
                for r in edit_distance_pairs(
                    df, max_dist=d, q=2, method=method
                ).collect()
            }
            assert got == want, (d, method)


def test_edit_distance_row_local_occurrence_bag(spark):
    """r14 pin for the row-local (gram, occ) bag (replacing the
    post-explode row_number window): on single-char-run strings every
    q-gram repeats, so candidate survival depends ENTIRELY on correct
    occurrence indices — 'aaaaaa' and 'aaaaaab' share ('aa', k) for
    k=1..5 as a BAG; a set-level (occ always 1) bug would still pair
    them, but 'aaaaaa' vs 'bbbbbb' pairs under NO occ scheme while
    'aaaaaab' vs 'aaaaabb' (dist 1) must survive the prefix filter via
    a shared rare-gram occurrence. Expected sets are the exhaustive
    levenshtein truth, both methods."""
    import itertools

    from tuktu_spark.llm.dedup import edit_distance_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return dp[n]

    words = ["aaaaaa", "aaaaaab", "aaaaabb", "bbbbbb", "ababab", "bababa"]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    for d in (1, 2):
        want = {
            (i, j, lev(words[i], words[j]))
            for i, j in itertools.combinations(range(len(words)), 2)
            if lev(words[i], words[j]) <= d
        }
        for method in ("prefix", "count"):
            got = {
                (r["id_a"], r["id_b"], r["dist"])
                for r in edit_distance_pairs(
                    df, max_dist=d, q=2, method=method
                ).collect()
            }
            assert got == want, (d, method)


class TestDistinctContentMinhash:
    """r9: the edit-distance lesson applied to LSH — identical texts make
    every band a g^2 bucket at the id level; distinct_content=True runs
    the pipeline on one representative per text and must be
    BIT-IDENTICAL to the id-level output."""

    @pytest.fixture(scope="class")
    def dupheavy(self, spark, docs):
        # clones of every doc (same text, shifted ids) + an exact triple
        base = docs.select("doc_id", "text")
        c1 = base.select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
        c2 = base.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 900_000).alias("doc_id"), "text"
        )
        # degenerate too-short duplicates: must NOT appear as pairs
        junk = spark.range(1_700_000, 1_700_400).select(
            F.col("id").alias("doc_id"), F.lit("two tokens").alias("text")
        )
        return base.unionByName(c1).unionByName(c2).unionByName(junk)

    def test_bit_identical_to_id_level(self, dupheavy):
        def key(rows):
            return {(r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in rows}

        a = key(D.minhash_dedup_pairs(dupheavy, threshold=0.8).collect())
        b = key(
            D.minhash_dedup_pairs(
                dupheavy, threshold=0.8, distinct_content=True
            ).collect()
        )
        assert a == b and len(a) > 0

    def test_equal_text_pairs_have_jaccard_one(self, dupheavy):
        out = D.minhash_dedup_pairs(
            dupheavy, threshold=0.8, distinct_content=True
        )
        r = out.filter(
            (F.col("id_a") == 0) & (F.col("id_b") == 500_000)
        ).collect()
        assert len(r) == 1 and r[0]["jaccard"] == 1.0

    def test_degenerate_duplicates_stay_excluded(self, dupheavy):
        out = D.minhash_dedup_pairs(
            dupheavy, threshold=0.8, distinct_content=True
        )
        assert (
            out.filter(F.col("id_a") >= 1_700_000).limit(1).count() == 0
        )


class TestDistinctContentJaccard:
    """Same contract as TestDistinctContentMinhash for the exact
    prefix-filtered path."""

    @pytest.fixture(scope="class")
    def dupheavy(self, spark, docs):
        base = docs.select("doc_id", "text")
        c1 = base.select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
        junk = spark.range(1_700_000, 1_700_200).select(
            F.col("id").alias("doc_id"), F.lit("two tokens").alias("text")
        )
        return base.unionByName(c1).unionByName(junk)

    def test_bit_identical_to_id_level(self, dupheavy):
        def key(rows):
            return {(r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in rows}

        a = key(D.ngram_jaccard_pairs(dupheavy, threshold=0.8).collect())
        b = key(
            D.ngram_jaccard_pairs(
                dupheavy, threshold=0.8, distinct_content=True
            ).collect()
        )
        assert a == b and len(a) > 0

    def test_degenerate_duplicates_stay_excluded(self, dupheavy):
        out = D.ngram_jaccard_pairs(
            dupheavy, threshold=0.8, distinct_content=True
        )
        assert out.filter(F.col("id_a") >= 1_700_000).limit(1).count() == 0


class TestDistinctContentSimhash:
    """Same contract as TestDistinctContentMinhash for the banded
    Hamming path."""

    @pytest.fixture(scope="class")
    def dupheavy(self, spark, docs):
        base = docs.select("doc_id", "text")
        c1 = base.select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
        # token-less duplicates: excluded at the id level, so they must
        # not surface as hamming-0 pairs in distinct mode either
        junk = spark.range(1_700_000, 1_700_200).select(
            F.col("id").alias("doc_id"), F.lit("  \t ").alias("text")
        )
        return base.unionByName(c1).unionByName(junk)

    def test_bit_identical_to_id_level(self, dupheavy):
        def key(rows):
            return {(r["id_a"], r["id_b"], r["hamming"]) for r in rows}

        a = key(D.simhash_near_pairs(dupheavy, max_hamming=3).collect())
        b = key(
            D.simhash_near_pairs(
                dupheavy, max_hamming=3, distinct_content=True
            ).collect()
        )
        assert a == b and len(a) > 0

    def test_tokenless_duplicates_stay_excluded(self, dupheavy):
        out = D.simhash_near_pairs(
            dupheavy, max_hamming=3, distinct_content=True
        )
        assert out.filter(F.col("id_a") >= 1_700_000).limit(1).count() == 0


class TestDistinctContentAutoDispatch:
    """r10 (verdict #4): distinct_content='auto' probes the corpus
    duplication ratio (count vs approx_count_distinct of a text hash —
    one cheap scan) and dispatches at the measured ~2x crossover,
    mirroring the unigram e_step='auto' pattern. The output must be
    bit-identical on BOTH sides of the threshold (the probe only picks
    the plan), and the explicit flags must stay overridable."""

    @pytest.fixture(scope="class")
    def unique_corpus(self, spark, docs):
        return docs.select("doc_id", "text")

    @pytest.fixture(scope="class")
    def dup_corpus(self, spark, docs):
        base = docs.select("doc_id", "text")
        c1 = base.select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
        c2 = base.select((F.col("doc_id") + 900_000).alias("doc_id"), "text")
        return base.unionByName(c1).unionByName(c2)

    def test_probe_decision_both_sides(self, unique_corpus, dup_corpus):
        from tuktu_spark.llm.dedup import _resolve_distinct_content

        # sf docs are (near-)unique: ratio ~1, stays id-level
        assert _resolve_distinct_content(unique_corpus, "text", "auto") is False
        # 3 copies of every text: ratio ~3 >= 2, dispatches to distinct
        assert _resolve_distinct_content(dup_corpus, "text", "auto") is True
        # explicit flags bypass the probe entirely
        assert _resolve_distinct_content(dup_corpus, "text", False) is False
        assert _resolve_distinct_content(unique_corpus, "text", True) is True
        # a typo must not silently become True (modes are
        # output-identical, so a mis-dispatch would hide forever)
        with pytest.raises(ValueError, match="distinct_content"):
            _resolve_distinct_content(dup_corpus, "text", "atuo")

    @pytest.mark.parametrize("fam", ["minhash", "jaccard", "simhash"])
    def test_auto_bit_identical_both_sides(
        self, unique_corpus, dup_corpus, fam
    ):
        def run(df, dc):
            if fam == "minhash":
                out = D.minhash_dedup_pairs(df, threshold=0.8, distinct_content=dc)
                v = "jaccard"
            elif fam == "jaccard":
                out = D.ngram_jaccard_pairs(df, threshold=0.8, distinct_content=dc)
                v = "jaccard"
            else:
                out = D.simhash_near_pairs(df, max_hamming=3, distinct_content=dc)
                v = "hamming"
            return {
                (r["id_a"], r["id_b"], round(float(r[v]), 12))
                for r in out.collect()
            }

        for corpus in (unique_corpus, dup_corpus):
            want = run(corpus, False)
            assert run(corpus, "auto") == want


class TestNormalizedDecontamination:
    """r10: normalize=True matches grams case/punctuation-insensitively
    (the published GPT-3-style recipe) across the report/filter/bloom
    forms."""

    @pytest.fixture(scope="class")
    def perturbed(self, spark):
        base = "the quick brown fox jumps over the lazy dog tonight"
        rows = [
            (1, base),                                   # exact leak
            (2, "The QUICK, brown fox; jumps over the lazy dog -- tonight!"),
            (3, "an entirely different document with no overlap at all"),
        ]
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        ev = spark.createDataFrame([(base,)], "text string")
        return corpus, ev

    def test_raw_misses_what_normalize_catches(self, perturbed):
        from tuktu_spark.llm.decontaminate import contamination_report

        corpus, ev = perturbed
        raw = {r["doc_id"] for r in contamination_report(corpus, ev, n=10).collect()}
        assert raw == {1}  # punctuation/case hides doc 2
        norm = {
            r["doc_id"]
            for r in contamination_report(
                corpus, ev, n=10, normalize=True
            ).collect()
        }
        assert norm == {1, 2}

    def test_filter_and_bloom_agree_with_report(self, perturbed):
        from tuktu_spark.llm.decontaminate import (
            contamination_report,
            contamination_report_bloom,
            decontaminate,
        )

        corpus, ev = perturbed
        kept = {
            r["doc_id"]
            for r in decontaminate(corpus, ev, n=10, normalize=True).collect()
        }
        assert kept == {3}
        want = {
            (r["doc_id"], r["n_matched_grams"])
            for r in contamination_report(
                corpus, ev, n=10, normalize=True
            ).collect()
        }
        got = {
            (r["doc_id"], r["n_matched_grams"])
            for r in contamination_report_bloom(
                corpus, ev, n=10, n_bits=1 << 10, k=2, normalize=True
            ).collect()
        }
        assert got == want

    def test_equivalent_to_pre_normalized_text(self, spark, docs):
        """normalize=True must equal normalize=False over explicitly
        pre-normalized columns — the flag is sugar, not new semantics."""
        from pyspark.sql import functions as F

        from tuktu_spark.llm.decontaminate import (
            _norm_text,
            contamination_report,
        )

        corpus = docs.select("doc_id", "text")
        ev = corpus.filter(F.col("doc_id") % 7 == 0).select("text")
        want = {
            (r["doc_id"], r["n_matched_grams"])
            for r in contamination_report(
                corpus.withColumn("text", _norm_text(F.col("text"))),
                ev.withColumn("text", _norm_text(F.col("text"))),
                n=5,
            ).collect()
        }
        got = {
            (r["doc_id"], r["n_matched_grams"])
            for r in contamination_report(
                corpus, ev, n=5, normalize=True
            ).collect()
        }
        assert got == want and got

    def test_corpus_is_normalization_invariant(self, docs):
        """dedup_decontaminate_normalized reuses the RAW-token oracle;
        that equivalence holds only while the synthetic documents are
        already in normalized form (lowercase alnum words, single
        spaces). Pin the invariant so a data-generator change fails
        HERE with a message instead of as an inscrutable driver hash
        mismatch."""
        from tuktu_spark.llm.decontaminate import _norm_text

        bad = docs.filter(
            _norm_text(F.col("text")) != F.col("text")
        ).count()
        assert bad == 0, (
            "documents.text is no longer normalization-invariant — "
            "dedup_decontaminate_normalized's oracle reuse breaks; give "
            "it its own normalized-SQL oracle"
        )

    def test_norm_text_keeps_unicode_letters(self, spark):
        """r10 review: an ASCII-only class would delete CJK/Cyrillic/
        accented text entirely — normalize=True must never LOSE recall
        relative to raw matching on non-English corpora."""
        from tuktu_spark.llm.decontaminate import contamination_report

        leak = "机器 学习 模型 训练 数据 очень важно café"
        corpus = spark.createDataFrame(
            [(1, f"prefix {leak} suffix"), (2, "nothing shared here")],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame([(f"{leak}!",)], "text string")
        got = {
            r["doc_id"]
            for r in contamination_report(
                corpus, ev, n=8, normalize=True
            ).collect()
        }
        assert got == {1}

    def test_engine_auto_dispatch(self, spark, perturbed, docs):
        """engine='auto' probes the eval gram count and dispatches on
        the broadcast memory budget (SCALE.md r10: broadcast wins
        throughput at every size that fits — bloom is the
        beyond-the-wall path). Small suite -> broadcast; a tiny forced
        budget -> bloom; output identical either way."""
        from pyspark.sql import functions as F

        from tuktu_spark.llm.decontaminate import pick_decontaminate_engine
        from tuktu_spark.operators import make_operator

        corpus = docs.select("doc_id", "text")
        ev = corpus.filter(F.col("doc_id") % 7 == 0).select("text")
        assert pick_decontaminate_engine(ev, n=5) == "broadcast"
        assert (
            pick_decontaminate_engine(ev, n=5, budget_grams=10) == "bloom"
        )
        want = {
            (r["doc_id"], r["n_matched_grams"])
            for r in make_operator(
                "decontaminate", {"n": 5, "report": True}
            )(corpus, ev).collect()
        }
        got = {
            (r["doc_id"], r["n_matched_grams"])
            for r in make_operator(
                "decontaminate",
                {"n": 5, "report": True, "engine": "auto",
                 "auto_budget_grams": 10},  # forces the bloom arm
            )(corpus, ev).collect()
        }
        assert got == want and want

    def test_operator_normalize_and_spans(self, spark, perturbed):
        """r11 (verdict #4): mode='spans' + normalize is now supported —
        per-token normalization keeps the raw position mapping — so the
        operator cuts the case/punctuation-perturbed leak out of doc 2
        (which raw span matching misses entirely) while doc 3 passes
        through untouched."""
        from tuktu_spark.operators import make_operator

        corpus, ev = perturbed
        out = make_operator(
            "decontaminate", {"n": 10, "report": True, "normalize": True}
        )(corpus, ev)
        assert {r["doc_id"] for r in out.collect()} == {1, 2}
        spans = {
            r["doc_id"]: r["text"]
            for r in make_operator(
                "decontaminate", {"mode": "spans", "normalize": True, "n": 10}
            )(corpus, ev).collect()
        }
        # docs 1 and 2 are wholly the (perturbed) leak -> dropped whole
        assert spans == {
            3: "an entirely different document with no overlap at all"
        }
        raw_spans = {
            r["doc_id"]
            for r in make_operator(
                "decontaminate", {"mode": "spans", "n": 10}
            )(corpus, ev).collect()
        }
        assert 2 in raw_spans  # raw matching misses the perturbed leak


class TestSpanDecontamination:
    """r10: span-level decontamination — cut the contaminated n-gram
    token intervals, keep the rest of the document."""

    def test_planted_span_is_cut_exactly(self, spark):
        leak = "alpha bravo charlie delta echo"  # the leaked 5-gram
        rows = [
            (1, f"keep one two three {leak} keep four five six"),
            (2, "totally clean document with nothing leaked at all"),
            (3, leak),  # wholly contamination -> dropped
        ]
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        ev = spark.createDataFrame([(leak,)], "text string")
        from tuktu_spark.llm.decontaminate import decontaminate_spans

        got = {
            r["doc_id"]: r["text"]
            for r in decontaminate_spans(corpus, ev, n=5).collect()
        }
        assert got == {
            1: "keep one two three keep four five six",
            2: "totally clean document with nothing leaked at all",
        }

    def test_normalized_spans_cut_perturbed_leak(self, spark):
        """r11 (verdict #4): normalize=True cuts a case/punctuation-
        perturbed leak that raw span matching misses, rewriting the RAW
        tokens around it."""
        from tuktu_spark.llm.decontaminate import decontaminate_spans

        leak = "alpha bravo charlie delta echo"
        rows = [(1, "keep this ALPHA, bravo; CHARLIE -- delta echo! and this")]
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        ev = spark.createDataFrame([(leak,)], "text string")
        raw = decontaminate_spans(corpus, ev, n=5).collect()
        assert raw[0]["text"] == (
            "keep this ALPHA, bravo; CHARLIE -- delta echo! and this"
        )  # raw matching misses the perturbation entirely
        got = decontaminate_spans(corpus, ev, n=5, normalize=True).collect()
        assert got[0]["text"] == "keep this and this"

    def test_normalized_spans_multiword_raw_token(self, spark):
        """A raw token holding SEVERAL normalized words ("c;d") is
        removed whole when any of its words sits in a matched window;
        a pure-punctuation token inside the interval goes with it."""
        from tuktu_spark.llm.decontaminate import (
            contaminated_span_intervals,
            decontaminate_spans,
        )

        corpus = spark.createDataFrame(
            [(1, "x a b c;d e y"), (2, "x a -- b c d e y")],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame([("a b c d e",)], "text string")
        iv = {
            r["doc_id"]: (r["span_start"], r["span_end"])
            for r in contaminated_span_intervals(
                corpus, ev, n=5, normalize=True
            ).collect()
        }
        # doc 1 raw tokens: x a b c;d e y -> interval covers tokens 1..4
        # doc 2 raw tokens: x a -- b c d e y -> covers 1..6 (the "--"
        # normalizes to nothing but sits inside the raw range)
        assert iv == {1: (1, 5), 2: (1, 7)}
        got = {
            r["doc_id"]: r["text"]
            for r in decontaminate_spans(
                corpus, ev, n=5, normalize=True
            ).collect()
        }
        assert got == {1: "x y", 2: "x y"}

    def test_overlapping_leaks_merge_into_one_interval(self, spark):
        # two eval grams overlapping in the corpus doc: w3..w7 and w5..w9
        words = [f"w{i}" for i in range(12)]
        corpus = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )
        ev = spark.createDataFrame(
            [(" ".join(words[3:8]),), (" ".join(words[5:10]),)],
            "text string",
        )
        from tuktu_spark.llm.decontaminate import (
            contaminated_span_intervals,
            decontaminate_spans,
        )

        iv = contaminated_span_intervals(corpus, ev, n=5).collect()
        assert [(r["span_start"], r["span_end"]) for r in iv] == [(3, 10)]
        got = decontaminate_spans(corpus, ev, n=5).collect()
        assert got[0]["text"] == "w0 w1 w2 w10 w11"

    def test_no_residual_contamination(self, spark, docs):
        """Re-running the report on the rewritten corpus finds nothing:
        every original eval-gram occurrence lost at least one token."""
        from pyspark.sql import functions as F

        from tuktu_spark.llm.decontaminate import (
            contamination_report,
            decontaminate_spans,
        )

        corpus = docs.select("doc_id", "text")
        ev = corpus.filter(F.col("doc_id") % 7 == 0).select("text")
        assert contamination_report(corpus, ev, n=5).count() > 0
        clean = decontaminate_spans(corpus, ev, n=5)
        assert contamination_report(clean, ev, n=5).count() == 0

    def test_bloom_prefilter_leaves_intervals_unchanged(self, spark, docs):
        """Beyond-broadcast path for spans (r10): an undersized Bloom
        prefilter on the positional windows must not change the merged
        intervals (zero false negatives; FPs die in the verify join)."""
        from pyspark.sql import functions as F

        from tuktu_spark.llm.decontaminate import (
            _gram_table,
            build_gram_bloom,
            contaminated_span_intervals,
        )

        corpus = docs.select("doc_id", "text")
        ev = corpus.filter(F.col("doc_id") % 7 == 0).select("text")
        grams = _gram_table(ev, "text", None, 5, "gram").distinct()
        bloom = build_gram_bloom(ev, n=5, n_bits=1 << 10, k=2)

        def key(df):
            return {
                (r["doc_id"], r["span_start"], r["span_end"])
                for r in df.collect()
            }

        want = key(contaminated_span_intervals(corpus, ev, n=5))
        assert want
        got = key(
            contaminated_span_intervals(
                corpus, None, n=5, eval_grams=grams, bloom=bloom, bloom_k=2
            )
        )
        assert got == want

    def test_operator_mode_spans(self, spark):
        from tuktu_spark.operators import make_operator

        corpus = spark.createDataFrame(
            [(1, "aa bb cc dd ee ff gg")], "doc_id long, text string"
        )
        ev = spark.createDataFrame([("cc dd ee",)], "text string")
        out = make_operator("decontaminate", {"mode": "spans", "n": 3})(
            corpus, ev
        )
        assert [r["text"] for r in out.collect()] == ["aa bb ff gg"]
        # r11: report=True now returns the per-doc span STATS table
        # (contamination_span_stats) instead of raising
        stats = make_operator(
            "decontaminate", {"mode": "spans", "report": True, "n": 3}
        )(corpus, ev).collect()
        assert [
            (r["doc_id"], r["n_tokens"], r["contaminated_tokens"])
            for r in stats
        ] == [(1, 7, 3)]
        import pytest

        with pytest.raises(ValueError, match="engine"):
            make_operator(
                "decontaminate", {"mode": "spans", "engine": "bloom"}
            )(corpus, ev)

    def test_short_and_empty_docs_survive_untouched(self, spark):
        corpus = spark.createDataFrame(
            [(1, "tiny doc"), (2, "  spaced   out  ")],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame([("some eval text here now",)], "text string")
        from tuktu_spark.llm.decontaminate import decontaminate_spans

        got = {
            r["doc_id"]: r["text"]
            for r in decontaminate_spans(corpus, ev, n=4).collect()
        }
        # whitespace-normalized passthrough (the rewrite contract)
        assert got == {1: "tiny doc", 2: "spaced out"}


class TestBloomDecontamination:
    """r9: the beyond-broadcast decontamination path — Bloom prefilter in
    the closure + exact verify of survivors. The report must EQUAL the
    broadcast form regardless of filter sizing (FPs die in the verify
    join); the prefilter itself must demonstrably pass FPs at tiny
    sizings (so the exactness claim is doing real work)."""

    @pytest.fixture(scope="class")
    def corpus_eval(self, spark, docs):
        corpus = docs.select("doc_id", "text")
        ev = corpus.filter(F.col("doc_id") % 7 == 0).select("text")
        return corpus, ev

    def test_report_equals_broadcast_form(self, corpus_eval):
        from tuktu_spark.llm.decontaminate import (
            contamination_report,
            contamination_report_bloom,
        )

        corpus, ev = corpus_eval
        want = {
            (r["doc_id"], r["n_matched_grams"])
            for r in contamination_report(corpus, ev, n=5).collect()
        }
        for n_bits, k in ((1 << 20, 7), (1 << 10, 2)):
            got = {
                (r["doc_id"], r["n_matched_grams"])
                for r in contamination_report_bloom(
                    corpus, ev, n=5, n_bits=n_bits, k=k
                ).collect()
            }
            assert got == want, (n_bits, k)
        assert want  # the planted eval rows guarantee real contamination

    def test_tiny_bloom_passes_false_positives(self, corpus_eval):
        from tuktu_spark.llm.decontaminate import (
            _gram_table,
            bloom_might_contain_udf,
            build_gram_bloom,
        )

        corpus, ev = corpus_eval
        bloom = build_gram_bloom(ev, n=5, n_bits=1 << 10, k=2)
        might = bloom_might_contain_udf(bloom, 2)
        cg = _gram_table(corpus, "text", "doc_id", 5, "gram")
        survivors = cg.filter(might(F.col("gram"))).count()
        true_hits = cg.join(
            _gram_table(ev, "text", None, 5, "gram").distinct(), "gram"
        ).count()
        assert survivors > true_hits  # FPs present pre-verify

    def test_bloom_has_no_false_negatives(self, corpus_eval):
        """Every eval gram must test positive against its own filter —
        the Bloom guarantee the exactness argument rests on."""
        from tuktu_spark.llm.decontaminate import (
            _gram_table,
            bloom_might_contain_udf,
            build_gram_bloom,
        )

        _, ev = corpus_eval
        bloom = build_gram_bloom(ev, n=5, n_bits=1 << 10, k=2)
        might = bloom_might_contain_udf(bloom, 2)
        eg = _gram_table(ev, "text", None, 5, "gram")
        assert eg.filter(~might(F.col("gram"))).count() == 0

    def test_power_of_two_enforced(self, corpus_eval):
        from tuktu_spark.llm.decontaminate import build_gram_bloom

        _, ev = corpus_eval
        with pytest.raises(ValueError, match="power of two"):
            build_gram_bloom(ev, n=5, n_bits=1000)

    def test_empty_bitmap_rejected_eagerly(self):
        """An empty bloom artifact must fail loudly at build time, not
        as a numpy overflow deep inside a Spark task (r10 review)."""
        from tuktu_spark.llm.decontaminate import bloom_might_contain_udf

        with pytest.raises(ValueError, match="empty"):
            bloom_might_contain_udf(b"", 2)

    def test_staged_fold_partitioning_invariant(self, corpus_eval):
        """r10 (verdict #2): the staged OR — per-partition bitmaps folded
        executor-side to fold_partitions rows, then streamed to the
        driver — must yield the SAME bitmap regardless of how the eval
        set is partitioned or how wide the fold fan-in is. (The old
        collect() shape held one bitmap PER eval partition on the driver
        at once: O(P * n_bits) memory; the fold makes it O(n_bits).)"""
        from tuktu_spark.llm.decontaminate import build_gram_bloom

        _, ev = corpus_eval
        want = build_gram_bloom(
            ev.coalesce(1), n=5, n_bits=1 << 10, k=2, fold_partitions=1
        )
        for n_parts, fan_in in ((3, 1), (7, 2), (16, 8)):
            got = build_gram_bloom(
                ev.repartition(n_parts), n=5, n_bits=1 << 10, k=2,
                fold_partitions=fan_in,
            )
            assert got == want, (n_parts, fan_in)

    def test_auto_sizing_from_gram_count(self, corpus_eval):
        """n_bits=None sizes the filter from approx_count_distinct: a
        power of two >= 16 * m, clamped to [2^23, 2^30]. The tiny test
        eval set lands exactly on the 2^23 floor, and the filter it
        produces must still carry the no-false-negative guarantee."""
        from pyspark.sql import functions as F
        from tuktu_spark.llm.decontaminate import (
            _gram_table,
            bloom_might_contain_udf,
            build_gram_bloom,
        )

        _, ev = corpus_eval
        bloom = build_gram_bloom(ev, n=5, n_bits=None, k=7)
        n_bits = len(bloom) * 8
        assert n_bits == 1 << 23  # the floor: tiny eval set
        might = bloom_might_contain_udf(bloom, 7)
        eg = _gram_table(ev, "text", None, 5, "gram")
        assert eg.filter(~might(F.col("gram"))).count() == 0

    def test_operator_engine_bloom(self, corpus_eval):
        from tuktu_spark.operators import make_operator

        corpus, ev = corpus_eval
        rep = make_operator(
            "decontaminate",
            {"n": 5, "report": True, "engine": "bloom", "bloom_bits": 1 << 12,
             "bloom_hashes": 3},
        )(corpus, ev)
        base = make_operator("decontaminate", {"n": 5, "report": True})(
            corpus, ev
        )
        assert {tuple(r) for r in rep.collect()} == {
            tuple(r) for r in base.collect()
        }
        with pytest.raises(ValueError, match="report form"):
            make_operator("decontaminate", {"engine": "bloom"})(corpus, ev)


class TestKeepClusterRepresentatives:
    """r11: quality-ranked cluster-representative selection — the policy
    completion of pairs -> components into an actual corpus filter."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        # clusters by pairs below: {1,2,3} and {4,5}; 6 and 7 unclustered
        rows = [
            (1, "short", 5.0),
            (2, "the longest doc of cluster one", 31.0),
            (3, "mid length", 10.0),
            (4, "tie a", 2.0),
            (5, "tie b", 2.0),
            (6, "never paired", 1.0),
            (7, "also unpaired", None),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, quality double"
        )

    @pytest.fixture(scope="class")
    def pairs(self, spark):
        return spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
        )

    def test_best_score_wins_ties_take_min_id(self, corpus, pairs):
        from tuktu_spark.llm.dedup import keep_cluster_representatives

        kept = {
            r["doc_id"]
            for r in keep_cluster_representatives(
                corpus, pairs, score_col="quality"
            ).collect()
        }
        # cluster {1,2,3}: 2 wins on score; {4,5}: tie -> min id 4;
        # 6 and 7 pass through (7's NULL score is irrelevant unclustered)
        assert kept == {2, 4, 6, 7}

    def test_no_score_keeps_min_id(self, corpus, pairs):
        from tuktu_spark.llm.dedup import keep_cluster_representatives

        kept = {
            r["doc_id"]
            for r in keep_cluster_representatives(corpus, pairs).collect()
        }
        assert kept == {1, 4, 6, 7}

    def test_null_scores_lose_all_null_cluster_keeps_min_id(self, spark):
        from tuktu_spark.llm.dedup import keep_cluster_representatives

        corpus = spark.createDataFrame(
            [(1, None), (2, 3.0), (10, None), (11, None)],
            "doc_id long, quality double",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (10, 11)], "id_a long, id_b long"
        )
        kept = {
            r["doc_id"]
            for r in keep_cluster_representatives(
                corpus, pairs, score_col="quality"
            ).collect()
        }
        assert kept == {2, 10}

    def test_prebuilt_components_and_missing_members(self, spark):
        """A prebuilt components table is reusable across policies, and
        a component member ABSENT from the corpus neither wins nor
        drops anything."""
        from tuktu_spark.llm.dedup import keep_cluster_representatives

        corpus = spark.createDataFrame(
            [(1, 1.0), (2, 9.0)], "doc_id long, quality double"
        )
        components = spark.createDataFrame(
            # member 99 is not in the corpus
            [(1, 1), (2, 1), (99, 1)], "id long, component long"
        )
        kept = {
            r["doc_id"]
            for r in keep_cluster_representatives(
                corpus, components=components, score_col="quality"
            ).collect()
        }
        assert kept == {2}

    def test_requires_pairs_or_components(self, spark):
        from tuktu_spark.llm.dedup import keep_cluster_representatives

        with pytest.raises(ValueError, match="pairs= or components="):
            keep_cluster_representatives(spark.range(1))

    def test_flow_operator_two_input(self, spark):
        from tuktu_spark.operators import make_operator

        corpus = spark.createDataFrame(
            [(1, 2.0), (2, 5.0), (3, 1.0)], "doc_id long, quality double"
        )
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        kept = {
            r["doc_id"]
            for r in make_operator(
                "keep_cluster_representatives", {"score_field": "quality"}
            )(corpus, pairs).collect()
        }
        assert kept == {2, 3}
        with pytest.raises(ValueError, match="corpus, pairs"):
            make_operator("keep_cluster_representatives", {})(corpus)

    def test_string_ids_supported(self, spark):
        """The tie-break is struct-ordered (no id negation), so string
        document ids work too."""
        from tuktu_spark.llm.dedup import keep_cluster_representatives

        corpus = spark.createDataFrame(
            [("a", 1.0), ("b", 1.0), ("z", 9.0)],
            "doc_id string, quality double",
        )
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "z")], "id_a string, id_b string"
        )
        kept = {
            r["doc_id"]
            for r in keep_cluster_representatives(
                corpus, pairs, score_col="quality"
            ).collect()
        }
        assert kept == {"z"}
        kept_ties = {
            r["doc_id"]
            for r in keep_cluster_representatives(corpus, pairs).collect()
        }
        assert kept_ties == {"a"}


class TestSpanPolicyAndStats:
    """r11: contamination_span_stats (how MUCH of each doc is leakage)
    and decontaminate_spans_policy (drop past max_frac, cut the rest)."""

    @pytest.fixture(scope="class")
    def planted(self, spark):
        leak = "alpha bravo charlie delta echo"
        rows = [
            # 5 leaked of 13 tokens -> frac 5/13 ~ 0.385
            (1, f"one two three four {leak} five six seven eight"),
            # 5 leaked of 7 tokens -> frac 5/7 ~ 0.714
            (2, f"pre {leak} post"),
            (3, "entirely clean text that matches nothing at all"),
            (4, leak),  # frac 1.0
        ]
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        ev = spark.createDataFrame([(leak,)], "text string")
        return corpus, ev

    def test_stats_rows_and_fractions(self, planted):
        from tuktu_spark.llm.decontaminate import contamination_span_stats

        corpus, ev = planted
        got = {
            r["doc_id"]: (
                r["n_tokens"], r["n_spans"], r["contaminated_tokens"],
                round(r["contaminated_frac"], 3),
            )
            for r in contamination_span_stats(corpus, ev, n=5).collect()
        }
        assert got == {
            1: (13, 1, 5, round(5 / 13, 3)),
            2: (7, 1, 5, round(5 / 7, 3)),
            4: (5, 1, 5, 1.0),
        }  # doc 3 clean -> absent

    def test_policy_drops_past_threshold_cuts_below(self, planted):
        from tuktu_spark.llm.decontaminate import decontaminate_spans_policy

        corpus, ev = planted
        got = {
            r["doc_id"]: r["text"]
            for r in decontaminate_spans_policy(
                corpus, ev, max_frac=0.5, n=5
            ).collect()
        }
        # doc 2 (0.714 > 0.5) dropped whole; doc 1 cut; doc 3 untouched;
        # doc 4 wholly covered -> absent regardless
        assert got == {
            1: "one two three four five six seven eight",
            3: "entirely clean text that matches nothing at all",
        }

    def test_policy_extremes_match_named_forms(self, planted):
        from tuktu_spark.llm.decontaminate import (
            decontaminate,
            decontaminate_spans,
            decontaminate_spans_policy,
        )

        corpus, ev = planted
        lax = {
            (r["doc_id"], r["text"])
            for r in decontaminate_spans_policy(
                corpus, ev, max_frac=1.0, n=5
            ).collect()
        }
        plain = {
            (r["doc_id"], r["text"])
            for r in decontaminate_spans(corpus, ev, n=5).collect()
        }
        assert lax == plain
        strict = {
            r["doc_id"]
            for r in decontaminate_spans_policy(
                corpus, ev, max_frac=0.0, n=5
            ).collect()
        }
        whole_doc = {
            r["doc_id"] for r in decontaminate(corpus, ev, n=5).collect()
        }
        assert strict == whole_doc == {3}

    def test_operator_report_and_policy_forms(self, planted):
        from tuktu_spark.operators import make_operator

        corpus, ev = planted
        stats = make_operator(
            "decontaminate", {"mode": "spans", "report": True, "n": 5}
        )(corpus, ev)
        assert {r["doc_id"] for r in stats.collect()} == {1, 2, 4}
        kept = make_operator(
            "decontaminate", {"mode": "spans", "max_frac": 0.5, "n": 5}
        )(corpus, ev)
        assert {r["doc_id"] for r in kept.collect()} == {1, 3}
        with pytest.raises(ValueError, match="pick one"):
            make_operator(
                "decontaminate",
                {"mode": "spans", "report": True, "max_frac": 0.5},
            )(corpus, ev)
        # r11 review: max_frac without mode='spans' must fail loudly,
        # not silently run the whole-document filter
        with pytest.raises(ValueError, match="silently ignored"):
            make_operator("decontaminate", {"max_frac": 0.5})(corpus, ev)

    def test_normalized_policy(self, spark):
        """max_frac composes with normalize: the perturbed leak counts
        toward the fraction."""
        from tuktu_spark.llm.decontaminate import decontaminate_spans_policy

        leak = "alpha bravo charlie delta echo"
        corpus = spark.createDataFrame(
            [(1, "pre ALPHA, BRAVO; charlie DELTA echo! post")],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame([(leak,)], "text string")
        raw = decontaminate_spans_policy(corpus, ev, max_frac=0.5, n=5)
        assert raw.count() == 1  # raw matching misses -> doc kept intact
        norm = decontaminate_spans_policy(
            corpus, ev, max_frac=0.5, n=5, normalize=True
        )
        assert norm.count() == 0  # 5/7 > 0.5 -> dropped whole


def test_normalized_spans_oracle_holds_on_mixed_case_corpus(spark):
    """r12 (r11 advice): _DECON_SPANS_NORM_ORACLE used to match RAW
    clean-token grams, so it agreed with the normalized implementation
    only because the synthetic documents happen to be lowercase and
    unpunctuated. The re-derived oracle encodes per-token normalization
    itself (word expansion tagged with raw indices, variable-coverage
    interval merge) — pin that by running BOTH sides on a deliberately
    mixed-case, punctuated corpus (multi-word expansions included) that
    the old oracle would mis-replay."""
    import duckdb
    import pandas as pd

    from tuktu_spark.llm.decontaminate import _norm_text, decontaminate_spans
    from tuktu_spark.queries.llm_dedup import _DECON_SPANS_NORM_ORACLE

    from .oracle_utils import assert_frames_match

    words = [
        "Alpha", "bravo!", "Charlie,", "delta", "Echo-Fox", "golf",
        "HOTEL", "india", "Juliet's", "kilo", "Lima", "mike?",
        "November", "oscar", "PAPA", "quebec", "romeo;", "sierra",
        "Tango", "uniform",
    ]
    rows = []
    for did in range(34):
        base = [words[(did * 7 + j) % len(words)] for j in range(20 + did % 5)]
        if did % 17 == 0 or did % 5 == 3:
            # eval docs and planted leaks share a 16-word run, so leaks
            # contaminate non-eval docs through the query's own odd-id
            # case/punctuation perturbation as well
            base[2:18] = [words[j % len(words)] for j in range(16)]
        rows.append((did, " ".join(base)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])

    docs = spark.createDataFrame(pdf)
    # guard against a future editor "simplifying" the fixture back into
    # normalized form, which would make this test vacuous
    assert docs.filter(_norm_text(F.col("text")) != F.col("text")).count() > 0

    perturbed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 1,
            F.upper(F.regexp_replace("text", " ", ", ")),
        ).otherwise(F.col("text")),
    )
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    got = decontaminate_spans(
        perturbed, eval_set, n=13, normalize=True
    ).toPandas()

    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(_DECON_SPANS_NORM_ORACLE).df()
    con.close()

    # something was actually cut (the planted 16-word runs exceed n=13)
    assert len(want) < len(pdf)
    assert len(got)
    assert_frames_match(got, want, "normalized_spans_mixed_case")


class TestContaminationAttribution:
    def test_matches_python_reference_and_report(self, spark, sf_dir):
        """contamination_attribution (r12): per-(doc, eval) shared-gram
        counts against a plain Python reference over the whole sf
        corpus, plus the consistency invariant with
        contamination_report (same contaminated-doc set; a doc's
        distinct matched grams across ALL eval docs equals the report's
        count)."""
        from tuktu_spark.llm.decontaminate import (
            contamination_attribution,
            contamination_report,
        )

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ev = docs.filter(F.col("doc_id") % 7 == 0).select(
            F.col("doc_id").alias("eval_id"), "text"
        )
        got = {
            (r["doc_id"], r["eval_id"]): r["n_shared_grams"]
            for r in contamination_attribution(docs, ev, n=5).collect()
        }

        def grams(text, n=5):
            tk = text.split()
            return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

        rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
        evrows = [(d, grams(t)) for d, t in rows if d % 7 == 0]
        want = {}
        for d, t in rows:
            g = grams(t)
            for eid, eg in evrows:
                shared = len(g & eg)
                if shared:
                    want[(d, eid)] = shared
        assert want and got == want

        report = {
            r["doc_id"]: r["n_matched_grams"]
            for r in contamination_report(
                docs, ev.select("text"), n=5
            ).collect()
        }
        assert {d for d, _ in got} == set(report)
        for d in report:
            g = grams(dict(rows)[d])
            all_eval = set().union(*(eg for _, eg in evrows))
            assert report[d] == len(g & all_eval)

    def test_suite_granularity_and_normalize(self, spark, sf_dir):
        """A suite column passed as eval_id attributes per-suite, and
        normalize=True finds attribution through the standard
        case/punctuation perturbation."""
        from tuktu_spark.llm.decontaminate import contamination_attribution

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ev = docs.filter(F.col("doc_id") % 7 == 0).select(
            F.when(F.col("doc_id") % 14 == 0, F.lit("suite_even"))
            .otherwise(F.lit("suite_odd"))
            .alias("suite"),
            "text",
        )
        by_suite = contamination_attribution(
            docs, ev, eval_id="suite", n=5
        )
        suites = {r["suite"] for r in by_suite.select("suite").distinct().collect()}
        assert suites == {"suite_even", "suite_odd"}

        perturbed = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 1,
                F.upper(F.regexp_replace("text", " ", ", ")),
            ).otherwise(F.col("text")),
        )
        raw = contamination_attribution(
            perturbed, ev, eval_id="suite", n=5
        )
        norm = contamination_attribution(
            perturbed, ev, eval_id="suite", n=5, normalize=True
        )
        # the perturbation hides odd-id leaks from raw matching; the
        # normalized run must recover the clean corpus' attribution
        clean = {
            (r["doc_id"], r["suite"], r["n_shared_grams"])
            for r in by_suite.collect()
        }
        got_norm = {
            (r["doc_id"], r["suite"], r["n_shared_grams"])
            for r in norm.collect()
        }
        assert got_norm == clean
        assert raw.filter(F.col("doc_id") % 2 == 1).count() < len(
            {x for x in clean if x[0] % 2 == 1}
        )

    def test_flow_op_two_inputs(self, spark, sf_dir):
        import tuktu_spark.operators.llm_ops  # noqa: F401

        from tuktu_spark.operators.registry import OPERATORS

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ev = docs.filter(F.col("doc_id") % 7 == 0).select(
            F.col("doc_id").alias("eval_id"), "text"
        )
        t = OPERATORS["contamination_attribution"]({"n": 5})
        out = t(docs, ev)
        assert set(out.columns) == {"doc_id", "eval_id", "n_shared_grams"}
        assert out.count() > 0
        import pytest as _pytest

        with _pytest.raises(ValueError, match="eval_set"):
            t(docs)
