"""Image-classification head (ml/deeplearn.py) — the distributed scoring
shape with the deterministic stub embedder; reference deeplearn/
processors/image/{InceptionClassifier,VGG16Classifier}.scala."""

import pytest
from pyspark.sql import functions as F

from tuktu_spark.llm.multimodal import make_png
from tuktu_spark.ml.deeplearn import _default_embedder, classify_images
from tuktu_spark.operators.registry import make_operator


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, bytearray(make_png(8, 8, shade=10))),
        (2, bytearray(make_png(8, 8, shade=240))),
        (3, None),
    ]
    return spark.createDataFrame(rows, "id int, media binary")


def centroids_for(shades):
    return {
        f"shade{s}": _default_embedder(make_png(8, 8, shade=s)) for s in shades
    }


class TestClassifyImages:
    def test_top1_matches_nearest_centroid(self, spark, media_df):
        cents = centroids_for([10, 240])
        out = classify_images(media_df, "media", cents, top_n=1)
        got = {r["id"]: r["labels"] for r in out.collect()}
        assert got[1][0]["label"] == "shade10"
        assert got[2][0]["label"] == "shade240"
        assert got[3] == []  # null media -> empty labels

    def test_top_n_ordering_and_scores(self, spark, media_df):
        cents = centroids_for([10, 120, 240])
        out = classify_images(media_df, "media", cents, top_n=3)
        labels = {r["id"]: r["labels"] for r in out.collect()}[1]
        scores = [entry["score"] for entry in labels]
        assert scores == sorted(scores, reverse=True)
        assert labels[0]["label"] == "shade10"
        assert labels[0]["score"] == pytest.approx(1.0)  # self-match

    def test_categories_coarsen_with_max(self, spark, media_df):
        cents = centroids_for([10, 120, 240])
        cats = {"shade10": "dark", "shade120": "dark", "shade240": "light"}
        out = classify_images(
            media_df, "media", cents, top_n=2, categories=cats
        )
        labels = {r["id"]: r["labels"] for r in out.collect()}[1]
        assert [e["label"] for e in labels] == ["dark", "light"]

    def test_operator_flatten_and_model_gate(self, spark, media_df):
        cents = centroids_for([10, 240])
        out = make_operator(
            "image_classify",
            {"field": "media", "centroids": cents, "flatten": True, "top_n": 1},
        )(media_df)
        got = {r["id"]: r["labels"] for r in out.collect()}
        assert got[1] == "shade10" and got[2] == "shade240"
        with pytest.raises(NotImplementedError, match="inceptionv3"):
            make_operator(
                "image_classify",
                {"field": "media", "centroids": cents, "model": "inceptionv3"},
            )
        # injected embedder satisfies the model gate
        op = make_operator(
            "image_classify",
            {
                "field": "media",
                "centroids": {"only": [1.0] * 8},
                "model": "vgg16",
                "embedder": lambda b: [1.0] * 8,
                "top_n": 1,
            },
        )
        row = {r["id"]: r["labels"] for r in op(media_df).collect()}[1]
        assert row[0]["label"] == "only" and row[0]["score"] == pytest.approx(1.0)

    def test_extra_columns_pass_through(self, spark, media_df):
        cents = centroids_for([10])
        out = classify_images(
            media_df.withColumn("note", F.lit("x")), "media", cents, top_n=1
        )
        assert {"id", "media", "note", "labels"} == set(out.columns)


class TestRealCnn:
    """ml/cnn.py: the from-scratch convolutional embedder that fills the
    image_classify model seam (model='cnn')."""

    def test_forward_shapes_and_determinism(self):
        import numpy as np

        from tuktu_spark.ml.cnn import EMBED_DIM, TinyConvNet

        net = TinyConvNet()
        img = np.linspace(0, 1, 32 * 32).reshape(32, 32)
        a = net.forward(img)
        b = net.forward(img)
        assert a.shape == (EMBED_DIM,)
        assert np.array_equal(a, b)
        assert np.array_equal(a, TinyConvNet().forward(img))  # seeded weights

    def test_conv_is_correct_on_a_known_kernel(self):
        import numpy as np

        from tuktu_spark.ml.cnn import TinyConvNet

        # identity kernel: center tap 1 -> conv(x) == x (zero-pad edges ok)
        x = np.arange(25, dtype=np.float64).reshape(5, 5, 1)
        w = np.zeros((3, 3, 1, 1))
        w[1, 1, 0, 0] = 1.0
        out = TinyConvNet._conv2d(x, w, np.zeros(1))
        assert np.array_equal(out, x)
        # shift kernel: tap at (0, 1) reads the pixel ABOVE
        w2 = np.zeros((3, 3, 1, 1))
        w2[0, 1, 0, 0] = 1.0
        out2 = TinyConvNet._conv2d(x, w2, np.zeros(1))
        assert np.array_equal(out2[1:, :, 0], x[:-1, :, 0])
        assert np.all(out2[0] == 0)  # zero padding row

    def test_fixed_order_arithmetic_matches_numpy_and_libm(self):
        """_matmul/_exp/_log/_log1p (the BLAS- and libm-free arithmetic
        that keeps the weight artifacts CPU-independent) agree with BLAS
        and libm to rounding and give the exact special values. Bounds:
        fdlibm's exp/log are within 1 ulp and glibc's within ~0.5, so they
        differ by at most 1; log1p by Goldberg's formula is within ~2.5."""
        import math

        import numpy as np

        from tuktu_spark.ml.cnn import _exp, _log, _log1p, _matmul

        rng = np.random.RandomState(0)
        a, b = rng.standard_normal((7, 5)), rng.standard_normal((5, 3))
        for x, y in ((a, b), (a[0], b), (a, b[:, 0]), (b.T, a.T)):
            np.testing.assert_allclose(_matmul(x, y), x @ y, rtol=1e-13, atol=1e-14)
        cases = (
            (_exp, math.exp, 1, np.concatenate([
                rng.uniform(-745.0, 709.0, 20000), rng.uniform(-40.0, 0.0, 20000),
                rng.uniform(-1e-9, 1e-9, 1000)])),
            (_log, math.log, 1, np.concatenate([
                np.exp(rng.uniform(-700.0, 700.0, 20000)),
                rng.uniform(0.5, 2.0, 20000)])),
            (_log1p, math.log1p, 3, np.concatenate([
                rng.uniform(-0.9, 10.0, 20000), rng.uniform(-1e-9, 1e-9, 1000)])),
        )
        for fixed, libm, maxulp, x in cases:
            want = np.array([libm(v) for v in x.tolist()])
            np.testing.assert_array_max_ulp(fixed(x), want, maxulp=maxulp)
        with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
            np.testing.assert_array_equal(
                _exp(np.array([0.0, -np.inf, -800.0, np.inf, 800.0, np.nan])),
                [1.0, 0.0, 0.0, np.inf, np.inf, np.nan],
            )
            np.testing.assert_array_equal(
                _log(np.array([1.0, 0.0, np.inf, -1.0, np.nan])),
                [0.0, -np.inf, np.inf, np.nan, np.nan],
            )
        assert _log1p(0.0) == 0.0 and _log1p(1e-300) == 1e-300

    def test_weights_roundtrip(self, tmp_path):
        import numpy as np

        from tuktu_spark.ml.cnn import TinyConvNet

        net = TinyConvNet(seed=7)
        p = str(tmp_path / "w.npz")
        net.save_weights(p)
        loaded = TinyConvNet.load_weights(p)
        img = np.random.RandomState(0).rand(32, 32)
        assert np.array_equal(net.forward(img), loaded.forward(img))

    def test_embeds_through_real_codecs(self):
        from tuktu_spark.llm.multimodal import make_bmp, make_png
        from tuktu_spark.ml.cnn import EMBED_DIM, cnn_embed_bytes

        for blob in (
            make_png(9, 7, gradient=(3, 5, 1)),
            make_bmp(8, 6, gradient=(0, 7, 3)),
        ):
            v = cnn_embed_bytes(blob)
            assert len(v) == EMBED_DIM and any(abs(x) > 0 for x in v)

    def test_image_classify_operator_cnn_model(self, spark):
        from tuktu_spark.llm.multimodal import make_png
        from tuktu_spark.ml.cnn import cnn_embed_bytes
        from tuktu_spark.operators import make_operator

        cents = {
            "smooth": cnn_embed_bytes(make_png(20, 16, gradient=(5, 3, 2))),
            "rough": cnn_embed_bytes(make_png(20, 16, gradient=(5, 131, 77))),
        }
        rows = [
            (0, make_png(18, 15, gradient=(40, 3, 2))),
            (1, make_png(21, 14, gradient=(90, 131, 77))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        out = make_operator(
            "image_classify",
            {"field": "media", "centroids": cents, "model": "cnn",
             "top_n": 1, "flatten": True},
        )(df)
        got = {r["doc_id"]: r["labels"] for r in out.collect()}
        assert got == {0: "smooth", 1: "rough"}


class TestCnnTraining:
    """From-scratch backprop + distributed data-parallel SGD (ml/cnn.py)."""

    def _imgs(self, idxs):
        import numpy as np

        from tuktu_spark.llm.multimodal import decode_pixels, make_png
        from tuktu_spark.ml.cnn import _to_gray_square

        out = []
        for i in idxs:
            dx, dy = (3, 2) if i % 2 == 0 else (131, 77)
            blob = make_png(18 + i % 7, 14 + i % 5, gradient=((i * 7) % 256, dx, dy))
            w, h, c, pix = decode_pixels(blob)
            out.append(_to_gray_square(pix, w, h, c))
        return out

    def test_gradients_match_finite_differences(self):
        import numpy as np

        from tuktu_spark.ml import cnn as C

        rng = np.random.RandomState(0)
        imgs = [rng.rand(12, 12) for _ in range(3)]
        labels = [0, 2, 1]
        net = C.TinyConvNet(seed=3)
        net.w3 = net.w3[:, :3].copy()
        net.b3 = net.b3[:3].copy()
        _, grads = C.loss_and_grads(net, imgs, labels)
        eps = 1e-6
        for p in C._PARAMS:
            w = getattr(net, p)
            flat = w.ravel()
            for i in rng.choice(flat.size, size=min(5, flat.size), replace=False):
                orig = flat[i]
                flat[i] = orig + eps
                lp, _ = C.loss_and_grads(net, imgs, labels)
                flat[i] = orig - eps
                lm, _ = C.loss_and_grads(net, imgs, labels)
                flat[i] = orig
                num = (lp - lm) / (2 * eps)
                ana = grads[p].ravel()[i]
                assert abs(num - ana) <= 1e-5 * max(abs(num), abs(ana), 1e-3), (
                    p, i, num, ana
                )

    def test_local_training_reaches_perfect_heldout(self):
        import numpy as np

        from tuktu_spark.llm.multimodal import make_png
        from tuktu_spark.ml.cnn import cnn_predict_label, train_cnn_local

        net, losses = train_cnn_local(
            self._imgs(range(60)), [i % 2 for i in range(60)], 2, epochs=12
        )
        assert losses[-1] < 0.05 < losses[0]
        for i in range(200, 260):
            dx, dy = (3, 2) if i % 2 == 0 else (131, 77)
            blob = make_png(18 + i % 7, 14 + i % 5, gradient=((i * 7) % 256, dx, dy))
            assert cnn_predict_label(blob, net) == i % 2

    def test_distributed_training_matches_local(self, spark):
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from tuktu_spark.llm.multimodal import make_png
        from tuktu_spark.ml import cnn as C

        def synth(ids):
            def mk(i):
                i = int(i)
                dx, dy = (3, 2) if i % 2 == 0 else (131, 77)
                return make_png(
                    18 + i % 7, 14 + i % 5, gradient=((i * 7) % 256, dx, dy)
                )
            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        su = pandas_udf("binary")(synth)
        df = spark.range(40).select(
            su(F.col("id")).alias("media"), (F.col("id") % 2).alias("label")
        ).repartition(6)
        dnet, dlosses = C.train_cnn_distributed(df, "media", "label", 2, epochs=6)
        lnet, llosses = C.train_cnn_local(
            self._imgs(range(40)), [i % 2 for i in range(40)], 2, epochs=6
        )
        # same loss trace and weights to float rounding (partition-sum
        # grouping is the only difference)
        assert np.allclose(dlosses, llosses, rtol=0, atol=1e-9)
        for p in C._PARAMS:
            assert np.allclose(
                getattr(dnet, p), getattr(lnet, p), rtol=0, atol=1e-9
            ), p


def test_audio_classify_operator(spark):
    from tuktu_spark.llm.multimodal import make_wav
    from tuktu_spark.ml.cnn import audio_embed_bytes
    from tuktu_spark.operators import make_operator

    cents = {
        "tone": audio_embed_bytes(make_wav(n_samples=420, ramp=(4, 2000))),
        "square": audio_embed_bytes(make_wav(n_samples=420, square=(8000, 2))),
    }
    rows = [
        (0, make_wav(n_samples=433, ramp=(5, 2000))),
        (1, make_wav(n_samples=411, square=(8000, 2))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = make_operator(
        "audio_classify",
        {"field": "media", "centroids": cents, "top_n": 1, "flatten": True},
    )(df)
    got = {r["doc_id"]: r["labels"] for r in out.collect()}
    assert got == {0: "tone", 1: "square"}


def test_video_classify_operator(spark):
    from tuktu_spark.llm.multimodal import make_avi
    from tuktu_spark.ml.cnn import video_embed_bytes
    from tuktu_spark.operators import make_operator

    cents = {
        "smooth": video_embed_bytes(
            make_avi(15, 11, 4, codec="DIB ", gradient=(40, 3, 7, 11))
        ),
        "rough": video_embed_bytes(
            make_avi(15, 11, 4, codec="DIB ", gradient=(40, 131, 77, 11))
        ),
    }
    rows = [
        (0, make_avi(14, 10, 3, codec="DIB ", gradient=(10, 3, 7, 11))),
        (1, make_avi(16, 12, 4, codec="DIB ", gradient=(99, 131, 77, 11))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = make_operator(
        "video_classify",
        {"field": "media", "centroids": cents, "top_n": 1, "flatten": True},
    )(df)
    got = {r["doc_id"]: r["labels"] for r in out.collect()}
    assert got == {0: "smooth", 1: "rough"}


def test_vectorized_head_matches_reference_scorer():
    """r8 (verdict #8): the batch E @ C.T head must agree with the
    per-vector reference scorer — including ragged embedding/centroid
    widths (zip-overlap dot, full norms)."""
    import numpy as np

    from tuktu_spark.ml.deeplearn import _cosine_score_matrix, _cosine_scores

    rng = np.random.RandomState(7)
    cents = [
        ("a", rng.standard_normal(6).tolist()),
        ("b", rng.standard_normal(6).tolist()),
        ("c", rng.standard_normal(4).tolist()),  # narrower centroid
    ]
    dmax = max(len(c) for _, c in cents)
    cmat = np.zeros((len(cents), dmax))
    cnorms = np.empty(len(cents))
    for i, (_, c) in enumerate(cents):
        a = np.asarray(c)
        cmat[i, : len(a)] = a
        cnorms[i] = np.sqrt((a * a).sum()) or 1.0
    vecs = [
        rng.standard_normal(6).tolist(),
        rng.standard_normal(8).tolist(),  # longer than every centroid
        rng.standard_normal(3).tolist(),  # shorter
        [0.0] * 6,                        # zero vector -> norm guard
    ]
    got = _cosine_score_matrix(vecs, cmat, cnorms)
    for i, v in enumerate(vecs):
        want = [s for _, s in _cosine_scores(v, cents)]
        assert np.allclose(got[i], want, atol=1e-12), (i, got[i], want)
