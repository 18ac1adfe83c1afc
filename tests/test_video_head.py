"""Trained video classifier head (r10, verdict #6): the shipped
CNN-mean-pool weights artifact and the video_classify config['weights']
seam, completing the image (r8) / audio (r9) / video trained-artifact
trio. The reference's deeplearn module
(modules/deeplearn/app/tuktu/deeplearn/models/) only ever RUNS
pretrained image nets and has no video path at all.

The DenseHead trainer itself (gradients vs finite differences,
distributed == local, .npz roundtrip) is pinned in test_audio_head.py —
these tests pin the VIDEO artifact and its seam."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

from tuktu_spark.llm.multimodal import make_avi
from tuktu_spark.ml.cnn import (
    DenseHead,
    video_embed_bytes,
    video_head_embedder,
)

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from train_video_head_weights import (  # noqa: E402
    GRADS,
    LABELS,
    PERIOD,
    query_avi,
)

WEIGHTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tuktu_spark", "ml", "weights", "videohead_cnnpool_v1.npz",
)


def _period_features():
    feats = np.asarray([video_embed_bytes(query_avi(i)) for i in range(PERIOD)])
    ys = np.asarray([i % 4 for i in range(PERIOD)])
    return feats, ys


def test_shipped_artifact_zero_errors_over_full_period():
    """The avi tuple is (doc_id % 4, doc_id % 3, doc_id % 2,
    doc_id % 40) — period lcm = 120 — so zero errors on 0..119 means
    zero errors for EVERY doc_id at any scale factor."""
    head = DenseHead.load_weights(WEIGHTS)
    feats, ys = _period_features()
    pred = np.argmax(feats @ head.w + head.b, axis=1)
    assert (pred == ys).all()


def test_trained_beats_he_random_baseline():
    """He-random accuracy sits near the 0.25 chance floor (measured
    exactly 0.25) while the shipped artifact is exact."""
    feats, ys = _period_features()
    rand = DenseHead(feats.shape[1], len(LABELS), seed=1234)
    racc = float((np.argmax(feats @ rand.w + rand.b, axis=1) == ys).mean())
    assert racc <= 0.6  # generous: any He seed lands near chance
    head = DenseHead.load_weights(WEIGHTS)
    tacc = float((np.argmax(feats @ head.w + head.b, axis=1) == ys).mean())
    assert tacc == 1.0 and tacc > racc + 0.3


def test_families_not_separable_by_untrained_centroids():
    """The reason a TRAINED head ships instead of raw-embedding
    centroids: within-class cosine does not dominate cross-class
    (measured within min 0.9825 < cross max 0.9972), so the r8-era
    cosine-centroid scorer cannot solve this family — the trained
    logits create the margin."""
    import itertools

    feats, ys = _period_features()
    fn = feats / np.linalg.norm(feats, axis=1, keepdims=True)
    cos = fn @ fn.T
    within = min(
        cos[i, j]
        for i, j in itertools.combinations(range(PERIOD), 2)
        if ys[i] == ys[j]
    )
    cross = max(
        cos[i, j]
        for i, j in itertools.combinations(range(PERIOD), 2)
        if ys[i] != ys[j]
    )
    assert within < cross  # raw-embedding nearest-centroid must fail


def test_video_classify_weights_seam(spark):
    """config['weights'] on the video_classify operator scores trained
    logits against one-hot centroids — every clip of a 40-doc slice must
    land on its family label."""
    from tuktu_spark.operators import make_operator

    # media built driver-side: query_avi lives in scripts/ which executors
    # cannot import, so it must not ride a UDF closure by reference
    df = spark.createDataFrame(
        [(i, query_avi(i)) for i in range(40)], "doc_id long, media binary"
    )
    centroids = {
        lb: [1.0 if j == k else 0.0 for j in range(4)]
        for k, lb in enumerate(LABELS)
    }
    out = make_operator(
        "video_classify",
        {"field": "media", "centroids": centroids, "weights": WEIGHTS,
         "top_n": 1, "flatten": True},
    )(df)
    got = {r["doc_id"]: r["labels"] for r in out.collect()}
    assert got == {i: LABELS[i % 4] for i in range(40)}


def test_head_embedder_logits_equal_forward():
    emb = video_head_embedder(WEIGHTS)
    head = DenseHead.load_weights(WEIGHTS)
    avi = make_avi(15, 11, 4, codec="DIB ", gradient=(42, *GRADS[2]))
    assert emb(avi) == head.forward(
        np.asarray(video_embed_bytes(avi))
    ).tolist()


def test_artifact_reproducible_from_script(tmp_path):
    """Re-running the training script writes a bit-identical artifact
    (fixed seed, float64, and a reduction order that ml/cnn.py fixes
    itself: no BLAS call, exp/log from single IEEE operations, numpy's
    own pairwise sums — the same on every CPU for one numpy install) —
    the artifact is code, not a blob."""
    from train_video_head_weights import EPOCHS, LR, training_corpus
    from tuktu_spark.ml.cnn import train_head_local

    feats, ys = training_corpus()
    head, _ = train_head_local(feats, ys, len(LABELS), epochs=EPOCHS, lr=LR)
    shipped = DenseHead.load_weights(WEIGHTS)
    assert np.array_equal(head.w, shipped.w)
    assert np.array_equal(head.b, shipped.b)


def _cpu_has(*flags: str) -> bool:
    try:
        with open("/proc/cpuinfo") as fh:
            have = next(
                (set(ln.split(":", 1)[1].split()) for ln in fh
                 if ln.startswith("flags")),
                set(),
            )
    except OSError:
        return False
    return set(flags) <= have


# Two older CPUs, each as the BLAS kernel OpenBLAS would pick there and the
# numpy and glibc SIMD paths it would lack: a pre-AVX core, and an AVX2
# core without AVX-512.
_AVX512 = "AVX512F AVX512CD AVX512_SKX AVX512_CLX AVX512_CNL AVX512_ICL"


@pytest.mark.parametrize("coretype,npy_disabled,glibc_hwcaps", [
    pytest.param(
        "Prescott", "AVX F16C FMA3 AVX2 " + _AVX512, "-AVX,-AVX2,-FMA,-FMA4,-AVX512F",
        id="pre-avx",
    ),
    pytest.param(
        "Haswell", _AVX512, "-AVX512F", id="avx2",
        marks=pytest.mark.skipif(
            not _cpu_has("avx2", "fma"),
            reason="OpenBLAS's Haswell kernel needs AVX2 and FMA",
        ),
    ),
])
def test_artifact_reproducible_on_other_cpu_paths(
    tmp_path, coretype, npy_disabled, glibc_hwcaps
):
    """The training script, run in a child process that takes another
    CPU's paths, still writes the shipped artifact bit-for-bit: OpenBLAS
    forced onto that CPU's GEMM kernel, and numpy's and glibc's SIMD paths
    cut to what that CPU has. These settings are read once, at library
    load, so only a child process can stand in for another host; without
    this, a host whose own paths happen to match the ones that wrote the
    artifact would never see a dependence on them."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "videohead.npz"
    subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "train_video_head_weights.py"),
         str(out)],
        env=dict(os.environ, OPENBLAS_CORETYPE=coretype,
                 NPY_DISABLE_CPU_FEATURES=npy_disabled,
                 GLIBC_TUNABLES=f"glibc.cpu.hwcaps={glibc_hwcaps}"),
        check=True, capture_output=True, timeout=300,
    )
    head = DenseHead.load_weights(str(out))
    shipped = DenseHead.load_weights(WEIGHTS)
    assert np.array_equal(head.w, shipped.w)
    assert np.array_equal(head.b, shipped.b)
