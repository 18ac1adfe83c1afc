#!/usr/bin/env python
"""Reproduce the shipped audio classifier-head weights artifact
(tuktu_spark/ml/weights/audiohead_energyzcr_v1.npz).

The reference's deeplearn module only ever RUNS pretrained nets
(modules/deeplearn/app/tuktu/deeplearn/models/{InceptionV3,VGG16}.scala)
and has no audio path at all; this repo trains its own heads and ships
them through the same ``config['weights']`` .npz seam. The task is 4-way
waveform-family classification over the REAL RIFF/WAVE decode ->
energy/ZCR front end (ml/cnn.audio_embed_bytes):

  class 0 'tone':   sawtooth ramp(3 + i%8, 2000)        — low ZCR, varying energy
  class 1 'buzz':   square(8000, 2)                     — ZCR ~ 1.0
  class 2 'hum':    square(8000, 16)                    — ZCR ~ 0.125
  class 3 'padded': ramp(5 + i%8, 1500) in 100-sample
                    silence pads                        — zero-energy edge frames

Training set: the full query family period (below) PLUS an off-family
jitter grid (lengths 380..460 step 7 x 8 step-variants per ramp class =
more clip lengths than any query doc produces) through the REAL decode
pipeline; 300 epochs full-batch momentum SGD at lr=0.5 on the
64-dimensional (32 mean-centered log-energies + 32 ZCRs) features.
Everything is deterministic: fixed seed, float64 and a reduction order
that ml/cnn.py fixes itself: no BLAS call (its products go through
np.einsum, not ``@``), exp and log built from single IEEE operations
(fdlibm's algorithms, not libm's or numpy's, whose paths differ by CPU)
and numpy's own pairwise sums. So re-running this script reproduces the
artifact bit-for-bit on any CPU for one numpy install (checked across
OpenBLAS's CPU kernels, with numpy's AVX paths disabled and with glibc's
AVX2/FMA paths disabled); across numpy versions or architectures it was
not tried.
train_head_distributed on the same corpus agrees to float rounding.

Shipped-artifact invariants (pinned in tests/test_audio_head.py): zero
errors over the closed-form query corpus for the FULL wav-tuple period —
the per-doc clip depends on doc_id only through (doc_id % 4,
doc_id % 50, doc_id % 8), periodic with lcm(4, 50, 8) = 200 — so
validating doc_id 0..199 covers EVERY doc_id at any scale factor. Plus
a He-random baseline near chance (measured 0.24).

Usage: python scripts/train_audio_head_weights.py [out.npz]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from tuktu_spark.llm.multimodal import make_wav  # noqa: E402
from tuktu_spark.ml.cnn import (  # noqa: E402
    DenseHead,
    audio_embed_bytes,
    train_head_local,
)

# shared with the multimodal_audio_pretrained_classify query and the
# tests; change one and the others break loudly.
LABELS = ("tone", "buzz", "hum", "padded")
PERIOD = 200  # lcm(4, 50, 8): the wav tuple is (i%4, i%50, i%8)
EPOCHS, LR = 300, 0.5


def query_wav(i: int) -> bytes:
    """The closed-form per-doc generator the driver query replays."""
    n = 400 + (i % 50)
    cls = i % 4
    if cls == 0:
        return make_wav(n_samples=n, ramp=(3 + i % 8, 2000))
    if cls == 1:
        return make_wav(n_samples=n, square=(8000, 2))
    if cls == 2:
        return make_wav(n_samples=n, square=(8000, 16))
    return make_wav(n_samples=n, ramp=(5 + i % 8, 1500), pad=(100, 100))


def training_corpus() -> tuple[np.ndarray, list[int]]:
    feats, ys = [], []
    # the full query family period
    for i in range(PERIOD):
        feats.append(audio_embed_bytes(query_wav(i)))
        ys.append(i % 4)
    # off-family jitter: clip lengths no query doc produces
    for n in range(380, 461, 7):
        for v in range(8):
            feats.append(
                audio_embed_bytes(make_wav(n_samples=n, ramp=(3 + v, 2000)))
            )
            ys.append(0)
            feats.append(
                audio_embed_bytes(make_wav(n_samples=n, square=(8000, 2)))
            )
            ys.append(1)
            feats.append(
                audio_embed_bytes(make_wav(n_samples=n, square=(8000, 16)))
            )
            ys.append(2)
            feats.append(
                audio_embed_bytes(
                    make_wav(n_samples=n, ramp=(5 + v, 1500), pad=(100, 100))
                )
            )
            ys.append(3)
    return np.asarray(feats), ys


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tuktu_spark", "ml", "weights", "audiohead_energyzcr_v1.npz",
    )
    t0 = time.time()
    feats, ys = training_corpus()
    print(f"corpus: {len(ys)} clips, {feats.shape[1]} features "
          f"({time.time() - t0:.1f}s)")
    head, losses = train_head_local(feats, ys, len(LABELS), epochs=EPOCHS, lr=LR)
    print(f"trained {EPOCHS} epochs: loss {losses[0]:.4f} -> {losses[-1]:.6f}")

    # validation: the FULL query period = every doc_id at any SF
    qf = np.asarray([audio_embed_bytes(query_wav(i)) for i in range(PERIOD)])
    qy = np.asarray([i % 4 for i in range(PERIOD)])
    pred = np.argmax(qf @ head.w + head.b, axis=1)
    errs = int((pred != qy).sum())
    rand = DenseHead(feats.shape[1], len(LABELS), seed=1234)
    racc = float(
        (np.argmax(qf @ rand.w + rand.b, axis=1) == qy).mean()
    )
    print(f"query-period errors: {errs}/{PERIOD}; he-random acc {racc:.2f}")
    if errs:
        raise SystemExit("artifact invalid: nonzero query-period errors")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    head.save_weights(out)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
