#!/usr/bin/env python
"""Reproduce the shipped video classifier-head weights artifact
(tuktu_spark/ml/weights/videohead_cnnpool_v1.npz).

The reference's deeplearn module only ever RUNS pretrained image nets
(modules/deeplearn/app/tuktu/deeplearn/models/{InceptionV3,VGG16}.scala)
and has no video path at all; this repo trains its own heads and ships
them through the same ``config['weights']`` .npz seam — completing the
image (r8) / audio (r9) / video (r10) trained-artifact trio. The task is
4-way texture-motion-family classification over the REAL AVI decode ->
per-frame CNN -> temporal mean pool front end (ml/cnn.video_embed_bytes):

  class 0 'vertical':   gradient (dx, dy) = (3, 91)  — y-dominant bands
  class 1 'horizontal': gradient (dx, dy) = (91, 3)  — x-dominant bands
  class 2 'diagonal':   gradient (dx, dy) = (17, 23) — smooth diagonal
  class 3 'rough':      gradient (dx, dy) = (131, 77) — high-frequency

All four share the dt=11 temporal ramp and overlapping size/seed grids,
and the families are NOT separable by the untrained cosine-centroid
scorer (measured within-class min cosine 0.9825 < cross-class max
0.9972) — the trained logits are what create the margin, which is the
point of shipping trained weights rather than centroids.

Training set: the full query family period (below) PLUS an off-family
jitter grid (frame sizes 18-20 x 13-14 and a 23-step seed lattice — size
and seed combos no query doc produces) through the REAL decode pipeline;
300 epochs full-batch momentum SGD at lr=0.5 on the 64-dim mean-pooled
CNN embedding. Everything is deterministic: fixed seed, float64 and a
reduction order that ml/cnn.py fixes itself: no BLAS call (its products
go through np.einsum, not ``@``), exp and log built from single IEEE
operations (fdlibm's algorithms, not libm's or numpy's, whose paths
differ by CPU) and numpy's own pairwise sums. So re-running this script
reproduces the artifact bit-for-bit on any CPU for one numpy install
(checked across OpenBLAS's CPU kernels, with numpy's AVX paths disabled
and with glibc's AVX2/FMA paths disabled); across numpy versions or
architectures it was not tried.
train_head_distributed on the same corpus agrees to float rounding.

Shipped-artifact invariants (pinned in tests/test_video_head.py): zero
errors over the closed-form query corpus for the FULL avi-tuple period —
the per-doc clip depends on doc_id only through (doc_id % 4, doc_id % 3,
doc_id % 2, doc_id % 40), periodic with lcm(4, 3, 2, 40) = 120 — so
validating doc_id 0..119 covers EVERY doc_id at any scale factor. Plus
a He-random baseline near chance (measured 0.25).

Usage: python scripts/train_video_head_weights.py [out.npz]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from tuktu_spark.llm.multimodal import make_avi  # noqa: E402
from tuktu_spark.ml.cnn import (  # noqa: E402
    DenseHead,
    train_head_local,
    video_embed_bytes,
)

# shared with the multimodal_video_pretrained_classify query and the
# tests; change one and the others break loudly.
LABELS = ("vertical", "horizontal", "diagonal", "rough")
GRADS = {0: (3, 91, 11), 1: (91, 3, 11), 2: (17, 23, 11), 3: (131, 77, 11)}
PERIOD = 120  # lcm(4, 3, 2, 40): the avi tuple is (i%4, i%3, i%2, i%40)
EPOCHS, LR = 300, 0.5


def query_avi(i: int) -> bytes:
    """The closed-form per-doc generator the driver query replays."""
    dx, dy, dt = GRADS[i % 4]
    return make_avi(
        14 + i % 4, 10 + i % 3, 3 + i % 2,
        codec="DIB ", gradient=((i % 40) * 6, dx, dy, dt),
    )


def training_corpus() -> tuple[np.ndarray, list[int]]:
    feats, ys = [], []
    # the full query family period
    for i in range(PERIOD):
        feats.append(video_embed_bytes(query_avi(i)))
        ys.append(i % 4)
    # off-family jitter: frame sizes and seeds no query doc produces
    for j in range(80):
        cls = j % 4
        dx, dy, dt = GRADS[cls]
        feats.append(
            video_embed_bytes(
                make_avi(
                    18 + j % 3, 13 + j % 2, 4,
                    codec="DIB ", gradient=((j % 23) * 9, dx, dy, dt),
                )
            )
        )
        ys.append(cls)
    return np.asarray(feats), ys


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tuktu_spark", "ml", "weights", "videohead_cnnpool_v1.npz",
    )
    t0 = time.time()
    feats, ys = training_corpus()
    print(f"corpus: {len(ys)} clips, {feats.shape[1]} features "
          f"({time.time() - t0:.1f}s)")
    head, losses = train_head_local(feats, ys, len(LABELS), epochs=EPOCHS, lr=LR)
    print(f"trained {EPOCHS} epochs: loss {losses[0]:.4f} -> {losses[-1]:.6f}")

    # validation: the FULL query period = every doc_id at any SF
    qf = np.asarray([video_embed_bytes(query_avi(i)) for i in range(PERIOD)])
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
