#!/usr/bin/env python
"""Reproduce the shipped TinyConvNet weights artifact
(tuktu_spark/ml/weights/tinyconvnet_textures_v1.npz).

The reference's deeplearn module runs PRETRAINED nets
(modules/deeplearn/app/tuktu/deeplearn/models/{InceptionV3,VGG16}.scala);
this repo's analogue is a trained-from-scratch TinyConvNet exercised
through the same ``config['weights']`` .npz seam. The task is 4-way
gradient-texture orientation (the synthetic family corpus every
multimodal_* query draws from):

  class 0: horizontal ramp (dx=7,  dy=0)
  class 1: vertical ramp   (dx=0,  dy=7)
  class 2: diagonal ramp   (dx=7,  dy=7)
  class 3: high-frequency  (dx=131, dy=77)

Training set: the full query-size grid (18-24 x 14-18) x 8 seeds per
class = 1120 PNGs through the REAL codec decode -> grayscale resize ->
normalize pipeline; 150 epochs full-batch momentum SGD at lr=0.2
(measured: lr=0.5 oscillates on the 4-class loss, 0.2 reaches ~2e-3).
Everything is deterministic: fixed seeds, float64 and a reduction order
that ml/cnn.py fixes itself: no BLAS call (its products go through
np.einsum, not ``@``), exp and log built from single IEEE operations
(fdlibm's algorithms, not libm's or numpy's, whose paths differ by CPU)
and numpy's own pairwise sums. So re-running this script reproduces the
artifact bit-for-bit on any CPU for one numpy install (checked across
OpenBLAS's CPU kernels, with numpy's AVX paths disabled and with glibc's
AVX2/FMA paths disabled); across numpy versions or architectures it was
not tried.
train_cnn_distributed on the same corpus agrees to float rounding (the
partition-sum grouping is the only difference — see ml/cnn.py).

Shipped-artifact invariants (pinned in tests/test_cnn_pretrained.py):
zero errors over the closed-form query corpus for the FULL image-tuple
period — the per-doc image depends on doc_id only through
(doc_id % 7, (doc_id // 4) % 5, (doc_id * 37) % 256, doc_id % 4),
periodic with lcm(7, 20, 256, 4) = 8960 — so validating doc_id 0..8959
covers EVERY doc_id at any scale factor. Plus a He-random baseline near
chance.

Usage: python scripts/train_cnn_weights.py [out.npz]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from tuktu_spark.llm.multimodal import decode_pixels, make_png  # noqa: E402
from tuktu_spark.ml.cnn import _to_gray_square, train_cnn_local  # noqa: E402

# (dx, dy) per class — shared with the multimodal_cnn_pretrained_classify
# query and the tests; change one and the others break loudly.
FAMILIES = ((7, 0), (0, 7), (7, 7), (131, 77))
EPOCHS, LR = 150, 0.2


def _gray(png: bytes) -> np.ndarray:
    w, h, c, pix = decode_pixels(png)
    return _to_gray_square(pix, w, h, c)


def training_corpus() -> tuple[list, list]:
    imgs, ys = [], []
    for cls, (dx, dy) in enumerate(FAMILIES):
        for wi in range(7):
            for hi in range(5):
                for s in range(8):
                    seed = (s * 31 + wi * 7 + hi * 3 + cls * 5) % 256
                    png = make_png(18 + wi, 14 + hi, gradient=(seed, dx, dy))
                    imgs.append(_gray(png))
                    ys.append(cls)
    return imgs, ys


def query_corpus_png(doc_id: int) -> tuple[bytes, int]:
    """The closed-form per-doc generator the driver query replays."""
    cls = doc_id % 4
    dx, dy = FAMILIES[cls]
    return (
        make_png(
            18 + doc_id % 7,
            14 + (doc_id // 4) % 5,
            gradient=((doc_id * 37) % 256, dx, dy),
        ),
        cls,
    )


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tuktu_spark", "ml", "weights", "tinyconvnet_textures_v1.npz",
    )
    imgs, ys = training_corpus()
    print(f"training on {len(imgs)} images, {EPOCHS} epochs, lr={LR}")
    t0 = time.time()
    net, losses = train_cnn_local(imgs, ys, n_classes=4, epochs=EPOCHS, lr=LR)
    print(f"trained in {time.time() - t0:.0f}s, final loss {losses[-1]:.5f}")
    # lcm(7, 20, 256, 4): the full period of the image tuple in doc_id
    period = 8960
    bad = sum(
        int(np.argmax(net.forward(_gray(png))) != cls)
        for png, cls in (query_corpus_png(i) for i in range(period))
    )
    print(f"query-corpus errors over the full period {period}: {bad}")
    if bad:
        print("NOT saving: the driver oracle needs zero errors")
        return 1
    net.save_weights(out)
    print(f"saved {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
