"""A real convolutional embedder, from scratch in numpy.

Reference capability: modules/deeplearn/app/tuktu/deeplearn/models/
{InceptionV3,VGG16}.scala load pretrained CNN binaries and run image ->
feature forward passes. The container has no TF/Torch and no model zoo,
so this module implements the FORWARD PASS itself — im2col convolutions,
ReLU, max pooling, global average pooling and a dense projection, all
numpy — with deterministic He-initialized weights by default and a
``load_weights``/``save_weights`` .npz seam for real trained weights
(e.g. distilled from InceptionV3). The ARCHITECTURE and execution layout
are real; only the default weights are untrained.

Distributed shape (the only part Spark cares about): weights are a few
hundred KB riding the UDF closure (shipped once per executor), images
decode and embed inside Arrow batches, nothing but (id, embedding/label)
ever shuffles.

Determinism: weights come from a fixed-seed MT19937 stream (bit-stable
across platforms), convolution is pure float64 numpy with a fixed
reduction order (``_matmul``/``_exp``/``_log`` below) — the same image
yields the same embedding on every CPU, so classification queries are
exactly reproducible (driver-oracle-able).
"""

from __future__ import annotations

import numpy as np

EMBED_DIM = 64
_INPUT = 32  # images are nearest-resized to INPUT x INPUT grayscale


# --- fixed-order arithmetic -------------------------------------------------
#
# Every product, exp and log on the embedding and training paths goes
# through the helpers below, so the shipped weight artifacts are what their
# scripts yield on any CPU. Three things would otherwise depend on the host
# CPU: ``@`` calls OpenBLAS, whose DYNAMIC_ARCH build picks its GEMM kernel,
# and so its summation order, from the CPU model at run time; numpy's
# float64 exp/log/log1p take an AVX-512 path only where the CPU has one; and
# libm's exp/log/log1p (``math.exp``, and numpy's own fallback) take an FMA
# path only where the CPU has FMA, which rounds a few exp results in 10,000
# differently. The order here rests instead on: no BLAS call (np.einsum
# without ``optimize`` never makes one, and with both operands contiguous
# along the summed axis its inner loop is a dot product built for numpy's
# compile-time baseline SIMD, not dispatched at run time); exp and log built
# from single IEEE operations (+ - * /, rint, frexp, ldexp), which round the
# same on every SIMD path; and numpy's own pairwise sums. Bit-identity holds
# for one numpy install across CPUs; across numpy versions or
# architectures it was not tried.


def _matmul(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a @ b`` for 1-D or 2-D float64 operands, in a fixed summation order."""
    sa = "ik"[2 - a.ndim:]
    sb = "jk"[2 - b.ndim:]
    return np.einsum(
        f"{sa},{sb}->{sa[:-1]}{sb[:-1]}",
        np.ascontiguousarray(a), np.ascontiguousarray(b.T),
    )


# fdlibm's e_exp.c / e_log.c: ln2 split so that k * _LN2_HI is exact, and
# the minimax coefficients of their remez polynomials (both < 1 ulp).
_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_INVLN2 = 1.44269504088896338700e00
_EXP_P = (1.66666666666666019037e-01, -2.77777777770155933842e-03,
          6.61375632143793436117e-05, -1.65339022054652515390e-06,
          4.13813679705723846039e-08)
_LOG_LG = (6.666666666666735130e-01, 3.999999999940941908e-01,
           2.857142874366239149e-01, 2.222219843214978396e-01,
           1.818357216161805012e-01, 1.531383769920937332e-01,
           1.479819860511658591e-01)


def _exp(x: "np.ndarray | float") -> np.ndarray:
    """exp(x) element-wise, in a fixed order (fdlibm's e_exp.c
    algorithm): x = k*ln2 + r with |r| <= ln2/2, a rational
    approximation of exp(r), then an exact scaling by 2**k."""
    x = np.clip(np.asarray(x, dtype=np.float64), -746.0, 710.0)
    k = np.nan_to_num(np.rint(x * _INVLN2))
    hi = x - k * _LN2_HI
    lo = k * _LN2_LO
    r = hi - lo
    t = r * r
    p1, p2, p3, p4, p5 = _EXP_P
    c = r - t * (p1 + t * (p2 + t * (p3 + t * (p4 + t * p5))))
    y = 1.0 - ((lo - (r * c) / (2.0 - c)) - hi)
    return np.ldexp(y, k.astype(np.int64))


def _log(x: "np.ndarray | float") -> np.ndarray:
    """log(x) element-wise, in a fixed order (fdlibm's e_log.c
    algorithm): x = 2**k * (1 + f) with sqrt(2)/2 <= 1 + f < sqrt(2),
    then log(1 + f) = f - f*f/2 + s*(f*f/2 + R(s)), s = f / (2 + f).
    Zero, negative and non-finite inputs give numpy's log, which is exact
    for them (-inf, nan, inf)."""
    x = np.asarray(x, dtype=np.float64)
    odd = ~((x > 0) & (x < np.inf))
    m, k = np.frexp(np.where(odd, 1.0, x))  # x = m * 2**k, 0.5 <= m < 1
    low = m < 0.70710678118654752440
    m = np.where(low, m + m, m)
    k = (k - low).astype(np.float64)
    f = m - 1.0
    s = f / (2.0 + f)
    z = s * s
    w = z * z
    lg1, lg2, lg3, lg4, lg5, lg6, lg7 = _LOG_LG
    r = z * (lg1 + w * (lg3 + w * (lg5 + w * lg7))) + w * (lg2 + w * (lg4 + w * lg6))
    hfsq = 0.5 * f * f
    out = k * _LN2_HI - ((hfsq - (s * (hfsq + r) + k * _LN2_LO)) - f)
    if odd.any():
        out = np.where(odd, np.log(np.where(odd, x, 1.0)), out)
    return out


def _log1p(x: "np.ndarray | float") -> np.ndarray:
    """log(1 + x) element-wise, accurate for small x (Goldberg's
    theorem 4: log(u) * x / (u - 1) with u = 1 + x rounded)."""
    x = np.asarray(x, dtype=np.float64)
    u = 1.0 + x
    d = u - 1.0
    return np.where(d == 0.0, x, _log(u) * (x / np.where(d == 0.0, 1.0, d)))


def _he(rng: np.random.RandomState, *shape: int) -> np.ndarray:
    fan_in = int(np.prod(shape[:-1])) or 1
    return rng.standard_normal(shape) * np.sqrt(2.0 / fan_in)


class TinyConvNet:
    """conv3x3(1->8) -> ReLU -> maxpool2 -> conv3x3(8->16) -> ReLU ->
    maxpool2 -> global-average-pool -> dense(16->EMBED_DIM).

    ~5k parameters: big enough for real spatial features (edge/gradient
    orientation detectors emerge even from He-random filters), small
    enough that the closure broadcast is trivial."""

    def __init__(self, seed: int = 1234) -> None:
        rng = np.random.RandomState(seed)
        self.w1 = _he(rng, 3, 3, 1, 8)
        self.b1 = np.zeros(8)
        self.w2 = _he(rng, 3, 3, 8, 16)
        self.b2 = np.zeros(16)
        self.w3 = _he(rng, 16, EMBED_DIM)
        self.b3 = np.zeros(EMBED_DIM)

    # --- weight I/O seam (real trained weights plug in here) -------------
    def save_weights(self, path: str) -> None:
        np.savez(path, w1=self.w1, b1=self.b1, w2=self.w2, b2=self.b2,
                 w3=self.w3, b3=self.b3)

    @classmethod
    def load_weights(cls, path: str) -> "TinyConvNet":
        """Load a .npz saved by save_weights. The head width is inferred
        from the stored w3/b3 shapes, so classifier nets trained via
        train_cnn_* with n_classes < EMBED_DIM round-trip through the
        image_classify ``config['weights']`` seam (ADVICE r7: a fixed
        EMBED_DIM check rejected every narrow trained head)."""
        net = cls()
        with np.load(path) as z:
            for name in ("w1", "b1", "w2", "b2"):
                got = z[name]
                want = getattr(net, name).shape
                if got.shape != want:
                    raise ValueError(
                        f"weight {name}: shape {got.shape} != expected {want}"
                    )
                setattr(net, name, got.astype(np.float64))
            w3, b3 = z["w3"], z["b3"]
            if (
                w3.ndim != 2
                or w3.shape[0] != net.w3.shape[0]
                or not 1 <= w3.shape[1] <= EMBED_DIM
                or b3.shape != (w3.shape[1],)
            ):
                raise ValueError(
                    f"head w3 {w3.shape} / b3 {b3.shape} invalid: expected "
                    f"({net.w3.shape[0]}, k) / (k,) with 1 <= k <= {EMBED_DIM}"
                )
            net.w3 = w3.astype(np.float64)
            net.b3 = b3.astype(np.float64)
        return net

    # --- forward pass -----------------------------------------------------
    @staticmethod
    def _conv2d(x: np.ndarray, w: np.ndarray, b: np.ndarray) -> np.ndarray:
        """'same' conv via im2col: x (H, W, C) * w (3, 3, C, F) -> (H, W, F)."""
        h, wd, c = x.shape
        f = w.shape[-1]
        xp = np.pad(x, ((1, 1), (1, 1), (0, 0)))
        # patches: (H, W, 3, 3, C) gathered with stride tricks (no copy)
        s = xp.strides
        patches = np.lib.stride_tricks.as_strided(
            xp, shape=(h, wd, 3, 3, c), strides=(s[0], s[1], s[0], s[1], s[2]),
            writeable=False,
        )
        out = _matmul(patches.reshape(h * wd, 9 * c), w.reshape(9 * c, f))
        return out.reshape(h, wd, f) + b

    @staticmethod
    def _maxpool2(x: np.ndarray) -> np.ndarray:
        h, w, c = x.shape
        return x[: h - h % 2, : w - w % 2].reshape(
            h // 2, 2, w // 2, 2, c
        ).max(axis=(1, 3))

    def forward(self, img: np.ndarray) -> np.ndarray:
        """img: (H, W) float64 in [0, 1] -> (EMBED_DIM,) embedding."""
        x = img[:, :, None]
        x = np.maximum(self._conv2d(x, self.w1, self.b1), 0.0)
        x = self._maxpool2(x)
        x = np.maximum(self._conv2d(x, self.w2, self.b2), 0.0)
        x = self._maxpool2(x)
        pooled = x.mean(axis=(0, 1))  # global average pool -> (16,)
        return _matmul(pooled, self.w3) + self.b3


def _to_gray_square(pix: bytes, w: int, h: int, c: int, size: int = _INPUT) -> np.ndarray:
    """Decoded pixels -> (size, size) grayscale float64 in [0, 1], nearest
    resize (the same resize convention as dhash_bits)."""
    arr = np.frombuffer(bytes(pix), dtype=np.uint8).reshape(h, w, c).astype(np.float64)
    if c >= 3:
        gray = (arr[:, :, 0] + 2.0 * arr[:, :, 1] + arr[:, :, 2]) / 4.0
    else:
        gray = arr[:, :, 0]
    ys = (np.arange(size) * h) // size
    xs = (np.arange(size) * w) // size
    out = gray[np.ix_(ys, xs)] / 255.0
    # standard input normalization (zero mean / unit std per image):
    # without it the filters' DC response to the image mean dominates
    # every embedding and cosine separation collapses (measured 0.998
    # between orthogonal gradients; ~0 after)
    std = out.std()
    return (out - out.mean()) / (std if std > 1e-9 else 1.0)


_DEFAULT_NET: TinyConvNet | None = None


def default_net() -> TinyConvNet:
    global _DEFAULT_NET
    if _DEFAULT_NET is None:
        _DEFAULT_NET = TinyConvNet()
    return _DEFAULT_NET


def cnn_embed_bytes(data: bytes, net: TinyConvNet | None = None) -> list[float]:
    """Image bytes -> EMBED_DIM embedding through the REAL pipeline:
    stdlib codec decode (PNG/JPEG/GIF/BMP/TIFF/netpbm — llm.multimodal
    decode_pixels), grayscale nearest resize, CNN forward. The
    ``embedder`` plug for ml.deeplearn.classify_images."""
    from ..llm.multimodal import decode_pixels

    w, h, c, pix = decode_pixels(data)
    img = _to_gray_square(pix, w, h, c)
    return (net or default_net()).forward(img).tolist()


# --- training: from-scratch backprop + distributed data-parallel SGD ------
#
# The reference only ever RUNS pretrained CNNs; training closes the loop
# so the model seam is fully self-contained. Gradients are exact
# (finite-difference-checked in tests), float64, fixed reduction order
# (``_matmul``/``_exp``/``_log``) — so the distributed full-batch
# gradient is bit-identical to the single-process one for a FIXED
# partition layout, and agrees to float rounding (<= 1e-14 measured)
# across layouts, where the partition-sum grouping is the only
# difference (see train_cnn_distributed).

_PARAMS = ("w1", "b1", "w2", "b2", "w3", "b3")


def _forward_cached(net: TinyConvNet, img: np.ndarray) -> dict:
    x0 = img[:, :, None]
    z1 = net._conv2d(x0, net.w1, net.b1)
    a1 = np.maximum(z1, 0.0)
    p1 = net._maxpool2(a1)
    z2 = net._conv2d(p1, net.w2, net.b2)
    a2 = np.maximum(z2, 0.0)
    p2 = net._maxpool2(a2)
    g = p2.mean(axis=(0, 1))
    logits = _matmul(g, net.w3) + net.b3
    return dict(x0=x0, z1=z1, a1=a1, p1=p1, z2=z2, a2=a2, p2=p2, g=g,
                logits=logits)


def _conv2d_backward(x: np.ndarray, w: np.ndarray, dout: np.ndarray):
    """Gradients of _conv2d: returns (dx, dw, db). Same im2col patches as
    the forward; dx via the transposed fold (col2im accumulation)."""
    h, wd, c = x.shape
    f = w.shape[-1]
    xp = np.pad(x, ((1, 1), (1, 1), (0, 0)))
    s = xp.strides
    patches = np.lib.stride_tricks.as_strided(
        xp, shape=(h, wd, 3, 3, c), strides=(s[0], s[1], s[0], s[1], s[2]),
        writeable=False,
    ).reshape(h * wd, 9 * c)
    dflat = dout.reshape(h * wd, f)
    dw = _matmul(patches.T, dflat).reshape(3, 3, c, f)
    db = dflat.sum(axis=0)
    # dx: scatter dpatches back (col2im)
    dpatches = _matmul(dflat, w.reshape(9 * c, f).T).reshape(h, wd, 3, 3, c)
    dxp = np.zeros_like(xp)
    for di in range(3):
        for dj in range(3):
            dxp[di : di + h, dj : dj + wd] += dpatches[:, :, di, dj]
    return dxp[1 : 1 + h, 1 : 1 + wd], dw, db


def _maxpool2_backward(x: np.ndarray, dout: np.ndarray) -> np.ndarray:
    """Route pool gradients to the max positions (ties: first in the
    2x2 block, matching numpy argmax order — deterministic)."""
    h, w, c = x.shape
    he, we = h - h % 2, w - w % 2
    blocks = x[:he, :we].reshape(he // 2, 2, we // 2, 2, c)
    flat = blocks.transpose(0, 2, 4, 1, 3).reshape(he // 2, we // 2, c, 4)
    arg = flat.argmax(axis=-1)
    dx = np.zeros_like(x)
    dblk = np.zeros_like(flat)
    np.put_along_axis(dblk, arg[..., None], dout[..., None], axis=-1)
    dx[:he, :we] = (
        dblk.reshape(he // 2, we // 2, c, 2, 2)
        .transpose(0, 3, 1, 4, 2)
        .reshape(he, we, c)
    )
    return dx


def loss_and_grads(
    net: TinyConvNet, imgs: "list[np.ndarray]", labels: "list[int]"
) -> tuple[float, dict]:
    """Summed softmax cross-entropy loss + parameter gradient SUMS over a
    batch (sums, not means: partition results add exactly across a
    distributed full batch)."""
    grads = {p: np.zeros_like(getattr(net, p)) for p in _PARAMS}
    total = 0.0
    for img, y in zip(imgs, labels):
        c = _forward_cached(net, img)
        logits = c["logits"]
        m = logits.max()
        e = _exp(logits - m)
        probs = e / e.sum()
        total += float(m + _log(e.sum()) - logits[int(y)])
        dlogits = probs.copy()
        dlogits[int(y)] -= 1.0
        grads["w3"] += np.outer(c["g"], dlogits)
        grads["b3"] += dlogits
        dg = _matmul(net.w3, dlogits)
        hp, wp, _ = c["p2"].shape
        dp2 = np.broadcast_to(dg / (hp * wp), c["p2"].shape)
        da2 = _maxpool2_backward(c["a2"], dp2)
        dz2 = da2 * (c["z2"] > 0)
        dp1, dw2, db2 = _conv2d_backward(c["p1"], net.w2, dz2)
        grads["w2"] += dw2
        grads["b2"] += db2
        da1 = _maxpool2_backward(c["a1"], dp1)
        dz1 = da1 * (c["z1"] > 0)
        _, dw1, db1 = _conv2d_backward(c["x0"], net.w1, dz1)
        grads["w1"] += dw1
        grads["b1"] += db1
    return total, grads


def sgd_step(
    net: TinyConvNet, grads: dict, vel: dict, lr: float, n: int,
    momentum: float = 0.9,
) -> None:
    """SGD with classical momentum (full-batch GD alone plateaus on this
    loss surface — measured stuck at ~0.86 nats on the texture task where
    momentum reaches ~0; lr above ~0.5 diverges)."""
    for p in _PARAMS:
        vel[p] = momentum * vel[p] - lr * grads[p] / max(n, 1)
        setattr(net, p, getattr(net, p) + vel[p])


def _init_net(n_classes: int, seed: int) -> tuple[TinyConvNet, dict]:
    if not 1 <= n_classes <= EMBED_DIM:
        raise ValueError(
            f"n_classes={n_classes} out of range: the classification head "
            f"slices the {EMBED_DIM}-wide projection (silent truncation "
            "would IndexError deep inside an executor)"
        )
    net = TinyConvNet(seed=seed)
    net.w3 = net.w3[:, :n_classes].copy()
    net.b3 = net.b3[:n_classes].copy()
    vel = {p: np.zeros_like(getattr(net, p)) for p in _PARAMS}
    return net, vel


def train_cnn_local(
    imgs: "list[np.ndarray]", labels: "list[int]", n_classes: int,
    epochs: int = 30, lr: float = 0.5, momentum: float = 0.9,
    seed: int = 1234,
) -> tuple[TinyConvNet, "list[float]"]:
    """Single-process full-batch gradient descent with momentum (the
    reference model for the distributed trainer; bit-identical results)."""
    net, vel = _init_net(n_classes, seed)
    losses = []
    for _ in range(epochs):
        loss, grads = loss_and_grads(net, imgs, labels)
        losses.append(loss / max(len(imgs), 1))
        sgd_step(net, grads, vel, lr, len(imgs), momentum)
    return net, losses


def train_cnn_distributed(
    df, media_col: str, label_col: str, n_classes: int,
    epochs: int = 30, lr: float = 0.5, momentum: float = 0.9,
    seed: int = 1234,
) -> tuple[TinyConvNet, "list[float]"]:
    """Data-parallel full-batch gradient descent on Spark: each epoch
    ships the current weights in the UDF closure (a few hundred KB),
    every partition computes exact gradient SUMS over its images inside
    one Arrow pass, and the driver reduces the per-partition sums and
    steps. Deterministic for a fixed partition layout (scan splits are
    stable); agrees with train_cnn_local to float rounding regardless of
    layout (measured <= 1e-14 max weight delta after 30 epochs — the
    partition-sum grouping is the only difference; pinned in tests).
    Images never move; per epoch only ~5k floats per partition do."""
    import pandas as pd

    from ..llm.multimodal import decode_pixels

    spark = df.sparkSession
    data = df.select(media_col, label_col).persist()
    try:
        n_rows = data.count()
        net, vel = _init_net(n_classes, seed)
        losses = []
        shapes = {p: getattr(net, p).shape for p in _PARAMS}
        for _ in range(epochs):
            weights = {p: getattr(net, p) for p in _PARAMS}

            def part_grads(batches):
                cur = TinyConvNet(seed=seed)
                for p, v in weights.items():
                    setattr(cur, p, v)
                imgs, ys = [], []
                for pdf in batches:
                    for media, y in zip(pdf[media_col], pdf[label_col]):
                        w, h, ch, pix = decode_pixels(bytes(media))
                        imgs.append(_to_gray_square(pix, w, h, ch))
                        ys.append(int(y))
                if not imgs:
                    return
                loss, grads = loss_and_grads(cur, imgs, ys)
                row = {"loss": loss, "n": len(imgs)}
                for p in _PARAMS:
                    row[p] = grads[p].ravel().tolist()
                yield pd.DataFrame([row])

            fields = ", ".join(f"{p} array<double>" for p in _PARAMS)
            parts = data.mapInPandas(
                part_grads, schema=f"loss double, n long, {fields}"
            ).collect()
            total_loss = sum(r["loss"] for r in parts)
            grads = {
                p: sum(
                    (np.array(r[p]).reshape(shapes[p]) for r in parts),
                    start=np.zeros(shapes[p]),
                )
                for p in _PARAMS
            }
            losses.append(total_loss / max(n_rows, 1))
            sgd_step(net, grads, vel, lr, n_rows, momentum)
        return net, losses
    finally:
        data.unpersist()


def cnn_predict_label(data: bytes, net: TinyConvNet) -> int:
    """argmax class of a trained net over image bytes (real codec decode)."""
    from ..llm.multimodal import decode_pixels

    w, h, c, pix = decode_pixels(data)
    return int(np.argmax(net.forward(_to_gray_square(pix, w, h, c))))


def audio_embed_bytes(data: bytes, n_frames: int = 32) -> list[float]:
    """Audio bytes -> feature embedding through the REAL PCM decode
    (llm.multimodal decode_wav_samples: 8/16-bit PCM + G.711): per-frame
    log-energies (n_frames equal windows) concatenated with the framed
    zero-crossing rates — the classic energy+ZCR front end, L2-ready for
    the cosine classifier head (ml.deeplearn.classify_images works on any
    binary column given an embedder; this is the audio plug)."""
    from ..llm.multimodal import decode_wav_samples

    _rate, ch, samples = decode_wav_samples(data)
    mono = np.asarray(samples[:: max(ch, 1)], dtype=np.float64)
    n = len(mono)
    if n == 0:
        return [0.0] * (2 * n_frames)
    L = max(n // n_frames, 1)
    energy = []
    zcrs = []
    for t in range(n_frames):
        fr = mono[t * L : (t + 1) * L]
        if len(fr) == 0:
            energy.append(0.0)
            zcrs.append(0.0)
            continue
        energy.append(float((fr * fr).sum()))
        sign = fr < 0
        zcrs.append(float(np.count_nonzero(sign[1:] != sign[:-1])) / len(fr))
    # per-clip normalization (the image embedder's lesson: remove the
    # DC/loudness component so the classifier sees the SHAPE)
    f = _log1p(np.asarray(energy))
    f = f - f.mean()
    return f.tolist() + zcrs


def video_embed_bytes(
    data: bytes, net: TinyConvNet | None = None, max_frames: int = 16
) -> list[float]:
    """Video bytes -> one embedding: REAL container decode
    (llm.multimodal decode_video_frames — AVI DIB/MJPEG or MP4 samples),
    per-frame CNN forward, mean pool over up to ``max_frames`` evenly
    spaced frames (the standard clip-embedding shape: temporal mean of
    frame features). The video plug for classify_images."""
    from ..llm.multimodal import decode_video_frames

    w, h, frames = decode_video_frames(data)
    if not frames:
        return [0.0] * EMBED_DIM
    n = len(frames)
    take = min(max_frames, n)
    idxs = [(i * n) // take for i in range(take)]
    model = net or default_net()
    acc = np.zeros(EMBED_DIM)
    for i in idxs:
        img = _to_gray_square(frames[i], w, h, 3)
        acc += model.forward(img)
    return (acc / take).tolist()


# --- trainable dense head over any embedding front end ---------------------
#
# The audio twin of the TinyConvNet classifier head (r8 verdict #9): the
# reference's deeplearn module never trained anything; here the SAME
# full-batch momentum-SGD machinery trains a softmax head directly on a
# front-end feature vector (energy/ZCR for audio — audio_embed_bytes).
# Gradients are exact SUMS (closed-form softmax CE, no approximation), so
# the distributed trainer is bit-identical to the local one for a fixed
# partition layout, same as train_cnn_distributed.

_HEAD_PARAMS = ("w", "b")


class DenseHead:
    """dense(d -> k) softmax classifier: logits = feat @ w + b. He-random
    by default; ``save_weights``/``load_weights`` is the same .npz seam
    TinyConvNet uses for trained artifacts."""

    def __init__(self, d: int, k: int, seed: int = 1234) -> None:
        rng = np.random.RandomState(seed)
        self.w = _he(rng, d, k)
        self.b = np.zeros(k)

    def save_weights(self, path: str) -> None:
        np.savez(path, w=self.w, b=self.b)

    @classmethod
    def load_weights(cls, path: str) -> "DenseHead":
        with np.load(path) as z:
            w, b = z["w"], z["b"]
        if w.ndim != 2 or b.shape != (w.shape[1],):
            raise ValueError(
                f"head w {w.shape} / b {b.shape} invalid: expected (d, k) / (k,)"
            )
        head = cls(*w.shape)
        head.w = w.astype(np.float64)
        head.b = b.astype(np.float64)
        return head

    def forward(self, feat: "np.ndarray | list[float]") -> np.ndarray:
        return _matmul(np.asarray(feat, dtype=np.float64), self.w) + self.b


def head_loss_and_grads(
    head: DenseHead, feats: np.ndarray, labels: "list[int]"
) -> tuple[float, dict]:
    """Summed softmax cross-entropy + gradient SUMS over a feature batch
    (sums, not means — partition results add exactly, same contract as
    loss_and_grads)."""
    x = np.asarray(feats, dtype=np.float64)
    y = np.asarray(labels, dtype=np.int64)
    logits = _matmul(x, head.w) + head.b
    m = logits.max(axis=1, keepdims=True)
    e = _exp(logits - m)
    z = e.sum(axis=1, keepdims=True)
    probs = e / z
    total = float(
        (m.ravel() + _log(z.ravel()) - logits[np.arange(len(y)), y]).sum()
    )
    dlogits = probs
    dlogits[np.arange(len(y)), y] -= 1.0
    return total, {"w": _matmul(x.T, dlogits), "b": dlogits.sum(axis=0)}


def train_head_local(
    feats: np.ndarray, labels: "list[int]", n_classes: int,
    epochs: int = 200, lr: float = 0.5, momentum: float = 0.9,
    seed: int = 1234,
) -> tuple[DenseHead, "list[float]"]:
    """Single-process full-batch momentum SGD (the reference model for the
    distributed trainer; bit-identical results for a fixed layout)."""
    x = np.asarray(feats, dtype=np.float64)
    head = DenseHead(x.shape[1], n_classes, seed=seed)
    vel = {p: np.zeros_like(getattr(head, p)) for p in _HEAD_PARAMS}
    losses = []
    n = len(labels)
    for _ in range(epochs):
        loss, grads = head_loss_and_grads(head, x, labels)
        losses.append(loss / max(n, 1))
        for p in _HEAD_PARAMS:
            vel[p] = momentum * vel[p] - lr * grads[p] / max(n, 1)
            setattr(head, p, getattr(head, p) + vel[p])
    return head, losses


def train_head_distributed(
    df, media_col: str, label_col: str, embedder, d: int, n_classes: int,
    epochs: int = 200, lr: float = 0.5, momentum: float = 0.9,
    seed: int = 1234,
) -> tuple[DenseHead, "list[float]"]:
    """Data-parallel full-batch SGD for the dense head: each epoch ships
    the (d x k) weights in the UDF closure, every partition decodes +
    embeds its clips ONCE per epoch inside one Arrow pass and returns
    exact gradient sums, the driver reduces and steps — the same DDP
    shape as train_cnn_distributed, with a far smaller closure. Media
    never moves; per epoch only d*k + k floats per partition do."""
    import pandas as pd

    data = df.select(media_col, label_col).persist()
    try:
        n_rows = data.count()
        head = DenseHead(d, n_classes, seed=seed)
        vel = {p: np.zeros_like(getattr(head, p)) for p in _HEAD_PARAMS}
        losses = []
        for _ in range(epochs):
            weights = {p: getattr(head, p) for p in _HEAD_PARAMS}

            def part_grads(batches):
                cur = DenseHead(d, n_classes, seed=seed)
                for p, v in weights.items():
                    setattr(cur, p, v)
                feats, ys = [], []
                for pdf in batches:
                    for media, y in zip(pdf[media_col], pdf[label_col]):
                        feats.append(embedder(bytes(media)))
                        ys.append(int(y))
                if not feats:
                    return
                loss, grads = head_loss_and_grads(
                    cur, np.asarray(feats), ys
                )
                yield pd.DataFrame([{
                    "loss": loss, "n": len(ys),
                    "w": grads["w"].ravel().tolist(),
                    "b": grads["b"].tolist(),
                }])

            parts = data.mapInPandas(
                part_grads,
                schema="loss double, n long, w array<double>, b array<double>",
            ).collect()
            total_loss = sum(r["loss"] for r in parts)
            grads = {
                "w": sum(
                    (np.array(r["w"]).reshape(d, n_classes) for r in parts),
                    start=np.zeros((d, n_classes)),
                ),
                "b": sum(
                    (np.array(r["b"]) for r in parts),
                    start=np.zeros(n_classes),
                ),
            }
            losses.append(total_loss / max(n_rows, 1))
            for p in _HEAD_PARAMS:
                vel[p] = momentum * vel[p] - lr * grads[p] / max(n_rows, 1)
                setattr(head, p, getattr(head, p) + vel[p])
        return head, losses
    finally:
        data.unpersist()


def audio_head_embedder(weights_path: str):
    """bytes -> trained-head logits over the energy/ZCR front end: the
    audio analogue of image_classify's model='cnn' + config['weights']
    path. The returned callable plugs into classify_images as the
    embedder; scored against one-hot centroids, cosine argmax equals
    logit argmax (per-clip norm divides every score)."""
    head = DenseHead.load_weights(weights_path)

    def embed(data: bytes) -> list[float]:
        return head.forward(audio_embed_bytes(data)).tolist()

    return embed


def video_head_embedder(weights_path: str, max_frames: int = 16):
    """bytes -> trained-head logits over the decode->CNN->mean-pool
    front end: the video analogue of audio_head_embedder, completing
    the image/audio/video trained-artifact trio (r10). The returned
    callable plugs into classify_images as the embedder; scored against
    one-hot centroids, cosine argmax equals logit argmax (per-clip norm
    divides every score)."""
    head = DenseHead.load_weights(weights_path)

    def embed(data: bytes) -> list[float]:
        return head.forward(
            np.asarray(video_embed_bytes(data, max_frames=max_frames))
        ).tolist()

    return embed
