"""Single-process kernel replay of the featurize worker path.

The same distinct images the workload feeds Spark are passed, one
stage at a time, through the functions the Arrow UDF calls:
``codecs.decode_image`` -> ``preprocess.resize_nearest`` and
``preprocess_pixels`` -> ``model.model_forward`` -> ``FeaturizerPlan.finalize``.
The ``nn`` kernels are wrapped where ``pic2vec_spark.model`` imports
them, so each kernel's self time is measured and each ``conv2d`` call's
FLOPs and bytes are computed from its shapes.  Those two are counts: they
depend only on shapes and repeat exactly from run to run.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np
import pandas as pd

KERNELS = ("conv2d", "relu", "maxpool2d", "global_avg_pool")
CHUNK = 8  # images per forward call, as the engine's CNN_CHUNK


def _conv_counts(x: np.ndarray, w: np.ndarray, stride: int, padding: str) -> tuple[float, float, float]:
    """(FLOPs, bytes moved, im2col bytes) of one conv2d call."""
    n, h, wd, cin = x.shape
    kh, kw, _, cout = w.shape
    if padding == "same":
        oh, ow = -(-h // stride), -(-wd // stride)
    else:
        oh, ow = (h - kh) // stride + 1, (wd - kw) // stride + 1
    flops = 2.0 * n * oh * ow * kh * kw * cin * cout
    col = 0.0 if (kh == kw == 1 and stride == 1) else 4.0 * n * oh * ow * kh * kw * cin
    # input read, weights read, output written; im2col written then read
    moved = 4.0 * (x.size + w.size + n * oh * ow * cout) + 2 * col
    return flops, moved, col


class _Kernels:
    """Wraps the nn kernels in the model module's namespace and keeps
    per-kernel self time and the conv2d counts."""

    def __init__(self, model_module):
        self.mod = model_module
        self.self_s: dict[str, float] = defaultdict(float)
        self.conv = np.zeros(3)  # flops, bytes moved, im2col bytes
        self._orig = {}

    def __enter__(self) -> _Kernels:
        for name in KERNELS:
            orig = getattr(self.mod, name)
            self._orig[name] = orig
            setattr(self.mod, name, self._wrap(name, orig))
        return self

    def __exit__(self, *exc) -> None:
        for name, orig in self._orig.items():
            setattr(self.mod, name, orig)

    def _wrap(self, name, fn):
        def timed(*args, **kw):
            if name == "conv2d":
                stride = kw.get("stride", args[3] if len(args) > 3 else 1)
                padding = kw.get("padding", args[4] if len(args) > 4 else "valid")
                self.conv += _conv_counts(args[0], args[1], stride, padding)
            t0 = time.perf_counter()
            out = fn(*args, **kw)
            self.self_s[name] += time.perf_counter() - t0
            return out

        return timed


def replay(images: pd.DataFrame, per_format: int) -> dict[str, float]:
    """Per-layer metrics of the worker path over up to ``per_format``
    distinct images of each format."""
    from pic2vec_spark import model
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.plan import FeaturizerPlan
    from pic2vec_spark.preprocess import preprocess_pixels, resize_nearest

    plan = FeaturizerPlan.build()
    weights = model.model_weights(plan.model, plan.weight_seed, plan.depth)
    distinct = images.drop_duplicates(subset=["bytes", "fmt"])
    out: dict[str, float] = {}
    decoded, failures = [], 0
    for fmt in ("png", "bmp", "jpg"):
        rows = distinct[distinct["fmt"] == fmt]
        ok_s, ok_n = 0.0, 0
        for data in rows["bytes"]:
            if ok_n == per_format:
                break
            t0 = time.perf_counter()
            try:
                img = decode_image(data, fmt)
            except Exception:  # the engine maps any decode error to a missing row
                failures += 1
                continue
            ok_s += time.perf_counter() - t0
            ok_n += 1
            decoded.append(img)
        out[f"codecs.decode_ms_per_image.{fmt}"] = 1e3 * ok_s / max(ok_n, 1)
    out["codecs.decode_failures"] = float(failures)

    t0 = time.perf_counter()
    x = np.stack([
        preprocess_pixels(resize_nearest(img, plan.target_size).astype(np.float32)[None],
                          plan.preprocess_mode)[0]
        for img in decoded
    ])
    out["preprocess.ms_per_image"] = 1e3 * (time.perf_counter() - t0) / len(decoded)

    model.model_forward(plan.model, x[:1], weights, plan.depth)  # touch buffers once
    raws = []
    with _Kernels(model) as k:
        t0 = time.perf_counter()
        for i in range(0, len(x), CHUNK):
            raws.append(model.model_forward(plan.model, x[i : i + CHUNK], weights, plan.depth))
        forward_s = time.perf_counter() - t0
    n = len(x)
    out["model.forward_ms_per_image"] = 1e3 * forward_s / n
    for name in KERNELS:
        out[f"nn.{name}.self_s"] = k.self_s[name]
    flops, moved, col = k.conv
    out["nn.conv2d.gflop"] = flops / n / 1e9  # per image
    out["nn.conv2d.gflops"] = flops / 1e9 / max(k.self_s["conv2d"], 1e-9)
    out["nn.conv2d.im2col_mb"] = col / n / 2**20  # per image
    out["nn.conv2d.moved_mb"] = moved / n / 2**20  # per image

    raw = np.concatenate(raws)
    t0 = time.perf_counter()
    plan.finalize(raw)
    out["plan.finalize_ms_per_image"] = 1e3 * (time.perf_counter() - t0) / n
    return out
