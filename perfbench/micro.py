"""Sketch kernels called directly in the driver on generated arrays.

One 65,536-row batch (the session's Arrow batch size) is fed to each
sketch the way ``operators.approx_agg.build_partials`` feeds it: one
vectorized grouped scatter where the sketch has ``update_grouped``,
otherwise one ``build`` per group.  Medians of a few repetitions.
"""

from __future__ import annotations

import time

import numpy as np

from .stats import median

BATCH = 65_536
GROUPS = (1, 16, 1024)
REPS = 3


def _sketches():
    from verdictdb_spark import BloomSketch, CmsSketch, HllSketch, KllSketch, TDigestSketch

    return {
        "hll": (HllSketch(p=12), "hash"),
        "cms": (CmsSketch(), "hash"),
        "kll": (KllSketch(k=256), "double"),
        "tdigest": (TDigestSketch(compression=200.0), "double"),
        "bloom": (BloomSketch(capacity=200_000, fpr=0.01), "hash"),
    }


def _timed(fn) -> float:
    t = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        t.append((time.perf_counter() - t0) * 1e3)
    return median(t)


def run(seed: int) -> dict:
    rng = np.random.default_rng([seed, 23])
    hashes = rng.integers(-(2**63), 2**63 - 1, size=BATCH, dtype=np.int64)
    values = rng.lognormal(5.0, 1.0, size=BATCH)
    out: dict = {}
    for name, (sk, kind) in _sketches().items():
        v = hashes if kind == "hash" else values
        for g in GROUPS:
            codes = rng.integers(0, g, size=BATCH)
            if hasattr(sk, "update_grouped"):
                def upd(codes=codes, g=g, sk=sk, v=v):
                    sk.update_grouped(np.zeros(g * sk.state_size, dtype=sk.state_dtype), codes, v)
            else:
                order = np.argsort(codes, kind="stable")
                bounds = np.searchsorted(codes[order], np.arange(g + 1))

                def upd(order=order, bounds=bounds, g=g, sk=sk, v=v):
                    for i in range(g):
                        sk.build(v[order[bounds[i]:bounds[i + 1]]])
            out[f"sketches.{name}.update_ms.g{g}"] = _timed(upd)
        a, b = sk.build(v[: BATCH // 2]), sk.build(v[BATCH // 2:])
        out[f"sketches.{name}.merge_ms"] = _timed(lambda: sk.merge(a, b))
        m = sk.merge(a, b)
        out[f"sketches.{name}.to_bytes_ms"] = _timed(lambda: sk.to_bytes(m))
        out[f"sketches.{name}.state_bytes"] = len(sk.to_bytes(m))
    return out


def names() -> list[str]:
    keys = []
    for name in ("hll", "cms", "kll", "tdigest", "bloom"):
        keys += [f"sketches.{name}.update_ms.g{g}" for g in GROUPS]
        keys += [f"sketches.{name}.{m}" for m in ("merge_ms", "to_bytes_ms", "state_bytes")]
    return keys
