"""Microbenchmarks of the native kernels, called through their public
wrappers on inputs sampled from the running workload."""

from __future__ import annotations

import statistics
import time

import numpy as np

from entityframe_spark.functions import b3_native, jw_native, uf_native


def availability() -> dict[str, bool]:
    return {
        "jw_native": jw_native.native_available(),
        "uf_native": uf_native.native_available(),
        "b3_native": b3_native.native_available(),
    }


def _median_call_s(fn, reps: int = 7) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _pack(strs: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """utf-32 codepoints of every string back to back, plus n+1 offsets
    (the packed layout lsh_band_hashes_native takes)."""
    off = np.zeros(len(strs) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in strs], out=off[1:])
    buf = "".join(strs).encode("utf-32-le")
    return np.frombuffer(buf, dtype=np.uint32).copy(), off


def measure(
    left: list[str],
    right: list[str],
    docs: list[str],
    src: np.ndarray,
    dst: np.ndarray,
    wfp: np.ndarray,
    n_nodes: int,
) -> dict[str, float]:
    """ns per lev+JW pair, LSH band-key docs per second and single-
    linkage edges per second (median of 7 calls each)."""
    lev_s = _median_call_s(lambda: jw_native.lev_jw_batch_native(left, right, 256, 128))

    normed = [" ".join(d[:4096].lower().split()) for d in docs]
    txt, off = _pack(normed)
    rng = np.random.default_rng(42)
    p = 2_147_483_647
    A = rng.integers(1, p, size=32, dtype=np.int64)
    B = rng.integers(0, p, size=32, dtype=np.int64)
    band_s = _median_call_s(
        lambda: jw_native.lsh_band_hashes_native(txt, off, 5, A, B, 32, 16)
    )

    order = np.argsort(-wfp, kind="stable")
    s, d, w = src[order], dst[order], wfp[order]
    uf_s = _median_call_s(lambda: uf_native.single_linkage_native(s, d, w, n_nodes))
    return {
        "kernels.lev_jw_ns_per_pair": lev_s / max(len(left), 1) * 1e9,
        "kernels.band_keys_docs_per_s": len(docs) / band_s,
        "kernels.uf_edges_per_s": len(src) / uf_s,
    }
