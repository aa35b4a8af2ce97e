"""Parity tests: each union-find entry point of functions/uf_native.py
must give identical output with its C kernel and with its pure-Python
twin — same merge events in the same order, same labels, same masks —
and each test proves which path ran."""

from __future__ import annotations

import contextlib
import os
import re
import subprocess
import sys
import warnings

import numpy as np
import pandas as pd
import pytest

from entityframe_spark.functions import uf_native
from entityframe_spark.operators import hierarchy as H

_needs_cc = pytest.mark.skipif(not uf_native.native_available(), reason="no C compiler")

_KERNELS = ("components", "single_linkage", "msf_mask", "grid_labels")


def _random_graph(rng, n_max=60, m_max=200, stride=None):
    n = rng.randint(2, n_max)
    m = rng.randint(1, m_max)
    # sparse ids: scale by a random stride so labels aren't 0..n
    if stride is None:
        stride = int(rng.choice([1, 7, 1000, 10**9]))
    src = rng.randint(0, n, m).astype(np.int64) * stride
    dst = rng.randint(0, n, m).astype(np.int64) * stride
    keep = src != dst
    return src[keep], dst[keep]


def _fail(*_a, **_k):
    raise AssertionError("this path must not run")


@contextlib.contextmanager
def _only(monkeypatch, path):
    """Run the entry points on one path: "native" fails the test on
    any twin call; "twin" makes the loader report no kernel and fails
    the test on any C kernel call."""
    with monkeypatch.context() as m:
        if path == "twin":
            m.setattr(uf_native, "native_available", lambda: False)
        for k in _KERNELS:
            m.setattr(uf_native, f"{k}_native" if path == "twin" else f"_{k}_py", _fail)
        yield


# None: the random stride mix of each test's original inputs; 1: the
# dense-id path; 1e9: the sparse searchsorted path
_STRIDES = (None, 1, 10**9)


def _assert_id_path(graphs, stride):
    """Prove which id mapping the stride exercised."""
    dense = sum(uf_native._index(s, d)[2] is None for s, d in graphs)
    if stride == 1:
        assert dense > len(graphs) // 2
    elif stride == 10**9:
        assert dense == 0


@_needs_cc
def test_components_kernel_matches_union_find_numpy(monkeypatch):
    """components(): nodes are the sorted distinct endpoints, and the C
    kernel and its Python twin give identical min-id labels, on both
    id paths."""
    for stride in _STRIDES:
        rng = np.random.RandomState(42)
        graphs = [
            g for g in (_random_graph(rng, stride=stride) for _ in range(50))
            if len(g[0])
        ]
        _assert_id_path(graphs, stride)
        with _only(monkeypatch, "native"):
            native = [uf_native.components(s, d) for s, d in graphs]
        with _only(monkeypatch, "twin"):
            twin = [uf_native.components(s, d) for s, d in graphs]
        for (s, d), (nn, ln), (nt, lt) in zip(graphs, native, twin):
            assert np.array_equal(nn, np.unique(np.concatenate([s, d])))
            assert np.array_equal(nn, nt) and np.array_equal(ln, lt)


@_needs_cc
def test_single_linkage_kernel_matches_python_sweep(monkeypatch):
    """Sized sweep through the hierarchy adapter: kernel and Python
    twin emit IDENTICAL event sequences (same order, children,
    parents, sizes) — the dendrogram is pinned bit-for-bit, not just
    partition-equivalent — on both id paths."""
    for stride in _STRIDES:
        rng = np.random.RandomState(7)
        graphs = []
        for _ in range(50):
            src, dst = _random_graph(rng, stride=stride)
            if len(src) == 0:
                continue
            graphs.append((src, dst))
            w = rng.randint(1, 10, len(src)).astype(np.int64) * 100_000
            pdf = pd.DataFrame({"src": src, "dst": dst, "w_fp": w})
            with _only(monkeypatch, "native"):
                native = H._local_single_linkage_sized(pdf.copy())
            with _only(monkeypatch, "twin"):
                fallback = H._local_single_linkage_sized(pdf.copy())
            assert native.reset_index(drop=True).equals(
                fallback.reset_index(drop=True)
            )
        assert len(graphs) > 30
        _assert_id_path(graphs, stride)


@_needs_cc
def test_grid_labels_kernel_matches_incremental_python(monkeypatch):
    """Grid labels on each path vs a per-grid-point oracle: the
    components twin over the edges active at that threshold."""
    for path in ("native", "twin"):
        for stride in _STRIDES:
            rng = np.random.RandomState(13)
            for _ in range(30):
                src, dst = _random_graph(rng, n_max=40, m_max=80, stride=stride)
                if len(src) == 0:
                    continue
                w = rng.randint(1, 10, len(src)).astype(np.int64) * 100_000
                pdf = pd.DataFrame({"src": src, "dst": dst, "w_fp": w})
                me = H._local_single_linkage(pdf)
                nodes = np.unique(np.concatenate([src, dst]))
                tf = me["threshold_fp"].to_numpy(np.int64)
                ch = me["child"].to_numpy(np.int64)
                pa = me["parent"].to_numpy(np.int64)
                grid = np.array([950_000, 500_000, 150_000], dtype=np.int64)
                with _only(monkeypatch, path):
                    labels = uf_native.grid_labels(ch, pa, tf, nodes, grid)
                for g, t in enumerate(grid):
                    active = tf >= t
                    expected = uf_native._components_py(
                        np.searchsorted(nodes, ch[active]),
                        np.searchsorted(nodes, pa[active]),
                        len(nodes),
                    )
                    assert np.array_equal(expected, labels[g]), (path, stride)


@_needs_cc
def test_msf_mask_kernel_keeps_exactly_the_sweep_tree_edges(monkeypatch):
    """The Kruskal keep-mask must select exactly the edges that cause
    unions in the single-linkage sweep under the same canonical
    (-w, src, dst) order — i.e. #kept == #merge events, and sweeping
    ONLY the kept edges reproduces the identical event sequence. Both
    paths, both id paths."""
    for path in ("native", "twin"):
        for stride in _STRIDES:
            rng = np.random.RandomState(11)
            graphs = []
            for _ in range(50):
                src, dst = _random_graph(rng, stride=stride)
                if len(src) == 0:
                    continue
                graphs.append((src, dst))
                w = rng.randint(1, 8, len(src)).astype(np.int64) * 100_000
                order = np.lexsort((dst, src, -w))
                src, dst, w = src[order], dst[order], w[order]
                with _only(monkeypatch, path):
                    mask = uf_native.msf_mask(src, dst)
                    full = uf_native.single_linkage(src, dst, w)
                    kept = uf_native.single_linkage(src[mask], dst[mask], w[mask])
                assert int(mask.sum()) == len(full[0])
                for a, b in zip(full, kept):
                    assert np.array_equal(a, b)
            assert len(graphs) > 30
            _assert_id_path(graphs, stride)


def test_missing_compiler_warns_once_and_runs_python_twin(tmp_path):
    """With no `cc` on PATH and an empty kernel cache, the loader warns
    once — naming the module and the error — and the entry point
    still returns the twin's labels."""
    script = (
        "import warnings\n"
        "warnings.simplefilter('always')\n"
        "with warnings.catch_warnings(record=True) as w:\n"
        "    from entityframe_spark.functions import uf_native\n"
        "    nodes, labels = uf_native.components([5, 9, 20], [9, 3, 21])\n"
        "    uf_native.components([1], [2])\n"
        "assert not uf_native.native_available()\n"
        "print(nodes.tolist(), labels.tolist())\n"
        "for x in w:\n"
        "    print(x.category.__name__, x.message)\n"
    )
    empty_bin = tmp_path / "bin"
    empty_bin.mkdir()
    env = dict(
        os.environ,
        PATH=str(empty_bin),
        XDG_CACHE_HOME=str(tmp_path / "cache"),
        PYTHONPATH=os.pathsep.join(
            [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
            + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    ).stdout.splitlines()
    assert out[0] == "[3, 5, 9, 20, 21] [3, 3, 3, 20, 20]"
    warned = out[1:]
    assert len(warned) == 1, warned
    assert warned[0].startswith("RuntimeWarning entityframe_spark.functions.uf_native:")
    assert "FileNotFoundError" in warned[0] and "'cc'" in warned[0]


@_needs_cc
def test_compile_error_warns_with_compiler_stderr(tmp_path, monkeypatch):
    """A source that does not compile: the loader returns None and its
    one warning carries the tail of the compiler's stderr."""
    from entityframe_spark.functions import _native

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(_native, "_libs", {})
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        for _ in range(2):
            assert _native.load("pkg.broken_native", "not_a_type x;\n", _fail) is None
    assert [x.category for x in w] == [RuntimeWarning]
    assert re.search(r"^pkg\.broken_native: .*cc: .*not_a_type", str(w[0].message))
