"""Reference answers the benchmark owns: numpy union-find, pairwise
partition metrics and word n-gram Jaccard. They run outside the timer
and never import the library under test."""

from __future__ import annotations

import numpy as np


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Component label (minimum member index) of each of ``n`` nodes.

    Hook-and-shortcut union-find: every round hooks the larger root of
    each edge onto the smaller one, then pointer-jumps until every node
    points at a root. A root is never hooked onto a larger index, so
    the surviving root of a component is its minimum member.
    """
    parent = np.arange(n, dtype=np.int64)
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    while True:
        ps, pd = parent[src], parent[dst]
        diff = ps != pd
        if not diff.any():
            return parent
        lo = np.minimum(ps[diff], pd[diff])
        hi = np.maximum(ps[diff], pd[diff])
        np.minimum.at(parent, hi, lo)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _c2(x: np.ndarray) -> float:
    x = x.astype(np.float64)
    return float((x * (x - 1) / 2).sum())


def pair_metrics(pred: np.ndarray, truth: np.ndarray) -> dict[str, float]:
    """Pairwise precision / recall / F1 of two labelings of the same
    items (the library's definitions: 0.0 where a denominator is 0)."""
    pred = np.asarray(pred, dtype=np.int64)
    truth = np.asarray(truth, dtype=np.int64)
    _, pi = np.unique(pred, return_inverse=True)
    _, ti = np.unique(truth, return_inverse=True)
    cells = pi * (int(ti.max()) + 1 if len(ti) else 1) + ti
    tp = _c2(np.unique(cells, return_counts=True)[1])
    pp = _c2(np.bincount(pi))
    ap = _c2(np.bincount(ti))
    precision = tp / pp if pp > 0 else 0.0
    recall = tp / ap if ap > 0 else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if pp > 0 and ap > 0 and tp > 0
        else 0.0
    )
    return {"precision": precision, "recall": recall, "f1": f1}


def entity_count(labels: np.ndarray) -> int:
    return int(len(np.unique(labels)))


def word_ngram_jaccard(a: str, b: str, n: int = 3) -> float:
    """Word n-gram Jaccard as ngram_jaccard_pairs defines it: lower,
    trim, split on whitespace, distinct n-grams; a text with fewer than
    n tokens is one truncated gram."""

    def grams(t: str) -> set[str]:
        toks = t.strip().lower().split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    ga, gb = grams(a), grams(b)
    union = len(ga | gb)
    return 1.0 if union == 0 else len(ga & gb) / union
