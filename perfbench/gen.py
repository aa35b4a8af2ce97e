"""Seeded input generators and ground truth for the three workloads.

Everything here is plain Python/numpy: the program under test receives
only the tables these functions build. The same seed gives the same
rows on any commit, and ``digest`` fingerprints them so two runs can be
checked to have measured identical inputs.
"""

from __future__ import annotations

import hashlib
import random
from datetime import datetime, timedelta

import numpy as np

# 560 syllables: unrelated texts share few character 5-shingles, so
# LSH candidates come from planted near-duplicates, not chance
_SYLLABLES = [
    c + v + k for c in "bdfghjklmnprstvz" for v in "aeiou" for k in ("", "n", "r", "s", "l", "m", "x")
]

# role-tool patterns; turn t of a conversation takes pattern[t % 3].
# Every fifth conversation uses the one hot pattern (20%); the rest
# cycle through the others, so signature blocks have the same sizes
# for every seed
_HOT_PATTERN = [("user", ""), ("assistant", "db_query"), ("tool", "db_query")]
_PATTERNS = [
    [("user", ""), ("assistant", tool), ("tool", tool)]
    for tool in ("search", "calculator", "browser", "code_exec")
] + [
    [("user", ""), ("assistant", ""), ("assistant", tool)]
    for tool in ("search", "calculator", "browser", "code_exec")
]


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))))
    return sorted(words)


def digest(rows) -> str:
    """Short SHA-256 of the repr of every row, in order."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _typo(rng: random.Random, word: str) -> str:
    i = rng.randrange(len(word))
    return word[:i] + rng.choice("aeiou") + word[i + 1 :]


# variants per base record / copies per group, cycled by index: the
# shape of an input (record count, duplicate structure, hot share) is
# the same for every seed, so seeds vary content, not the amount of work
_VARIANTS = [0, 0, 1, 0, 2, 0, 0, 3, 0, 1]
_KINDS = ["exact", "synonym", "whitespace", "truncate", "typo"]


def linkage_inputs(seed: int, n_base: int) -> dict:
    """Transcripts shaped like FIXTURES.md section 1.

    ``n_base`` base conversations. Four in ten get 1-3 near-duplicate
    variants (synonym swap, doubled whitespace, truncated tail, typo)
    or exact copies sharing the base's truth cluster; the rest are
    isolates. Every fifth conversation uses the one hot role-tool
    signature (20%). Returns {"rows": [(conv_id, turn_idx, role, text,
    tool, ts)], "truth": {conv_id: cluster}}.
    """
    rng = random.Random(seed * 1_000_003 + 11)
    vocab = _vocab(rng, 3000)
    synonyms = {w: rng.choice(vocab) for w in rng.sample(vocab, 600)}
    base_ts = datetime(2024, 1, 1)
    rows: list[tuple] = []
    truth: dict[str, int] = {}

    for i in range(n_base):
        conv_id = f"c{i:06d}"
        pattern = _HOT_PATTERN if i % 5 == 0 else _PATTERNS[i % len(_PATTERNS)]
        turns = []
        for t in range(rng.randint(3, 6)):
            role, tool = pattern[t % len(pattern)]
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 16)))
            turns.append((role, text, tool))
        variants: list[tuple[str, list]] = [(conv_id, turns)]
        for v in range(_VARIANTS[i % len(_VARIANTS)]):
            kind = _KINDS[(i + v) % len(_KINDS)]
            vturns = []
            for role, text, tool in turns:
                toks = text.split(" ")
                if kind == "synonym":
                    toks = [
                        synonyms[w] if w in synonyms and rng.random() < 0.5 else w
                        for w in toks
                    ]
                elif kind == "typo":
                    k = rng.randrange(len(toks))
                    toks[k] = _typo(rng, toks[k])
                sep = "  " if kind == "whitespace" else " "
                vturns.append((role, sep.join(toks), tool))
            if kind == "truncate":
                vturns = vturns[:-1]
            variants.append((f"{conv_id}_v{v}", vturns))
        for vid, vturns in variants:
            truth[vid] = i
            for t, (role, text, tool) in enumerate(vturns):
                rows.append(
                    (vid, t, role, text, tool, base_ts + timedelta(minutes=i, seconds=t))
                )
    return {"rows": rows, "truth": truth}


def dedup_inputs(seed: int, n_docs: int) -> dict:
    """Documents with planted near-duplicate groups.

    Four in ten base documents get 1-3 near copies (1-3 word
    substitutions each, so word 3-gram Jaccard stays well above 0.6).
    A shared boilerplate passage makes up about 40% of the words of
    every seventh group: their LSH bands collide more often than
    unrelated documents', which feeds the verify step pairs it must
    reject. Returns {"rows": [(doc_id, text)], "truth": {doc_id:
    group}}.
    """
    rng = random.Random(seed * 1_000_003 + 23)
    vocab = _vocab(rng, 5000)
    boiler = [rng.choice(vocab) for _ in range(45)]
    rows: list[tuple[int, str]] = []
    truth: dict[int, int] = {}
    group = 0
    while len(rows) < n_docs:
        body = [rng.choice(vocab) for _ in range(rng.randint(30, 90))]
        words = boiler + body if group % 7 == 0 else body
        copies = [words]
        for _ in range(_VARIANTS[group % len(_VARIANTS)]):
            w = list(words)
            for _ in range(rng.randint(1, 3)):
                w[rng.randrange(len(w))] = rng.choice(vocab)
            copies.append(w)
        for w in copies:
            doc_id = len(rows)
            rows.append((doc_id, " ".join(w)))
            truth[doc_id] = group
        group += 1
    return {"rows": rows[:n_docs], "truth": {d: truth[d] for d in range(n_docs)}}


def evaluate_inputs(seed: int, n_records: int) -> dict:
    """Planted-cluster edge graph.

    Cluster sizes are Zipf (a=2, capped at 60), drawn from a fixed
    stream so every seed has the same size multiset; the seed decides
    membership, edges and weights. Each cluster is a
    random spanning tree plus a few extra intra-cluster edges; every
    record also gets one cross-cluster noise edge, so a giant
    component forms as the threshold approaches 0. The two
    collections share this topology and draw their weights from
    different seeds: intra-cluster weights in [0.45, 1.0], noise
    weights in [0.0, 0.5] (the overlap keeps any single threshold from
    recovering the truth exactly), both on the 1e-6 grid the library
    quantises to. Returns {"src", "dst", "w_a", "w_b"} int arrays
    (weights in millionths) and "truth" (cluster per record index).
    Record ``i`` has key ``r{i:07d}``.
    """
    rng = np.random.default_rng(seed * 1_000_003 + 37)
    size_rng = np.random.default_rng(37)
    sizes = []
    left = n_records
    while left > 0:
        s = int(min(size_rng.zipf(2.0), 60, left))
        sizes.append(s)
        left -= s
    truth = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
    perm = rng.permutation(n_records)
    truth = truth[np.argsort(perm)]  # scatter cluster members over the key space
    order = np.argsort(truth, kind="stable")
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    src, dst = [], []
    for st, sz in zip(starts, sizes):
        members = order[st : st + sz]
        if sz < 2:
            continue
        # random spanning tree: member k links to a random earlier one
        parents = members[(rng.random(sz - 1) * np.arange(1, sz)).astype(np.int64)]
        src.append(members[1:])
        dst.append(parents)
        n_extra = sz // 3
        if n_extra:
            src.append(rng.choice(members, n_extra))
            dst.append(rng.choice(members, n_extra))
    intra_src = np.concatenate(src) if src else np.zeros(0, np.int64)
    intra_dst = np.concatenate(dst) if dst else np.zeros(0, np.int64)
    keep = intra_src != intra_dst
    intra_src, intra_dst = intra_src[keep], intra_dst[keep]
    noise_src = np.arange(n_records, dtype=np.int64)
    # never a self-loop, so every singleton cluster keeps its noise edge
    # and every record is an edge endpoint (the record space is exactly
    # range(n_records))
    noise_dst = (noise_src + rng.integers(1, n_records, n_records)) % n_records
    keep = truth[noise_src] != truth[noise_dst]
    noise_src, noise_dst = noise_src[keep], noise_dst[keep]
    n_intra, n_noise = len(intra_src), len(noise_src)

    def weights(wseed: int) -> np.ndarray:
        wr = np.random.default_rng(wseed)
        return np.concatenate(
            [wr.integers(450_000, 1_000_001, n_intra), wr.integers(0, 500_001, n_noise)]
        )

    return {
        "src": np.concatenate([intra_src, noise_src]),
        "dst": np.concatenate([intra_dst, noise_dst]),
        "w_a": weights(seed * 2 + 1),
        "w_b": weights(seed * 2 + 2),
        "truth": truth,
    }


def record_key(i: int) -> str:
    return f"r{i:07d}"
