"""Pairwise string-similarity scorers (SURVEY.md F6).

The reference deliberately assumes scoring happens upstream
(docs/design/principles.md:95); the north rule pulls it in scope.
Preference order per the Spark execution model: built-in JVM
expressions (levenshtein, token ops on split arrays) > Arrow-batched
stages backed by a C kernel (pair scoring's Levenshtein/Jaro-Winkler/
intersects in functions/jw_native.py; LSH band keys here) > never
per-row Python.

The column scorers take two string columns and return a similarity in
[0,1]. ``_jaro_winkler`` is the scalar Python reference for the C
Jaro-Winkler kernel (its fallback and its test oracle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def levenshtein_sim(a: Column, b: Column, max_len: int = 512) -> Column:
    """Normalised Levenshtein similarity via the JVM built-in:
    1 - dist / max(len). Inputs truncated to ``max_len`` chars so the
    O(len^2) DP stays bounded on pathological rows."""
    ta, tb = F.substring(a, 1, max_len), F.substring(b, 1, max_len)
    denom = F.greatest(F.length(ta), F.length(tb))
    return F.when(denom == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(ta, tb) / denom
    )


def token_jaccard(a: Column, b: Column) -> Column:
    """Whitespace-token Jaccard, entirely JVM-side:
    |tokens(a) ∩ tokens(b)| / |tokens(a) ∪ tokens(b)|."""
    ta = F.array_distinct(F.split(F.trim(a), TOKEN_SPLIT))
    tb = F.array_distinct(F.split(F.trim(b), TOKEN_SPLIT))
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(F.array_union(ta, tb))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def token_containment(a: Column, b: Column) -> Column:
    """|tokens(a) ∩ tokens(b)| / min(|tokens(a)|, |tokens(b)|) —
    robust to truncation (a prefix of b scores ~1), JVM-side."""
    ta = F.array_distinct(F.split(F.trim(a), TOKEN_SPLIT))
    tb = F.array_distinct(F.split(F.trim(b), TOKEN_SPLIT))
    inter = F.size(F.array_intersect(ta, tb))
    denom = F.least(F.size(ta), F.size(tb))
    return F.when(denom == 0, F.lit(1.0)).otherwise(inter / denom)


def _bigrams(c: Column) -> Column:
    # try_element_at: past-the-end reads return NULL (dropped by
    # concat_ws) instead of raising under Spark 4's default ANSI mode —
    # single-token texts yield one unigram "bigram", empty-safe.
    toks = F.split(F.trim(c), TOKEN_SPLIT)
    n = F.greatest(F.size(toks) - 1, F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat_ws(
                " ", F.try_element_at(toks, i + 1), F.try_element_at(toks, i + 2)
            ),
        )
    )


def bigram_jaccard(a: Column, b: Column) -> Column:
    """Token-bigram Jaccard, JVM-side — far more discriminative than
    unigram overlap when documents share a small vocabulary."""
    ba, bb = _bigrams(a), _bigrams(b)
    inter = F.size(F.array_intersect(ba, bb))
    union = F.size(F.array_union(ba, bb))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def bigram_containment(a: Column, b: Column) -> Column:
    ba, bb = _bigrams(a), _bigrams(b)
    inter = F.size(F.array_intersect(ba, bb))
    denom = F.least(F.size(ba), F.size(bb))
    return F.when(denom == 0, F.lit(1.0)).otherwise(inter / denom)


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    flags1 = [False] * l1
    flags2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions: matched chars out of order
    k = 0
    transpositions = 0
    for i in range(l1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions / 2
    m = matches
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def _jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    j = _jaro(s1, s2)
    if j <= 0.7:
        return j
    prefix = 0
    for c1, c2 in zip(s1[:4], s2[:4]):
        if c1 == c2:
            prefix += 1
        else:
            break
    return j + prefix * prefix_weight * (1.0 - j)


def make_lsh_band_keys_udf(
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 16,
    max_chars: int = 4096,
    seed: int = 42,
):
    """Arrow-batched text -> LSH band keys, the north-rule-sanctioned
    path ("MinHash/LSH bands over text shingles computed in
    Arrow-batched pandas UDFs").

    Per batch: k-char shingles -> crc32 base hash (deterministic
    across executors, unlike Python's salted hash()) -> ``num_hashes``
    linear permutations (a_i*x + b_i mod p, vectorized in numpy) ->
    per-band minima hashed into string keys. One compact Python stage
    instead of a 32-expression codegen tree (which measurably blows up
    JVM compile time).
    """
    import zlib

    rows_per_band = num_hashes // bands
    rng = np.random.default_rng(seed)
    p = np.int64(2_147_483_647)  # Mersenne prime 2^31-1
    A = rng.integers(1, p, size=num_hashes, dtype=np.int64)
    B = rng.integers(0, p, size=num_hashes, dtype=np.int64)

    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def band_keys(text: pd.Series) -> pd.Series:
        from entityframe_spark.functions import jw_native

        normed = [
            " ".join((t or "")[:max_chars].lower().split()) for t in text
        ]
        if jw_native.native_available():
            # r6 (guide §4.2): the whole shingle -> crc32 -> minhash ->
            # band pipeline in one C pass per batch — bit-identical
            # values (zlib CRC-32 over utf-8 shingle bytes, int64
            # mul-mod, band crc over LE signature bytes; parity-tested)
            # — replacing the ~40-50µs/doc Python loop below.
            arr, off = jw_native._pack_offsets(normed, max_chars)
            bh = jw_native.lsh_band_hashes_native(
                arr, off, shingle_k, A, B, num_hashes, bands
            )
            return pd.Series(
                [
                    [f"b{b}:{int(bh[d, b])}" for b in range(bands)]
                    for d in range(len(normed))
                ]
            )
        out = []
        for t in normed:
            n = len(t)
            if n <= shingle_k:
                shingles = {t}
            else:
                shingles = {t[i : i + shingle_k] for i in range(n - shingle_k + 1)}
            base = np.fromiter(
                (zlib.crc32(s.encode()) for s in shingles),
                dtype=np.int64,
                count=len(shingles),
            )
            # (num_hashes x n_shingles) linear perms; min per row
            sig = ((A[:, None] * base[None, :] + B[:, None]) % p).min(axis=1)
            keys = [
                f"b{b}:{zlib.crc32(sig[b * rows_per_band:(b + 1) * rows_per_band].tobytes())}"
                for b in range(bands)
            ]
            out.append(keys)
        return pd.Series(out)

    return band_keys
