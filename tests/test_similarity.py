"""Similarity-function unit tests: native Jaro-Winkler / Levenshtein /
pair-scoring parity with the scalar Python references, ANSI-safe
n-gram builders on degenerate texts, simhash vectorization, LRU cache
semantics."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from entityframe_spark.functions import jw_native
from entityframe_spark.functions.similarity import _jaro_winkler


def _rand_str(rng: random.Random, maxlen: int, alpha: str) -> str:
    return "".join(rng.choice(alpha) for _ in range(rng.randint(0, maxlen)))


def _native_jw(a_strs, b_strs, max_len: int = 128):
    """Jaro-Winkler column of the C lev/JW batch kernel."""
    if not jw_native.native_available():
        pytest.skip("no C compiler on this host")
    return jw_native.lev_jw_batch_native(a_strs, b_strs, jw_max_len=max_len)[1]


class TestJaroWinklerBatch:
    """Published values and edge cases pin the scalar reference and
    the C kernel; the kernel must match the reference bit-for-bit."""

    def test_known_values(self):
        # classic published JW examples
        cases = [
            ("martha", "marhta", 0.9611111111111111, 1e-12),
            ("dixon", "dicksonx", 0.8133333333333332, 1e-9),
            ("duane", "dwayne", 0.84, 1e-9),
        ]
        got = _native_jw([c[0] for c in cases], [c[1] for c in cases])
        for (a, b, want, tol), g in zip(cases, got):
            assert abs(_jaro_winkler(a, b) - want) < tol
            assert abs(g - want) < tol

    def test_edge_cases(self):
        a = ["", "", "abc", "a", "ab", "same"]
        b = ["", "abc", "", "a", "ba", "same"]
        for out in ([_jaro_winkler(x, y) for x, y in zip(a, b)], _native_jw(a, b)):
            assert out[0] == 1.0  # both empty == equal
            assert out[1] == 0.0
            assert out[2] == 0.0
            assert out[3] == 1.0
            assert out[5] == 1.0

    @pytest.mark.parametrize("alpha", ["abcde ", "abcde éσ日", "".join(chr(0x4E00 + k) for k in range(80))])
    def test_parity_with_scalar(self, alpha):
        rng = random.Random(42)
        cases = []
        for _ in range(800):
            a = _rand_str(rng, 50, alpha)
            if rng.random() < 0.5:
                b = a
                if b and rng.random() < 0.7:
                    i = rng.randrange(len(b))
                    b = b[:i] + rng.choice(alpha) + b[i + 1 :]
            else:
                b = _rand_str(rng, 50, alpha)
            cases.append((a, b))
        got = _native_jw([a for a, _ in cases], [b for _, b in cases])
        for (a, b), g in zip(cases, got):
            assert abs(_jaro_winkler(a, b) - g) < 1e-12, (a, b)

    def test_truncation_matches_scalar_on_prefix(self):
        a = "x" * 300
        b = "x" * 100 + "y" * 200
        got = _native_jw([a], [b], max_len=128)[0]
        assert abs(_jaro_winkler(a[:128], b[:128]) - got) < 1e-12


class TestAnsiSafeGrams:
    """Spark 4 defaults to ANSI mode: element_at past the end raises.
    Degenerate texts (empty / 1-token) must not crash any gram path."""

    def test_bigram_jaccard_short_texts(self, spark):
        from entityframe_spark.functions.similarity import bigram_jaccard

        df = spark.createDataFrame(
            [("", ""), ("one", ""), ("one", "one"), ("a b", "a"), ("", "x y z")],
            "a string, b string",
        )
        rows = df.select(F.round(bigram_jaccard(F.col("a"), F.col("b")), 6).alias("j")).collect()
        assert len(rows) == 5
        assert rows[2]["j"] == 1.0

    def test_prepare_record_features_short_texts(self, spark):
        from entityframe_spark.pipeline.scoring import prepare_record_features

        df = spark.createDataFrame(
            [(1, ""), (2, "single"), (3, "two tokens"), (4, "a b c")],
            "record_id long, full_text string",
        )
        out = prepare_record_features(df).collect()
        by_id = {r["record_id"]: r for r in out}
        assert by_id[2]["grams_h"] is not None
        assert len(by_id[4]["grams_h"]) == 2  # "a b", "b c"

    def test_ngram_jaccard_pairs_short_docs(self, spark):
        from entityframe_spark.pipeline.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, ""), (4, "one"), (5, "x y z w")],
            "doc_id long, text string",
        )
        rows = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5).collect()
        got = {(r["left_id"], r["right_id"]): r["jaccard"] for r in rows}
        assert got[(1, 2)] == 1.0  # identical short docs


class TestSimhash:
    def test_simhash_deterministic_and_discriminative(self, spark):
        from entityframe_spark.pipeline.dedup import make_simhash_udf, simhash_candidates

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "completely different content about spark engines"),
                (4, ""),
            ],
            "doc_id long, text string",
        )
        sim = make_simhash_udf()
        sigs = {r["doc_id"]: r["s"] for r in docs.select("doc_id", sim(F.col("text")).alias("s")).collect()}
        # determinism across executions
        sigs2 = {r["doc_id"]: r["s"] for r in docs.select("doc_id", sim(F.col("text")).alias("s")).collect()}
        assert sigs == sigs2
        assert sigs[4] == 0
        ham12 = bin((sigs[1] ^ sigs[2]) & ((1 << 64) - 1)).count("1")
        ham13 = bin((sigs[1] ^ sigs[3]) & ((1 << 64) - 1)).count("1")
        assert ham12 < ham13  # near-dup closer than unrelated

        cands = simhash_candidates(docs)
        pairs = {(r["left_id"], r["right_id"]): r["hamming"] for r in cands.collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] == ham12


class TestCollectionLRU:
    def test_lru_eviction_order(self, spark):
        from entityframe_spark.operators.collection import _CACHE_SIZE, Collection

        edges = [(f"a{i}", f"b{i}", (i + 1) / 20.0) for i in range(15)]
        coll = Collection.from_edges(spark, edges)
        # fill cache
        thresholds = [round(0.05 * k, 2) for k in range(1, _CACHE_SIZE + 1)]
        for t in thresholds:
            coll.at(t)
        first = thresholds[0]
        from entityframe_spark.core.quantize import threshold_to_fp

        # hit the oldest -> becomes most-recent; a new insert must evict
        # thresholds[1], not thresholds[0]
        coll.at(first)
        coll.at(0.99)
        assert threshold_to_fp(first) in coll._cache
        assert threshold_to_fp(thresholds[1]) not in coll._cache
        assert threshold_to_fp(0.99) in coll._cache


def test_native_lev_jw_parity_vs_scalar_and_jvm(spark):
    """The C kernel must match (a) the scalar _jaro_winkler reference
    bit-for-bit and (b) Spark's built-in levenshtein on the same
    truncated prefixes."""
    import random

    from pyspark.sql import functions as F

    from entityframe_spark.functions import jw_native

    if not jw_native.native_available():
        import pytest

        pytest.skip("no C compiler on this host")
    random.seed(7)
    vocab = "run query check status deploy kindly execute failure".split()
    pairs = [("", ""), ("a", ""), ("", "b"), ("martha", "marhta"), ("ab", "ba")]
    for _ in range(300):
        a = " ".join(random.choice(vocab) for _ in range(random.randint(0, 40)))
        b = (
            a
            if random.random() < 0.3
            else " ".join(random.choice(vocab) for _ in range(random.randint(0, 40)))
        )
        pairs.append((a, b))
    av = [p[0] for p in pairs]
    bv = [p[1] for p in pairs]
    lev, jw = jw_native.lev_jw_batch_native(av, bv, 256, 128)
    for (a, b), got in zip(pairs, jw):
        assert abs(got - _jaro_winkler(a[:128], b[:128])) < 1e-12, (a, b)
    # same 256-truncation contract as levenshtein_sim / the C kernel
    df = spark.createDataFrame(
        [(a[:256], b[:256]) for a, b in pairs], "a string, b string"
    )
    jvm = [
        r["s"]
        for r in df.select(
            F.when(
                F.greatest(F.length("a"), F.length("b")) == 0, F.lit(1.0)
            )
            .otherwise(
                1.0
                - F.levenshtein(F.col("a"), F.col("b"))
                / F.greatest(F.length("a"), F.length("b"))
            )
            .alias("s")
        ).collect()
    ]
    for (a, b), got, want in zip(pairs, lev, jvm):
        assert abs(got - want) < 1e-12, (a, b, got, want)


def test_lev_jw_fallback_matches_native_when_jw_prefix_longer():
    """ADVICE r4: with jw_max_len > lev_max_len the fallback must slice
    the JW inputs from the ORIGINAL strings, exactly like the native
    kernel — not from the lev-truncated copies."""
    import pytest

    from entityframe_spark.functions import jw_native

    if not jw_native.native_available():
        pytest.skip("no C compiler on this host")
    a = ["abcdefghij" * 3, "martha" * 5, "", "xy"]
    b = ["abcdefghiX" * 3, "marhta" * 5, "q", "xy"]
    lev_n, jw_n = jw_native.lev_jw_batch_native(a, b, lev_max_len=8, jw_max_len=24)
    lev_f, jw_f = jw_native.lev_jw_batch_fallback(a, b, lev_max_len=8, jw_max_len=24)
    assert lev_n == pytest.approx(lev_f.tolist())
    assert jw_n == pytest.approx(jw_f.tolist())


def test_myers_lev_matches_plain_dp_across_block_boundaries():
    """r6: the C Levenshtein went bit-parallel (Myers 1999 / Hyyro 2003
    blocks). Distances must equal the plain DP exactly — especially at
    word-boundary pattern lengths (63..66, 127..130) and with repeated
    characters, where block carry bugs hide."""
    import random

    import pytest

    from entityframe_spark.functions import jw_native

    if not jw_native.native_available():
        pytest.skip("no C compiler on this host")

    def dp(a, b):
        la, lb = len(a), len(b)
        if la == 0:
            return lb
        if lb == 0:
            return la
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            for j in range(1, lb + 1):
                cur[j] = min(
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                    prev[j] + 1,
                    cur[j - 1] + 1,
                )
            prev = cur
        return prev[lb]

    rng = random.Random(17)
    lens = [0, 1, 2, 63, 64, 65, 66, 100, 127, 128, 129, 200, 256]
    cases = [("a" * 64, "a" * 64), ("a" * 65, "b" * 65), ("ab" * 100, "ba" * 100)]
    for _ in range(250):
        alpha = rng.choice(["ab", "abcdefgh", "xyzбвг"])
        a = "".join(rng.choice(alpha) for _ in range(rng.choice(lens)))
        if rng.random() < 0.5:
            b = list(a)
            for _ in range(rng.randint(0, 6)):
                if not b:
                    break
                i = rng.randrange(len(b))
                op = rng.random()
                if op < 0.34:
                    b[i] = rng.choice(alpha)
                elif op < 0.67:
                    del b[i]
                else:
                    b.insert(i, rng.choice(alpha))
            b = "".join(b)
        else:
            b = "".join(rng.choice(alpha) for _ in range(rng.choice(lens)))
        cases.append((a, b))
    av = [c[0] for c in cases]
    bv = [c[1] for c in cases]
    lev, _ = jw_native.lev_jw_batch_native(av, bv, 1024, 128)
    for (a, b), got in zip(cases, lev):
        if not a and not b:
            want = 1.0
        elif not a or not b:
            want = 0.0
        else:
            want = 1.0 - dp(a, b) / max(len(a), len(b))
        assert abs(got - want) < 1e-12, (a[:40], b[:40], got, want)


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on its decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _reference_features(lt, rt, lg, rg, ltk, rtk, lev_max_len=256, jw_max_len=128):
    """Driver-side score_pairs reference from Python set sizes, the
    scalar lev/JW references and score_pairs' formulas."""
    from entityframe_spark.functions.jw_native import _lev_sim_py
    from entityframe_spark.pipeline.scoring import DEFAULT_WEIGHTS

    gi, gl, gr = len(set(lg) & set(rg)), len(lg), len(rg)
    ti, tl, tr = len(set(ltk) & set(rtk)), len(ltk), len(rtk)
    f = {
        "bigram_containment": 1.0 if min(gl, gr) == 0 else gi / min(gl, gr),
        "bigram_jaccard": 1.0 if gl + gr - gi == 0 else gi / (gl + gr - gi),
        "token_jaccard": 1.0 if tl + tr - ti == 0 else ti / (tl + tr - ti),
        "levenshtein": _lev_sim_py(lt[:lev_max_len], rt[:lev_max_len]),
        "jaro_winkler": _jaro_winkler(lt[:jw_max_len], rt[:jw_max_len]),
    }
    f = {k: _round6(v) for k, v in f.items()}
    total = sum(DEFAULT_WEIGHTS.values())
    weight = None
    for name, coef in DEFAULT_WEIGHTS.items():
        term = f[name] * (coef / total)
        weight = term if weight is None else weight + term
    f["weight"] = _round6(weight)
    return f


def test_join_route_matches_python_reference(spark):
    """The join route (pair rows carrying both sides' arrays, packed per
    batch for the shared scoring kernel) must equal a driver-side
    reference built from Python set sizes, _lev_sim_py and
    _jaro_winkler — including unsorted and duplicate hash arrays (the
    kernel sorts internally; intersects are distinct-value), empty
    arrays/texts, and 300-char texts cut at the lev/JW prefixes."""
    from entityframe_spark.pipeline.scoring import score_pairs

    rows = [
        (1, 2, "k", "alpha beta gamma", "alpha beta delta",
         [3, 1, 2], [2, 3, 9], [10, 11], [11, 12]),
        (3, 4, "k", "", "nonempty text here", [], [1], [], [5]),
        (5, 6, "k", "same same", "same same", [7, 7, 8], [8, 7], [1], [1]),
        (7, 8, "k", "x" * 300, "x" * 150 + "y" * 150,
         list(range(40, 0, -1)), list(range(20, 60)), [2, 4], [4, 2]),
    ]
    df = spark.createDataFrame(
        rows,
        "left_id long, right_id long, block_key string, left_text string, "
        "right_text string, lgrams array<long>, rgrams array<long>, "
        "ltoks array<long>, rtoks array<long>",
    )
    got = {(r["left_id"], r["right_id"]): r for r in score_pairs(df).collect()}
    assert set(got) == {(r[0], r[1]) for r in rows}
    for r in rows:
        want = _reference_features(*r[3:])
        for c, v in want.items():
            assert got[(r[0], r[1])][c] == v, (r[:2], c, got[(r[0], r[1])][c], v)


def _random_feature_table(rng: random.Random, n_rec: int) -> tuple:
    """Packed feature table (score_gather layout) of random records:
    unsorted, duplicate and empty hash arrays, unicode prefixes up to
    300 chars (packed at 256, like the broadcast table)."""
    import pyarrow as pa

    from entityframe_spark.pipeline.scoring import _list_buffers

    def arrays(span):
        return pa.array(
            [
                [rng.randrange(-span, span) for _ in range(rng.choice([0, 1, 2, 9, 40]))]
                for _ in range(n_rec)
            ],
            pa.list_(pa.int64()),
        )

    alpha = "ab cdé σ日本\U0001F600"
    prefixes = [
        "".join(rng.choice(alpha) for _ in range(rng.choice([0, 1, 7, 64, 130, 300])))
        for _ in range(n_rec)
    ]
    return (
        *_list_buffers(arrays(60)),
        *_list_buffers(arrays(25)),
        *jw_native._pack_offsets(prefixes, 256),
    )


def test_score_gather_python_fallback_matches_native():
    """score_gather's pure-Python batch (compiler-less workers) must
    return exactly what the C kernel returns on the same table and
    record indices — intersect sizes, per-side sizes, lev and JW."""
    import numpy as np

    if not jw_native.native_available():
        pytest.skip("no C compiler on this host")
    rng = random.Random(11)
    for n_rec, n_pairs in [(1, 3), (50, 400), (300, 2000)]:
        feat = _random_feature_table(rng, n_rec)
        li = np.array([rng.randrange(n_rec) for _ in range(n_pairs)], np.int64)
        ri = np.array([rng.randrange(n_rec) for _ in range(n_pairs)], np.int64)
        native = jw_native.score_gather(feat, li, ri, 256, 128)
        python = jw_native._score_gather_py(feat, li, ri, 256, 128)
        for name, x, y in zip(["gi", "gl", "gr", "ti", "tl", "tr", "lev", "jw"], native, python):
            assert x.dtype == y.dtype, name
            assert np.array_equal(x, y), name
    with pytest.raises(IndexError, match="outside the feature table"):
        jw_native.score_gather(feat, np.array([0]), np.array([n_rec]))


def test_score_gather_wide_unsorted_arrays_match_reference():
    """A pair whose unsorted hash arrays hold more than 16,384 elements
    combined: the kernel sorts both sides into the caller-sized scratch
    buffer and must still count the distinct common values exactly."""
    import numpy as np
    import pyarrow as pa

    from entityframe_spark.pipeline.scoring import _list_buffers

    if not jw_native.native_available():
        pytest.skip("no C compiler on this host")
    rng = np.random.default_rng(3)
    a = rng.integers(0, 15_000, size=9_000).tolist()  # unsorted, duplicates
    b = rng.integers(5_000, 20_000, size=9_000).tolist()
    small = [3, 1, 2]
    grams = pa.array([a, b, small], pa.list_(pa.int64()))
    toks = pa.array([b, small, a], pa.list_(pa.int64()))
    feat = (
        *_list_buffers(grams),
        *_list_buffers(toks),
        *jw_native._pack_offsets(["left text", "right text", ""], 256),
    )
    li, ri = np.array([0, 0, 2]), np.array([1, 2, 0])
    gi, gl, gr, ti, tl, tr, _, _ = jw_native.score_gather(feat, li, ri)
    rows = [a, b, small]
    trows = [b, small, a]
    for k, (x, y) in enumerate(zip(li, ri)):
        assert gi[k] == len(set(rows[x]) & set(rows[y]))
        assert ti[k] == len(set(trows[x]) & set(trows[y]))
        assert (gl[k], gr[k], tl[k], tr[k]) == (
            len(rows[x]), len(rows[y]), len(trows[x]), len(trows[y])
        )
    assert len(a) + len(b) > 16_384


def test_gather_route_matches_join_route(spark):
    """r6: attach_pair_texts' gather route (python-broadcast feature
    table + narrow pair stream) must score identically to the wide
    broadcast-join route, and drop pairs whose ids lack features (the
    join route's inner-join semantics). Each side asserts which route
    it took: the gather route carries the broadcast handle, the join
    route carries the feature columns instead."""
    from entityframe_spark.pipeline.scoring import (
        attach_pair_texts,
        prepare_record_features,
        score_pairs,
    )

    feats = prepare_record_features(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma"),
             (3, "unrelated words entirely"), (4, "")],
            "record_id long, full_text string",
        )
    ).localCheckpoint(eager=True)
    pairs = spark.createDataFrame(
        [(1, 2, "k1"), (1, 3, "k1"), (2, 99, "k2"), (3, 4, "k3")],
        "left_id long, right_id long, block_key string",
    )
    gather = attach_pair_texts(pairs, feats, features_count=4)
    assert gather._ef_pair_features is not None
    assert "lgrams" not in gather.columns
    # broadcast_threshold=0 forces the join route
    join = attach_pair_texts(pairs, feats, broadcast_threshold=0)
    assert not hasattr(join, "_ef_pair_features")
    assert "lgrams" in join.columns
    new = {(r["left_id"], r["right_id"]): r for r in score_pairs(gather).collect()}
    old = {(r["left_id"], r["right_id"]): r for r in score_pairs(join).collect()}
    assert set(new) == set(old)           # (2, 99) dropped on both routes
    assert (2, 99) not in new
    for k in new:
        for c in ["bigram_containment", "bigram_jaccard", "token_jaccard",
                  "levenshtein", "jaro_winkler", "weight"]:
            assert new[k][c] == old[k][c], (k, c)
    # transforming between attach and score loses the handle -> loud error
    attached = attach_pair_texts(pairs, feats, features_count=4)
    with pytest.raises(ValueError, match="UNMODIFIED"):
        score_pairs(attached.localCheckpoint(eager=False))


def test_empty_feature_table_scores_no_pairs_on_both_routes(spark):
    """No feature rows and a non-empty pair stream: every pair lacks its
    records, so both routes return 0 rows (the gather route drops the
    batches instead of indexing an empty table)."""
    from entityframe_spark.pipeline.scoring import (
        attach_pair_texts,
        prepare_record_features,
        score_pairs,
    )

    feats = prepare_record_features(
        spark.createDataFrame([], "record_id long, full_text string")
    ).localCheckpoint(eager=True)
    pairs = spark.createDataFrame(
        [(1, 2, "k1"), (3, 4, "k2")],
        "left_id long, right_id long, block_key string",
    )
    gather = attach_pair_texts(pairs, feats, features_count=0)
    assert gather._ef_pair_features is not None
    join = attach_pair_texts(pairs, feats, broadcast_threshold=0)
    assert not hasattr(join, "_ef_pair_features")
    assert score_pairs(gather).count() == 0
    assert score_pairs(join).count() == 0


def test_bitparallel_jw_matches_scalar_reference():
    """r6: the C Jaro-Winkler greedy matcher went bit-parallel for
    strings <= 512 codepoints (lowest-set-bit = the scalar loop's
    lowest-available-window-match, so the greedy choice is identical).
    Pin it against the scalar reference across word boundaries,
    transposition-heavy shuffles and small alphabets."""
    import random

    import pytest

    from entityframe_spark.functions import jw_native
    from entityframe_spark.functions.similarity import _jaro_winkler

    if not jw_native.native_available():
        pytest.skip("no C compiler on this host")
    rng = random.Random(123)
    alphas = ["ab", "abcdefgh", "".join(chr(0x100 + i) for i in range(20))]
    cases = [
        ("", ""), ("a", ""), ("martha", "marhta"), ("dixon", "dicksonx"),
        ("ab", "ba"), ("a" * 63 + "b", "b" + "a" * 63),
        ("a" * 64, "a" * 63 + "b"), ("ab" * 64, "ba" * 64),
    ]
    for _ in range(500):
        alpha = rng.choice(alphas)
        la = rng.choice([0, 1, 3, 15, 63, 64, 65, 127, 128, 129, 256])
        a = "".join(rng.choice(alpha) for _ in range(la))
        if rng.random() < 0.5 and a:
            b = list(a)
            for _ in range(rng.randint(0, 8)):
                if not b:
                    break
                i = rng.randrange(len(b))
                op = rng.random()
                if op < 0.3:
                    b[i] = rng.choice(alpha)
                elif op < 0.6 and len(b) > 1:
                    j = rng.randrange(len(b))
                    b[i], b[j] = b[j], b[i]
                elif op < 0.8:
                    del b[i]
                else:
                    b.insert(i, rng.choice(alpha))
            b = "".join(b)
        else:
            b = "".join(
                rng.choice(alpha)
                for _ in range(rng.choice([0, 1, 15, 64, 128, 256]))
            )
        cases.append((a, b))
    av = [c[0] for c in cases]
    bv = [c[1] for c in cases]
    _, jw = jw_native.lev_jw_batch_native(av, bv, jw_max_len=256)
    for (a, b), got in zip(cases, jw):
        assert abs(got - _jaro_winkler(a[:256], b[:256])) < 1e-12, (a[:40], b[:40])


def test_native_lsh_band_hashes_match_python_reference():
    """r6: the shingle->crc32->minhash->band pipeline moved into the C
    kernel; band keys must be bit-identical to the Python loop
    (zlib CRC-32 over utf-8 shingle bytes, int64 mul-mod, band crc
    over little-endian signature bytes) — including unicode, empty and
    shorter-than-k texts."""
    import random
    import zlib

    import numpy as np
    import pytest

    from entityframe_spark.functions import jw_native

    if not jw_native.native_available():
        pytest.skip("no C compiler on this host")
    rng = random.Random(5)
    vocab = "the quick brown fox käfer straße 中文字符 émoji".split()
    texts = ["", "a", "abcde", "日本語のテキスト"]
    for _ in range(200):
        texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
    num_hashes, bands, k = 64, 8, 5
    rows = num_hashes // bands
    g = np.random.default_rng(42)
    p = np.int64(2_147_483_647)
    A = g.integers(1, p, size=num_hashes, dtype=np.int64)
    B = g.integers(0, p, size=num_hashes, dtype=np.int64)
    normed = [" ".join(t.lower().split()) for t in texts]
    ref = []
    for t in normed:
        n = len(t)
        sh = {t} if n <= k else {t[i:i + k] for i in range(n - k + 1)}
        base = np.fromiter(
            (zlib.crc32(s.encode()) for s in sh), dtype=np.int64, count=len(sh)
        )
        sig = ((A[:, None] * base[None, :] + B[:, None]) % p).min(axis=1)
        ref.append(
            [
                f"b{b}:{zlib.crc32(sig[b * rows:(b + 1) * rows].tobytes())}"
                for b in range(bands)
            ]
        )
    arr, off = jw_native._pack_offsets(normed, 4096)
    bh = jw_native.lsh_band_hashes_native(arr, off, k, A, B, num_hashes, bands)
    got = [
        [f"b{b}:{int(bh[d, b])}" for b in range(bands)]
        for d in range(len(normed))
    ]
    assert got == ref
