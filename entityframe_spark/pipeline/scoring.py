"""Vectorized pairwise scoring of candidate pairs (SURVEY.md J5/F6).

Scale-critical design, in order of what actually dominated measured
cost on ~500k pairs:

1. Feature arrays are materialized ONCE PER RECORD
   (prepare_record_features, checkpointed by the collapse stage).
   Deriving them inside per-pair expressions lets Catalyst inline the
   split() into every lambda element — O(tokens^2) string parsing per
   pair (measured 20 pairs/sec).
2. Pairs carry HASHED features, not strings: token/bigram sets as
   array<long> (xxhash64 per element) and only a 256-char text
   prefix. Raw per-pair payload was ~26KB/row (13GB for 515k pairs) —
   IO-bound, thread-scaling-hostile; hashed payload is ~5-8x smaller
   and long-array intersects beat string intersects.
3. Every per-pair feature comes from ONE C kernel call per Arrow
   batch (functions/jw_native.py score_gather): hash-set intersect
   sizes, Levenshtein on the 256-char prefix, Jaro-Winkler on its
   first 128 chars — the O(len^2) DP at 512 chars was 4x the whole
   rest (measured). Without a C compiler the same call runs a
   pure-Python batch with identical values.

Features (all in [0,1]): bigram containment/jaccard (order-aware;
containment is what separates truncated variants), token jaccard,
prefix levenshtein, prefix jaro-winkler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entityframe_spark.functions.similarity import TOKEN_SPLIT

DEFAULT_WEIGHTS = {
    "bigram_containment": 0.35,
    "bigram_jaccard": 0.2,
    "token_jaccard": 0.15,
    "levenshtein": 0.15,
    "jaro_winkler": 0.15,
}

PREFIX_LEN = 256
FEATURE_COLS = ["record_id", "prefix", "toks_h", "grams_h"]


def prepare_record_features(collapsed: DataFrame, text_col: str = "full_text") -> DataFrame:
    """Add per-record scoring features: 256-char prefix, hashed
    distinct-token set, hashed distinct-bigram set. MUST be
    checkpointed/written before pair scoring so the arrays are
    physical, not re-derived per pair."""
    toks_raw = F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)
    out = collapsed.withColumn("_toks_raw", toks_raw)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(F.col("_toks_raw")) - 2, F.lit(0))),
            # try_element_at: NULL (dropped by concat_ws) past the end
            # instead of ANSI INVALID_ARRAY_INDEX on <2-token texts
            lambda i: F.concat_ws(
                " ",
                F.try_element_at(F.col("_toks_raw"), i + 1),
                F.try_element_at(F.col("_toks_raw"), i + 2),
            ),
        )
    )
    hash_all = lambda arr: F.transform(arr, lambda s: F.xxhash64(s))  # noqa: E731
    # array_sort: intersect sizes are order-independent (so every
    # downstream feature value is unchanged), but pre-sorted arrays let
    # the C scoring kernel run a linear merge-intersect instead of
    # per-pair hashing (r6; the kernel still detects and sorts unsorted
    # inputs, so correctness never depends on this)
    return (
        out.withColumn("prefix", F.substring(F.col(text_col), 1, PREFIX_LEN))
        .withColumn("toks_h", F.array_sort(hash_all(F.array_distinct(F.col("_toks_raw")))))
        .withColumn("grams_h", F.array_sort(hash_all(grams)))
        .drop("_toks_raw")
    )


def attach_pair_texts(
    pairs: DataFrame,
    features: DataFrame,
    broadcast_threshold: int = 500_000,
    features_count: int | None = None,
) -> DataFrame:
    """Make both sides' scoring features reachable from each pair, on
    one of two routes that score_pairs tells apart. ``features`` must
    carry FEATURE_COLS (from prepare_record_features); derived here if
    missing (small-input convenience path).

    Gather route (feature table < broadcast_threshold rows, guide §8):
    the table is collected ONCE, packed into flat buffers and shipped
    to workers as a Spark broadcast; score_pairs looks both records up
    by index. The pair stream then carries two int64s + block_key
    instead of ~2.7 KB of duplicated arrays per pair (measured: 1.4 GB
    of Arrow traffic for 515k pairs over 1.5k records). The handle
    rides on the returned DataFrame object as ``_ef_pair_features``;
    any other consumer still sees a valid (narrow) pair frame.

    Join route (larger tables, or broadcast_threshold=0): two
    equi-joins put both sides' prefix + hashed arrays on each pair row.
    Feature rows are ~2-4 KB each, so a shuffle join moves pairs x 2 x
    that — 8 GB for 2.4M pairs, an IO cost that does NOT scale with
    cores. At that size (the 100 TB path) callers should bucket both
    sides on record_id and let sort-merge join co-locate.

    ``features_count``: caller-supplied row count of ``features``.
    When the caller already knows it (it usually does — the collapse
    stage counts its output), the capped limit().count() probe job is
    skipped entirely; the probe is only the no-hint fallback (VERDICT
    r3: one extra Spark job in the hot path)."""
    if "toks_h" not in features.columns:
        features = prepare_record_features(features).localCheckpoint(eager=False)
    sel = features.select(*FEATURE_COLS)
    if broadcast_threshold and (
        features_count < broadcast_threshold
        if features_count is not None
        else sel.limit(broadcast_threshold).count() < broadcast_threshold
    ):
        out = pairs.select("*")  # fresh DF object: never mutate the caller's
        out._ef_pair_features = _collect_features_broadcast(sel)
        return out
    left = sel.select(
        F.col("record_id").alias("left_id"),
        F.col("prefix").alias("left_text"),
        F.col("toks_h").alias("ltoks"),
        F.col("grams_h").alias("lgrams"),
    )
    right = sel.select(
        F.col("record_id").alias("right_id"),
        F.col("prefix").alias("right_text"),
        F.col("toks_h").alias("rtoks"),
        F.col("grams_h").alias("rgrams"),
    )
    return pairs.join(left, "left_id").join(right, "right_id")


def _list_buffers(arr):
    """Arrow list array (or chunked array) -> contiguous (int64 values,
    int64 offsets[n+1]) with offsets absolute into the values — the
    layout the C scoring kernel reads. Null entries (not produced by
    the pipeline, but contract-safe) become empty lists."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        py = arr.to_pylist()
        lens = np.fromiter(
            (0 if v is None else len(v) for v in py), np.int64, count=len(py)
        )
        off = np.zeros(len(py) + 1, np.int64)
        np.cumsum(lens, out=off[1:])
        vals = np.fromiter((x for v in py if v for x in v), np.int64)
    else:
        off = arr.offsets.to_numpy(zero_copy_only=False)
        vals = arr.values.to_numpy(zero_copy_only=False)
    return (
        np.ascontiguousarray(vals, dtype=np.int64),
        np.ascontiguousarray(off, dtype=np.int64),
    )


_prev_feature_broadcasts: list = []  # bounded: previous handle released


def _collect_features_broadcast(sel: DataFrame):
    """Collect the per-record feature table (record_id, prefix, toks_h,
    grams_h) to the driver via Arrow, pack it into flat numpy buffers
    (values + n_rec+1 offsets, Arrow list layout; prefixes as uint32
    codepoints), and broadcast ONE copy per worker. Returns the
    broadcast handle; value = (sorted_ids, gvals, goff, tvals, toff,
    pvals, poff)."""
    import numpy as np

    from entityframe_spark.functions.jw_native import _pack_offsets

    tbl = sel.toArrow().combine_chunks().sort_by("record_id")
    ids = tbl.column("record_id").to_numpy(zero_copy_only=False).astype(np.int64)
    gvals, goff = _list_buffers(tbl.column("grams_h"))
    tvals, toff = _list_buffers(tbl.column("toks_h"))
    pvals, poff = _pack_offsets(tbl.column("prefix").to_pylist(), PREFIX_LEN)
    sc = sel.sparkSession.sparkContext
    while _prev_feature_broadcasts:
        try:
            _prev_feature_broadcasts.pop().unpersist(blocking=False)
        except Exception:
            pass
    bc = sc.broadcast((ids, gvals, goff, tvals, toff, pvals, poff))
    _prev_feature_broadcasts.append(bc)
    return bc


_SCORES_SCHEMA = (
    "left_id long, right_id long, block_key string, "
    "_gi int, _gl int, _gr int, _ti int, _tl int, _tr int, "
    "_lev double, _jw double"
)


def _scores_batch(b, scores):
    """Output batch of both Arrow routes: the pair key columns of input
    batch ``b`` plus score_gather's eight arrays."""
    import pyarrow as pa

    types = [pa.int32()] * 6 + [pa.float64()] * 2
    return pa.RecordBatch.from_arrays(
        [b.column("left_id"), b.column("right_id"), b.column("block_key")]
        + [pa.array(a, t) for a, t in zip(scores, types)],
        names=[
            "left_id", "right_id", "block_key",
            "_gi", "_gl", "_gr", "_ti", "_tl", "_tr", "_lev", "_jw",
        ],
    )


def _score_pairs_gather(
    pairs: DataFrame, bc, lev_max_len: int, jw_max_len: int
) -> DataFrame:
    """Gather route (guide §8): the pair stream carries only
    (left_id, right_id, block_key); workers look both records up in
    the broadcast feature table and score them with score_gather.
    Pairs whose ids are absent from the table are dropped — the same
    semantics as the join route's inner joins (an empty table drops
    every batch)."""
    lev_cap, jw_cap = int(lev_max_len), int(jw_max_len)

    def run(batches):
        import numpy as np

        from entityframe_spark.functions import jw_native

        ids, *feat = bc.value
        for b in batches:
            if b.num_rows == 0 or len(ids) == 0:
                continue
            lid = b.column("left_id").to_numpy(zero_copy_only=False)
            rid = b.column("right_id").to_numpy(zero_copy_only=False)
            li = np.minimum(np.searchsorted(ids, lid), len(ids) - 1)
            ri = np.minimum(np.searchsorted(ids, rid), len(ids) - 1)
            ok = (ids[li] == lid) & (ids[ri] == rid)
            if not ok.all():
                b, li, ri = b.filter(ok), li[ok], ri[ok]
                if b.num_rows == 0:
                    continue
            yield _scores_batch(
                b, jw_native.score_gather(feat, li, ri, lev_cap, jw_cap)
            )

    return pairs.select("left_id", "right_id", "block_key").mapInArrow(
        run, _SCORES_SCHEMA
    )


def _score_pairs_join(
    src_df: DataFrame, lev_max_len: int, jw_max_len: int
) -> DataFrame:
    """Join route: the pair rows carry both sides' arrays and prefixes
    (attach_pair_texts' joins), consumed INSIDE one mapInArrow stage so
    the output rows stay narrow — the plan is scan -> joins ->
    MapInArrow -> project, no barrier Exchange. Each batch is packed
    into the same per-record layout as the gather route's broadcast
    table (left rows, then right rows: li = i, ri = n + i), so both
    routes run the same score_gather call and the same values.

    Why not JVM array_intersect (r6, guide §4.2 / §1.2): it builds an
    OpenHashSet of BOXED values per pair, measured 2.3s for 515k pairs
    (~75% of the JVM stage), and needed a repartition barrier so the
    string UDF would not see the wide array columns as pass-through."""
    pack_len = max(int(lev_max_len), int(jw_max_len))
    lev_cap, jw_cap = int(lev_max_len), int(jw_max_len)
    src = src_df.select(
        "left_id",
        "right_id",
        "block_key",
        "lgrams",
        "rgrams",
        "ltoks",
        "rtoks",
        F.substring(F.col("left_text"), 1, pack_len).alias("_lp"),
        F.substring(F.col("right_text"), 1, pack_len).alias("_rp"),
    )

    def run(batches):
        import numpy as np

        from entityframe_spark.functions import jw_native

        def both(b, left, right):
            # one record table: left rows, then right rows. Joined in
            # numpy, not pa.concat_arrays: Arrow's allocator bypasses
            # the tuned glibc heap, so each batch faulted fresh pages
            # (measured ~4x slower on 60k linkage pairs)
            lv, lo = _list_buffers(b.column(left))
            rv, ro = _list_buffers(b.column(right))
            lv, rv = lv[lo[0]:lo[-1]], rv[ro[0]:ro[-1]]
            return (
                np.concatenate([lv, rv]),
                np.concatenate([lo - lo[0], ro[1:] - ro[0] + len(lv)]),
            )

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            feat = (
                *both(b, "lgrams", "rgrams"),
                *both(b, "ltoks", "rtoks"),
                *jw_native._pack_offsets(
                    b.column("_lp").to_pylist() + b.column("_rp").to_pylist(),
                    pack_len,
                ),
            )
            li = np.arange(n, dtype=np.int64)
            yield _scores_batch(
                b, jw_native.score_gather(feat, li, li + n, lev_cap, jw_cap)
            )

    return src.mapInArrow(run, _SCORES_SCHEMA)


def _feature_projection():
    """Final projection shared by both routes: the feature divisions
    and rounding stay in the JVM, so both produce identical doubles."""
    gi, gl, gr = F.col("_gi"), F.col("_gl"), F.col("_gr")
    ti, tl, tr = F.col("_ti"), F.col("_tl"), F.col("_tr")
    return [
        "left_id",
        "right_id",
        "block_key",
        F.round(
            F.when(F.least(gl, gr) == 0, F.lit(1.0)).otherwise(gi / F.least(gl, gr)),
            6,
        ).alias("bigram_containment"),
        F.round(
            F.when(gl + gr - gi == 0, F.lit(1.0)).otherwise(gi / (gl + gr - gi)), 6
        ).alias("bigram_jaccard"),
        F.round(
            F.when(tl + tr - ti == 0, F.lit(1.0)).otherwise(ti / (tl + tr - ti)), 6
        ).alias("token_jaccard"),
        F.round(F.col("_lev"), 6).alias("levenshtein"),
        F.round(F.col("_jw"), 6).alias("jaro_winkler"),
    ]


def score_pairs(
    pairs_with_texts: DataFrame,
    feature_weights: dict[str, float] | None = None,
    lev_max_len: int = PREFIX_LEN,
    jw_max_len: int = 128,
) -> DataFrame:
    """-> (left_id, right_id, block_key, bigram_containment,
    bigram_jaccard, token_jaccard, levenshtein, jaro_winkler, weight).
    weight = convex combination of the features named in
    ``feature_weights``; all five feature columns are always present,
    custom weights or not.

    ONE MapInArrow stage computes every per-pair feature through
    functions/jw_native.py score_gather (C kernel, or its pure-Python
    twin on compiler-less workers), followed by one shared projection.
    The input decides the route: a DataFrame carrying the gather-route
    handle scores against the broadcast feature table
    (_score_pairs_gather); one carrying the join route's columns packs
    each batch into the same layout (_score_pairs_join). No exchange,
    no barrier, narrow output rows; throughput is measured by
    bench.py's pairs_per_sec (see BENCH.md), not claimed here."""
    w = feature_weights or DEFAULT_WEIGHTS
    bc = getattr(pairs_with_texts, "_ef_pair_features", None)
    if bc is not None:
        scores = _score_pairs_gather(pairs_with_texts, bc, lev_max_len, jw_max_len)
    elif "lgrams" in pairs_with_texts.columns:
        scores = _score_pairs_join(pairs_with_texts, lev_max_len, jw_max_len)
    else:
        raise ValueError(
            "score_pairs input carries neither feature columns nor the "
            "gather-route handle. Pass the DataFrame returned by "
            "attach_pair_texts UNMODIFIED — the handle is a python-side "
            "attribute and does not survive further transformations "
            "(checkpoint/select/filter) between attach and score."
        )
    total = sum(w.values())
    weight = None
    for name, coef in w.items():
        term = F.col(name) * F.lit(coef / total)
        weight = term if weight is None else weight + term
    return scores.select(*_feature_projection()).withColumn(
        "weight", F.round(weight, 6)
    )
