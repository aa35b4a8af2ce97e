"""Distributed connected components (single-linkage transitive closure).

The reference's core clustering primitive is an in-memory union-find
(src/rust/starlings-core/src/hierarchy/builder.rs:146-218, 283-328).
At Spark scale the equivalent is the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): O(log^2 n) rounds of pure
DataFrame ops, each round one groupBy + one join, with
localCheckpoint() per round to cut lineage. Components are labeled by
their minimum node id — the same deterministic representative our
whole engine uses (SURVEY.md §4 determinism discipline).

For blocked graphs (candidate edges only within small blocks) the
exact per-block union-find runs as an Arrow-batched applyInPandas —
no global iteration at all (reference's own designed "blocked
parallel hierarchies", docs/design/algorithms.md:789-799). Every
in-task union-find (per block, the single-task path, the contraction
pass) is ``uf_native.components``: the C kernel, or its pure-Python
twin on compiler-less workers.
"""

from __future__ import annotations

import os
import sys
import threading
import warnings

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Arrow batches yielded back to the JVM are capped at this many rows
# (~64 MB per long column): one task's whole result as a single batch
# put 200-300 MB contiguous allocations + copies on the 16g shared
# local-mode heap and OOMed the 10M/50M envelope (GCLocker thrash).
_YIELD_CHUNK = 4_000_000

# Results/checkpoints bigger than this go to DISK_ONLY instead of the
# default deserialized-on-heap storage: 45M UnsafeRow copies ~= 4-5 GB
# of heap, vs a sequential local-disk write the kernel page cache
# mostly absorbs. On a real cluster this is per-executor storage
# memory; the same courtesy applies.
_DISK_LEVEL_ROWS = 5_000_000


def _ckpt_level(approx_rows: int) -> StorageLevel | None:
    """Storage level for a localCheckpoint sized ~approx_rows: None
    (engine default, on-heap) for small results, DISK_ONLY past
    _DISK_LEVEL_ROWS."""
    return StorageLevel.DISK_ONLY if approx_rows > _DISK_LEVEL_ROWS else None


_unpersist_warned = False
_unpersist_lock = threading.Lock()


def _ckpt_unpersist(df: DataFrame) -> None:
    """Release the persisted blocks of a localCheckpoint()ed DataFrame.

    Dataset.unpersist() only talks to the cache manager, not direct RDD
    persists, so reach the checkpointed RDD through the plan's
    LogicalRDD node. This is how a loop releases superseded checkpoints
    it created ITSELF — never by diffing global persistent-RDD ids,
    which races with RDDs persisted concurrently by other driver
    threads (ADVICE r4). Only safe once a downstream job has
    materialised whatever replaces ``df`` (localCheckpoint lineage is
    truncated; the block is unrecoverable after unpersist).

    The path is a private JVM API. When it drifts, this warns once per
    process and the blocks stay until the context GC reclaims them;
    ``tests/test_components.py::test_distributed_rounds_release_storage``
    fails on the same drift."""
    global _unpersist_warned
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:
        with _unpersist_lock:
            if _unpersist_warned:
                return
            _unpersist_warned = True
        warnings.warn(
            "cannot release a localCheckpoint through "
            f"queryExecution().analyzed().rdd() ({type(exc).__name__}: "
            f"{exc}); its blocks stay until the context GC reclaims them",
            RuntimeWarning,
            stacklevel=2,
        )


from entityframe_spark.functions import uf_native
from entityframe_spark.functions._native import tune_allocator

# fire in every pyspark worker at closure-deserialize time, BEFORE the
# first Arrow batch is materialised: the multi-hundred-MB single-task
# batches otherwise fault fresh pages on every run (host confounder,
# BENCH.md); harmless on the driver
tune_allocator()


def _canonical(e: DataFrame) -> DataFrame:
    """Undirected edge set as (u < v) canonical pairs, no self-loops."""
    return (
        e.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For every node a: connect each strictly-larger neighbour to
    min(Gamma(a) ∪ {a}). Output is un-deduplicated (u,v) pairs; the
    round's final _canonical handles dedup so each round costs one
    dedup shuffle, not two."""
    nbrs = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    mins = nbrs.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        nbrs.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(
            F.least("b", "m").alias("u"),
            F.greatest("b", "m").alias("v"),
        )
        .where(F.col("u") < F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high->low; for every node a connect all smaller
    neighbours (and a itself) to the minimum of them."""
    # inputs are (u,v) with u < v (possibly duplicated): v is the high end
    nbrs = e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    mins = nbrs.groupBy("a").agg(F.min("b").alias("m"))
    joined = nbrs.join(mins, "a")
    out = joined.select(F.col("b").alias("src"), F.col("m").alias("dst")).unionAll(
        joined.select(F.col("a").alias("src"), F.col("m").alias("dst"))
    )
    return _canonical(out)


def _signature(e: DataFrame) -> tuple[int, int]:
    # decimal(38,0) sum: overflow-safe under ANSI mode at any realistic scale
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _gather(batches, cols: tuple[str, ...]) -> list[np.ndarray] | None:
    """Executor-side input of one kernel call: the int64 columns
    ``cols`` of every non-empty Arrow batch, accumulated as TYPED numpy
    arrays (a pandas concat of a 50M-edge set copied ~1.6 GB of
    object-dtype-prone frames) and concatenated only when more than
    one batch arrived. None when the task saw no rows."""
    parts: list[list[np.ndarray]] = [[] for _ in cols]
    for b in batches:
        if len(b):
            for acc, c in zip(parts, cols):
                acc.append(b[c].to_numpy(dtype=np.int64))
    if not parts[0]:
        return None
    return [np.concatenate(p) if len(p) > 1 else p[0] for p in parts]


def _yield_frames(cols: dict[str, np.ndarray]):
    """Yield the equal-length arrays ``cols`` as pandas frames of at
    most _YIELD_CHUNK rows."""
    n = len(next(iter(cols.values())))
    for i in range(0, n, _YIELD_CHUNK):
        yield pd.DataFrame({k: v[i : i + _YIELD_CHUNK] for k, v in cols.items()})


def _cc_single_task(e: DataFrame) -> DataFrame:
    """Small-graph fast path: exact union-find in ONE Arrow-batched task.

    Graphs below ``local_threshold`` edges (post-dedup) don't justify
    the iterative algorithm's per-round job overhead; this is the same
    executor-side pandas path the per-block variant uses, so nothing is
    collected to the driver.
    """

    def run(batches):
        cols = _gather(batches, ("u", "v"))
        if cols is not None:
            nodes, comp = uf_native.components(*cols)
            yield from _yield_frames({"node": nodes, "component": comp})

    return e.repartition(1).mapInPandas(run, schema="node long, component long")


def _contract_partitions(e_uv: DataFrame) -> DataFrame:
    """One NARROW local-contraction pass (a ``_cascade`` kernel):
    replace every partition's edge set with its star forest — one
    (root=min id, member) row per non-root node of each in-task
    component, computed by the C union-find kernel.
    Connectivity-preserving by construction (the star edges connect
    exactly the node sets the input edges connected, within each task;
    cross-task connectivity survives because shared nodes carry their
    roots together downstream). Output per task is ``distinct local
    nodes - local components`` rows, i.e. bounded by NODE count however
    many parallel/duplicate edges arrive."""

    def contract(batches):
        cols = _gather(batches, ("u", "v"))
        if cols is not None:
            nodes, comp = uf_native.components(*cols)
            mask = comp != nodes
            yield from _yield_frames({"u": comp[mask], "v": nodes[mask]})

    return e_uv.mapInPandas(contract, schema="u long, v long")


def _to_parts(df: DataFrame, n_parts: int) -> DataFrame:
    """``df`` over ``n_parts`` partitions: coalesce down (no shuffle),
    or one repartition shuffle up when the input partitioning is
    coarser than the per-task memory bound allows."""
    cur = df.rdd.getNumPartitions()
    if n_parts < cur:
        return df.coalesce(n_parts)
    if n_parts > cur:
        return df.repartition(n_parts)
    return df


def _cascade(
    e: DataFrame,
    n_raw: int,
    local_threshold: int,
    run_pass,
    label: str,
    max_passes: int = 8,
) -> tuple[DataFrame, int, DataFrame]:
    """Shrink an above-bound edge set with repeated narrow passes of
    ``run_pass`` until it fits ONE exact kernel task (<= local_threshold
    rows) or the partition count can no longer drop. ``run_pass`` bounds
    each task's output by its distinct node count:
    ``_contract_partitions`` (star contraction, for components) or
    ``hierarchy._msf_filter_pass`` (max-spanning-forest filter, for the
    merge hierarchy). So the row count converges toward a function of
    NODE count, and graphs whose edge multiplicity pushed them past the
    bound collapse back under it.

    The first pass goes STRAIGHT to the floor ceil(E / local_threshold):
    with shuffle-random rows a partition of E/P edges emits ~E/P rows
    until P is small enough that a task sees much of each component
    (10M-node/50M-edge chain: natural-64 and /4-coalesced-16 passes each
    streamed all 50M rows and shrank them by <1%). Later passes coalesce
    ~4x fewer partitions, floored at ceil(rows / local_threshold).

    The stall test is on PARTITION count, not row count: rows are not
    monotone on tree-ish graphs as P drops (an n_rows >= n_prev break
    sent the 10M-chain giant envelope back to ~25 alternating-star
    rounds), while re-running a pass on an UNCHANGED partitioning is
    idempotent — so "parts can't drop" means node count itself exceeds
    the bound and the caller's distributed route takes over.

    Each pass persists DISK_ONLY (streamed twice, count + next pass;
    on-heap copies of 40M+ rows OOMed the local-mode heap) and releases
    the previous one; ``EF_CC_LOG`` prints one ``[label]`` line per
    pass. Returns (edges, rows, persisted_handle); the caller
    unpersists the handle once the result is materialised."""
    log = os.environ.get("EF_CC_LOG", "") not in ("", "0")
    cur, cached = e, None
    n_rows, parts = n_raw, max(1, -(-n_raw // local_threshold))
    for i in range(max_passes):
        nxt = run_pass(_to_parts(cur, parts)).persist(StorageLevel.DISK_ONLY)
        n_rows = nxt.count()
        if cached is not None:
            cached.unpersist()
        cur = cached = nxt
        cur_parts = cur.rdd.getNumPartitions()
        if log:
            print(
                f"[{label}] cascade pass {i}: rows={n_rows} parts={cur_parts}",
                file=sys.stderr,
            )
        if n_rows <= local_threshold:
            break
        parts = max(-(-n_rows // local_threshold), cur_parts // 4)
        if parts >= cur_parts:
            break  # can't coalesce further: node count itself above the bound
    return cur, n_rows, cached


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    local_threshold: int = 20_000_000,
) -> DataFrame:
    """Components of the undirected graph given by ``edges``.

    Returns DataFrame(node long, component long) covering every node
    that appears in an edge; component = min node id of the component.
    Callers union isolated records afterwards (see partition_at).

    Graphs up to ``local_threshold`` RAW edges run exact union-find in
    ONE Arrow task — straight off the scan, no canonical-dedup shuffle
    (the C kernel treats duplicates and reversed copies as no-op
    unions, so dedup buys nothing on this path). Larger graphs run the
    distributed alternating-star algorithm over the canonicalised edge
    set. Set local_threshold=0 to force the distributed path.

    The 20M default is a per-task MEMORY bound, not a speed bound
    (20M edges = ~320 MB of int64 arrays + the Arrow batch; the kernel
    unions ~100M edges/s): below it a single task beats the
    distributed iteration's 4-shuffles-per-round overhead by an order
    of magnitude (measured: 1M-node chain, 5M edges — 183s
    distributed vs ~12s single-task end-to-end). It was 2M when the
    in-task sweep was a per-edge Python loop (VERDICT r3).
    """
    sel = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    star_cache = None
    if local_threshold:
        # raw-count probe: one scan+agg, NO shuffle (the old flow paid
        # the full canonical-dedup shuffle just to decide the route)
        n_raw = sel.count()
        if n_raw == 0:
            return sel.sparkSession.createDataFrame([], "node long, component long")
        if n_raw <= local_threshold:
            return _cc_single_task(
                sel.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            ).localCheckpoint(eager=True, storageLevel=_ckpt_level(n_raw))
        # above the single-task bound: contraction cascade first, so
        # only a cascade that stalls — node count itself beyond one
        # task — pays for the distributed rounds, over the contracted
        # star forest (the 10M-record/50M-edge giant envelope ran ~25
        # alternating-star rounds = 690s before this path)
        star, n_star, star_cache = _cascade(
            sel.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            n_raw,
            local_threshold,
            _contract_partitions,
            "ef-cc",
        )
        if n_star <= local_threshold:
            out = _cc_single_task(star).localCheckpoint(
                eager=True, storageLevel=_ckpt_level(n_star)
            )
            star_cache.unpersist()
            return out
        sel = star.select(F.col("u").alias("src"), F.col("v").alias("dst"))

    e = _canonical(sel)
    # persist so the size-probe job and the actual traversal share one
    # materialisation of the dedup shuffle; released before returning so
    # repeated calls (per-threshold partition_at) don't accumulate
    # executor storage over a session
    e0 = e.persist()
    n_edges = e0.count()
    if star_cache is not None:
        star_cache.unpersist()  # e0 is materialised; cascade cache done
    if n_edges == 0:
        e0.unpersist()
        return e0.sparkSession.createDataFrame([], "node long, component long")

    # Per-round checkpoint blocks must be RELEASED as rounds supersede
    # each other: localCheckpoint persists ~|E| rows per round and the
    # loop runs O(log^2 n) rounds, so keeping them all grows block-
    # manager storage linearly with rounds — measured as a 16g-heap OOM
    # at 50M edges / ~25 rounds (tools/envelope_bench.py giant shape);
    # on a real cluster the same leak inflates executor storage until
    # eviction thrash. Each round tracks ITS OWN checkpoint handle and
    # releases the previous round's only after the new round's
    # signature job has materialised (lineage is truncated by then, so
    # nothing downstream can still need the old block). Explicit
    # handles — never a diff of global persistent-RDD ids, which would
    # sweep up RDDs persisted concurrently by other driver threads and
    # could even unpersist this loop's own live checkpoint (ADVICE r4).
    lvl = _ckpt_level(n_edges)
    e = e0.localCheckpoint(eager=False, storageLevel=lvl)
    sig = _signature(e)
    prev = e
    try:
        for _ in range(max_iterations):
            # lazy checkpoint: the signature job right after materialises
            # it, cutting lineage without computing the round twice
            e = _small_star(_large_star(e)).localCheckpoint(
                eager=False, storageLevel=lvl
            )
            new_sig = _signature(e)
            _ckpt_unpersist(prev)
            prev = e
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} rounds"
            )
    finally:
        # the last round is materialised (its signature job ran), so the
        # original edge cache is no longer needed
        e0.unpersist()

    # converged edge set is a star forest: (member u>root? no — canonical
    # keeps u<v, so rows are (root=u, member=v)); roots also map to themselves
    members = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node"), F.col("u").alias("component")).distinct()
    return members.unionAll(roots).dropDuplicates(["node"])


def connected_components_blocked(
    edges: DataFrame,
    block_col: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact per-block components via Arrow-batched applyInPandas.

    Requires that edges never cross blocks (true for candidate pairs
    generated within blocking keys). One shuffle on block_col; no
    iteration.
    """
    sel = edges.select(
        F.col(block_col).alias("_block"),
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        nodes, comp = uf_native.components(pdf["src"].values, pdf["dst"].values)
        return pd.DataFrame({"node": nodes, "component": comp})

    out = sel.groupBy("_block").applyInPandas(per_block, schema="node long, component long")
    # a node can appear in several blocks; blocked CC is only exact when
    # blocks partition the edge space — caller guarantees it. Still dedup.
    return out.dropDuplicates(["node"])
