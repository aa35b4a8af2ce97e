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


def _ckpt_unpersist(df: DataFrame) -> None:
    """Release the persisted blocks of a localCheckpoint()ed DataFrame.

    Dataset.unpersist() only talks to the cache manager, not direct RDD
    persists, so reach the checkpointed RDD through the plan's
    LogicalRDD node. This is how a loop releases superseded checkpoints
    it created ITSELF — never by diffing global persistent-RDD ids,
    which races with RDDs persisted concurrently by other driver
    threads (ADVICE r4). Only safe once a downstream job has
    materialised whatever replaces ``df`` (localCheckpoint lineage is
    truncated; the block is unrecoverable after unpersist)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # API drift: degrade to keep-until-context-GC

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


def _cc_single_task(e: DataFrame) -> DataFrame:
    """Small-graph fast path: exact union-find in ONE Arrow-batched task.

    Graphs below ``local_threshold`` edges (post-dedup) don't justify
    the iterative algorithm's per-round job overhead; this is the same
    executor-side pandas path the per-block variant uses, so nothing is
    collected to the driver.
    """

    def run(batches):
        us, vs = [], []
        for pdf in batches:
            if len(pdf):
                us.append(pdf["u"].to_numpy(dtype=np.int64))
                vs.append(pdf["v"].to_numpy(dtype=np.int64))
        if not us:
            return
        nodes, comp = uf_native.components(
            np.concatenate(us) if len(us) > 1 else us[0],
            np.concatenate(vs) if len(vs) > 1 else vs[0],
        )
        for i in range(0, len(nodes), _YIELD_CHUNK):
            yield pd.DataFrame(
                {
                    "node": nodes[i : i + _YIELD_CHUNK],
                    "component": comp[i : i + _YIELD_CHUNK],
                }
            )

    return e.repartition(1).mapInPandas(run, schema="node long, component long")


def _contract_partitions(e_uv: DataFrame, n_parts: int | None) -> DataFrame:
    """One NARROW local-contraction pass: optionally coalesce to
    ``n_parts`` (no shuffle), then replace every partition's edge set
    with its star forest — one (root=min id, member) row per non-root
    node of each in-task component, computed by the C union-find
    kernel. Connectivity-preserving by construction (the star edges
    connect exactly the node sets the input edges connected, within
    each task; cross-task connectivity survives because shared nodes
    carry their roots together downstream). Output per task is
    ``distinct local nodes - local components`` rows, i.e. bounded by
    NODE count however many parallel/duplicate edges arrive."""
    if n_parts is not None:
        cur_parts = e_uv.rdd.getNumPartitions()
        if n_parts < cur_parts:
            e_uv = e_uv.coalesce(n_parts)
        elif n_parts > cur_parts:
            # input partitioning coarser than the per-task memory
            # bound allows: one shuffle to restore the bound
            e_uv = e_uv.repartition(n_parts)

    def contract(batches):
        srcs, dsts = [], []
        for pdf in batches:
            if len(pdf):
                srcs.append(pdf["u"].to_numpy(dtype=np.int64))
                dsts.append(pdf["v"].to_numpy(dtype=np.int64))
        if not srcs:
            return
        src = np.concatenate(srcs) if len(srcs) > 1 else srcs[0]
        dst = np.concatenate(dsts) if len(dsts) > 1 else dsts[0]
        nodes, comp = uf_native.components(src, dst)
        mask = comp != nodes
        roots, members = comp[mask], nodes[mask]
        for i in range(0, len(members), _YIELD_CHUNK):
            yield pd.DataFrame(
                {"u": roots[i : i + _YIELD_CHUNK], "v": members[i : i + _YIELD_CHUNK]}
            )

    return e_uv.mapInPandas(contract, schema="u long, v long")


def _contract_cascade(
    e_uv: DataFrame, n_raw: int, local_threshold: int, max_passes: int = 8
) -> tuple[DataFrame, int, DataFrame]:
    """Contraction cascade: repeated narrow passes of
    ``_contract_partitions``, coalescing ~4x fewer partitions each
    time, until the surviving star forest fits ONE exact kernel task
    (<= local_threshold rows) or the partition count can no longer
    drop. Edge count converges toward (nodes - components) — a
    function of NODE count, so graphs whose edge multiplicity (not
    node count) pushed them past the single-task bound collapse back
    under it without any distributed rounds. Partition count is
    floored at ceil(rows / local_threshold) so no task ever receives
    more than the single-task memory bound.

    The stall test is on PARTITION count, not row count: with P
    partitions the pass emits sum_p(local_nodes_p - local_comps_p), so
    a node in k tasks contributes up to k rows. As P drops, cross-task
    multiplicity falls but local components merge (fewer roots -> MORE
    member rows), so the row count is not monotone on tree-ish graphs
    even while it converges to n - c at P=1 (r4 bug: an n_star>=n_prev
    break here sent the 10M-chain giant envelope back to ~25
    alternating-star rounds). Re-contracting an UNCHANGED partitioning
    is idempotent — shrink only ever comes from coalescing — so "parts
    can't decrease" is the exact stall condition: it means node count
    itself exceeds the single-task bound (the true cluster-scale case)
    and the distributed rounds take over. Passes are bounded by
    log4(initial partitions) regardless of max_passes.

    Returns (star_edges, row_count, persisted_handle) — caller must
    unpersist the handle once the result is consumed/materialised."""
    log = os.environ.get("EF_CC_LOG", "") not in ("", "0")
    cur, cached = e_uv, None
    # First pass goes STRAIGHT to the floor partition count (the
    # per-task memory bound), not the input's natural partitioning:
    # with shuffle-random row placement a partition of E/P edges over
    # ~min(2E/P, N) nodes emits ~E/P star rows — no shrink — until P
    # is small enough that a task sees a meaningful fraction of each
    # component. Measured (10M-node/50M-edge chain graph, local[32]):
    # the natural-64 and /4-coalesced-16 passes each streamed the full
    # 50M rows through Python workers and shrank them by <1%; starting
    # at ceil(E/threshold)=3 removes both. On a real cluster the floor
    # is E/threshold tasks — ample parallelism at any scale that
    # needs the cascade at all (50M-edge graphs -> 3 tasks is the
    # parallelism-starved WORST case, and it is also the fastest).
    n_star, parts = n_raw, max(1, -(-n_raw // local_threshold))
    for i in range(max_passes):
        # DISK_ONLY: a pass cache is streamed exactly twice (count +
        # next pass); on-heap copies of 40M+ rows OOMed the shared
        # local-mode heap
        nxt = _contract_partitions(cur, parts).persist(StorageLevel.DISK_ONLY)
        n_star = nxt.count()
        if cached is not None:
            cached.unpersist()
        cur = cached = nxt
        cur_parts = cur.rdd.getNumPartitions()
        if log:
            print(
                f"[ef-cc] cascade pass {i}: rows={n_star} parts={cur_parts}",
                file=sys.stderr,
            )
        if n_star <= local_threshold or n_star == 0:
            return cur, n_star, cached
        floor_parts = -(-n_star // local_threshold)
        parts = max(floor_parts, cur_parts // 4)
        if parts >= cur_parts:
            break  # can't coalesce further: node count itself above the bound
    return cur, n_star, cached


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
        # above the single-task bound: contraction cascade first. A few
        # narrow kernel passes shrink the edge set toward NODE count;
        # if the remainder fits one task the exact kernel finishes
        # (measured: the 10M-record/50M-edge giant-component envelope
        # ran ~25 alternating-star rounds = 690s before this path), and
        # only a cascade that stalls above the bound — node count
        # itself beyond one task's memory, the true cluster-scale case
        # — pays for the distributed rounds, now over the contracted
        # (smaller, star-shaped, low-diameter) edge set.
        star, n_star, star_cache = _contract_cascade(
            sel.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            n_raw,
            local_threshold,
        )
        if n_star == 0:
            star_cache.unpersist()
            return sel.sparkSession.createDataFrame([], "node long, component long")
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
