"""Fused (t_a, t_b) pair-grid sweep: contingency sufficient statistics
for every grid point WITHOUT the |grid_a| x |grid_b| x n shuffle.

Parity target: the reference designs its threshold sweeps as
incremental O(k) updates over merge events rather than re-clustering
per grid point (docs/design/algorithms.md:671-786). The distributed
route in ``EntityFrame._pair_df`` expresses the sweep as one shuffle —
join the two |grid| x n membership expansions on record_id and group
by (t_a, t_b, cluster_a, cluster_b) — which is the right plan when the
record space is large, but its intermediate is |grid_a| x |grid_b| x n
rows: a 100x100 grid over 15k records is 150M joined rows (measured
176.9s on this host, BENCH.md) for an output of 10,000 metric rows.

This module is the small-input fast path. Both dendrograms and the
record space are collected once (gated: <= ``max_collect_rows`` rows
total, a few hundred MB ceiling), sorted and mapped to record indices
on the driver (``uf_native.grid_edges``), broadcast, and the grid is
partitioned across executors by t_a. Each task replays the two merge
sequences with the same union-find grid-label kernel the membership
reconstruction uses (``uf_native.grid_labels_indexed``: C kernel, or
its pure-Python twin on compiler-less workers) and reduces each (t_a,
t_b) cell set with one vectorised np.unique — total work
O(|grid_a| x |grid_b| x n log n) arithmetic instead of a 150M-row
shuffle, ~50x less wall at bench scale. Inputs above the gates return
None and the caller keeps the shuffle plan, which scales horizontally.

Output schema matches the ``joined`` stats frame inside
``metrics.metrics_from_cells`` exactly, so ``metrics_from_stats``
applies the identical metric expressions to both routes (pinned by
tests/test_pair_sweep.py route-equality tests).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entityframe_spark.functions import uf_native

STATS_SCHEMA = (
    "key_ta long, key_tb long, n_tot long, TP double, MI double, "
    "H_b_given_a double, H_a_given_b double, bc_p double, bc_r double, "
    "PP double, H_a double, AP double, H_b double"
)


def _df_to_numpy(df: DataFrame, cols: list[str]) -> list[np.ndarray]:
    """Arrow-path collect of narrow long columns (no Row objects)."""
    tbl = df.select(*cols).toArrow()
    return [
        tbl.column(c).to_numpy(zero_copy_only=False).astype(np.int64)
        for c in cols
    ]


def _marginal_stats(labels: np.ndarray, n: int) -> tuple[np.ndarray, float, float]:
    """counts-per-root plus sum C(c,2) and -sum (c/N) ln(c/N)."""
    counts = np.bincount(labels, minlength=n).astype(np.float64)
    nz = counts[counts > 0]
    pairs = float((nz * (nz - 1.0) / 2.0).sum())
    p = nz / n
    entropy = float(-(p * np.log(p)).sum())
    return counts, pairs, entropy


_prev_broadcast = []  # last call's broadcast handle (bounded cleanup)


def pair_sweep_stats(
    records: DataFrame,
    me_a: DataFrame,
    me_b: DataFrame,
    fps_a: list[int],
    fps_b: list[int],
    *,
    max_collect_rows: int = 5_000_000,
    max_pair_cells: int = 2_000_000_000,
    max_side_cells: int = 50_000_000,
) -> DataFrame | None:
    """Stats frame for the (fps_a x fps_b) grid, or None when the
    input exceeds the fused gates (caller keeps the shuffle route).

    max_collect_rows bounds what is collected+broadcast (records +
    both merge-edge sets, ~24 B/row of int64s). max_pair_cells bounds
    total kernel arithmetic (|grid_a| x |grid_b| x n). max_side_cells
    bounds each task's label-matrix memory on BOTH axes: |grid_b| x n
    for the b-side matrix every task builds, and ceil(|grid_a| /
    n_parts) x n for its a-side slice (an asymmetric grid passing the
    other gates could otherwise allocate ~16 GB per task)."""
    spark = records.sparkSession
    # all three gate probes in ONE job (r6): tagged union, map-side
    # partial aggregation — was three sequential count jobs
    _cnt = {
        int(r["_side"]): int(r["n"])
        for r in records.select(F.lit(0).alias("_side"))
        .unionAll(me_a.select(F.lit(1).alias("_side")))
        .unionAll(me_b.select(F.lit(2).alias("_side")))
        .groupBy("_side")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = _cnt.get(0, 0)
    ma = _cnt.get(1, 0)
    mb = _cnt.get(2, 0)
    ga = sorted({int(t) for t in fps_a}, reverse=True)
    gb = sorted({int(t) for t in fps_b}, reverse=True)
    if n == 0 or not ga or not gb:
        return None
    if n + ma + mb > max_collect_rows or n * len(ga) * len(gb) > max_pair_cells:
        return None
    n_parts = max(1, min(spark.sparkContext.defaultParallelism, len(ga)))
    a_slice = -(-len(ga) // n_parts)
    if len(gb) * n > max_side_cells or a_slice * n > max_side_cells:
        return None

    (rid,) = _df_to_numpy(records.select("record_id"), ["record_id"])
    nodes = np.unique(rid)
    n = len(nodes)
    # mapped once, on the driver: a missing endpoint raises here
    cols = ["child", "parent", "threshold_fp"]
    ea = uf_native.grid_edges(*_df_to_numpy(me_a, cols), nodes)
    eb = uf_native.grid_edges(*_df_to_numpy(me_b, cols), nodes)
    grid_a = np.array(ga, dtype=np.int64)
    grid_b = np.array(gb, dtype=np.int64)
    # the b-side label matrix is rebuilt in every task (~30 ms at
    # n=15k): broadcasting it instead was measured slower on the bench
    # grid (100x100: a ~24 MB pickle, analyse_df 1.5 s -> 4 s)
    bc = spark.sparkContext.broadcast((n, ea, eb, grid_a, grid_b))
    # release the previous call's broadcast now that a new one
    # supersedes it (ADVICE r5: repeated sweeps on a long-lived session
    # accumulated broadcast memory). unpersist — not destroy — so an
    # older, not-yet-executed stats frame still works: executors
    # re-fetch released blocks from the driver on demand (verified)
    while _prev_broadcast:
        try:
            _prev_broadcast.pop().unpersist(blocking=False)
        except Exception:
            pass
    _prev_broadcast.append(bc)

    def run(batches):
        import pandas as pd

        n_, ea_, eb_, ga_, gb_ = bc.value
        my_ga: list[int] = []
        for b in batches:
            my_ga.extend(int(i) for i in b["id"])
        if not my_ga:
            return
        # this task's slice of t_a values (kept descending) x ALL t_b
        sub_a = ga_[np.array(sorted(my_ga), dtype=np.int64)]
        la_mat = uf_native.grid_labels_indexed(*ea_, n_, sub_a)
        lb_mat = uf_native.grid_labels_indexed(*eb_, n_, gb_)
        b_marg = [_marginal_stats(lb_mat[j], n_) for j in range(len(gb_))]
        Nd = float(n_)
        rows = {k: [] for k in (
            "key_ta", "key_tb", "n_tot", "TP", "MI", "H_b_given_a",
            "H_a_given_b", "bc_p", "bc_r", "PP", "H_a", "AP", "H_b",
        )}
        for i, ta in enumerate(sub_a):
            la = la_mat[i]
            ca, pp, h_a = _marginal_stats(la, n_)
            for j, tb in enumerate(gb_):
                lb = lb_mat[j]
                cb, ap, h_b = b_marg[j]
                key = la * n_ + lb
                uk, cnt = np.unique(key, return_counts=True)
                al = uk // n_
                a_i = ca[al]
                b_j = cb[uk - al * n_]
                nd = cnt.astype(np.float64)
                rows["key_ta"].append(int(ta))
                rows["key_tb"].append(int(tb))
                rows["n_tot"].append(n_)
                rows["TP"].append(float((nd * (nd - 1.0) / 2.0).sum()))
                rows["MI"].append(
                    float((nd / Nd * np.log(nd * Nd / (a_i * b_j))).sum())
                )
                rows["H_b_given_a"].append(
                    float((-(nd / Nd) * np.log(nd / a_i)).sum())
                )
                rows["H_a_given_b"].append(
                    float((-(nd / Nd) * np.log(nd / b_j)).sum())
                )
                rows["bc_p"].append(float((nd * nd / a_i).sum()))
                rows["bc_r"].append(float((nd * nd / b_j).sum()))
                rows["PP"].append(pp)
                rows["H_a"].append(h_a)
                rows["AP"].append(ap)
                rows["H_b"].append(h_b)
        yield pd.DataFrame(rows)

    return spark.range(0, len(ga), 1, n_parts).mapInPandas(run, STATS_SCHEMA)
