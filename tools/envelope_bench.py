"""Hierarchy-build envelope evidence (VERDICT r3 "Missing #4").

The reference publishes build targets: 1M records / 5M edges in <10s
and 10M / 50M in <5min (docs/design/interface.md:1021-1033, in-process
Rust). Nothing in this repo had measured the Spark hierarchy above
~42k edge-endpoints. This script synthesises deterministic edge
graphs IN SPARK (no external data; xxhash64-based pseudo-randomness,
fully reproducible) at those scales and times build_merge_edges end
to end — global connected components + per-component single-linkage
sweeps (C union-find kernel).

Two shapes per scale, because they stress different paths:
  clustered — n/10 clusters of 10 records, edges only intra-cluster
              (the realistic post-blocking shape): distributed CC over
              all edges + millions of tiny per-component sweeps.
  giant     — ONE component holding every edge: the worst-case skew
              shape that lands the whole edge set in a single Arrow
              task; feasible at all only because the sweep is the C
              kernel (the r3 per-edge Python loop took minutes here).

Usage: python tools/envelope_bench.py [n_records] [n_edges] [out_md]
Env: ENVELOPE_CPUS (default 32), ENVELOPE_REPS (default 2; min kept —
     co-tenant steal swings identical runs 2-3x on this host),
     ENVELOPE_SHAPES (comma list, default "clustered,giant_component").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F


def clustered_edges(spark, n_records: int, n_edges: int, cluster_size: int = 10):
    """Deterministic intra-cluster random edges: realistic
    post-blocking shape (components bounded by cluster_size)."""
    n_clusters = n_records // cluster_size
    base = spark.range(n_edges)
    e = base.select(
        (F.col("id") % n_clusters).alias("c"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(cluster_size)).alias("i"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(cluster_size)).alias("j"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(999_999)) + 1).alias("w_fp"),
    )
    return (
        e.where(F.col("i") != F.col("j"))
        .select(
            (F.col("c") * cluster_size + F.col("i")).alias("src"),
            (F.col("c") * cluster_size + F.col("j")).alias("dst"),
            "w_fp",
        )
    )


def giant_edges(spark, n_records: int, n_edges: int):
    """One connected component over all records: a spanning chain
    (guarantees connectivity) + random extra edges. Worst-case skew —
    every edge lands in ONE per-component sweep task."""
    chain = spark.range(n_records - 1).select(
        F.col("id").alias("src"),
        (F.col("id") + 1).alias("dst"),
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(999_999)) + 1).alias("w_fp"),
    )
    extra = spark.range(max(n_edges - (n_records - 1), 0)).select(
        F.pmod(F.xxhash64("id", F.lit(11)), F.lit(n_records)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(13)), F.lit(n_records)).alias("dst"),
        (F.pmod(F.xxhash64("id", F.lit(17)), F.lit(999_999)) + 1).alias("w_fp"),
    ).where(F.col("src") != F.col("dst"))
    return chain.unionAll(extra)


def run_shape(spark, name: str, edges_df, reps: int, n_records: int = 0, **build_kwargs) -> dict:
    from entityframe_spark.operators.hierarchy import (
        build_merge_edges,
        build_merge_edges_sized,
        sweep_stats_from_merges,
    )

    edges = edges_df.localCheckpoint(eager=True)  # input materialised, untimed
    n_edges = edges.count()
    walls, n_merges = [], 0
    for _ in range(reps):
        t0 = time.time()
        me = build_merge_edges(edges, **build_kwargs)
        # full materialisation + an overflow-safe checksum so nothing
        # is pruned; decimal(38,0) per the ANSI hash-sum pitfall
        row = me.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("threshold_fp", "child", "parent").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        walls.append(round(time.time() - t0, 2))
        n_merges = int(row["n"])
    out = {
        "shape": name,
        "n_edges": n_edges,
        "n_merges": n_merges,
        "build_wall_s": min(walls),
        "all_attempts_s": walls,
        "edges_per_sec": round(n_edges / max(min(walls), 1e-9)),
    }
    if n_records and os.environ.get("ENVELOPE_SWEEP", "1") == "1":
        # reference envelope's second target (interface.md:1021-1026):
        # a 1000-point threshold sweep. Uses the O(m + |grid|)
        # incremental merge-delta path — |grid| x n membership cells
        # (1e9 at 1M records) are never materialised.
        sized = build_merge_edges_sized(edges, **build_kwargs).localCheckpoint(
            eager=True
        )
        grid = [int(t) for t in range(0, 1_000_000, 1000)]
        sweep_walls = []
        for _ in range(reps):
            t0 = time.time()
            stats = sweep_stats_from_merges(sized, n_records, grid)
            stats.agg(
                F.count(F.lit(1)),
                F.sum(F.col("entity_count").cast("decimal(38,0)")),
                F.sum("entropy"),
            ).collect()
            sweep_walls.append(round(time.time() - t0, 2))
        out["sweep_1000pt_wall_s"] = min(sweep_walls)
        out["sweep_all_attempts_s"] = sweep_walls
    return out


def main() -> None:
    n_records = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    out_md = sys.argv[3] if len(sys.argv) > 3 else None
    cpus = int(os.environ.get("ENVELOPE_CPUS", "32"))
    reps = int(os.environ.get("ENVELOPE_REPS", "2"))

    from entityframe_spark.session import get_spark

    spark = get_spark(app_name="envelope", cores=cpus, shuffle_partitions=2 * cpus)

    shapes = os.environ.get("ENVELOPE_SHAPES", "clustered,giant_component").split(",")
    results = []

    def done(r: dict) -> None:
        # incremental: a later shape crashing (OOM, co-tenant kill) must
        # not lose completed shapes' numbers
        results.append(r)
        print("SHAPE_DONE " + json.dumps(r), flush=True)

    if "clustered" in shapes:
        done(
            run_shape(
                spark, "clustered", clustered_edges(spark, n_records, n_edges), reps,
                n_records=n_records,
            )
        )
    if "giant_component" in shapes:
        done(
            run_shape(
                spark,
                "giant_component",
                giant_edges(spark, n_records, n_edges),
                reps,
                n_records=n_records,
                max_component_edges=None,  # skew shape on purpose
            )
        )
    if "giant_guarded" in shapes:
        # VERDICT r4 "Next" #1 Done-condition: the same worst-case
        # giant graph under PURE DEFAULTS — past the 10M
        # max_component_edges cap, on_oversized='filter' sends the
        # whole edge set through the Kruskal-filter cascade, no caller
        # opt-out needed, and the forest is swept in one task. Exercises
        # the filter route end to end, i.e. what a user who never read
        # the kwargs gets.
        done(
            run_shape(
                spark,
                "giant_guarded",
                giant_edges(spark, n_records, n_edges),
                reps,
                n_records=n_records,
            )
        )
    if "clustered_distcc" in shapes:
        # VERDICT r3 Missing #4: exercise the distributed alternating-
        # star CC at scale (both fast-path thresholds forced off), the
        # plan shape a >20M-edge graph takes on a real cluster.
        done(
            run_shape(
                spark,
                "clustered_distcc",
                clustered_edges(spark, n_records, n_edges),
                reps,
                n_records=n_records,
                local_threshold=0,
                cc_local_threshold=0,
            )
        )
    out = {"n_records": n_records, "cpus": cpus, "reps": reps, "shapes": results}
    print(json.dumps(out))

    if out_md:
        lines = [
            "",
            f"## Hierarchy-build envelope ({n_records:,} records, "
            f"~{n_edges:,} edges, local[{cpus}], min of {reps})",
            "",
            "Reference targets (in-process Rust, interface.md:1021-1033): "
            "1M/5M <10s, 10M/50M <5min. Spark numbers include all job "
            "overhead; inputs are deterministic synthetic graphs "
            "(tools/envelope_bench.py).",
            "",
            "| shape | edges | merge events | build wall (s) | edges/sec | 1000-pt sweep (s) |",
            "|---|---|---|---|---|---|",
        ]
        for r in results:
            sweep = r.get("sweep_1000pt_wall_s", "-")
            lines.append(
                f"| {r['shape']} | {r['n_edges']:,} | {r['n_merges']:,} "
                f"| {r['build_wall_s']} | {r['edges_per_sec']:,} | {sweep} |"
            )
        with open(out_md, "a") as f:
            f.write("\n".join(lines) + "\n")
        print(f"appended to {out_md}")


if __name__ == "__main__":
    main()
