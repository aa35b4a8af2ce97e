"""Stage-level timing of the 10M/50M giant-component hierarchy build.

The envelope (tools/envelope_bench.py) times build_merge_edges end to
end; this splits the giant shape into the stages of the route it takes
under the default bounds (the max-spanning-forest filter cascade) so
optimisation work aims at the real bottleneck instead of a guess:

  1. filter cascade down to the max-spanning forest [materialised count]
  2. single-linkage sweep over the forest: one fused task when the
     forest fits the 20M-edge task bound, else connected_components +
     tag join + partitioned sweep              [materialised count+hash]
  3. in-process numpy floor: lexsort + C union-find kernel over the
     same 50M edges generated locally (what one perfect task costs)

Usage: python tools/profile_giant.py [n_records] [n_edges]
Env: PROFILE_CPUS (32), EF_CC_LOG=1 recommended.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

import numpy as np
from pyspark.sql import functions as F

from tools.envelope_bench import giant_edges


def main() -> None:
    n_records = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000_000
    cpus = int(os.environ.get("PROFILE_CPUS", "32"))

    from entityframe_spark.session import get_spark
    from entityframe_spark.operators.components import (
        _cascade,
        _ckpt_level,
        connected_components,
    )
    from entityframe_spark.operators import hierarchy as H

    bound = 20_000_000  # build_merge_edges' default local_threshold
    spark = get_spark(app_name="profile-giant", cores=cpus, shuffle_partitions=2 * cpus)
    edges = giant_edges(spark, n_records, n_edges).localCheckpoint(eager=True)
    n_raw = edges.count()
    print(f"edges materialised: {n_raw}", flush=True)

    t0 = time.time()
    forest, n_f, handle = _cascade(edges, n_raw, bound, H._msf_filter_pass, "ef-msf")
    t_cascade = time.time() - t0
    print(f"STAGE cascade: {t_cascade:.1f}s forest={n_f}", flush=True)

    t0 = time.time()
    if n_f <= bound:
        me = H._sweep_fused_single_task(forest, False, H.MERGE_EDGE_SCHEMA)
    else:
        comps = connected_components(forest, "src", "dst")
        tagged = forest.join(
            comps.withColumnRenamed("node", "src").withColumnRenamed("component", "_comp"),
            "src",
        ).select("_comp", "src", "dst", "w_fp").localCheckpoint(
            eager=True, storageLevel=_ckpt_level(n_f)
        )
        me = H._sweep_partitioned(tagged, False, H.MERGE_EDGE_SCHEMA, n_f, 5_000_000)
    row = me.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("threshold_fp", "child", "parent").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    t_sweep = time.time() - t0
    handle.unpersist()
    print(f"STAGE sweep: {t_sweep:.1f}s merges={int(row['n'])}", flush=True)

    # in-process floor: same graph shape, pure numpy + kernel
    t0 = time.time()
    rng_src = np.arange(n_records - 1, dtype=np.int64)
    chain_dst = rng_src + 1
    k = max(n_edges - (n_records - 1), 0)
    ids = np.arange(k, dtype=np.int64)
    ex_src = (ids * 2654435761 + 11) % n_records
    ex_dst = (ids * 40503 + 13) % n_records
    m = ex_src != ex_dst
    src = np.concatenate([rng_src, ex_src[m]])
    dst = np.concatenate([chain_dst, ex_dst[m]])
    wfp = ((src * 31 + dst) % 999_999) + 1
    t_gen = time.time() - t0
    t0 = time.time()
    order = np.lexsort((dst, src, -wfp))
    t_sort = time.time() - t0
    src, dst, wfp = src[order], dst[order], wfp[order]
    from entityframe_spark.functions import uf_native

    t0 = time.time()
    out = uf_native.single_linkage_native(src, dst, wfp, n_records)
    t_uf = time.time() - t0
    print(
        f"FLOOR gen={t_gen:.1f}s lexsort={t_sort:.1f}s kernel={t_uf:.1f}s "
        f"merges={len(out[0])}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
