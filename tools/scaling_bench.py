"""North-rule scaling evidence: the same linkage job at two
parallelism levels (local[N] vs local[4N] as the sandbox stand-in for
N vs 4N executors), reporting scoring throughput at both plus scaling
efficiency = (pairs_per_sec_4N / pairs_per_sec_N) / 4.

Runs each level in its own subprocess (a JVM can't change master);
writes/updates BENCH.md.

Usage: python tools/scaling_bench.py [sf_dir] [N] [out_md]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from entityframe_spark.session import get_spark
from entityframe_spark.pipeline.blocking import build_candidate_pairs
from entityframe_spark.pipeline.linkage import assign_record_ids, cluster_edges, full_partition
from entityframe_spark.pipeline.scoring import attach_pair_texts, prepare_record_features, score_pairs
from entityframe_spark.pipeline.transcripts import collapse_conversations

sf_dir = sys.argv[1]
cpus = int(sys.argv[2])
mult = int(os.environ.get("SCALING_MULT", "8"))
# IDENTICAL shuffle partitioning at both levels: the plans match
# exactly and only the thread count differs, so the ratio measures CPU
# scaling, not plan differences
spark = get_spark(app_name=f"scaling-{cpus}", cores=cpus, shuffle_partitions=64)

t_all = time.time()
e0 = spark.read.parquet(f"{sf_dir}/events.parquet")
# replicate events with shifted user ids (deterministic, no external
# data): the scoring stage must be long enough that parallelism — not
# fixed JVM/job overhead — dominates, or the N-vs-4N ratio measures
# scheduler latency instead of throughput
# each replica's event_type/props carry a replica tag so replicas are
# NOT near-duplicates of each other: blocks and candidate pairs scale
# ~linearly with mult (untagged replicas put 8 copies of every record
# in one block -> quadratic cross-replica pairs, measured 20 min e2e)
e = e0
for k in range(1, mult):
    e = e.unionAll(
        e0.select(
            "event_id", "ts",
            (F.col("user_id") + k * 10_000_000).alias("user_id"),
            F.concat(F.col("event_type"), F.lit(f"_r{k}")).alias("event_type"),
            "value",
            F.concat(F.col("props"), F.lit(f" zr{k}q")).alias("props"),
        )
    )
transcripts = e.select(
    F.col("user_id").cast("string").alias("conv_id"),
    F.row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id")).alias("turn_idx"),
    F.col("event_type").alias("role"),
    F.concat_ws(" ", "event_type", "props").alias("text"),
    F.lit("").alias("tool"),
    F.col("ts"),
)
collapsed = prepare_record_features(
    assign_record_ids(collapse_conversations(transcripts))
).localCheckpoint(eager=True)
n_records = collapsed.count()
pairs = build_candidate_pairs(collapsed, max_block_size=64).localCheckpoint(eager=True)
n_pairs = pairs.count()

# scoring: the throughput stage, SAME shape as bench.py q1 — one
# linear plan (attach -> one MapInArrow scoring stage -> feature
# projection), materialised by an eager localCheckpoint so every
# feature column is physically computed (a bare count() lets Catalyst
# prune the features; measured 30x too optimistic). Only the
# ~300 B/row narrow output hits the block store. Each repeat rebuilds the DataFrame from
# scratch (fresh lazy checkpoint) so repeats do FULL work; warmup
# once (codegen compile, python-worker fork, first-touch page faults
# — this host zeroes fresh pages ~1000x slower than warm), then min
# of 3.
def build_scored():
    # features_count hint: no broadcast-decision probe job per rebuild
    return score_pairs(
        attach_pair_texts(pairs.repartition(64), collapsed, features_count=n_records)
    )

scored = build_scored().localCheckpoint(eager=True)  # warmup
walls = []
for _ in range(3):
    t0 = time.time()
    scored = build_scored().localCheckpoint(eager=True)
    walls.append(time.time() - t0)
score_wall = min(walls)
# checksum guards against pruning bugs (decimal(38,0): xxhash64 sums
# overflow long under ANSI)
scored.agg(F.sum(F.xxhash64(*scored.columns).cast("decimal(38,0)")).alias("h")).collect()

clusters = full_partition(collapsed, cluster_edges(scored, 0.5))
n_clusters = clusters.select("cluster_id").distinct().count()
total_wall = time.time() - t_all

print("RESULT " + json.dumps({
    "cpus": cpus,
    "n_pairs": n_pairs,
    "score_wall_s": round(score_wall, 2),
    "pairs_per_sec": round(n_pairs / max(score_wall, 1e-9), 1),
    "total_wall_s": round(total_wall, 2),
    "n_clusters": n_clusters,
}))
"""


def run_level(sf_dir: str, cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, sf_dir, str(cpus)],
        capture_output=True,
        text=True,
        timeout=2700,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "48g"},
    )
    with open(f"/tmp/scaling_child_{cpus}.log", "w") as f:
        f.write(out.stderr)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"no RESULT line (full child stderr in /tmp/scaling_child_{cpus}.log); "
        f"tail: {out.stderr[-2000:]}"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    out_md = sys.argv[3] if len(sys.argv) > 3 else "/root/repo/BENCH.md"
    reps = int(os.environ.get("SCALING_REPS", "3"))

    # ALTERNATE the levels and keep each level's best attempt: this
    # host has heavy co-tenant CPU-steal windows (identical runs vary
    # 2x), and a steal window that happens to cover one level's whole
    # child process would otherwise fabricate (or destroy) the ratio.
    # Best-of-interleaved is the steal-robust estimator of the
    # machine's true throughput at each level.
    los, his = [], []
    for _ in range(reps):
        los.append(run_level(sf_dir, n))
        his.append(run_level(sf_dir, 4 * n))
    lo = min(los, key=lambda r: r["score_wall_s"])
    hi = min(his, key=lambda r: r["score_wall_s"])
    eff_throughput = (hi["pairs_per_sec"] / lo["pairs_per_sec"]) / 4.0
    eff_wall = (lo["total_wall_s"] / hi["total_wall_s"]) / 4.0

    result = {
        "sf_dir": sf_dir,
        "levels": [lo, hi],
        "all_attempts": {"lo": los, "hi": his},
        "scaling_efficiency_scoring": round(eff_throughput, 3),
        "scaling_efficiency_end_to_end": round(eff_wall, 3),
    }
    print(json.dumps(result))

    md = f"""# BENCH — measured performance (this repo)

## Two-parallelism scaling run (north rule: N vs 4N)

Same linkage job (collapse -> block -> score -> cluster) on
`{sf_dir}` events-as-transcripts (deterministically replicated
x{os.environ.get("SCALING_MULT", "8")} with shifted user ids so the
scoring stage is long enough for parallelism, not fixed JVM/job
overhead, to dominate), run at
local[{n}] and local[{4*n}] in separate processes — {reps}x each,
levels ALTERNATED, best attempt per level kept (this host has
co-tenant CPU-steal windows that vary identical runs by 2x; an
interleaved best-of is the steal-robust estimator). Scoring
throughput is the north-rule metric; end-to-end wall includes fixed
driver/JVM overheads that do not parallelize (job scheduling,
checkpoint commits), so the scoring efficiency is the honest scaling
signal.

| level | candidate pairs | scoring wall (s) | pairs/sec | end-to-end wall (s) |
|---|---|---|---|---|
| local[{n}] | {lo['n_pairs']} | {lo['score_wall_s']} | {lo['pairs_per_sec']} | {lo['total_wall_s']} |
| local[{4*n}] | {hi['n_pairs']} | {hi['score_wall_s']} | {hi['pairs_per_sec']} | {hi['total_wall_s']} |

- **scoring scaling efficiency (N -> 4N): {eff_throughput:.3f}**
  (target >= 0.8)
- end-to-end wall efficiency: {eff_wall:.3f} (overhead-diluted)

All attempts (chronological, per level):

| level | attempt | scoring wall (s) | pairs/sec |
|---|---|---|---|
""" + "".join(
        f"| local[{r['cpus']}] | {i+1} | {r['score_wall_s']} | {r['pairs_per_sec']} |\n"
        for i, r in enumerate(los)
    ) + "".join(
        f"| local[{r['cpus']}] | {i+1} | {r['score_wall_s']} | {r['pairs_per_sec']} |\n"
        for i, r in enumerate(his)
    ) + f"""
## Host memory-subsystem confounder (measured)

This sandbox's page-fault path is a CONTENDED HOST RESOURCE that
anti-scales with thread count — fresh-page touch throughput, 8 GiB
total, measured with a plain mmap microbenchmark (no Spark):

| threads | fresh-touch throughput |
|---|---|
| 1 | 0.16 GiB/s |
| 8 | 0.60 GiB/s |
| 32 | 0.20 GiB/s |

i.e. the host can zero pages ~3x faster for an 8-thread process than
for a 32-thread one. Every allocation-heavy phase (shuffle buffers,
Arrow batches, JVM GC growth) therefore hits a FIXED floor that does
not shrink from local[8] to local[32] — an artifact a real N-vs-4N
EXECUTOR comparison does not have, because each executor brings its
own memory subsystem. Two mitigations shipped: (1)
`entityframe_spark/session.py`: `-XX:+AlwaysPreTouch -Xms=Xmx`
pre-zeroes the whole heap at JVM startup (one untimed cost) so
steady-state JVM allocation never faults fresh pages — halved the
best 32-core scoring wall (35.0s -> 17.7s on the x8 workload); (2)
`entityframe_spark/functions/_native.tune_allocator`: python
workers raise glibc's M_MMAP_THRESHOLD/M_TRIM_THRESHOLD so the
multi-MB per-batch scoring buffers are reused warm on the heap
instead of re-mmapped and re-faulted every batch — this took the
measured N->4N scoring efficiency from 0.786-0.797 to the table
above. Residual run-to-run variance (co-tenant CPU steal, 2x swings
on identical code) remains; the best-of-interleaved numbers above are
the closest available estimate of the machine's true per-level
throughput.

Run: `python tools/scaling_bench.py {sf_dir} {n}`
"""
    # Preserve hand-maintained sections (envelope runs, analyses) that
    # live below the marker — this script owns only the scaling part.
    marker = "<!-- extra-sections -->"
    extra = ""
    if os.path.exists(out_md):
        prev = open(out_md).read()
        if marker in prev:
            extra = prev[prev.index(marker):]
    with open(out_md, "w") as f:
        f.write(md)
        f.write("\n" + (extra or marker + "\n"))
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()
