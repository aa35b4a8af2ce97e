"""Seeded linkage / dedup / evaluate benchmark for entityframe_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload linkage --seed 1 --seconds 3 --trace 0

One process, local[4], one driver thread, closed loop, one client. The
workload's inputs are generated from ``--seed``; after one warm-up
iteration, iterations run back to back until ``--seconds`` of iteration
wall time have been measured (with ``--trace 1``, untraced and traced
iterations alternate, at least one of each).
Outputs are checked against the benchmark's own oracle outside the
timer. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``). The line before it carries the details: input digest,
native-kernel availability, host calibration probes, every iteration
wall, and the raw span table in a traced run.

Everything the run writes (Spark scratch space, the native-kernel
cache, temp files) goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = 4
MAX_LOOP_S = 100.0  # hard stop for the timed loop, well inside 180 s


def _process_age_s() -> float:
    """Seconds since this process started (interpreter start-up
    included), from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _isolate_environment() -> None:
    """Point every scratch location of Python, the JVMs (the Spark
    launcher's too) and Spark into the checkout, let the Python workers
    import the checkout's library, and fix the driver heap: 1 GiB,
    pre-touched at start-up. Pre-touching is what the library's
    SPARK_GRAFT_PRETOUCH does by default when the heap fits in free
    memory; forcing it keeps the set-up the same on every host. The
    heap's RSS is then a constant 1 GiB, so the heap's own use is read
    from Spark's executor metrics instead (Tracer.run_memory)."""
    os.makedirs(WORK, mode=0o700, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=WORK,
        XDG_CACHE_HOME=os.path.join(WORK, "cache"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={WORK} -XX:-UsePerfData",
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_PRETOUCH="1",
    )


def _start_spark(name: str):
    from entityframe_spark.session import get_spark

    big = "1000000"
    return get_spark(
        app_name=f"perfbench-{name}",
        cores=NPROC,
        shuffle_partitions=NPROC,
        extra_conf={
            # C1 only: under the default tiered JIT, CPU per iteration
            # settles only after 3-6 iterations and then still varies
            # ~20% from one iteration to the next; under C1 it settles
            # by the third and varies a few percent (README.md has both
            # settings side by side, and the bias this brings)
            "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
            # sample JVM and Spark memory every 20 ms, so each stage's
            # peak heap / execution / storage memory reaches the status
            # store (by default only at the 10 s heartbeat)
            "spark.executor.metrics.pollingInterval": "20ms",
            "spark.local.dir": os.path.join(WORK, "spark"),
            "spark.ui.retainedJobs": big,
            "spark.ui.retainedStages": big,
            "spark.sql.ui.retainedExecutions": big,
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _layer_metrics(workload, spans: dict, memory: dict, walls_traced, walls_plain, kernel) -> dict:
    """Per-layer figures: per-span means over the span's instances,
    plus counts, ratios, kernel numbers and the tracing overhead."""
    out: dict[str, float] = {}
    for name, agg in spans.items():
        n = agg.pop("n")
        for k, v in agg.items():
            out[f"{name}.{k}"] = v if k.endswith("_peak_mb") else v / n
    sc = spans.get("scoring", {})
    if sc.get("wall_s"):
        out["scoring.pairs_per_s"] = sc["pairs"] / sc["wall_s"]
    sw = spans.get("entityframe.sweep", {})
    if sw.get("wall_s"):
        out["entityframe.grid_points_per_s"] = sw["grid_points"] / sw["wall_s"]
    q = spans.get("collection.query", {})
    if q.get("at_calls"):
        out["collection.at_hit_ratio"] = q["at_hits"] / q["at_calls"]
    # counters that are zero in a healthy run: kept as totals over all
    # spans, so a failure, a spill or a worker restart still shows
    for k in ("failed_tasks", "spill_mb", "py_start_s"):
        out[f"spark.{k}"] = sum(out.get(f"{n}.{k}", 0.0) for n in spans)
    out.update(memory)
    out.update(workload.counts)
    out.update(kernel)
    out["trace.overhead_s"] = statistics.median(walls_traced) - statistics.median(walls_plain)
    out["trace.iteration_wall_s"] = statistics.median(walls_traced)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["linkage", "dedup", "evaluate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    _isolate_environment()
    sys.path.insert(0, ROOT)

    from spans import ProcTree, Tracer

    procs = ProcTree(os.getpid())
    procs.start()
    spark = _start_spark(args.workload)
    try:
        import kernels
        from workloads import WORKLOADS

        native = kernels.availability()
        tracer = Tracer(spark, procs, enabled=False)
        wl = WORKLOADS[args.workload](spark, args.seed, tracer)
        session_s = _process_age_s()
        digest = wl.make_inputs()
        inputs_s = _process_age_s() - session_s
        # warm-up: code generation, Python workers, the JIT. The second
        # iteration of a process still runs ~10% slower than later ones;
        # a traced run warms up past it, so that its traced and untraced
        # iterations compare like with like
        for _ in range(1 + args.trace):
            res = wl.iterate()
        setup_s = _process_age_s()
        # the full oracle check runs on the warm-up's output, so that
        # every timed iteration's output is compared with an earlier one
        attempted, failed = wl.check(res, full=True)
        del res

        walls, traced_walls, cpus = [], [], []
        loop0 = time.perf_counter()
        i = 0
        while (
            sum(walls) + sum(traced_walls) < args.seconds
            or not walls
            or (args.trace and not traced_walls)
        ) and time.perf_counter() - loop0 < MAX_LOOP_S:
            traced = bool(args.trace) and i % 2 == 1
            tracer.enabled = traced
            c0, t0 = procs.cpu_s(), time.perf_counter()
            with tracer.span("iteration"):
                res = wl.iterate()
            wall = time.perf_counter() - t0
            cpus.append(procs.cpu_s() - c0)
            (traced_walls if traced else walls).append(wall)
            tracer.enabled = False
            a, b = wl.check(res, full=False)
            attempted += a
            failed += b
            del res
            i += 1
        peak_rss = procs.peak_mb()

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "input_digest": digest,
            "nproc": NPROC,
            "native": native,
            "setup_s": {
                "session": session_s,
                "inputs": inputs_s,
                "warmup": setup_s - session_s - inputs_s,
            },
            "walls_s": walls,
            "traced_walls_s": traced_walls,
            "cpu_s": cpus,
            "counts": wl.counts,
        }
        if args.trace:
            kern = kernels.measure(**wl.kernel_inputs())
            spans = tracer.resolve()
            memory = tracer.run_memory()
            detail["spans"] = {n: dict(v) for n, v in spans.items()}
            values = _layer_metrics(wl, spans, memory, traced_walls, walls, kern)
            names = spec["per_layer"]
        else:
            values = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls),
                "records_per_s": wl.n_records / statistics.median(walls),
                "cpu_s": statistics.median(cpus),
                "peak_rss_mb": peak_rss,
                "pair_f1": wl.quality,
            }
            names = spec["end_to_end"]
        from bench import _calibration

        detail["calibration"] = _calibration()
    finally:
        procs.stop()
        _stop_spark(spark)

    if not all(native.values()):
        failed = attempted  # a Python fallback must not pass as a perf number
    print(json.dumps(detail, default=float))
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
