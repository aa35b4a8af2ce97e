"""Run the benchmark over several seeds and record a baseline.

    python3 perfbench/baseline.py --seeds 1-10 --out perfbench/baseline.json

For every workload of BENCHMARK.json: one untraced run per seed, then
one traced run on the first seed. Writes each run's metrics and
calibration probes, and per metric the median and the spread (distance between the first and third quartile as a
share of the median, ``statistics.quantiles(values, n=4)``). Prints
one summary line per workload and metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, hi = text.split("-")
    return list(range(int(lo), int(hi) + 1))


def _run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    detail, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    return {
        "seed": seed,
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "native": detail["native"],
        "calibration": detail["calibration"],
        "input_digest": detail["input_digest"],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seeds = _seeds(args.seeds)
    out = {"nproc": 4, "run_seconds": spec["run_seconds"], "seeds": seeds, "workloads": {}}
    for name in (w["name"] for w in spec["workloads"]):
        runs = [_run(spec, name, s, 0) for s in seeds]
        summary = {}
        for m in spec["end_to_end"]:
            values = [r["metrics"][m["name"]] for r in runs]
            med = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4)
            summary[m["name"]] = {"median": med, "spread": (q3 - q1) / med if med else 0.0}
            print(f"{name:9s} {m['name']:15s} median {med:12.4f}  spread {summary[m['name']]['spread']:.4f}"
                  f"  bound {m['bound']}", flush=True)
        traced = _run(spec, name, seeds[0], 1)
        out["workloads"][name] = {"summary": summary, "runs": runs, "traced": traced}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
