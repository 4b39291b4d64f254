"""Run the benchmark once per seed and summarize each metric's spread.

    python3 perfbench/spread.py --workload knn --seeds 1-10 [--trace 1] [--out f.json]

For each metric it reports the median, the quartiles (Python's
``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median. Runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds, required=True)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    runs = []
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit {proc.returncode}")
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        counts = {k: res[k] for k in ("correct", "attempted", "failed")}
        runs.append({"seed": seed, "wall_s": wall, **counts})
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(json.dumps(runs[-1]), file=sys.stderr, flush=True)
    summary = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace, "runs": runs,
        "metrics": {k: summarize(v) for k, v in values.items()},
    }
    text = json.dumps(summary, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    for k, s in summary["metrics"].items():
        spread = "-" if s["spread"] is None else f"{s['spread']:.4f}"
        print(f"{args.workload} {k}: median {s['median']:.6g} spread {spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
