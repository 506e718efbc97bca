"""Run-to-run spread of the end-to-end metrics: runs the benchmark once per
seed, one run at a time, and prints for each metric the median and the
distance between the first and third quartile as a share of the median —
the figure a metric's bound in BENCHMARK.json is compared with.

    python3 perfbench/spread.py --workload NAME --seeds 1 2 3 4 5
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
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs = []
    for seed in args.seeds:
        t = time.monotonic()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.monotonic() - t
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(result)
        print(
            f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
            flush=True,
        )
    if len(runs) < 2:
        return 0
    for name in runs[0]["metrics"]:
        med, iqr = spread([r["metrics"][name]["value"] for r in runs])
        bound = bounds.get(name)
        flag = "" if bound is None else f" bound={bound} ok={iqr < bound / 3}"
        print(f"{name}: median={med:.4f} iqr/median={iqr:.3f}{flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
