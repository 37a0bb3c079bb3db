"""Run one workload over several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload chat --seeds 1-10 --trace 0

For every metric it prints the median of the per-run values and the
interquartile range as a share of that median (``statistics.quantiles`` with
``n=4``), the figure a benchmark bound has to cover. Runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-5")
    p.add_argument("--trace", default="0")
    p.add_argument("--seconds", default=str(BENCH["run_seconds"]))
    args = p.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*BENCH["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f}s correct {out['correct']} "
              f"attempted {out['attempted']} failed {out['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)
        for line in proc.stderr.splitlines():
            if line.startswith("perfbench: w"):
                print("   ", line, flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median {med:.5g}  iqr/median {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
