"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload text_dedup --seeds 1-10

Runs ``run.py`` once per seed (one fresh process each, sequentially) and
prints, per metric, the median and the quartile distance as a share of the
median -- ``statistics.quantiles(values, n=4)`` -- next to the metric's
bound from BENCHMARK.json.  Use it to check that a benchmark change keeps
every spread well inside its bound.
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
DIAG = ("host.control_s", "host.steal_ratio", "gen.late_s", "samples", "op_latencies_s",
        "setup_reps_s")
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / abs(med) if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        diag = json.loads(lines[-2].split(" ", 1)[1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items())
              + "  | " + " ".join(f"{k}={diag[k]}" for k in DIAG if k in diag), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    if len(next(iter(values.values()))) < 2:
        return 0
    for k, vs in values.items():
        b = bounds.get(k)
        print(f"{k:24s} median {statistics.median(vs):12.5g}  spread {spread(vs):7.2%}"
              + (f"  bound {b:.0%}" if b is not None else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
