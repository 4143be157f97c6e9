#!/usr/bin/env python3
"""Run one workload over several seeds and summarize each metric.

    python3 perfbench/repeat.py --workload pipeline --seeds 1-10 \
        [--seconds 5] [--trace 0] [--out results.json]

Run from the repository root. Prints, per metric, the median and the
interquartile distance as a share of the median (the spread a metric's
bound in BENCHMARK.json is compared with), and writes every result to
--out when given, with each run's wall time, unscaled CPU seconds and
measured host speed from its record.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="5")
    p.add_argument("--trace", default="0")
    p.add_argument("--out")
    args = p.parse_args()
    results = []
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        record = next(json.loads(line) for line in reversed(
            proc.stderr.splitlines()) if line.startswith('{"workload"'))
        results.append({"seed": seed, **result, "record": {
            k: record[k] for k in ("setup_wall_s", "setup_cpu_s",
                                   "setup_pass_s")} | {"runs": [
                {k: r[k] for k in ("run_s", "cpu_s", "pass_s", "cpu_ref_s")}
                for r in record["runs"]]}})
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
            if k in M.END_TO_END), flush=True)
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(values)
        line = f"{name}: median {med:.4g}"
        if len(values) >= 2 and med:
            line += f" spread {M.spread(values):.3f}"
        print(line)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
