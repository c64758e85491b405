"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median).

    python3 perfbench/spread.py --workloads stream_drain_paced,graded_and_fixpoint \
        --seeds 1-10 [--out results.jsonl]

Runs one process per (workload, seed), workloads interleaved, with the
``run_seconds`` from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def seeds_of(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, dict[str, list[float]]] = {}
    for seed in seeds_of(args.seeds):
        for wl in args.workloads.split(","):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            info = json.loads(lines[-2]) if len(lines) > 1 else {}
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed, "info": info, "result": result}) + "\n")
            print(f"{wl} seed {seed}: failed {result['failed']}/{result['attempted']} "
                  f"run {info.get('run_s')} s steal {info.get('steal_s')} s", flush=True)
            for name, m in result["metrics"].items():
                values.setdefault(wl, {}).setdefault(name, []).append(m["value"])
    for wl, metrics in values.items():
        for name, vals in metrics.items():
            med = statistics.median(vals)
            spread = f"spread {quartile_spread(vals):.3f}" if len(vals) >= 2 and med else ""
            print(f"{wl:20s} {name:14s} n={len(vals):2d} median {med:.4g} {spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
