"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/repeat.py --workload catalog --seeds 1-10 [--seconds 5] [--trace 1]
    python3 perfbench/repeat.py --workload catalog --seeds 1-5 --overhead

For every metric: the median over the runs and the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median. With ``--overhead`` each seed runs untraced, then
traced, and the report gives the tracing overhead of every end-to-end
metric: the median traced value minus the median untraced one. Runs go
one after another, never in parallel.
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


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def run_once(workload: str, seed: int, seconds: str, trace: str) -> tuple[dict, dict]:
    """One benchmark run: (result line, detail); the detail gains the
    run's wall time, process start to exit, as ``run_wall_s``."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", trace],
        capture_output=True, text=True, timeout=200,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"]
    detail["run_wall_s"] = time.perf_counter() - t0
    return json.loads(lines[-1]), detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)

    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        line, detail = run_once(args.workload, seed, args.seconds,
                                "0" if args.overhead else args.trace)
        print(f"seed {seed}: correct={line['correct']} attempted={line['attempted']} "
              f"failed={line['failed']} wall={detail['run_wall_s']:.1f}s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()),
              flush=True)
        for name, m in line["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if args.overhead:
            _, detail = run_once(args.workload, seed, args.seconds, "1")
            for name, v in detail["end_to_end"].items():
                traced.setdefault(name, []).append(v)
            print(f"seed {seed} traced: "
                  + " ".join(f"{k}={v:.4g}" for k, v in detail["end_to_end"].items()), flush=True)
    if len(next(iter(values.values()), [])) >= 2:
        for name, vs in values.items():
            print(f"{name}: median={statistics.median(vs):.4g} iqr/median={spread(vs):.3f}")
    for name, vs in traced.items():
        base = statistics.median(values[name])
        diff = statistics.median(vs) - base
        print(f"overhead {name}: traced-untraced={diff:+.4g} ({diff / base:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
