#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (interquartile distance as a share
of the median), the check the benchmark's bounds are set against.

    python3 perfbench/spread.py --workload stream_open_loop --seeds 1-10
    python3 perfbench/spread.py --workload registry_mix --seeds 1-3 --trace

With ``--trace`` each seed also gets a traced run, and the tracing
overhead is reported as traced medians minus untraced medians.
Runs are sequential; nothing else should run on the host meanwhile.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

from stats import quartile_spread

HERE = Path(__file__).resolve().parent


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float, str]:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=str(HERE.parent), timeout=300,
    )
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    host = next((ln for ln in lines if ln.startswith("host:")), "")
    return json.loads(lines[-1]), wall, host


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int,
                    default=json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()

    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in a.seeds:
        res, wall, host = run_once(a.workload, seed, a.seconds, 0)
        ok = res["correct"] and res["failed"] == 0
        print(f"seed {seed}: wall {wall:.1f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
              + f"\n  {host}", flush=True)
        if not ok:
            return 1
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        if a.trace:
            res, wall, _ = run_once(a.workload, seed, a.seconds, 1)
            print(f"seed {seed} traced: wall {wall:.1f} s, correct={res['correct']}", flush=True)
            for k, m in res["metrics"].items():
                if k.startswith("trace."):
                    traced.setdefault(k[len("trace."):], []).append(m["value"])

    print(f"\n{a.workload}, {len(a.seeds)} seeds, {a.seconds} s per run")
    for k, xs in values.items():
        med = statistics.median(xs)
        spread = quartile_spread(xs) if len(xs) >= 2 else float("nan")
        line = f"  {k:16s} median {med:12.4f}  spread {spread:6.3f}"
        if k in traced:
            line += f"  tracing overhead {statistics.median(traced[k]) - med:+.4f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
