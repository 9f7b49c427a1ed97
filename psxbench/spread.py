"""Run one workload over several seeds, one fresh process per run, and
print each metric's median, its spread (q3 - q1) / median, and its
values — the evidence for steadiness and for the bounds in
BENCHMARK.json.

    python3 psxbench/spread.py --workload pipeline_daily --seeds 1-10 --seconds 12

Run from the root of a repository checkout. Exits non-zero if a run
fails or reports an incorrect result.
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


def spread(values: list[float]) -> float:
    """(q3 - q1) / median, with quartiles as statistics.quantiles gives
    them; 0 when the median is 0."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def summarize(results: list[dict]) -> dict[str, dict]:
    """Per metric: median, spread and the values in run order."""
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        out[name] = {"median": statistics.median(values),
                     "spread": spread(values) if len(values) > 1 else 0.0,
                     "unit": results[0]["metrics"][name]["unit"],
                     "values": values}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    results, bad = [], 0
    for seed in parse_seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            bad += 1
            continue
        res = json.loads(lines[-1])
        bad += not res["correct"]
        results.append(res)
        print(f"seed {seed}: {time.monotonic() - t0:.0f} s correct={res['correct']} "
              f"attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    if results:
        for name, s in summarize(results).items():
            print(f"{name:28s} median={s['median']:<12.5g} spread={s['spread']:.4f} "
                  f"unit={s['unit']} values={[round(v, 4) for v in s['values']]}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
