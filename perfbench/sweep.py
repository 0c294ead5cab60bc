"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py --workload knn_query --seeds 1 2 3 4 5
    python3 perfbench/sweep.py --workload corpus_curate --seeds 1 2 3 --trace both

For every metric it prints the median, the first and third quartile
(``statistics.quantiles(n=4)``) and the spread (Q3 - Q1) / median.  With
``--trace both`` each seed also runs traced, and the tracing overhead is
printed: the median of each ``traced.<metric>`` minus the median of the
untraced ``<metric>``.  Runs are sequential; each is waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    print(f"seed={seed} trace={trace} correct={result['correct']} "
          f"attempted={result['attempted']} failed={result['failed']}", flush=True)
    return result


def summarize(results: list[dict]) -> dict[str, float]:
    medians = {}
    for name in results[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        print(f"  {name:28s} median={med:<14.6g} q1={q1:<14.6g} q3={q3:<14.6g} spread={spread:.3f}")
        medians[name] = med
    return medians


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = p.parse_args(argv)
    modes = (0, 1) if args.trace == "both" else (int(args.trace),)
    runs = {m: [] for m in modes}
    for seed in args.seeds:
        for m in modes:
            runs[m].append(run_once(args.workload, seed, args.seconds, m))
    medians = {}
    for m in modes:
        print(f"{args.workload} trace={m} over {len(args.seeds)} seeds:")
        medians[m] = summarize(runs[m])
    if len(modes) == 2:
        print("tracing overhead (traced median - untraced median):")
        for name, base in medians[0].items():
            traced = medians[1].get(f"traced.{name}")
            if traced is not None:
                print(f"  {name:28s} {traced - base:+.6g} ({(traced - base) / base:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
