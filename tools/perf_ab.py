"""Interleaved A/B of the benchmark between two checkouts.

    python tools/perf_ab.py PARENT_DIR CHANGE_DIR --workload knn_query \\
        --seeds 1-10 [--seconds 10] [--trace 0] [--out ab.json]

Runs ``perfbench/run.py`` once per seed in each checkout, one pair per
seed, one run at a time.  The side that runs first alternates from pair
to pair (even pairs parent first, odd pairs change first), so a drift in
host load or an order effect does not fall on one side.  Every run is
waited for; a run that exits non-zero or prints no result counts as
failed and is reported, not retried.

Prints, for each metric the runs report, the median on each side, the
relative change of the medians, in how many pairs the change was better
(direction from ``BENCHMARK.json`` of the change checkout; ties count
for neither side) and the distance between the parent's quartiles, then
the failed-operation counts of every run.  ``--out`` also writes every
run's result as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _directions(checkout: str) -> dict[str, str]:
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = bench.get("end_to_end", []) + bench.get("per_layer", [])
    return {m["name"]: m["better"] for m in specs}


def _run(checkout: str, args, seed: int) -> dict | None:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"  {checkout} seed {seed}: exit {proc.returncode}\n"
              f"{proc.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    return result


def _value(result: dict | None, name: str) -> float | None:
    if result is None or name not in result["metrics"]:
        return None
    return float(result["metrics"][name]["value"])


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def report(runs: list[dict], better: dict[str, str]) -> str:
    names = []
    for pair in runs:
        for side in ("parent", "change"):
            for name in (pair[side] or {}).get("metrics", {}):
                if name not in names:
                    names.append(name)
    rows = [
        f"{'metric':<26}{'parent':>12}{'change':>12}{'rel':>9}{'wins':>8}"
        f"{'parent IQR':>12}"
    ]
    for name in names:
        pairs = [(_value(r["parent"], name), _value(r["change"], name)) for r in runs]
        pairs = [(a, b) for a, b in pairs if a is not None and b is not None]
        if not pairs:
            continue
        a = statistics.median(p for p, _ in pairs)
        b = statistics.median(c for _, c in pairs)
        rel = (b - a) / a if a else 0.0
        sign = -1.0 if better.get(name) == "lower" else 1.0
        wins = sum(sign * (c - p) > 0 for p, c in pairs)
        rows.append(
            f"{name:<26}{a:>12.4g}{b:>12.4g}{rel:>+9.1%}{wins:>5}/{len(pairs):<2}"
            f"{_iqr([p for p, _ in pairs]):>12.4g}"
        )
    for side in ("parent", "change"):
        failed = [
            "x" if r[side] is None else str(r[side]["failed"]) for r in runs
        ]
        rows.append(f"failed ops ({side}): {' '.join(failed)}")
    return "\n".join(rows)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="write every run's result here as JSON")
    args = p.parse_args(argv)

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = []
    for i, seed in enumerate(_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = _run(sides[side], args, seed)
        runs.append(pair)
        print(f"pair {i + 1} seed {seed} ({order[0]} first) done", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    print(report(runs, _directions(sides["change"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
