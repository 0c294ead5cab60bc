"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload knn_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the run
labels its Spark jobs, enables the event log and reports the per-layer ones.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
from tracing import Tracer, event_log_args, parse_event_logs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3  # set-ups per run; setup_s is their median
MIN_STEPS = 3  # closed-loop steps run even past --seconds

END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "step_p50_ms": ("ms", "lower"),
    "recall": ("ratio", "higher"),
}

_PATH_LAYERS = {
    "driver_ms": ("ms", "lower"),
    "exec_ms": ("ms", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_ms": ("ms", "lower"),
    "input_rows": ("count", "lower"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "entity.bulk_insert_s": ("s", "lower"),
    "index.build_ecp_s": ("s", "lower"),
    "index.build_vaf_s": ("s", "lower"),
    "ops.plan_ms": ("ms", "lower"),
    "catalog.lookup_ms": ("ms", "lower"),
    "index.load_ms": ("ms", "lower"),
    **{
        f"{path}.{m}": spec
        for path in ("seq", "vaf", "ecp", "planned")
        for m, spec in _PATH_LAYERS.items()
    },
    "curate.gates_s": ("s", "lower"),
    "curate.pairs_s": ("s", "lower"),
    "curate.resolution_s": ("s", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.verified_pairs": ("count", "higher"),
    "dedup.verify_yield": ("ratio", "higher"),
    "curate.jobs": ("count", "lower"),
    "curate.tasks": ("count", "lower"),
    "curate.shuffle_write_mb": ("MB", "lower"),
    "curate.spill_mb": ("MB", "lower"),
    "curate.gc_ms": ("ms", "lower"),
    "curate.arrow_eval_ms": ("ms", "lower"),
    "entity.insert_ms": ("ms", "lower"),
    "index.append_ms": ("ms", "lower"),
    "fresh.query_ms": ("ms", "lower"),
    "index.append_files": ("count", "lower"),
    "index.append_tasks": ("count", "lower"),
    "fresh.tasks": ("count", "lower"),
    "fresh.input_files": ("count", "lower"),
    "traced.setup_s": ("s", "lower"),
    "traced.items_per_s": ("1/s", "higher"),
    "traced.step_p50_ms": ("ms", "lower"),
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(gen.SIZES), default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def _environment(work: str, trace: bool) -> str:
    """Keep Spark's and Python's scratch files inside ``work``; returns the
    event-log directory."""
    events = os.path.join(work, "events")
    tmp = os.path.join(work, "tmp")
    for d in (events, tmp):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={shlex.quote(tmp)}"
    if trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = event_log_args(events)
    else:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.chdir(work)  # Spark's relative outputs (warehouse, derby) land here
    return events


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, work: str) -> dict:
    events_dir = _environment(work, bool(args.trace))
    from adampro_spark import get_spark

    tracer = Tracer(bool(args.trace))
    wl_cls = WORKLOADS[args.workload]
    inputs = gen.inputs(wl_cls.kind, args.seed, args.scale, os.path.join(BENCH_DIR, ".data"))
    wl = wl_cls(inputs, tracer, work)

    spark = None
    setup_s, start_s = [], []
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark()
            start_s.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)

        steps_ms, items = [], 0
        deadline = time.perf_counter() + args.seconds
        while len(steps_ms) < MIN_STEPS or time.perf_counter() < deadline:
            got = wl.step(spark, len(steps_ms))
            if got is None:  # inputs exhausted
                break
            items += got[0]
            steps_ms.append(got[1])
        if args.trace:
            wl.extras(spark)
    finally:
        if spark is not None:
            _shutdown(spark)
    attempted, failed, recall = wl.check()

    e2e = {
        "setup_s": statistics.median(setup_s),
        "items_per_s": items / (sum(steps_ms) / 1000.0),
        "step_p50_ms": statistics.median(steps_ms),
        "recall": recall,
    }
    print(
        f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} "
        f"steps={len(steps_ms)} setups={[round(s, 2) for s in setup_s]} "
        f"steps_ms={[round(s) for s in steps_ms]} {wl.summary()}",
        file=sys.stderr,
    )
    if args.trace:
        values = dict.fromkeys(PER_LAYER, 0)
        values.update(wl.layers(parse_event_logs(events_dir)))
        values["session.start_s"] = statistics.median(start_s)
        for name in ("setup_s", "items_per_s", "step_p50_ms"):
            values[f"traced.{name}"] = e2e[name]
        specs = PER_LAYER
    else:
        values, specs = e2e, END_TO_END
    unknown = set(values) - set(specs)
    if unknown:
        raise RuntimeError(f"metrics not declared: {sorted(unknown)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": specs[k][0]} for k in specs},
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "adampro_spark", "__init__.py")):
        print(
            f"perfbench: no adampro_spark package in {ROOT}; "
            "run the benchmark from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = measure(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
