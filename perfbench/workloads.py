"""The benchmark's workloads: set-up, one closed-loop step, result checks.

Each workload drives the engine through its public API only (``AdamOps``
and ``pipeline.curate.curate``) from one thread.  A step is the unit the
closed loop repeats; the next step starts when the previous one returns.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

K = 10
TOL = 1e-4  # distance agreement with the numpy reference
PLANNED_LABEL = 3


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _exact_topk(x: np.ndarray, q: np.ndarray, mask: np.ndarray | None = None):
    """Brute-force euclidean top-k: (ids, distances) over the rows of ``x``."""
    d = np.sqrt(((x.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1))
    if mask is not None:
        d = np.where(mask, d, np.inf)
    ids = np.argsort(d, kind="stable")[:K]
    return ids, d


def _matches_exact(rows, x, q, mask=None) -> bool:
    """Ids equal the brute-force top-k and distances agree within TOL."""
    ids, d = _exact_topk(x, q, mask)
    got = sorted(rows, key=lambda r: r[1])
    if len(got) != K or {v for v, _ in got} != set(ids.tolist()):
        return False
    return bool(np.allclose([dist for _, dist in got], d[ids], atol=TOL, rtol=0))


class Workload:
    """One set of inputs and the closed loop that runs over them.

    ``setup`` is repeated in a run (the benchmark reports the median), each
    time against a fresh catalog directory; the last set-up's state is what
    the timed loop uses.
    """

    name = ""
    kind = ""  # input generator kind, see gen.MAKERS

    def __init__(self, inputs, tracer, work_dir: str):
        self.inputs = inputs
        self.sizes = inputs.sizes
        self.tracer = tracer
        self.work_dir = work_dir
        self.setup_layers: dict[str, list[float]] = {}
        self.records: list = []  # what each timed op returned, checked later
        self.failed_ops = 0

    def _path(self, name: str) -> str:
        return os.path.join(self.inputs.dir, name)

    def _layer(self, name: str, seconds: float) -> None:
        self.setup_layers.setdefault(name, []).append(seconds)

    def _ops(self, spark, rep: int):
        from adampro_spark import AdamOps

        cat = os.path.join(self.work_dir, f"catalog{rep}")
        if rep > 0:
            shutil.rmtree(os.path.join(self.work_dir, f"catalog{rep - 1}"), ignore_errors=True)
        return AdamOps(spark, cat)

    def _guard(self, what: str, fn):
        """Run one timed operation; an exception counts as a failed op."""
        try:
            return fn()
        except Exception:  # the loop must go on and report the failure
            self.failed_ops += 1
            print(f"[perfbench] {self.name}: {what} failed", file=sys.stderr)
            traceback.print_exc()
            return None

    def setup(self, spark, rep: int) -> None:
        raise NotImplementedError

    def step(self, spark, i: int):
        """Run step ``i``: returns (items done, step wall ms), or None when
        the workload has no input left."""
        raise NotImplementedError

    def check(self) -> tuple[int, int, float]:
        """(attempted, failed, recall) over every timed operation."""
        raise NotImplementedError

    def extras(self, spark) -> None:
        """Untimed traced-run-only measurements."""

    def summary(self) -> str:
        """One diagnostic line for standard error."""
        return ""

    def layers(self, events: dict) -> dict[str, float]:
        """Per-layer metrics this workload measured."""
        return {k: _median(v) for k, v in self.setup_layers.items()}

    @staticmethod
    def _first(values: dict, prefix: str) -> dict:
        """Entry of the first timed call labelled ``<prefix><step>``: its
        inputs are the same in every run with the same seed."""
        steps = [
            int(label[len(prefix):]) for label in values
            if label.startswith(prefix) and label[len(prefix):].isdigit()
        ]
        return values[f"{prefix}{min(steps)}"] if steps else {}


class KnnQuery(Workload):
    """Read-only retrieval session: four access paths, round-robin."""

    name = "knn_query"
    kind = "knn"
    PATHS = ("seq", "vaf", "ecp", "planned")
    WARM_QUERIES = 2 * len(PATHS)

    def __init__(self, *args):
        super().__init__(*args)
        n = self.sizes["n"]
        self.x_all = np.load(self._path("x.npy"))  # corpus rows, then the batches
        self.x = self.x_all[:n]
        self.label = np.load(self._path("label.npy"))[:n]
        self.queries = np.load(self._path("queries.npy"))
        self.ingest: list = []

    def setup(self, spark, rep: int) -> None:
        ops = self.ops = self._ops(spark, rep)
        t0 = time.perf_counter()
        ops.entity.create("vec", [("vid", "long"), ("label", "int"), ("feature", "vector")])
        ops.entity.insert("vec", spark.read.parquet(self._path("corpus.parquet")))
        self._layer("entity.bulk_insert_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        ops.index.create("vec_ecp", "vec", "feature", "ecp")
        self._layer("index.build_ecp_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        ops.index.create("vec_vaf", "vec", "feature", "vaf")
        self._layer("index.build_vaf_s", time.perf_counter() - t0)
        # warm every path twice, on queries the timed loop never uses
        for j in range(self.WARM_QUERIES):
            self._build(self.PATHS[j % len(self.PATHS)], self.queries[-1 - j]).collect()
        self.next_q = 0
        self.phase_ms = {p: {"driver_ms": [], "exec_ms": []} for p in self.PATHS}

    def _build(self, path: str, q: np.ndarray):
        ops, v = self.ops, q.tolist()
        if path == "seq":
            return ops.query.sequential("vec", "feature", v, K)
        if path == "vaf":
            return ops.query.index("vec_vaf", v, K)
        if path == "ecp":
            return ops.query.index("vec_ecp", v, K)
        return ops.query.knn(
            "vec", "feature", v, K, hints=("vaf", "exact"),
            predicates=[("label", "=", [PLANNED_LABEL])],
        )[0]

    def _run(self, path: str, q: np.ndarray):
        t0 = time.perf_counter()
        df = self._build(path, q)
        t1 = time.perf_counter()
        rows = df.collect()
        self.phase_ms[path]["driver_ms"].append((t1 - t0) * 1000.0)
        self.phase_ms[path]["exec_ms"].append(_ms(t1))
        return [(r["vid"], r["ap_distance"]) for r in rows]

    def step(self, spark, i: int):
        if self.next_q + len(self.PATHS) > len(self.queries) - self.WARM_QUERIES:
            return None
        step_ms = 0.0
        for path in self.PATHS:
            qi = self.next_q
            self.next_q += 1
            t0 = time.perf_counter()
            rows = self._guard(
                f"{path} query {qi}",
                lambda: self.tracer.call(spark, f"knn.{path}.{i}", lambda: self._run(path, self.queries[qi])),
            )
            step_ms += _ms(t0)
            if rows is not None:
                self.records.append((path, qi, rows))
        return len(self.PATHS), step_ms

    def summary(self) -> str:
        return " ".join(
            f"{p}={_median(self.phase_ms[p]['driver_ms']):.0f}+{_median(self.phase_ms[p]['exec_ms']):.0f}ms"
            for p in self.PATHS
        )

    def extras(self, spark) -> None:
        self._layer_costs()
        for b in range(self.sizes["batches"]):
            got = self._guard(f"ingest step {b}", lambda: self._ingest(spark, b))
            if got is not None:
                self.ingest.append(got)

    def _layer_costs(self) -> None:
        # planner, catalog and index-load costs, each timed on its own
        from adampro_spark.ops import plan_knn

        ops, dim = self.ops, self.x.shape[1]
        self.extra_ms = {"ops.plan_ms": [], "catalog.lookup_ms": [], "index.load_ms": []}
        for _ in range(5):
            t0 = time.perf_counter()
            plan_knn(ops.catalog, "vec", "feature", "euclidean", ("vaf", "exact"), k=K, dims=dim)
            self.extra_ms["ops.plan_ms"].append(_ms(t0))
            for idx in ("vec_vaf", "vec_ecp"):
                t0 = time.perf_counter()
                ops.catalog.entity("vec")
                ops.catalog.index(idx)
                self.extra_ms["catalog.lookup_ms"].append(_ms(t0))
                t0 = time.perf_counter()
                ops.index.load(idx)
                self.extra_ms["index.load_ms"].append(_ms(t0))

    def _index_files(self) -> int:
        n = 0
        for _, _, files in os.walk(self.ops.catalog.index_path("vec_ecp")):
            n += sum(f.endswith(".parquet") for f in files)
        return n

    def _ingest(self, spark, b: int):
        """One write step after the read loop: insert batch ``b``, append it
        to the eCP index, then query for one of its vectors, which must be
        returned.  Returns (fresh vid, rows, phase ms, append files)."""
        from pyspark.sql import functions as F

        ops, call = self.ops, self.tracer.call
        size = self.sizes["batch"]
        lo = self.sizes["n"] + b * size
        fresh = lo + (b * 7919) % size
        t0 = time.perf_counter()
        call(spark, f"ingest.insert.{b}", lambda: ops.entity.insert(
            "vec", spark.read.parquet(self._path(f"batch{b}.parquet"))))
        insert_ms = _ms(t0)
        files0 = self._index_files()
        t0 = time.perf_counter()
        new = ops.entity.get("vec").df().filter(F.col("vid").between(lo, lo + size - 1))
        call(spark, f"ingest.append.{b}", lambda: ops.index.append("vec_ecp", new))
        append_ms = _ms(t0)
        files = self._index_files() - files0

        def query():
            res, _ = ops.query.knn("vec", "feature", self.x_all[fresh].tolist(), K, hints=("ecp", "exact"))
            return [(r["vid"], r["ap_distance"]) for r in res.collect()]

        t0 = time.perf_counter()
        rows = call(spark, f"ingest.query.{b}", query)
        return fresh, rows, (insert_ms, append_ms, _ms(t0)), files

    def check(self):
        failed, recalls = 0, []
        for fresh, rows, _, _ in self.ingest:
            failed += not (len(rows) == K and fresh in {v for v, _ in rows})
        planned_mask = self.label == PLANNED_LABEL
        for path, qi, rows in self.records:
            q = self.queries[qi]
            if path == "ecp":
                # lossy: every returned distance is exact, recall is measured
                ids, d = _exact_topk(self.x, q)
                ok = len(rows) == K and all(abs(d[v] - dist) <= TOL for v, dist in rows)
                recalls.append(len({v for v, _ in rows} & set(ids.tolist())) / K)
            else:
                ok = _matches_exact(rows, self.x, q, planned_mask if path == "planned" else None)
            failed += not ok
        attempted = len(self.records) + len(self.ingest) + self.failed_ops
        return attempted, failed + self.failed_ops, float(np.mean(recalls)) if recalls else 0.0

    def layers(self, events):
        out = super().layers(events)
        for name, col in (("entity.insert_ms", 0), ("index.append_ms", 1), ("fresh.query_ms", 2)):
            out[name] = _median([ms[col] for _, _, ms, _ in self.ingest])
        out["index.append_files"] = self.ingest[0][3] if self.ingest else 0
        out["index.append_tasks"] = self._first(self.tracer.counts, "ingest.append.").get("tasks", 0)
        out["fresh.tasks"] = self._first(self.tracer.counts, "ingest.query.").get("tasks", 0)
        out["fresh.input_files"] = int(self._first(events, "ingest.query.").get("files_read", 0))
        for name, xs in self.extra_ms.items():
            out[name] = _median(xs)
        for path in self.PATHS:
            for phase, xs in self.phase_ms[path].items():
                out[f"{path}.{phase}"] = _median(xs)
            counts = self._first(self.tracer.counts, f"knn.{path}.")
            ev = self._first(events, f"knn.{path}.")
            for c in ("jobs", "stages", "tasks"):
                out[f"{path}.{c}"] = counts.get(c, 0)
            out[f"{path}.task_ms"] = ev.get("task_ms", 0.0)
            out[f"{path}.input_rows"] = int(ev.get("input_rows", 0))
        return out


CURATE_ARGS = dict(
    langs=("en",), min_tokens=20, min_quality=0.2, dedup="minhash", dedup_threshold=0.8,
)


class CorpusCurate(Workload):
    """Repeated document curation: quality gates then MinHash near-dup removal."""

    name = "corpus_curate"
    kind = "docs"

    def __init__(self, *args):
        super().__init__(*args)
        with open(self._path("families.json")) as f:
            self.families = json.load(f)
        self.ids = set(pq.read_table(self._path("docs.parquet"), columns=["doc_id"])["doc_id"].to_pylist())
        self.stage_s: dict[str, list[float]] = {}

    def setup(self, spark, rep: int) -> None:
        self.docs = spark.read.parquet(self._path("docs.parquet"))
        self._curate(spark, "curate.warmup")
        spark.catalog.clearCache()
        self.stage_s.clear()

    def _curate(self, spark, label: str):
        from adampro_spark.pipeline.curate import curate

        timings = {} if self.tracer.enabled else None

        def run():
            out, report = curate(self.docs, stage_timings=timings, **CURATE_ARGS)
            return [r[0] for r in out.select("doc_id").collect()], report

        return self.tracer.call(spark, label, run), timings

    def step(self, spark, i: int):
        t0 = time.perf_counter()
        got = self._guard(f"curate call {i}", lambda: self._curate(spark, f"curate.call.{i}"))
        step_ms = _ms(t0)
        spark.catalog.clearCache()  # every call starts without cached data
        if got is not None:
            (pks, report), timings = got
            self.records.append((pks, report))
            for stage, s in (timings or {}).items():
                self.stage_s.setdefault(stage, []).append(s)
        return len(self.ids), step_ms

    def extras(self, spark) -> None:
        # candidate vs verified MinHash pairs over the gate survivors
        from adampro_spark.pipeline.curate import curate
        from adampro_spark.pipeline.dedup import minhash_dup_pairs

        gates = {k: v for k, v in CURATE_ARGS.items() if not k.startswith("dedup")}
        kept, _ = curate(self.docs, dedup=None, **gates)
        kept = kept.localCheckpoint(eager=True)
        self.candidates = minhash_dup_pairs(kept, pk="doc_id", threshold=0.0).count()
        self.verified = minhash_dup_pairs(
            kept, pk="doc_id", threshold=CURATE_ARGS["dedup_threshold"]
        ).count()
        spark.catalog.clearCache()

    def check(self):
        failed, recalls = 0, []
        for pks, report in self.records:
            kept = set(pks)
            ok = len(kept) == len(pks) and kept <= self.ids and len(pks) == report["n_output"]
            failed += not ok
            recalls.append(np.mean([sum(d in kept for d in fam) == 1 for fam in self.families]))
        attempted = len(self.records) + self.failed_ops
        return attempted, failed + self.failed_ops, float(np.mean(recalls)) if recalls else 0.0

    def layers(self, events):
        out = super().layers(events)
        for stage, name in (("gates_sec", "gates_s"), ("pairs_sec", "pairs_s"), ("resolution_sec", "resolution_s")):
            out[f"curate.{name}"] = _median(self.stage_s.get(stage, []))
        out["dedup.candidate_pairs"] = self.candidates
        out["dedup.verified_pairs"] = self.verified
        out["dedup.verify_yield"] = self.verified / self.candidates if self.candidates else 0.0
        counts = self._first(self.tracer.counts, "curate.call.")
        out["curate.jobs"] = counts.get("jobs", 0)
        out["curate.tasks"] = counts.get("tasks", 0)
        calls = [m for g, m in events.items() if g.startswith("curate.call.")]  # timed calls only
        out["curate.shuffle_write_mb"] = _median([m.get("shuffle_write_bytes", 0) / 2**20 for m in calls])
        out["curate.spill_mb"] = _median([m.get("spill_bytes", 0) / 2**20 for m in calls])
        out["curate.gc_ms"] = _median([m.get("gc_ms", 0) for m in calls])
        out["curate.arrow_eval_ms"] = _median([m.get("python_ms", 0) for m in calls])
        return out


WORKLOADS = {w.name: w for w in (KnnQuery, CorpusCurate)}
