"""Per-job profile of one bench row via the Spark event log.

Usage: python tools/profile_row.py <query> [sf_dir]

Runs the row once as warmup at sf0.001 (codegen/worker-pool init), then
once timed at sf_dir (default $SPARK_GRAFT_SF_DIR or sf0.1), and prints
every Spark job the timed run launched: wall ms, #tasks, and the
callsite — the composite rows (curate pipelines, dup_groups rounds) run
many eager internal jobs that a single .explain() cannot show.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAME = sys.argv[1]
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)


def main() -> None:
    evdir = tempfile.mkdtemp(prefix="spark-ev-")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    # inject the event-log configs into every SparkSession.Builder that
    # get_spark() creates
    import pyspark.sql.session as pss

    real_builder_cls = pss.SparkSession.Builder

    class EvBuilder(real_builder_cls):
        def getOrCreate(self):
            self.config("spark.eventLog.enabled", "true")
            self.config("spark.eventLog.dir", evdir)
            self.config("spark.eventLog.compress", "false")
            self.config("spark.eventLog.rolling.enabled", "false")
            return super().getOrCreate()

    pss.SparkSession.Builder = EvBuilder
    pss.SparkSession.builder = EvBuilder()
    try:
        from adampro_spark.session import get_spark
        from adampro_spark import oracle_suite

        spark = get_spark("profile-row")
        registry = {**oracle_suite.QUERIES, **oracle_suite.BENCH_ONLY}
        fn = registry[NAME]

        warm = "/root/testdata/sf0.001"
        if os.path.isdir(warm) and not NAME.endswith("_persisted"):
            try:
                fn(spark, warm).collect()
            except Exception:
                pass
            spark.catalog.clearCache()
        if NAME.endswith("_persisted"):
            fn(spark, SF_DIR).collect()
            spark.catalog.clearCache()

        appid = spark.sparkContext.applicationId
        t0 = time.perf_counter()
        fn(spark, SF_DIR).collect()
        wall = time.perf_counter() - t0
        spark.stop()

        path = os.path.join(evdir, appid)
        if not os.path.exists(path):  # Spark 4 rolling event-log layout
            d = os.path.join(evdir, f"eventlog_v2_{appid}")
            cands = [
                os.path.join(d, f)
                for f in os.listdir(d)
                if f.startswith("events_")
            ]
            path = sorted(cands)[0]
        jobs = {}
        stages = {}
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "t0": ev["Submission Time"],
                        "site": ev.get("Properties", {}).get(
                            "callSite.short", ""
                        ),
                        "desc": ev.get("Properties", {}).get(
                            "spark.job.description", ""
                        ),
                        "stages": [
                            s["Stage ID"] for s in ev.get("Stage Infos", [])
                        ],
                        "ntasks": sum(
                            s.get("Number of Tasks", 0)
                            for s in ev.get("Stage Infos", [])
                        ),
                    }
                elif e == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["t1"] = ev["Completion Time"]

        total = 0.0
        print(f"== {NAME} @ {SF_DIR}: wall {wall:.2f}s, {len(jobs)} jobs (incl. warmup) ==")
        for jid in sorted(jobs):
            j = jobs[jid]
            if "t1" not in j:
                continue
            ms = j["t1"] - j["t0"]
            total += ms
            print(
                f"job {jid:4d}  {ms:7d} ms  tasks {j['ntasks']:5d}  "
                f"{j['site'][:60]}  {j['desc'][:40]}"
            )
        print(f"sum of job wall: {total/1000:.2f}s (jobs overlap-free sum; gaps = driver work)")
    finally:
        pss.SparkSession.Builder = real_builder_cls
        pss.SparkSession.builder = real_builder_cls()


if __name__ == "__main__":
    main()
