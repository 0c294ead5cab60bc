"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given sf dir and
compares it against the matching ``oracle_sql()`` via DuckDB:
row-count + schema (column names) + order-insensitive value equality
(columns sorted by name, rows sorted, values compared exactly after a
canonical float normalization).  Exact equality here implies the
driver's value-hash matches.

It also sweeps for cache leaks: the session's cached-plan count is read
before and after each row, and any row that leaves cached data behind
is listed and fails the run.  ``cached_knn_manhattan`` is exempt — it
holds its ResultCache entry on purpose.

Usage: python tools/check_correctness.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
FILTERS = sys.argv[2:]

# rows that keep a cache alive on purpose (the query-result LRU)
CACHE_HOLDERS = {"cached_knn_manhattan"}

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 == 0.0
        return v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def df_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def main():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from adampro_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark("correctness-check", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = E.queries()
    oracles = E.oracle_sql()
    if FILTERS:
        qs = {k: v for k, v in qs.items() if any(f in k for f in FILTERS)}

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    n_pass = n_fail = n_rowsonly = 0
    leaked = []
    for name, fn in qs.items():
        t0 = time.time()
        cached_before = cache_manager.numCachedEntries()
        try:
            sdf = fn(spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception:
            print(f"FAIL  {name}: spark query raised")
            traceback.print_exc()
            n_fail += 1
            continue
        finally:
            n_new = cache_manager.numCachedEntries() - cached_before
            if n_new > 0 and name not in CACHE_HOLDERS:
                leaked.append(f"{name} (+{n_new})")
        sql = oracles.get(name)
        if sql is None:
            ok = len(srows) >= 0
            print(f"rows-only  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = [tuple(r) for r in res.fetchall()]
        except Exception:
            print(f"FAIL  {name}: oracle SQL raised")
            traceback.print_exc()
            n_fail += 1
            continue
        sc, sr = df_to_rows(scols, srows)
        oc, orr = df_to_rows(ocols, orows)
        problems = []
        if len(sr) != len(orr):
            problems.append(f"rowcount spark={len(sr)} oracle={len(orr)}")
        if sc != oc:
            problems.append(f"schema spark={sc} oracle={oc}")
        if not problems and sr != orr:
            diff_n = sum(1 for a, b in zip(sr, orr) if a != b)
            problems.append(f"values differ in {diff_n}/{len(sr)} rows")
            for a, b in list(zip(sr, orr))[:200]:
                if a != b:
                    problems.append(f"  spark={a!r}\n  orcl={b!r}")
                    break
        if problems:
            print(f"FAIL  {name} ({time.time()-t0:.1f}s): " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"ok    {name}  {len(sr)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_fail} FAIL, {n_rowsonly} rows-only")
    print(f"rows that left cached data: {', '.join(leaked) or 'none'}")
    sys.exit(1 if n_fail or leaked else 0)


if __name__ == "__main__":
    main()
