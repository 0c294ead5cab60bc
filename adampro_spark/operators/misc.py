"""Small operator nodes: compound wrapper, empty relation, result cache,
random data generation, repartitioning (SURVEY §2.1/§2.8 leftovers).

Parity targets: ``CompoundQueryExpression.scala:15-34`` (pass-through),
``AggregationExpression.scala:397-412`` (EmptyExpression),
``CacheExpression.scala:15-45`` + ``shared/cache/CacheManager.scala``
(LRU query-result cache), ``communication/api/RandomDataOp.scala:35-93``,
``data/entity/EntityPartitioner.scala:18-75`` and
``data/index/IndexPartitioner.scala``.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def compound(expr: DataFrame) -> DataFrame:
    """CompoundQueryExpression: evaluate a subquery tree — a no-op
    pass-through in a lazily-planned engine (the reference node exists to
    carry a protobuf subtree; Catalyst's composition is the DataFrame)."""
    return expr


def empty_relation(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """EmptyExpression: empty result with the requested schema."""
    return spark.createDataFrame([], schema)


class ResultCache:
    """LRU query-result cache keyed by query id (CacheManager semantics:
    put on miss, LRU eviction; the reference caps entries, not bytes).

    Caching uses ``df.persist()`` so a hit serves from executor memory —
    the Spark-native equivalent of the reference's cached collect.  An
    explicit ``invalidate`` pairs with catalog staleness (inserts bump
    entity versions; callers scope query ids by version).
    """

    def __init__(self, max_entries: int = 100):
        self.max_entries = max_entries
        self._lock = threading.Lock()
        self._entries: OrderedDict[str, DataFrame] = OrderedDict()
        # per-key in-flight events: concurrent callers for the SAME id wait
        # for the first computation instead of each persisting a separate
        # DataFrame (the losers' copies would leak executor memory when the
        # last insert wins)
        self._inflight: dict[str, threading.Event] = {}

    def get_or_compute(self, query_id: str, fn: Callable[[], DataFrame]) -> DataFrame:
        while True:
            with self._lock:
                if query_id in self._entries:
                    self._entries.move_to_end(query_id)
                    return self._entries[query_id]
                ev = self._inflight.get(query_id)
                if ev is None:
                    ev = self._inflight[query_id] = threading.Event()
                    break  # this caller computes
            ev.wait()  # another caller is computing; re-check on wake

        try:
            df = fn().persist()
            with self._lock:
                self._entries[query_id] = df
                self._entries.move_to_end(query_id)
                while len(self._entries) > self.max_entries:
                    _, old = self._entries.popitem(last=False)
                    try:
                        old.unpersist()
                    except Exception:
                        pass
            return df
        finally:
            with self._lock:
                self._inflight.pop(query_id, None)
            ev.set()

    def invalidate(self, query_id: str | None = None) -> None:
        with self._lock:
            victims = (
                [query_id] if query_id is not None else list(self._entries)
            )
            for key in victims:
                df = self._entries.pop(key, None)
                if df is not None:
                    try:
                        df.unpersist()
                    except Exception:
                        pass

    def __contains__(self, query_id: str) -> bool:
        with self._lock:
            return query_id in self._entries


def random_data(
    spark: SparkSession,
    attributes: Sequence[tuple[str, str]],
    n: int,
    dim: int = 16,
    seed: int = 42,
) -> DataFrame:
    """RandomDataOp.scala:35-93: synthesize ``n`` rows for an attribute
    schema (adampro type names, entity.ATTRIBUTE_TYPES vocabulary).

    Seeded and distributed: ``spark.range`` + per-column deterministic
    ``rand(seed)`` / hash-derived values — no driver-side row building, so
    generating 10^9 test rows is executor work.
    """
    df = spark.range(n).withColumnRenamed("id", "_seq")
    for i, (name, atype) in enumerate(attributes):
        s = seed + i
        if atype in ("int",):
            col = (F.rand(s) * 1_000_000).cast("int")
        elif atype in ("long", "auto"):
            col = (F.rand(s) * 1_000_000_000).cast("long")
        elif atype == "float":
            col = F.rand(s).cast("float")
        elif atype == "double":
            col = F.rand(s)
        elif atype == "boolean":
            col = F.rand(s) > 0.5
        elif atype in ("string", "text"):
            col = F.concat(F.lit("str_"), F.conv(F.hex(F.xxhash64("_seq", F.lit(s))), 16, 36))
        elif atype == "vector":
            col = F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda j: F.pmod(F.xxhash64(F.col("_seq"), j + F.lit(s * 1000)), 10_000)
                / 10_000.0,
            ).cast("array<float>")
        elif atype == "sparsevector":
            idx = F.sequence(F.lit(0), F.lit(max(dim // 4 - 1, 0)))
            col = F.struct(
                F.transform(idx, lambda j: (j * 4).cast("int")).alias("index"),
                F.transform(
                    idx,
                    lambda j: (
                        F.pmod(F.xxhash64(F.col("_seq"), j + F.lit(s * 7)), 1000) / 1000.0
                    ).cast("float"),
                ).alias("data"),
                F.lit(dim).cast("int").alias("length"),
            )
        elif atype in ("geometry", "geography"):
            col = F.concat(
                F.lit("POINT ("),
                (F.pmod(F.xxhash64("_seq", F.lit(s)), 360) - 180).cast("double").cast("string"),
                F.lit(" "),
                (F.pmod(F.xxhash64("_seq", F.lit(s + 1)), 180) - 90).cast("double").cast("string"),
                F.lit(")"),
            )
        else:
            raise ValueError(f"unknown attribute type {atype!r}")
        df = df.withColumn(name, col)
    return df.drop("_seq")


def repartition_entity(
    entity, num_partitions: int, attrs: Sequence[str] | None = None
) -> None:
    """EntityPartitioner.scala:18-75: repartition the stored table by the
    given attributes (hash) and swap the new layout in."""
    cols = [F.col(c) for c in (attrs or ["ap_id"])]
    tmp = entity.path + "_tmp"
    # stored representation: rewriting the densified view under a sparse
    # catalog schema would corrupt the table
    entity._stored_df().repartition(num_partitions, *cols).write.mode(
        "overwrite"
    ).parquet(tmp)
    entity._swap_in(tmp)


def repartition_index(
    spark: SparkSession, catalog, name: str, num_partitions: int
) -> None:
    """IndexPartitioner: rewrite a persisted index table with a new
    partition count (hash on pk).  eCP keeps its cell directories — the
    repartition applies within the existing partitionBy layout."""
    from adampro_spark.index.persist import FEATURE_COL

    rec = catalog.index(name)
    if rec.get("meta", {}).get("buckets"):
        raise ValueError(
            f"index {name!r} is a bucketed table (co-located by pk); its "
            "layout is already fixed — rebuild with a different buckets= "
            "instead of repartitioning"
        )
    path = catalog.index_path(name)
    df = spark.read.parquet(path)
    tmp = path + "_tmp"
    writer = df.repartition(num_partitions, rec["meta"].get("pk", "ap_id"))
    w = writer.write.mode("overwrite")
    if rec["type"] == "ecp":
        w = w.partitionBy(FEATURE_COL)
    w.parquet(tmp)
    import os
    import shutil

    old = path + "_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    catalog.record_rewrite("indexes", name)
