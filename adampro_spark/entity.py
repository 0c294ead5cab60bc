"""Entity layer: named Parquet-backed tables with a synthetic Long PK.

Parity target: ``data/entity/Entity.scala``.
  * create (:624-681): fixed explicit schema, synthetic ``ap_id`` Long PK.
  * insert (:295-392): TIDs bit-packed 12 bits time | 28 bits batch counter
    | 24 bits row-index-in-batch (:299-320) — reproduced with
    ``row_number``-free column arithmetic: a per-partition monotonic id
    supplies the low bits, the catalog batch counter the middle bits.
  * delete (:415-450): keep rows NOT matching the predicates, rewrite.
  * vacuum (:397-407): repartition + rewrite after many small inserts.
  * count/preview (:241-261).

Design deviation from the reference (SURVEY §1.1): ONE storage engine
(Parquet) instead of the 11-engine zoo, and no vertical per-attribute
splits — Catalyst's column pruning on Parquet gives the same I/O shape
without the PK re-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import os

import threading

from adampro_spark.catalog import Catalog

_INSERT_LOCKS: dict[str, threading.Lock] = {}
_INSERT_LOCKS_GUARD = threading.Lock()


def _insert_lock(path: str) -> threading.Lock:
    with _INSERT_LOCKS_GUARD:
        return _INSERT_LOCKS.setdefault(path, threading.Lock())
from adampro_spark.operators.scan import predicates_to_column

PK = "ap_id"

# Attribute type vocabulary (data/datatypes/AttributeTypes.scala:14-50)
ATTRIBUTE_TYPES: dict[str, T.DataType] = {
    "auto": T.LongType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "text": T.StringType(),
    "boolean": T.BooleanType(),
    "vector": T.ArrayType(T.FloatType(), containsNull=False),
    "sparsevector": T.StructType(
        [
            T.StructField("index", T.ArrayType(T.IntegerType()), False),
            T.StructField("data", T.ArrayType(T.FloatType()), False),
            T.StructField("length", T.IntegerType(), False),
        ]
    ),
    "geometry": T.StringType(),  # WKT (GeometryWrapper.scala:14-22)
    "geography": T.StringType(),
}


MAX_BATCH = (1 << 16) - 1


def pack_tid(batch: int) -> "F.Column":
    """Bit-packed tuple id, after Entity.scala:299-320 (12 bits nano-time |
    28 bits batch | 24 bits row-in-batch).

    Deviation (documented): the reference's 24-bit global row index needs a
    coordinated counter and collides past 16M rows per batch, and its 12-bit
    nano-time field collides probabilistically.  We pack
    16 bits batch | 19 bits partition id | 28 bits row-within-partition —
    deterministic and collision-free with no coordination up to 65 535
    insert batches x 524 288 write tasks x 268M rows per task per batch.
    ``insert`` raises once the batch counter would wrap (the one bound a
    long-lived table could actually hit); the per-task row bound is far
    above any sane task size at 100 TB (a task is a few GB, not 268M rows).
    The batch counter comes from the catalog, so ids remain unique across
    inserts.
    """
    if batch > MAX_BATCH:
        raise ValueError(
            f"insert batch counter {batch} exceeds {MAX_BATCH}; vacuum/re-create "
            "the entity to reset (tid packing allows 2^16 batches)"
        )
    b = (batch & 0xFFFF) << 47
    part = F.spark_partition_id().cast("long") % F.lit(1 << 19).cast("long")
    # monotonically_increasing_id puts the partition id at bit 33; the low
    # 33 bits are the per-partition row counter (we keep the low 28).
    row = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 28) - 1).cast("long"))
    return (F.lit(b) + F.shiftleft(part, 28) + row).cast("long")


class Entity:
    """Handle on a named entity. All data ops return/accept DataFrames."""

    def __init__(self, spark: SparkSession, catalog: Catalog, name: str):
        self.spark = spark
        self.catalog = catalog
        self.name = name

    # -- DDL ----------------------------------------------------------------
    @staticmethod
    def create(
        spark: SparkSession,
        catalog: Catalog,
        name: str,
        attributes: Sequence[tuple[str, str]],
    ) -> "Entity":
        """Create an entity from (name, adampro-type) pairs; adds ``ap_id``."""
        for _, atype in attributes:
            if atype not in ATTRIBUTE_TYPES:
                raise ValueError(f"unknown attribute type {atype!r}")
        catalog.create_entity(
            name, [{"name": n, "type": t} for n, t in attributes]
        )
        ent = Entity(spark, catalog, name)
        # materialize an empty table so reads before first insert work
        schema = ent.schema()
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(ent.path)
        return ent

    @property
    def path(self) -> str:
        return self.catalog.entity_path(self.name)

    def schema(self) -> T.StructType:
        """Stored schema: ap_id + every attribute (AUTOTYPE stores as Long,
        values generated at insert — AttributeTypes.scala:21)."""
        fields = [T.StructField(PK, T.LongType(), False)]
        for attr in self.catalog.entity(self.name)["attributes"]:
            fields.append(
                T.StructField(attr["name"], ATTRIBUTE_TYPES[attr["type"]], True)
            )
        return T.StructType(fields)

    def _auto_attributes(self) -> list[str]:
        return [
            a["name"]
            for a in self.catalog.entity(self.name)["attributes"]
            if a["type"] == "auto"
        ]

    def drop(self) -> None:
        self.catalog.drop_entity(self.name)

    # -- DML ----------------------------------------------------------------
    def df(self) -> DataFrame:
        """Entity rows.  Attributes stored sparse by :meth:`sparsify` are
        densified transparently, so queries keep seeing the original
        dense vector column (the reference's sparsify op likewise leaves
        the query surface unchanged)."""
        from adampro_spark.functions.typed import sparse_to_dense

        out = self._stored_df()
        for attr in self.catalog.entity(self.name)["attributes"]:
            if attr.get("densify_on_read"):
                out = out.withColumn(
                    attr["name"],
                    sparse_to_dense(F.col(attr["name"])).cast("array<float>"),
                )
        return out

    def _stored_df(self) -> DataFrame:
        """Rows in their STORED representation (sparse structs stay
        sparse).  Every op that REWRITES storage (vacuum, delete,
        repartition, storage transfer) must read this, not :meth:`df` —
        writing the densified view back under the sparse catalog schema
        corrupts the table (dense arrays, struct read schema).

        One relation per catalog generation (:meth:`Catalog.relation`):
        repeated queries reuse its file listing until a write.  Crash
        recovery runs first, so a swap interrupted after the relation was
        cached still gets its directory back."""
        self._recover()
        return self.catalog.relation(
            self.spark, ("entity", self.name), self._read_stored,
            valid=lambda: not os.path.exists(self.path + "_bucketed")
            or self.spark.catalog.tableExists(self._bucket_table_name()),
        )

    def _read_stored(self) -> DataFrame:
        rec = self.catalog.entity(self.name)
        if rec.get("storage"):
            return self._handler_df(rec["storage"])
        if rec.get("buckets") and os.path.exists(self.path + "_bucketed"):
            return self._bucketed_df()
        if rec.get("buckets"):
            # crash inside debucketize after the data moved back but
            # before the catalog flag cleared — finish the rollback
            self.catalog.update_entity(self.name, buckets=None)
        return self.spark.read.schema(self.schema()).parquet(self.path)

    def sparsify(self, attribute: str, threshold: float = 0.0) -> None:
        """Convert a dense ``vector`` attribute to sparse struct STORAGE
        (DataDefintion.scala sparsify op + SparseVectorWrapper.scala:24-28):
        one full-scan rewrite into ``struct(index, data, length)`` keeping
        |x| > threshold, atomically swapped in, catalog type updated to
        ``sparsevector`` with a densify-on-read flag.  Zero-heavy corpora
        shrink storage/scan bytes; reads stay dense via :meth:`df`.
        """
        from adampro_spark.functions.typed import dense_to_sparse

        self._restore_default_storage()
        self.debucketize()
        attrs = [dict(a) for a in self.catalog.entity(self.name)["attributes"]]
        target = next((a for a in attrs if a["name"] == attribute), None)
        if target is None:
            raise ValueError(f"no attribute {attribute!r} on {self.name!r}")
        if target["type"] != "vector":
            raise ValueError(
                f"sparsify needs a dense vector attribute; {attribute!r} is "
                f"{target['type']!r}"
            )
        # read the STORED representation (the target attr is dense in
        # storage by the type check above): df() would densify OTHER
        # previously-sparsified attributes and writing that view back
        # corrupts them against their sparse catalog schema (review r6)
        data = self._stored_df().withColumn(
            attribute, dense_to_sparse(F.col(attribute), threshold)
        )
        tmp = self.path + "_tmp"
        data.write.mode("overwrite").parquet(tmp)
        self._swap_in(tmp)
        target["type"] = "sparsevector"
        target["densify_on_read"] = True
        self.catalog.update_entity(self.name, attributes=attrs)

    # -- bucketed layout ----------------------------------------------------
    def bucketize(self, n_buckets: int) -> None:
        """Rewrite storage as a Spark BUCKETED table (hash-bucketed and
        sorted by ``ap_id``): joins against another table bucketed the same
        way — an index table's candidate set, a metadata side-table, a
        second entity — are planned WITHOUT an Exchange on either side,
        the co-located-join layout that matters at 100 TB (the reference's
        ``repartition`` op serves the same purpose with Spark's
        runtime-only partitioning, RepartitionOp; bucketing persists the
        co-location in the table metadata so every later session gets it
        for free).

        A read-optimization for loaded corpora: any mutating op
        (insert/delete/vacuum/sparsify) first falls back to the plain
        parquet layout via :meth:`debucketize` — mutations invalidate
        bucket-file boundaries, exactly like the reference's repartitioned
        entities go stale on insert.
        """
        self._restore_default_storage()  # layouts are mutually exclusive
        # re-bucketizing an already-bucketed entity must move the data
        # back to the plain layout FIRST — the old code dropped the
        # bucketed table/dir before reading it (review r6: the second
        # bucketize() call destroyed the only copy of the data)
        self.debucketize()
        tbl = self._bucket_table_name()
        bdir = self.path + "_bucketed"
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if os.path.exists(bdir):
            import shutil

            shutil.rmtree(bdir)
        (
            self._stored_df()
            .repartition(n_buckets, PK)
            .write.bucketBy(n_buckets, PK)
            .sortBy(PK)
            .option("path", bdir)
            .saveAsTable(tbl)
        )
        # flag flips BEFORE the plain dir is dropped: a crash between the
        # two leaves both layouts on disk with the bucketed one
        # authoritative (no data-loss window; df() never reads the stale
        # plain dir while the flag is set)
        self.catalog.update_entity(self.name, buckets=n_buckets)
        import shutil

        if os.path.exists(self.path):
            shutil.rmtree(self.path)

    def debucketize(self) -> None:
        """Drop back to the plain parquet layout (bucket metadata removed,
        data preserved)."""
        rec = self.catalog.entity(self.name)
        if not rec.get("buckets"):
            return
        import shutil

        tmp = self.path + "_tmp"
        self._bucketed_df().write.mode("overwrite").parquet(tmp)
        if os.path.exists(self.path):
            self._swap_in(tmp)
        else:
            os.rename(tmp, self.path)
        # from here df() can serve from the plain dir even if we crash:
        # the flag-set-but-no-bucket-dir state is healed in df()
        bdir = self.path + "_bucketed"
        if os.path.exists(bdir):
            shutil.rmtree(bdir)
        self.spark.sql(f"DROP TABLE IF EXISTS {self._bucket_table_name()}")
        self.catalog.update_entity(self.name, buckets=None)

    def _bucket_table_name(self) -> str:
        return f"adam_bucketed_{self.name}"

    def _bucketed_df(self) -> DataFrame:
        """Read through the session catalog so the optimizer SEES the
        bucket spec (a raw ``spark.read.parquet`` of the same files would
        plan shuffles again).  Re-registers the external bucketed table on
        a fresh session from the catalog record."""
        tbl = self._bucket_table_name()
        if not self.spark.catalog.tableExists(tbl):
            n = self.catalog.entity(self.name)["buckets"]
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in self.schema().fields
            )
            self.spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING parquet "
                f"CLUSTERED BY ({PK}) SORTED BY ({PK}) INTO "
                f"{n} BUCKETS LOCATION '{self.path}_bucketed'"
            )
        return self.spark.table(tbl)

    def _handler_df(self, storage: dict) -> DataFrame:
        """Read through the registered storage handler the entity was
        transferred to (io_ops.transfer_entity): restore the schema
        captured at transfer time — complex columns come back from their
        JSON encoding on flat engines, scalars are cast to declared
        types (JDBC dialects widen/narrow)."""
        import json as _json

        from pyspark.sql import types as T

        from adampro_spark.io_ops import get_storage_handler

        h = get_storage_handler(storage["handler"])
        schema = T.StructType.fromJson(_json.loads(storage["read_schema"]))
        out = h.read(self.spark, **storage.get("options", {}))
        complex_json = set(storage.get("complex_json") or [])
        for f in schema.fields:
            if f.name not in out.columns:
                continue
            if f.name in complex_json:
                out = out.withColumn(f.name, F.from_json(F.col(f.name), f.dataType))
            else:
                out = out.withColumn(f.name, F.col(f.name).cast(f.dataType))
        return out.select(*[f.name for f in schema.fields])

    def _restore_default_storage(self) -> None:
        """Mutations operate on the default parquet layout: transfer back
        first (the handler placements are read-optimized, like buckets)."""
        if self.catalog.entity(self.name).get("storage"):
            from adampro_spark.io_ops import transfer_entity

            transfer_entity(self, "parquet")

    def _recover(self) -> None:
        """Roll back a crash inside ``_swap_in``'s two-rename window: a
        missing data dir with a surviving ``_old`` sibling means the crash
        hit between the renames (or during the final rmtree with the new
        dir never installed) — restore ``_old`` so reads keep working."""
        old = self.path + "_old"
        if not os.path.exists(self.path) and os.path.exists(old):
            os.rename(old, self.path)

    def insert(self, df: DataFrame) -> None:
        """Append rows, attaching the bit-packed PK (Entity.scala:295-392).

        The inserted-row count is captured from the write job itself via
        ``Observation`` — no second pass over the input (a full extra job at
        100 TB).  Missing AUTOTYPE columns are generated like the PK; a
        user-SUPPLIED value in an ``auto`` column is kept as-is (generation
        only fills absent columns — documented deviation, the reference
        always regenerates).
        """
        from pyspark.sql import Observation

        self._restore_default_storage()
        self.debucketize()  # mutations invalidate the bucketed layout
        # concurrent inserts need BOTH an atomic batch-number claim (else
        # two writers pack colliding TIDs) AND a serialized append: two
        # simultaneous parquet appends share one Hadoop _temporary
        # committer dir and whichever job commits first deletes the
        # other's staging files (review r6).  The lock is per-entity and
        # process-local — the same scope as this catalog's RLock; cross-
        # process writers need a real table format (Delta/Iceberg).
        with _insert_lock(self.path):
            batch = self.catalog.allocate_version(self.name)
            cols = [f.name for f in self.schema().fields if f.name != PK]
            out = df.withColumn(PK, pack_tid(batch))
            for auto_col in self._auto_attributes():
                if auto_col not in df.columns:
                    out = out.withColumn(auto_col, F.col(PK))
            obs = Observation("insert_count")
            out = out.observe(obs, F.count(F.lit(1)).alias("n"))
            out.select(PK, *cols).write.mode("append").parquet(self.path)
            self.catalog.bump_version(
                self.name, added_tuples=int(obs.get["n"]), bump=False
            )

    def _swap_in(self, tmp_path: str) -> None:
        """Atomically replace the entity directory with ``tmp_path``.

        One write + one rename instead of the naive write-tmp/re-read/
        re-write (which doubles I/O and leaks the tmp dir).  On object
        stores the rename becomes a catalog pointer swap (Delta/Iceberg);
        here local-FS rename is atomic enough.  The swap is recorded in
        the catalog, which retires relations listing the old files.
        """
        import shutil

        old = self.path + "_old"
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(self.path, old)
        os.rename(tmp_path, self.path)
        shutil.rmtree(old)
        self.catalog.record_rewrite("entities", self.name)

    def delete(self, predicates) -> int:
        """Keep rows NOT matching (Entity.scala:415-450); returns rows removed.

        A single pushdown-friendly anti-filter scan + one write: the
        reference keeps ``filter(NOT pred)`` too (no subtract/shuffle).
        Counts come from parquet footers (metadata-only), not extra jobs.
        """
        from pyspark.sql import Observation

        self._restore_default_storage()
        self.debucketize()
        before = self.count()
        # stored representation: rewriting the densified view under a
        # sparse catalog schema would corrupt the table (predicates on
        # sparsified VECTOR columns are unsupported either way — boolean
        # predicates are metadata-column operations)
        kept = self._stored_df().filter(~predicates_to_column(predicates))
        obs = Observation("delete_kept")
        kept = kept.observe(obs, F.count(F.lit(1)).alias("n"))
        tmp = self.path + "_tmp"
        kept.write.mode("overwrite").parquet(tmp)
        after = int(obs.get["n"])
        self._swap_in(tmp)
        self.catalog.bump_version(self.name, added_tuples=after - before)
        return before - after

    def vacuum(self, num_partitions: int | None = None) -> None:
        """Compact small files (Entity.scala:397-407): one repartitioned
        write + directory swap."""
        self._restore_default_storage()
        self.debucketize()
        n = num_partitions or max(1, self.spark.sparkContext.defaultParallelism // 4)
        tmp = self.path + "_tmp"
        self._stored_df().repartition(n, PK).write.mode("overwrite").parquet(tmp)
        self._swap_in(tmp)

    def count(self) -> int:
        return self.df().count()

    def preview(self, k: int = 100) -> DataFrame:
        """First k rows (Entity.scala:261)."""
        return self.df().limit(k)
