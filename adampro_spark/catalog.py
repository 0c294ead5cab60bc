"""Lightweight JSON catalog.

The reference keeps entities/attributes/indexes/optimizer options in a JDBC
catalog via Slick (shared/catalog/CatalogManager.scala:48-57).  For a
Spark-native engine a small JSON file next to the data is enough: the heavy
state (entity data, index tables) lives in Parquet; the catalog only records
names, schemas, index metadata (marks/centroids/projections) and counters.

The catalog is driver-side only and tiny, so plain-file durability is fine;
on a real cluster this would live on shared storage (the ``base`` path can
be any fuse-mounted / object-store path reachable from the driver).

Read path: every write replaces the file (new inode) and bumps an
in-process write counter, so ``(st_ino, st_mtime_ns, st_size, writes)``
identifies one catalog state — its :meth:`Catalog.generation`.  The parse
is cached under that key (readers still get private copies), and
:meth:`Catalog.relation` keeps one DataFrame per (session, name,
generation), so a query does not re-list or re-infer unchanged storage.
"""

from __future__ import annotations

import json
import marshal
import os
import threading
from collections.abc import Callable
from typing import Any

# catalog writes made by this process (any Catalog instance): part of the
# generation key, so an in-process write invalidates even when the new
# file happens to reuse the old one's inode, mtime and size
_WRITES = 0
_WRITES_LOCK = threading.Lock()


def _count_write() -> None:
    global _WRITES
    with _WRITES_LOCK:
        _WRITES += 1


class Catalog:
    def __init__(self, base: str):
        self.base = base
        self.path = os.path.join(base, "_catalog.json")
        self._lock = threading.RLock()
        self._parsed: tuple[tuple, bytes] | None = None
        self._relations: dict[tuple, tuple] = {}
        os.makedirs(base, exist_ok=True)
        if not os.path.exists(self.path):
            self._write({"entities": {}, "indexes": {}})

    def _read(self) -> dict[str, Any]:
        """The catalog as a private dict.  The parse is cached under the
        generation of the file actually opened (fstat, so the key always
        describes the bytes read); copies come from a ``marshal`` blob,
        ~10× cheaper than re-parsing the JSON or ``deepcopy``."""
        writes = _WRITES
        with open(self.path, "rb") as f:
            st = os.fstat(f.fileno())
            key = (st.st_ino, st.st_mtime_ns, st.st_size, writes)
            parsed = self._parsed
            if parsed is None or parsed[0] != key:
                data = json.load(f)
                self._parsed = (key, marshal.dumps(data))
                return data
        return marshal.loads(parsed[1])

    def generation(self) -> tuple:
        """Identity of the current catalog state; changes on every write,
        from this process or another."""
        writes = _WRITES
        st = os.stat(self.path)
        return (st.st_ino, st.st_mtime_ns, st.st_size, writes)

    def relation(
        self,
        spark,
        key: tuple,
        build: Callable[[], Any],
        valid: Callable[[], bool] | None = None,
    ):
        """One DataFrame per (session, ``key``, generation): ``build`` runs
        only when the catalog changed since the cached one was built (or
        on a new session).  The generation is taken BEFORE ``build`` reads
        the catalog, so a write racing the build leaves a stale key that
        the next call rebuilds.  Storage rewrites therefore must record a
        catalog write (:meth:`record_rewrite`) — that is what invalidates
        the file listing a cached relation holds.  ``valid`` re-checks
        session state the catalog does not record (a bucketed table still
        registered in the session catalog) before a hit is served."""
        gen = self.generation()
        hit = self._relations.get(key)
        if (
            hit is not None
            and hit[0] is spark
            and hit[1] == gen
            and (valid is None or valid())
        ):
            return hit[2]
        df = build()
        self._relations[key] = (spark, gen, df)
        return df

    def _write(self, data: dict[str, Any]) -> None:
        # unique tmp per writer: a FIXED tmp name let two PROCESSES (the
        # in-process lock can't see them) interleave writes into the same
        # file and then atomically rename torn JSON over the catalog
        # (observed: bench + plan_audit sharing a scratch catalog)
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=self.base, suffix=".tmp")
        try:
            # mkstemp creates 0600; keep the catalog's umask-default mode
            # so other-uid readers (audit tooling on shared storage) are
            # not locked out after the first write
            umask = os.umask(0)
            os.umask(umask)
            os.fchmod(fd, 0o666 & ~umask)
            with os.fdopen(fd, "w") as f:
                json.dump(data, f, indent=1, default=_jsonify)
            os.replace(tmp, self.path)
            _count_write()
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    # -- entities ----------------------------------------------------------
    def create_entity(self, name: str, attributes: list[dict[str, str]]) -> None:
        with self._lock:
            data = self._read()
            if name in data["entities"]:
                raise ValueError(f"entity {name!r} already exists")
            data["entities"][name] = {
                "attributes": attributes,
                "version": 0,
                "tuple_count": 0,
            }
            self._write(data)

    def ensure_entity(self, name: str) -> None:
        """Create a minimal entity record when absent — ad-hoc DataFrame
        'entities' (df= passed straight into the query facade) still need a
        catalog slot for planner bookkeeping."""
        with self._lock:
            data = self._read()
            if name not in data["entities"]:
                data["entities"][name] = {
                    "attributes": [],
                    "version": 0,
                    "tuple_count": 0,
                }
                self._write(data)

    def entity(self, name: str) -> dict[str, Any]:
        data = self._read()
        if name not in data["entities"]:
            raise KeyError(f"no entity {name!r}")
        return data["entities"][name]

    def exists_entity(self, name: str) -> bool:
        return name in self._read()["entities"]

    def list_entities(self) -> list[str]:
        return sorted(self._read()["entities"])

    def drop_entity(self, name: str) -> None:
        with self._lock:
            data = self._read()
            data["entities"].pop(name, None)
            data["indexes"] = {
                k: v for k, v in data["indexes"].items() if v["entity"] != name
            }
            self._write(data)

    def update_entity(self, name: str, **fields: Any) -> None:
        with self._lock:
            data = self._read()
            data["entities"][name].update(fields)
            self._write(data)

    def allocate_version(self, name: str) -> int:
        """ATOMICALLY claim the next insert batch number (review r6: two
        concurrent inserts reading version outside the lock packed
        colliding TIDs).  The version persists immediately, so a failed
        write burns a batch number — a harmless gap, never a collision."""
        with self._lock:
            data = self._read()
            ent = data["entities"][name]
            ent["version"] += 1
            self._write(data)
            return int(ent["version"])

    def bump_version(
        self, name: str, added_tuples: int = 0, bump: bool = True
    ) -> None:
        """Insert bookkeeping: version++ marks cached data and indexes stale
        (Entity.scala:481-486); tuple_count is the reference's 'approximate
        count' insert counter (Entity.scala:241-252).  ``bump=False``
        records tuples/staleness for a batch number already claimed via
        :meth:`allocate_version`."""
        with self._lock:
            data = self._read()
            ent = data["entities"][name]
            if bump:
                ent["version"] += 1
            ent["tuple_count"] = ent.get("tuple_count", 0) + added_tuples
            for idx in data["indexes"].values():
                if idx["entity"] == name:
                    idx["stale"] = True
            self._write(data)

    def record_rewrite(self, section: str, name: str) -> None:
        """Count a storage rewrite (vacuum, repartition, directory swap) of
        ``name`` in ``section`` ("entities" / "indexes") that changes no
        other catalog field: the write moves the generation, so cached
        relations over the replaced files are rebuilt."""
        with self._lock:
            data = self._read()
            rec = data[section][name]
            rec["rewrites"] = int(rec.get("rewrites", 0)) + 1
            self._write(data)

    # -- indexes -----------------------------------------------------------
    def register_index(
        self, name: str, entity: str, attribute: str, index_type: str, meta: dict[str, Any]
    ) -> None:
        with self._lock:
            data = self._read()
            data["indexes"][name] = {
                "entity": entity,
                "attribute": attribute,
                "type": index_type,
                "meta": meta,
                "stale": False,
            }
            self._write(data)

    def index(self, name: str) -> dict[str, Any]:
        data = self._read()
        if name not in data["indexes"]:
            raise KeyError(f"no index {name!r}")
        return data["indexes"][name]

    def list_indexes(self, entity: str | None = None) -> list[str]:
        data = self._read()
        return sorted(
            k for k, v in data["indexes"].items() if entity is None or v["entity"] == entity
        )

    def update_index_fields(self, name: str, **fields: Any) -> None:
        """Planner bookkeeping (measured scores; the reference keeps these
        in its optimizer-options catalog table, CatalogManager.scala:48-57)."""
        with self._lock:
            data = self._read()
            if name not in data["indexes"]:
                raise KeyError(f"no index {name!r}")
            data["indexes"][name].update(fields)
            self._write(data)

    def drop_index(self, name: str) -> None:
        with self._lock:
            data = self._read()
            data["indexes"].pop(name, None)
            self._write(data)

    # -- paths -------------------------------------------------------------
    def entity_path(self, name: str) -> str:
        return os.path.join(self.base, "entities", name)

    def index_path(self, name: str) -> str:
        return os.path.join(self.base, "indexes", name)


def _jsonify(o: Any):
    try:
        import numpy as np

        if isinstance(o, np.ndarray):
            return o.tolist()
        if isinstance(o, (np.floating, np.integer)):
            return o.item()
    except ImportError:
        pass
    raise TypeError(f"not JSON serializable: {type(o)}")
