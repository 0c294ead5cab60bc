"""Scoped ownership of scratch caches.

Library code persists intermediates only through :class:`CacheScope`,
under one rule: an operator releases every cache it creates before it
returns.  A result that outlives the operator is materialized (eager
``localCheckpoint`` or a write to storage) before its block closes.
The one long-lived cache is :class:`adampro_spark.operators.misc
.ResultCache`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class CacheScope:
    """``with CacheScope() as scope: t = scope.keep(df)`` — ``t`` stays
    persisted until the block exits, normally or by an exception.
    Blocks nest independently: each releases only what it kept."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def keep(self, df: DataFrame) -> DataFrame:
        cached = df.persist()
        self._held.append(cached)
        return cached

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        while self._held:
            self._held.pop().unpersist()
