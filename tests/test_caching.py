"""Cache ownership: the scoped helper, the one-owner rule over the
library source, and a clean session after deduplication."""

import ast
import pathlib

import pytest

from adampro_spark.caching import CacheScope

PKG = pathlib.Path(__file__).resolve().parents[1] / "adampro_spark"
# the helper itself and the query-result LRU are the only cache owners
OWNERS = {PKG / "caching.py", PKG / "operators" / "misc.py"}


def _entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_cache_scope_releases_on_exit_on_error_and_when_nested(spark):
    base = _entries(spark)
    with CacheScope() as scope:
        a = scope.keep(spark.range(5))
        assert a.count() == 5
        assert _entries(spark) == base + 1
    assert _entries(spark) == base

    with pytest.raises(RuntimeError, match="mid-block"):
        with CacheScope() as scope:
            scope.keep(spark.range(6)).count()
            scope.keep(spark.range(7))
            assert _entries(spark) == base + 2
            raise RuntimeError("mid-block")
    assert _entries(spark) == base

    with CacheScope() as outer:
        outer.keep(spark.range(8))
        with CacheScope() as inner:
            inner.keep(spark.range(9))
            assert _entries(spark) == base + 2
        # the inner block released only its own cache
        assert _entries(spark) == base + 1
    assert _entries(spark) == base


def test_library_persists_only_through_the_helper():
    """Outside the helper and ResultCache no library module calls
    .persist(), .cache() or .unpersist()."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path in OWNERS:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache", "unpersist")
            ):
                found.append(f"{path.relative_to(PKG)}:{node.lineno} .{node.func.attr}()")
    assert not found, "cache calls outside adampro_spark/caching.py:\n" + "\n".join(found)


def test_deduplicate_leaves_the_session_clean(spark, tables):
    """Deduplicating against a pair generator's checkpoint leaves no
    cached plan behind.  The per-generator checks (equality with the lazy
    query, released caches) are in tests/test_scale_gates.py."""
    from adampro_spark.pipeline.dedup import deduplicate, minhash_dup_pairs

    spark.catalog.clearCache()
    docs = tables["documents"].select("doc_id", "text").limit(120)
    deduplicate(docs, minhash_dup_pairs(docs)).count()
    assert _entries(spark) == 0
