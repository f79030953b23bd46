"""cache_scope / persisted: the one cache-lifetime mechanism
(``plans/cache.py``)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.plans.cache import cache_scope, persisted
from tests.conftest import cache_manager_empty


def _cached(df) -> bool:
    return df.storageLevel.useMemory


def test_scope_releases_on_exit_and_on_error(spark):
    spark.catalog.clearCache()
    with cache_scope() as held:
        a = persisted(spark.range(10).select((F.col("id") * 2).alias("x")))
        assert held == [a] and _cached(a)
    assert not _cached(a) and cache_manager_empty(spark)

    with pytest.raises(RuntimeError, match="mid-scope"):
        with cache_scope():
            b = persisted(spark.range(10).select((F.col("id") * 3).alias("y")))
            raise RuntimeError("mid-scope")
    assert not _cached(b) and cache_manager_empty(spark)


def test_innermost_scope_owns_and_no_scope_only_persists(spark):
    spark.catalog.clearCache()
    with cache_scope() as outer:
        with cache_scope() as inner:
            a = persisted(spark.range(10).select((F.col("id") * 5).alias("x")))
        assert inner == [a] and outer == [] and not _cached(a)
        b = persisted(spark.range(10).select((F.col("id") * 7).alias("x")))
        assert outer == [b]
    # outside any scope the frame lives until clearCache, as before
    c = persisted(spark.range(10).select((F.col("id") * 11).alias("x")))
    assert _cached(c)
    spark.catalog.clearCache()
    assert not _cached(b) and not _cached(c)


def test_scopes_are_independent_per_thread(spark):
    """Leaving a scope on one thread never unpersists a frame held in a
    scope still open on another thread, and a persist on the second
    thread never lands in the first thread's scope."""
    spark.catalog.clearCache()
    a_open, b_done = threading.Event(), threading.Event()
    seen: dict = {}
    errors: list[Exception] = []

    def thread_a():
        try:
            with cache_scope() as held:
                seen["a"] = persisted(spark.range(10).select((F.col("id") * 13).alias("x")))
                seen["a"].count()
                a_open.set()
                assert b_done.wait(120)
                seen["a_held"] = list(held)
                seen["a_cached_after_b"] = _cached(seen["a"])
        except Exception as e:  # surfaced on the main thread
            errors.append(e)
            a_open.set()

    def thread_b():
        try:
            assert a_open.wait(120)
            # outside any scope on this thread: not captured by A's scope
            seen["stray"] = persisted(spark.range(10).select((F.col("id") * 17).alias("x")))
            with cache_scope() as held:
                seen["b"] = persisted(spark.range(10).select((F.col("id") * 19).alias("x")))
                seen["b"].count()
                seen["b_held"] = list(held)
        except Exception as e:
            errors.append(e)
        finally:
            b_done.set()

    threads = [threading.Thread(target=thread_a), threading.Thread(target=thread_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(240)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen["b_held"] == [seen["b"]] and not _cached(seen["b"])
    assert seen["a_held"] == [seen["a"]]  # neither B's frames nor the stray
    assert seen["a_cached_after_b"], "B's scope exit released A's frame"
    assert not _cached(seen["a"])  # released by A's own exit
    assert _cached(seen["stray"])
    spark.catalog.clearCache()
    assert cache_manager_empty(spark)
