"""Commit-point lease fencing (round-13, from round-12 ADVICE medium).

A writer that legitimately outlives ``lock_ttl_sec`` (large re-load,
slow compaction) has its lease broken and re-issued to a
successor. Before this round the zombie's in-flight commit
(``_marker_publish`` / delta ``_COMMITTED`` marker) proceeded
anyway — exactly the interleaved-write corruption the lock exists to
prevent. Now every commit point re-verifies the lock token immediately
before mutating shared state and aborts loudly on mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K


@pytest.fixture()
def table(spark):
    tmp = tempfile.mkdtemp(prefix="keyed_fence_")
    path = f"{tmp}/tab"
    base = spark.range(1_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("base").alias("tag")
    )
    K.write_keyed_table(base, path, ["k"], num_buckets=4)
    yield path
    shutil.rmtree(tmp, ignore_errors=True)


def _usurp(path: str) -> None:
    """Simulate a successor writer taking over after a TTL break: the
    lock file now carries a DIFFERENT token."""
    lock = os.path.join(path, K._WRITER_LOCK)
    with open(lock, "w") as f:
        json.dump(
            {"host": "successor", "pid": 4242, "token": "f" * 32,
             "acquired_unix": time.time()},
            f,
        )


def test_fence_noop_without_registered_lease(spark, table):
    """A process that never took the lease (fresh path, recovery
    helpers) is not fenced — and a NORMAL write still succeeds and
    deregisters its lease afterward."""
    K._fence_lease(spark, table)  # no lease registered → no-op
    batch = spark.createDataFrame([(1, -9, "z")], "k long, v long, tag string")
    K.upsert_keyed_table(spark, table, batch)
    assert not any(p == table for p, _ in K._ACTIVE_LEASES)
    assert K.read_keyed_table(spark, table).filter(F.col("k") == 1).first().v == -9


def test_marker_publish_fences_manifest_put(spark, monkeypatch):
    """The manifest PUT is the commit — a compaction whose lease is
    usurped aborts before it, so readers keep resolving the old commit,
    every bucket keeps its pre-compaction contents and the folded delta
    stays pending."""
    tmp = tempfile.mkdtemp(prefix="keyed_fence_mk_")
    path = f"{tmp}/tab"
    try:
        base = spark.range(100).select(
            F.col("id").alias("k"), F.lit(0).alias("v"), F.lit("m").alias("tag")
        )
        K.write_keyed_table(base, path, ["k"], layout="range", range_step=10)
        batch = spark.createDataFrame([(1, -9, "z")], "k long, v long, tag string")
        K.upsert_keyed_table(spark, path, batch)
        cm_before = K._current_commit(spark, path)

        real = K._write_layout

        def usurp_then(df, dest, n_parts, meta):
            out = real(df, dest, n_parts, meta)
            _usurp(path)
            return out

        monkeypatch.setattr(K, "_write_layout", usurp_then)
        with pytest.raises(K.KeyedTableLockedError, match="lease lost before commit"):
            K.compact_keyed_table(spark, path)
        monkeypatch.undo()
        os.remove(os.path.join(path, K._WRITER_LOCK))
        assert K._current_commit(spark, path) == cm_before
        assert [s for s, _ in K._delta_seq_dirs(spark, path)] == [1]
        tab = K.read_keyed_table(spark, path)
        assert tab.count() == 100
        assert tab.filter(F.col("k") == 1).first().v == -9
        plain = spark.read.parquet(
            *[os.path.join(path, d) for d in cm_before["buckets"].values()]
        )
        assert plain.filter(F.col("k") == 1).first().v == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_marker_mor_commit_fences_before_committed_mark(spark, monkeypatch):
    """The MOR commit point is the _COMMITTED marker write. A usurped
    lease aborts before it — the staged seq dir may remain on disk but
    carries no marker, so no delta lands: readers and the change feed
    ignore it, and the recovery sweep GCs it."""
    tmp = tempfile.mkdtemp(prefix="keyed_fence_mm_")
    path = f"{tmp}/tab"
    try:
        base = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit("base").alias("tag"),
        )
        K.write_keyed_table(base, path, ["k"], num_buckets=4)
        real = K._read_seq_hwm

        def usurp_then(spark_, path_):
            _usurp(path)
            return real(spark_, path_)

        monkeypatch.setattr(K, "_read_seq_hwm", usurp_then)
        batch = spark.createDataFrame([(1, -9, "z")], "k long, v long, tag string")
        with pytest.raises(K.KeyedTableLockedError, match="lease lost before commit"):
            K.upsert_keyed_table(spark, path, batch)
        monkeypatch.undo()
        os.remove(os.path.join(path, K._WRITER_LOCK))
        seq1 = os.path.join(path, K._DELTA_DIR, "seq=1")
        if os.path.isdir(seq1):  # staged remnant must be UNCOMMITTED
            assert not os.path.exists(os.path.join(seq1, K._COMMITTED_MARK))
        tab = K.read_keyed_table(spark, path)
        assert tab.filter(F.col("k") == 1).first().v == 2, "old value intact"
        assert K.read_keyed_changes(spark, path).count() == 0
        swept = K.recover_keyed_table(spark, path)
        assert not os.path.exists(seq1), swept
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
