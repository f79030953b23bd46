"""Atomic visibility of keyed-table control files (round 14, verdict
wrong #1 — the r13 storm-test race).

``_write_commit`` used to ``fs.create`` the manifest IN PLACE, so on
local/HDFS filesystems a concurrent reader could list
``commit-<n>.json`` between create and close, read ZERO bytes, and
crash in ``_current_commit``'s ``json.loads``. All JSON control files
now land via hidden-temp-then-rename (:func:`_put_json_atomic`) —
atomic visibility, with rename's fail-if-exists doubling as the
manifests' create-exclusive — and every reader additionally tolerates
an empty/unparsable file by retrying and then falling back (manifest:
resolve n−1; meta: bounded retry). The reference commits task output
the same way — promote-by-rename, never create-in-place
(``src/mapred/org/apache/hadoop/mapred/FileOutputCommitter.java``).

Also pinned here: the round-14 lease heartbeat (a legitimate writer
longer than ``lock_ttl_sec`` keeps its lease; ADVICE: a zombie THREAD
fences against its own token even after a same-process successor), and
the rollback→recovery interaction (floored-but-committed delta dirs
referenced by retained manifests survive the pre-write GC, so
time travel of rollback-skipped commits keeps working).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time

import pytest
from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K


def _mk(spark, rows=200, buckets=4, **kw):
    tmp = tempfile.mkdtemp(prefix="keyed_atomic_")
    path = f"{tmp}/tab"
    base = spark.range(rows).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit("base").alias("tag"),
    )
    K.write_keyed_table(base, path, ["k"], num_buckets=buckets, **kw)
    return path


def _cleanup(path):
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


def test_reader_skips_empty_highest_manifest(spark):
    """The deterministic form of the r13 storm failure: an EMPTY
    commit-<n+1>.json (a mid-PUT/crashed writer) must not crash
    readers — they resolve commit n."""
    path = _mk(spark)
    try:
        cur = K._current_commit(spark, path)
        n = int(cur["n"])
        open(os.path.join(path, K._COMMITS_DIR, f"commit-{n + 1}.json"), "w").close()
        got = K._current_commit(spark, path)
        assert got is not None and int(got["n"]) == n, "must fall back to n"
        tab = K.read_keyed_table(spark, path)
        assert tab.count() == 200
        assert tab.filter(F.col("k") == 3).first().v == 6
    finally:
        _cleanup(path)


def test_reader_skips_truncated_garbage_manifest(spark):
    path = _mk(spark)
    try:
        cur = K._current_commit(spark, path)
        n = int(cur["n"])
        with open(
            os.path.join(path, K._COMMITS_DIR, f"commit-{n + 1}.json"), "w"
        ) as f:
            f.write('{"n": %d, "buck' % (n + 1))  # torn mid-write
        assert int(K._current_commit(spark, path)["n"]) == n
        assert K.read_keyed_table(spark, path).count() == 200
    finally:
        _cleanup(path)


def test_manifest_put_lands_whole_and_exclusive(spark):
    """After any publish, every manifest on disk parses, no .tmp files
    remain, and a duplicate PUT of an existing manifest number is
    refused (rename's fail-if-exists = create-exclusive)."""
    path = _mk(spark, layout="range", range_step=20)
    try:
        batch = spark.createDataFrame([(1, -1, "z")], "k long, v long, tag string")
        K.upsert_keyed_table(spark, path, batch, assume_unique=True)
        assert K.compact_keyed_table(spark, path)["deltas_folded"] == 1
        cdir = os.path.join(path, K._COMMITS_DIR)
        names = sorted(
            n for n in os.listdir(cdir) if not n.endswith(".crc")
        )  # .crc = ChecksumFileSystem siblings, renamed along with the PUT
        assert all(n.startswith("commit-") for n in names), names
        import json as _json

        for n in names:
            with open(os.path.join(cdir, n)) as f:
                _json.load(f)  # parses whole
        cur = K._current_commit(spark, path)
        with pytest.raises(IOError, match="already published"):
            K._put_json_atomic(
                spark,
                f"{path}/{K._COMMITS_DIR}/commit-{cur['n']}.json",
                {"n": cur["n"]},
                overwrite=False,
            )
    finally:
        _cleanup(path)


def test_recovery_sweeps_orphaned_tmp_files(spark):
    path = _mk(spark)
    try:
        open(os.path.join(path, K._COMMITS_DIR, ".commit-9.json.dead.tmp"), "w").close()
        open(os.path.join(path, f".{K._META}.dead.tmp"), "w").close()
        K.recover_keyed_table(spark, path)
        assert not [
            f for f in os.listdir(os.path.join(path, K._COMMITS_DIR))
            if f.endswith(".tmp")
        ]
        assert not [f for f in os.listdir(path) if f.endswith(".tmp")]
    finally:
        _cleanup(path)


def test_heartbeat_keeps_long_writer_alive(spark):
    """Round-14 brief #5: a writer whose batch outlives lock_ttl_sec
    used to be broken and fence-aborted; the lease now heartbeats, so
    the batch finishes and a contender stays locked out throughout."""
    tmp = tempfile.mkdtemp(prefix="keyed_hb_")
    path = f"{tmp}/tab"
    try:
        base = spark.range(50).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
            F.lit("b").alias("tag"),
        )
        K.write_keyed_table(base, path, ["k"], num_buckets=2)
        with K._writer_lease(spark, path, ttl_sec=1.5) as lease:
            time.sleep(4.0)  # well past the TTL — heartbeat must renew
            # still owned: the fence passes and a contender is refused
            K._fence_lease(spark, path)
            with pytest.raises(K.KeyedTableLockedError, match="locked by another"):
                K._acquire_writer_lock(spark, path, 1.5)
            assert lease._hb_thread.is_alive()
        assert not os.path.exists(os.path.join(path, K._WRITER_LOCK))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_long_batch_past_ttl_commits(spark, monkeypatch):
    """End-to-end form: a compaction stalled past the TTL inside the
    merge job still commits (previously: loud fence abort)."""
    path = _mk(spark, rows=100, layout="range", range_step=10)
    try:
        batch = spark.createDataFrame([(1, -5, "slow")], "k long, v long, tag string")
        K.upsert_keyed_table(spark, path, batch, assume_unique=True)
        real = K._write_layout

        def slow(df, dest, n_parts, meta):
            time.sleep(3.2)
            return real(df, dest, n_parts, meta)

        monkeypatch.setattr(K, "_write_layout", slow)
        out = K.compact_keyed_table(spark, path, lock_ttl_sec=1.5)
        assert out["deltas_folded"] == 1
        assert not K._delta_seq_dirs(spark, path)
        assert K.read_keyed_table(spark, path).filter(F.col("k") == 1).first().v == -5
    finally:
        _cleanup(path)


def test_zombie_thread_fences_against_its_own_token(spark):
    """Round-14 ADVICE medium: _ACTIVE_LEASES was keyed by path only
    (last-enter wins), so a same-process successor THREAD overwrote the
    zombie's registered token and the zombie's fence matched the
    successor's lock — committing interleaved. Per-(path, thread)
    registration makes the zombie fence on ITS token and abort."""
    tmp = tempfile.mkdtemp(prefix="keyed_zfence_")
    path = f"{tmp}/tab"
    try:
        base = spark.range(10).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
            F.lit("b").alias("tag"),
        )
        K.write_keyed_table(base, path, ["k"], num_buckets=2)
        zombie = K._writer_lease(spark, path, ttl_sec=0.8)
        zombie.__enter__()
        zombie._hb_stop.set()  # simulate a stalled writer: heartbeat dead
        zombie._hb_thread.join()
        time.sleep(1.2)  # lease expires

        state: dict = {}

        def successor():
            # breaks the zombie's stale lease and registers ITS lease
            # under (path, this thread)
            with K._writer_lease(spark, path, ttl_sec=0.8):
                state["acquired"] = True
                # while the successor holds it, the zombie's fence
                # (ITS thread, ITS token) must abort
                try:
                    K._fence_lease(spark, path)
                    state["zombie_fenced"] = False
                except K.KeyedTableLockedError:
                    state["zombie_fenced"] = True

        t = threading.Thread(target=successor)
        t.start()
        t.join()
        assert state.get("acquired"), "successor must be able to break a dead lease"
        # zombie's own thread: fence must raise against its stale token
        with pytest.raises(K.KeyedTableLockedError, match="lease lost"):
            K._fence_lease(spark, path)
        zombie.token = None  # already usurped; skip release
        zombie.__exit__(None, None, None)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_time_travel_of_rollback_skipped_commit_survives_next_write(spark):
    """Round-14 ADVICE low: the pre-write recovery sweep used to GC
    floored-but-COMMITTED seq dirs as 'uncommitted', so after a
    rollback the skipped generation's time-travel read crashed (and
    blamed retain_generations). Committed dirs are history, not
    garbage."""
    path = _mk(spark, rows=100, buckets=2)
    try:
        # seq 1 (MOR), then an evolving MOR batch: the evolution's
        # meta-only publish (commit 2) records pending_seqs=[1]
        K.upsert_keyed_table(
            spark, path,
            spark.createDataFrame([(1, 111, "m1")], "k long, v long, tag string"),
        )
        K.upsert_keyed_table(
            spark, path,
            spark.createDataFrame(
                [(2, 222, "m2", 9.5)], "k long, v long, tag string, w double"
            ),
            evolve_schema=True,
        )
        cm2 = K._current_commit(spark, path)
        assert cm2["pending_seqs"] == [1]
        n2 = int(cm2["n"])
        K.rollback_keyed_table(spark, path, to_commit=1)
        # the NEXT write runs the pre-write sweep — it must not GC the
        # floored-but-committed seq dirs commit 2 still references
        K.upsert_keyed_table(
            spark, path,
            spark.createDataFrame([(3, 333, "m3")], "k long, v long, tag string"),
        )
        at2 = K.read_keyed_table(spark, path, at_commit=n2)
        got = {r.k: r.v for r in at2.filter(F.col("k").isin(1, 2, 3)).collect()}
        assert got == {1: 111, 2: 4, 3: 6}, "skipped generation reconstructs exactly"
        live = {r.k: r.v for r in K.read_keyed_table(spark, path)
                .filter(F.col("k").isin(1, 2, 3)).collect()}
        assert live == {1: 2, 2: 4, 3: 333}, "rollback + new delta is the live view"
    finally:
        _cleanup(path)


def test_history_lists_rollback(spark):
    """keyed_table_history (round 14): each publish is one row; a
    rollback is itself a commit (forward-moving history) with
    pending_deltas=0; the highest commit is current."""
    path = _mk(spark, rows=50, buckets=2, gc_generations=8)
    try:
        K.upsert_keyed_table(
            spark, path,
            spark.createDataFrame([(1, -1, "c")], "k long, v long, tag string"),
            assume_unique=True,
        )
        K.compact_keyed_table(spark, path)  # the batch's commit
        K.rollback_keyed_table(spark, path, to_commit=1)
        h = {r.commit_n: (r.pending_deltas, r.is_current)
             for r in K.keyed_table_history(spark, path).collect()}
        assert h == {1: (0, False), 2: (0, False), 3: (0, True)}
        ts = [r.ts_unix for r in K.keyed_table_history(spark, path).collect()]
        assert all(t is not None and t > 0 for t in ts)
        assert K.read_keyed_table(spark, path, at_commit=2).filter(
            F.col("k") == 1
        ).first().v == -1
    finally:
        _cleanup(path)
