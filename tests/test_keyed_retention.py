"""Change-feed retention across compaction (round 13, verdict #4).

Compaction once dropped the folded seq dirs outright, so any
change-feed consumer slower than the compaction cadence hard-raised
toward a full re-sync — at 100 TB a re-sync is a full-table read. Now
the folded dirs stay where they were written and retire by the same
``gc_generations`` rule as bucket dirs: with the default of 1 the feed
still serves the newest fold, and a table written with a larger
``gc_generations`` keeps that many generations of folded batches
feed-readable, so the slow consumer pages through exactly the batches
it missed. This is the Delta/Hudi incremental-read retention window
re-expressed on plain directories.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K


def _mk(spark, **kw) -> str:
    tmp = tempfile.mkdtemp(prefix="keyed_ret_")
    path = f"{tmp}/tab"
    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
        F.lit("base").alias("tag"),
    )
    K.write_keyed_table(base, path, ["k"], num_buckets=2, **kw)
    return path


def _seqs_on_disk(path) -> list[int]:
    delta = os.path.join(path, K._DELTA_DIR)
    if not os.path.isdir(delta):
        return []
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(delta) if d.startswith("seq="))


def _ups(spark, k, v):
    return spark.createDataFrame([(k, v, "u")], "k long, v long, tag string")


def _cleanup(path):
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


def test_slow_consumer_drains_archived_batches(spark):
    """The verdict's done-gate: a consumer checkpointed BEFORE the last
    compaction still drains exactly the missed batches — folded and
    pending alike — with correct ops and seqs."""
    path = _mk(spark)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))   # seq 1
        K.upsert_keyed_table(spark, path, _ups(spark, 2, 22))   # seq 2
        K.compact_keyed_table(spark, path)                                  # folds 1-2
        K.upsert_keyed_table(spark, path, _ups(spark, 3, 33))   # seq 3
        # consumer checkpointed at seq 1: drains 2 (archived) + 3 (pending)
        got = {r.k: (r.v, r._seq, r._change_op)
               for r in K.read_keyed_changes(spark, path, since_seq=1).collect()}
        assert got == {2: (22, 2, "upsert"), 3: (33, 3, "upsert")}
        # consumer at 0 drains all three
        all3 = K.read_keyed_changes(spark, path, since_seq=0)
        assert {r._seq for r in all3.collect()} == {1, 2, 3}
        # audit-log (unresolved) form too
        raw = K.read_keyed_changes(spark, path, since_seq=0, resolve=False)
        assert raw.count() == 3
        # table reads are unaffected by the archive
        tab = K.read_keyed_table(spark, path)
        assert tab.count() == 100
        assert {r.v for r in tab.filter("k in (1,2,3)").collect()} == {11, 22, 33}
    finally:
        _cleanup(path)


def test_archive_gc_after_n_generations(spark):
    """Generations age out: with the default gc_generations=1 only the
    newest fold stays on disk and readable; older checkpoints raise
    toward re-sync with the retention knob named."""
    path = _mk(spark)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))  # seq 1
        K.compact_keyed_table(spark, path)                                 # gen 1
        assert _seqs_on_disk(path) == [1], "the fold stays where it was written"
        K.upsert_keyed_table(spark, path, _ups(spark, 2, 22))  # seq 2
        K.compact_keyed_table(spark, path)                                 # gen 2; gen 1 GC'd
        assert _seqs_on_disk(path) == [2], "only the newest generation retained"
        # seq 2 still drains in place
        got = K.read_keyed_changes(spark, path, since_seq=1).collect()
        assert [(r.k, r._seq) for r in got] == [(2, 2)]
        # seq 1 aged out → the contract error names the knob
        with pytest.raises(ValueError, match="compacted into the base.*gc_generations"):
            K.read_keyed_changes(spark, path, since_seq=0)
    finally:
        _cleanup(path)


def test_retain_many_keeps_multiple_generations(spark):
    path = _mk(spark, gc_generations=3)
    try:
        for i, (k, v) in enumerate([(1, 11), (2, 22), (3, 33)], start=1):
            K.upsert_keyed_table(spark, path, _ups(spark, k, v))
            K.compact_keyed_table(spark, path)
        assert _seqs_on_disk(path) == [1, 2, 3]
        got = K.read_keyed_changes(spark, path, since_seq=0).collect()
        assert {(r.k, r._seq) for r in got} == {(1, 1), (2, 2), (3, 3)}
    finally:
        _cleanup(path)


def test_sweep_keeps_what_retained_manifests_read(spark):
    """One retention rule, gc_generations=1: after compactions k and
    k+1 the only seq dirs on disk are the ones k+1 folded plus the
    pending ones, and every seq a retained manifest lists in
    pending_seqs is among them."""
    path = _mk(spark)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))   # seq 1
        K.upsert_keyed_table(spark, path, _ups(spark, 2, 22))   # seq 2
        K.compact_keyed_table(spark, path)                       # k: folds 1-2
        K.upsert_keyed_table(spark, path, _ups(spark, 3, 33))   # seq 3
        wide = spark.createDataFrame(
            [(4, 44, "e", 0.5)], "k long, v long, tag string, score double"
        )
        # an evolution commit records seq 3 pending, then seq 4 lands
        K.upsert_keyed_table(spark, path, wide, evolve_schema=True)
        K.compact_keyed_table(spark, path)                       # k+1: folds 3-4
        K.upsert_keyed_table(
            spark, path,
            spark.createDataFrame([(5, 55, "u", None)], "k long, v long, tag string, score double"),
        )                                                        # seq 5, pending
        assert _seqs_on_disk(path) == [3, 4, 5]
        assert [s for s, _ in K._delta_seq_dirs(spark, path)] == [5]
        for name in os.listdir(os.path.join(path, K._COMMITS_DIR)):
            if name.startswith("commit-") and name.endswith(".json"):
                with open(os.path.join(path, K._COMMITS_DIR, name)) as f:
                    pend = json.load(f)["pending_seqs"]
                assert set(pend) <= set(_seqs_on_disk(path)), (name, pend)
        got = {r.k: r.v for r in K.read_keyed_table(spark, path).filter("k <= 5").collect()}
        assert got == {0: 0, 1: 11, 2: 22, 3: 33, 4: 44, 5: 55}
    finally:
        _cleanup(path)


def test_crash_between_flip_and_sweep(spark, monkeypatch):
    """A compaction that dies right after its manifest PUT has folded
    its deltas (the manifest says so) but swept nothing and left the
    hwm behind: reads stay correct, the next seq lands above every
    retained dir, and the next publish sweeps."""
    path = _mk(spark)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))   # seq 1
        K.compact_keyed_table(spark, path)
        K.upsert_keyed_table(spark, path, _ups(spark, 2, 22))   # seq 2
        real = K._write_commit

        def flip_then_crash(*a, **kw):
            real(*a, **kw)
            raise RuntimeError("simulated crash after the flip")

        monkeypatch.setattr(K, "_write_commit", flip_then_crash)
        with pytest.raises(RuntimeError, match="after the flip"):
            K.compact_keyed_table(spark, path)
        monkeypatch.undo()
        assert _seqs_on_disk(path) == [1, 2], "no sweep ran"
        assert K._read_seq_hwm(spark, path) == 1
        assert K._delta_seq_dirs(spark, path) == [], "the flip folded seq 2"
        tab = K.read_keyed_table(spark, path)
        assert tab.count() == 100
        assert {r.k: r.v for r in tab.filter("k <= 2").collect()} == {0: 0, 1: 11, 2: 22}
        nxt = K.upsert_keyed_table(spark, path, _ups(spark, 3, 33))
        assert nxt["seq"] == 3
        K.compact_keyed_table(spark, path)
        assert _seqs_on_disk(path) == [3]
        assert K.read_keyed_table(spark, path).filter("k = 3").first().v == 33
    finally:
        _cleanup(path)


def test_crash_between_flip_and_hwm_write(spark, monkeypatch):
    """A compaction that dies after its flip and sweep but before the
    ``_seq.hwm`` write: the manifest's folded_seq alone keeps the next
    seq above the folded dir, which would otherwise be reused and its
    committed batch overwritten."""
    path = _mk(spark)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))   # seq 1
        K.compact_keyed_table(spark, path)
        K.upsert_keyed_table(spark, path, _ups(spark, 2, 22))   # seq 2

        def boom(*a, **kw):
            raise RuntimeError("simulated crash before the hwm write")

        monkeypatch.setattr(K, "_write_seq_hwm", boom)
        with pytest.raises(RuntimeError, match="hwm write"):
            K.compact_keyed_table(spark, path)
        monkeypatch.undo()
        assert _seqs_on_disk(path) == [2], "the sweep ran"
        assert K._read_seq_hwm(spark, path) == 1
        nxt = K.upsert_keyed_table(spark, path, _ups(spark, 3, 33))
        assert nxt["seq"] == 3
        assert [(r.k, r._seq) for r in K.read_keyed_changes(spark, path, since_seq=1).collect()] \
            == [(2, 2), (3, 3)]
        K.compact_keyed_table(spark, path)
        assert _seqs_on_disk(path) == [3]
        got = {r.k: r.v for r in K.read_keyed_table(spark, path).filter("k <= 3").collect()}
        assert got == {0: 0, 1: 11, 2: 22, 3: 33}
    finally:
        _cleanup(path)


def test_reload_purges_archive(spark):
    """A re-load replaces the table wholesale: the folded batches are
    the OLD generation's history — a checkpointed consumer must
    re-sync, not page through rows the new base never contained. Its
    delta_floor hides them, and its publish sweeps the dirs no retained
    manifest reads."""
    path = _mk(spark)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))
        K.compact_keyed_table(spark, path)
        assert _seqs_on_disk(path) == [1]
        fresh = spark.range(5).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("v"),
            F.lit("g2").alias("tag"),
        )
        K.write_keyed_table(fresh, path, ["k"], num_buckets=2)
        assert _seqs_on_disk(path) == []
        with pytest.raises(ValueError):
            K.read_keyed_changes(spark, path, since_seq=0)
    finally:
        _cleanup(path)


def test_replay_ledger_survives_one_compaction(spark):
    """Round-12 ADVICE adjunct: a checkpointed stream restarting right
    after a compaction replays its last committed batch — the ingest-key
    markers stay in the folded seq dirs, so the replay is detected for
    the gc_generations window instead of committing a duplicate
    delta."""
    path = _mk(spark)
    try:
        out1 = K.upsert_keyed_table(
            spark, path, _ups(spark, 1, 11),
            idempotency_key="batch-1",
        )
        K.compact_keyed_table(spark, path)
        replay = K.upsert_keyed_table(
            spark, path, _ups(spark, 1, 11),
            idempotency_key="batch-1",
        )
        assert replay.get("replayed") is True
        assert replay["seq"] == out1["seq"]
        # no new delta landed
        assert K.read_keyed_changes(spark, path, since_seq=out1["seq"]).count() == 0
    finally:
        _cleanup(path)


def test_schema_evolution_reads_archived_prefold_deltas(spark):
    """Folded deltas predate an evolution: the explicit evolved schema
    reads them with NULL for the new column. The evolution is itself a
    commit, so the fold stays feed-readable only on a table whose
    gc_generations outlasts it."""
    path = _mk(spark, gc_generations=2)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))  # pre-evolve
        K.compact_keyed_table(spark, path)
        wide = spark.createDataFrame(
            [(2, 22, "u", 0.5)], "k long, v long, tag string, score double"
        )
        K.upsert_keyed_table(spark, path, wide, evolve_schema=True)
        got = {r.k: r.score for r in K.read_keyed_changes(spark, path, since_seq=0).collect()}
        assert got == {1: None, 2: 0.5}
    finally:
        _cleanup(path)


def test_marker_gc_generations_knob(spark):
    """Round-12 ADVICE: marker-protocol manifest GC grace is now a
    table parameter. With gc_generations=3, a reader that resolved a
    commit 3 generations back still finds every dir it references."""
    tmp = tempfile.mkdtemp(prefix="keyed_ret_gcg_")
    path = f"{tmp}/tab"
    try:
        base = spark.range(50).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
            F.lit("m").alias("tag"),
        )
        K.write_keyed_table(
            base, path, ["k"], layout="range", range_step=25, gc_generations=3
        )
        snapshots = {}
        for gen in range(1, 6):
            snapshots[gen] = K._current_commit(spark, path)
            batch = spark.range(50).select(
                F.col("id").alias("k"), F.lit(gen * 10).cast("long").alias("v"),
                F.lit("m").alias("tag"),
            )
            K.upsert_keyed_table(spark, path, batch, assume_unique=True)
            assert K.compact_keyed_table(spark, path)["deltas_folded"] == 1
        commits = sorted(
            int(f[len("commit-"):-len(".json")])
            for f in os.listdir(os.path.join(path, K._COMMITS_DIR))
            if f.startswith("commit-")
        )
        # newest commit is 6 (load=1 + 5 compactions): floor = 6-3 = 3
        assert commits == [3, 4, 5, 6], commits
        # every dir referenced by the OLDEST retained manifest survives
        cm3 = snapshots[3]  # the commit with n=3 (pre-4th-upsert state)
        for d in cm3["buckets"].values():
            assert os.path.exists(os.path.join(path, d)), f"{d} GC'd too early"
        # default-grace table (gc_generations=1) keeps only 2 manifests
        assert K.read_keyed_table(spark, path).filter("k = 1").first().v == 50
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_time_travel_marker_reads_history(spark):
    """Round-13 time travel: read_keyed_table(at_commit=n) reconstructs
    the table as of commit n — base through that commit's manifest
    (immutable versioned dirs kept by gc_generations), pending deltas
    recorded in the manifest overlaid from their seq dirs."""
    tmp = tempfile.mkdtemp(prefix="keyed_tt_")
    path = f"{tmp}/tab"
    try:
        base = spark.range(100).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
            F.lit("g0").alias("tag"),
        )
        K.write_keyed_table(base, path, ["k"], num_buckets=2,
                            gc_generations=10)                      # commit 1
        snaps = {}

        def snapshot():
            n = K._current_commit(spark, path)["n"]
            snaps[n] = {(r.k, r.v) for r in K.read_keyed_table(spark, path).collect()}
            return n

        snapshot()                                                   # n=1
        for gen in (1, 2, 3):                                        # commits 2-4
            K.upsert_keyed_table(
                spark, path,
                spark.createDataFrame([(gen, gen * 100, "c")],
                                      "k long, v long, tag string"),
            )
            K.compact_keyed_table(spark, path)
            snapshot()
        # a MOR delta + an EVOLUTION commit (meta-only publish records
        # the delta as pending), then a compaction folds it
        K.upsert_keyed_table(spark, path, _ups(spark, 50, 555))
        wide = spark.createDataFrame(
            [(60, 666, "e", 0.5)], "k long, v long, tag string, score double"
        )
        K.upsert_keyed_table(spark, path, wide, evolve_schema=True)
        n_evolve = K._current_commit(spark, path)["n"]               # commit 5
        K.compact_keyed_table(spark, path)                           # commit 6
        snapshot()

        # every snapshot reconstructs exactly
        for n, want in snaps.items():
            got = {(r.k, r.v)
                   for r in K.read_keyed_table(spark, path, at_commit=n).collect()}
            assert got == want, f"commit {n} mismatch"
        # the evolution manifest is the ATOMIC evolution point: it
        # commits BEFORE the evolving batch's delta, so as-of commit 5
        # the schema carries the new column (NULL everywhere) and the
        # k=50 delta (pending at publish, folded since) is overlaid —
        # but the k=60 evolving batch is post-commit
        tt = K.read_keyed_table(spark, path, at_commit=n_evolve)
        assert "score" in tt.columns
        assert tt.filter(F.col("k") == 50).first().v == 555, \
            "pre-evolution pending delta overlaid from its folded dir"
        r60 = tt.filter(F.col("k") == 60).first()
        assert r60.v == 0 and r60.score is None, \
            "the evolving batch itself is post-commit"
        assert tt.count() == 100
        # nonexistent commit raises with the retention knob named
        with pytest.raises(ValueError, match="gc_generations"):
            K.read_keyed_table(spark, path, at_commit=99)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_time_travel_refusals(spark):
    """Deltas gone from disk and GC'd manifests refuse with the
    retention knob named. A retained manifest keeps its pending seq
    dirs, so a delta goes missing under one only on a table an older
    build compacted: it moved folded dirs to ``_feed_archive``, which
    nothing reads now."""
    tmp = tempfile.mkdtemp(prefix="keyed_tt_ref_")
    mpath = f"{tmp}/tab"
    try:
        base = spark.range(20).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
            F.lit("m").alias("tag"),
        )
        K.write_keyed_table(base, mpath, ["k"], num_buckets=2,
                            gc_generations=10)
        # pending delta recorded in an evolution commit, then folded
        # and moved where an older build archived it: the time-travel
        # overlay is gone
        K.upsert_keyed_table(spark, mpath, _ups(spark, 1, 11))
        wide = spark.createDataFrame(
            [(2, 22, "e", 1.5)], "k long, v long, tag string, score double"
        )
        K.upsert_keyed_table(spark, mpath, wide, evolve_schema=True)
        n_evolve = K._current_commit(spark, mpath)["n"]
        K.compact_keyed_table(spark, mpath)
        assert K.read_keyed_table(spark, mpath, at_commit=n_evolve).filter(
            F.col("k") == 1
        ).first().v == 11
        os.makedirs(os.path.join(mpath, "_feed_archive", "gen=2"))
        shutil.move(
            os.path.join(mpath, K._DELTA_DIR, "seq=1"),
            os.path.join(mpath, "_feed_archive", "gen=2", "seq=1"),
        )
        with pytest.raises(ValueError, match=r"deltas \[1\] are gone.*gc_generations"):
            K.read_keyed_table(spark, mpath, at_commit=n_evolve)
        # manifest GC'd (default gc_generations table): old commit gone
        # — covered by the nonexistent-commit branch above; here pin
        # that CURRENT reads are untouched by all of it
        assert K.read_keyed_table(spark, mpath).count() == 20  # both keys pre-exist
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_rollback_marker_table(spark):
    """Round-13 rollback: one manifest PUT moves the table back to a
    prior compacted commit — shared immutable dirs, no copy; deltas
    committed since are retired in the same atomic flip; history keeps
    moving forward (the rollback is itself a commit and can be rolled
    back); seq numbering stays monotonic so stale feed checkpoints
    raise instead of aliasing."""
    tmp = tempfile.mkdtemp(prefix="keyed_rb_")
    path = f"{tmp}/tab"
    try:
        base = spark.range(100).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
            F.lit("g0").alias("tag"),
        )
        K.write_keyed_table(base, path, ["k"], num_buckets=2,
                            gc_generations=10)                      # commit 1
        K.upsert_keyed_table(
            spark, path,
            spark.createDataFrame([(1, 111, "good")], "k long, v long, tag string"),
        )
        K.compact_keyed_table(spark, path)                          # commit 2
        good = {(r.k, r.v) for r in K.read_keyed_table(spark, path).collect()}
        # the bad generation: a compacted batch AND a pending MOR delta
        K.upsert_keyed_table(
            spark, path,
            spark.createDataFrame([(2, -999, "bad")], "k long, v long, tag string"),
        )
        K.compact_keyed_table(spark, path)                          # commit 3
        bad_seq = K.upsert_keyed_table(
            spark, path, _ups(spark, 3, -888),
        )["seq"]
        out = K.rollback_keyed_table(spark, path, to_commit=2)
        assert out["rolled_back_to"] == 2 and out["new_commit"] == 4
        got = {(r.k, r.v) for r in K.read_keyed_table(spark, path).collect()}
        assert got == good, "table is byte-for-byte the commit-2 state"
        # retired deltas never resurface; feed checkpoints past the
        # floor raise toward re-sync
        with pytest.raises(ValueError):
            K.read_keyed_changes(spark, path, since_seq=0)
        # new writes take fresh seqs ABOVE the retired ones
        nxt = K.upsert_keyed_table(spark, path, _ups(spark, 5, 55))
        assert nxt["seq"] > bad_seq
        assert K.read_keyed_table(spark, path).filter("k = 5").first().v == 55
        # the skipped generation stays time-travel-readable (retention
        # permitting) — and the rollback itself can be rolled back
        tt = K.read_keyed_table(spark, path, at_commit=3)
        assert {(r.k, r.v) for r in tt.filter("k = 2").collect()} == {(2, -999)}
        K.compact_keyed_table(spark, path)                          # commit 5
        K.rollback_keyed_table(spark, path, to_commit=4)
        assert {(r.k, r.v) for r in K.read_keyed_table(spark, path).collect()} == good
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_rollback_refusals(spark):
    tmp = tempfile.mkdtemp(prefix="keyed_rb_ref_")
    mpath = f"{tmp}/tab"
    try:
        base = spark.range(10).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
            F.lit("m").alias("tag"),
        )
        K.write_keyed_table(base, mpath, ["k"], num_buckets=2,
                            gc_generations=10)
        # a pending MOR delta, then an evolution commit that records it
        K.upsert_keyed_table(spark, mpath, _ups(spark, 1, 11))
        wide = spark.createDataFrame(
            [(2, 22, "e", 0.1)], "k long, v long, tag string, score double"
        )
        K.upsert_keyed_table(spark, mpath, wide, evolve_schema=True)
        n_evolve = K._current_commit(spark, mpath)["n"]
        with pytest.raises(ValueError, match="pending MOR deltas"):
            K.rollback_keyed_table(spark, mpath, to_commit=n_evolve)
        with pytest.raises(ValueError, match="gc_generations"):
            K.rollback_keyed_table(spark, mpath, to_commit=77)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
