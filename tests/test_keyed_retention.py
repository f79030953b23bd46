"""Change-feed retention across compaction (round 13, verdict #4).

Before this round :func:`compact_keyed_table` dropped the folded seq
dirs outright, so any change-feed consumer slower than the compaction
cadence hard-raised toward a full re-sync — at 100 TB a re-sync is a
full-table read. Now compaction retires the folded dirs into
``_feed_archive/gen=<max_seq>`` and keeps the newest
``retain_generations`` (default 1) of them feed-readable: the slow
consumer pages through exactly the batches it missed. This is the
Delta/Hudi incremental-read retention knob re-expressed on plain
directories.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import hadoop_20_warehouse_fix_spark.sources.keyed as K


def _mk(spark) -> str:
    tmp = tempfile.mkdtemp(prefix="keyed_ret_")
    path = f"{tmp}/tab"
    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v"),
        F.lit("base").alias("tag"),
    )
    K.write_keyed_table(base, path, ["k"], num_buckets=2)
    return path


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
    """Generations age out: with the default retain_generations=1 only
    the newest fold is readable; older checkpoints raise toward
    re-sync with the retention knob named."""
    path = _mk(spark)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))  # seq 1
        K.compact_keyed_table(spark, path)                                 # gen 1
        K.upsert_keyed_table(spark, path, _ups(spark, 2, 22))  # seq 2
        K.compact_keyed_table(spark, path)                                 # gen 2; gen 1 GC'd
        gens = os.listdir(os.path.join(path, K._FEED_ARCHIVE))
        assert gens == ["gen=2"], f"only the newest generation retained: {gens}"
        # seq 2 still drains from the archive
        got = K.read_keyed_changes(spark, path, since_seq=1).collect()
        assert [(r.k, r._seq) for r in got] == [(2, 2)]
        # seq 1 aged out → the contract error names the knob
        with pytest.raises(ValueError, match="retain_generations"):
            K.read_keyed_changes(spark, path, since_seq=0)
    finally:
        _cleanup(path)


def test_retain_zero_restores_drop_on_fold(spark):
    path = _mk(spark)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))
        K.compact_keyed_table(spark, path, retain_generations=0)
        assert not os.path.exists(os.path.join(path, K._FEED_ARCHIVE))
        with pytest.raises(ValueError, match="compacted into the base"):
            K.read_keyed_changes(spark, path, since_seq=0)
    finally:
        _cleanup(path)


def test_retain_many_keeps_multiple_generations(spark):
    path = _mk(spark)
    try:
        for i, (k, v) in enumerate([(1, 11), (2, 22), (3, 33)], start=1):
            K.upsert_keyed_table(spark, path, _ups(spark, k, v))
            K.compact_keyed_table(spark, path, retain_generations=3)
        gens = sorted(os.listdir(os.path.join(path, K._FEED_ARCHIVE)))
        assert gens == ["gen=1", "gen=2", "gen=3"]
        got = K.read_keyed_changes(spark, path, since_seq=0).collect()
        assert {(r.k, r._seq) for r in got} == {(1, 1), (2, 2), (3, 3)}
    finally:
        _cleanup(path)


def test_reload_purges_archive(spark):
    """A re-load replaces the table wholesale: the archive is the OLD
    generation's history — a checkpointed consumer must re-sync, not
    page through rows the new base never contained."""
    path = _mk(spark)
    try:
        K.upsert_keyed_table(spark, path, _ups(spark, 1, 11))
        K.compact_keyed_table(spark, path)
        assert os.path.exists(os.path.join(path, K._FEED_ARCHIVE))
        fresh = spark.range(5).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("v"),
            F.lit("g2").alias("tag"),
        )
        K.write_keyed_table(fresh, path, ["k"], num_buckets=2)
        assert not os.path.exists(os.path.join(path, K._FEED_ARCHIVE))
        with pytest.raises(ValueError):
            K.read_keyed_changes(spark, path, since_seq=0)
    finally:
        _cleanup(path)


def test_replay_ledger_survives_one_compaction(spark):
    """Round-12 ADVICE adjunct: a checkpointed stream restarting right
    after a compaction replays its last committed batch — the ingest-key
    markers now ride into the archive, so the replay is detected for one
    compaction cadence instead of committing a duplicate delta."""
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
    """Archived deltas predate an evolution: the explicit evolved
    schema reads them with NULL for the new column."""
    path = _mk(spark)
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
    recorded in the manifest overlaid from wherever they now live."""
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
        # the delta as pending), then a compaction folds it to archive
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
        # k=50 delta (pending at publish, since folded to the archive)
        # is overlaid — but the k=60 evolving batch is post-commit
        tt = K.read_keyed_table(spark, path, at_commit=n_evolve)
        assert "score" in tt.columns
        assert tt.filter(F.col("k") == 50).first().v == 555, \
            "pre-evolution pending delta overlaid from the archive"
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
    """Deltas aged past retention and GC'd manifests refuse with the
    responsible knob named."""
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
        # with retention OFF: the time-travel overlay is gone
        K.upsert_keyed_table(spark, mpath, _ups(spark, 1, 11))
        wide = spark.createDataFrame(
            [(2, 22, "e", 1.5)], "k long, v long, tag string, score double"
        )
        K.upsert_keyed_table(spark, mpath, wide, evolve_schema=True)
        n_evolve = K._current_commit(spark, mpath)["n"]
        K.compact_keyed_table(spark, mpath, retain_generations=0)
        with pytest.raises(ValueError, match="retain_generations"):
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
