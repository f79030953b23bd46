"""Keyed-table commit protocol (round 12, brief #6; the only protocol
since the per-bucket rename protocol was retired) — no rename on any
committed path. Readers resolve bucket data
through the highest ``_commits/commit-<n>.json`` manifest and count a
delta seq dir only once its ``_COMMITTED`` marker exists, so the crash
matrix is: kill BEFORE the manifest/marker PUT → old state, garbage
GC'd by recovery; PUT landed → new state, complete by construction."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.sources import keyed as K
from hadoop_20_warehouse_fix_spark.sources.keyed import (
    apply_changes_keyed_table,
    compact_keyed_table,
    delete_from_keyed_table,
    lookup_keys,
    read_keyed_table,
    upsert_keyed_table,
    write_keyed_table,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _marker_table(spark, **layout):
    tmp = tempfile.mkdtemp(prefix="keyed_marker_")
    path = f"{tmp}/tab"
    base = spark.range(2_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("base").alias("tag")
    )
    write_keyed_table(base, path, ["k"], num_buckets=8, **layout)
    return path


@pytest.fixture()
def marker(spark):
    path = _marker_table(spark)
    yield path
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


@pytest.fixture()
def ranged(spark):
    """Range layout, 20 buckets of 100 keys: compacting a batch of a
    few keys rewrites at most a tenth of them."""
    path = _marker_table(spark, layout="range", range_step=100)
    yield path
    shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)


def _ups(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, tag string")


def test_marker_lifecycle_matches_python_fold(spark, ranged):
    """The full lifecycle — upsert, change batch, tombstone, resolved
    read, compaction, point lookup — answers exactly what a plain dict
    fold of the same operations does. The table keeps NO
    kb= dirs at the root (all data in hidden versioned dirs +
    manifest)."""
    marker = ranged
    want = {k: (2 * k, "base") for k in range(2_000)}
    upsert_keyed_table(
        spark, marker, _ups(spark, [(3, 33, "ups"), (4_000, 1, "ins")])
    )
    want.update({3: (33, "ups"), 4_000: (1, "ins")})
    apply_changes_keyed_table(spark, marker, _ups(spark, [(5, 55, "chg")]))
    want[5] = (55, "chg")
    out = delete_from_keyed_table(
        spark, marker, spark.createDataFrame([(7,)], "k long")
    )
    assert out["deletes"] == 1
    del want[7]
    rows = {(k, v, tag) for k, (v, tag) in want.items()}
    assert _rows(read_keyed_table(spark, marker)) == rows
    assert len(rows) == 2_000  # +1 insert -1 delete
    assert compact_keyed_table(spark, marker)["deltas_folded"] == 3
    assert _rows(read_keyed_table(spark, marker)) == rows
    look = lookup_keys(spark, marker, [3, 5, 7, 4_000, 999_999])
    assert _rows(look) == {r for r in rows if r[0] in (3, 5, 7, 4_000, 999_999)}
    assert look.count() == 3  # 7 deleted, 999999 absent
    # layout: nothing at the root resolves by dir presence
    names = set(os.listdir(marker))
    assert not any(n.startswith("kb=") for n in names)
    assert "_commits" in names
    assert any(n.startswith("_b") and ".v" in n for n in names)


def test_marker_mor_crash_matrix(spark, marker):
    """Kill between delta data write and _COMMITTED → the batch is
    invisible (read AND replay ledger), recovery GCs the dir, and the
    retried batch with the SAME idempotency key really commits. Marker
    present → complete."""
    out = apply_changes_keyed_table(
        spark, marker, _ups(spark, [(1, 111, "u")]), idempotency_key="b1"
    )
    seq_dir = f"{marker}/_delta/seq={out['seq']}"
    n_live = read_keyed_table(spark, marker).count()
    # simulate the crash: data + ingest marker on disk, _COMMITTED not
    os.remove(f"{seq_dir}/{K._COMMITTED_MARK}")
    assert read_keyed_table(spark, marker).filter("k = 1").first().v == 2
    assert K._delta_ingest_keys(spark, marker) == {}
    gc = K.recover_keyed_table(spark, marker)
    assert gc["gc_deltas"] == [f"seq={out['seq']}"]
    assert not os.path.exists(seq_dir)
    # the retry is NOT swallowed as a replay
    out2 = apply_changes_keyed_table(
        spark, marker, _ups(spark, [(1, 111, "u")]), idempotency_key="b1"
    )
    assert not out2.get("replayed")
    assert read_keyed_table(spark, marker).filter("k = 1").first().v == 111
    assert read_keyed_table(spark, marker).count() == n_live
    # and now the replay IS swallowed
    out3 = apply_changes_keyed_table(
        spark, marker, _ups(spark, [(1, 111, "u")]), idempotency_key="b1"
    )
    assert out3.get("replayed") and out3["seq"] == out2["seq"]


def test_marker_cow_crash_before_flip_preserves_old_state(spark, ranged, monkeypatch):
    """Kill a compaction between the staged-bucket moves and the
    manifest PUT: the table answers from the OLD manifest with the
    delta still pending; recovery GCs the moved-but-unreferenced dirs;
    re-running the compaction succeeds cleanly."""
    marker = ranged
    upsert_keyed_table(
        spark, marker, _ups(spark, [(2, 222, "u"), (9_999, 9, "ins")])
    )
    before = _rows(read_keyed_table(spark, marker))
    cm_before = K._current_commit(spark, marker)
    real = K._write_commit

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before manifest PUT")

    monkeypatch.setattr(K, "_write_commit", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_keyed_table(spark, marker)
    assert K._current_commit(spark, marker) == cm_before
    assert _rows(read_keyed_table(spark, marker)) == before, "old state intact"
    monkeypatch.setattr(K, "_write_commit", real)
    gc = K.recover_keyed_table(spark, marker)
    assert gc["gc_buckets"], "moved-but-unreferenced dirs collected"
    assert compact_keyed_table(spark, marker)["deltas_folded"] == 1
    assert _rows(read_keyed_table(spark, marker)) == before
    after = read_keyed_table(spark, marker)
    assert after.filter("k = 2").first().v == 222
    assert after.count() == 2_001


def test_marker_unreferenced_garbage_is_gc_not_read(spark, ranged):
    """A stray versioned dir (crash after flip, before best-effort
    deletes) is never read — resolution is manifest-only — and the
    sweep removes it. Old manifests are bounded to current+previous."""
    marker = ranged
    stray = f"{marker}/_b3.v99"
    os.makedirs(stray)
    shutil.copy(
        next(
            f"{marker}/{d}/{f}"
            for d in os.listdir(marker)
            if d.startswith("_b")
            for f in os.listdir(f"{marker}/{d}")
            if f.endswith(".parquet")
        ),
        f"{stray}/part-0.parquet",
    )
    assert read_keyed_table(spark, marker).count() == 2_000  # stray invisible
    gc = K.recover_keyed_table(spark, marker)
    assert "_b3.v99" in gc["gc_buckets"] and not os.path.exists(stray)
    # manifest GC: several compactions leave at most 2 commit files
    for i in range(4):
        upsert_keyed_table(spark, marker, _ups(spark, [(i, -i, "x")]))
        assert compact_keyed_table(spark, marker)["deltas_folded"] == 1
    commits = [f for f in os.listdir(f"{marker}/_commits") if f.startswith("commit-")]
    assert len(commits) <= 2


def test_marker_reload_replaces_table(spark, marker):
    """A re-load (write_keyed_table over the live marker table) fully
    replaces buckets, deltas, and meta — prior keys are gone even when
    the new load touches fewer buckets."""
    upsert_keyed_table(spark, marker, _ups(spark, [(1, -1, "m")]))
    fresh = spark.range(10).select(F.col("id").alias("k"), F.lit(0).alias("v"), F.lit("n").alias("tag"))
    write_keyed_table(fresh, marker, ["k"], num_buckets=2)
    got = read_keyed_table(spark, marker)
    assert got.count() == 10
    assert K._delta_seq_dirs(spark, marker) == []
    meta = K.read_keyed_meta(spark, marker)
    assert meta["num_buckets"] == 2 and meta["commit"] == "marker"


def test_marker_cdc_stream_ingest(spark, marker, tmp_path):
    """The CDC streaming path (apply_changes single mixed append) runs
    unchanged on a marker table, replay-safe end-to-end."""
    from hadoop_20_warehouse_fix_spark.streaming.ingest import (
        stream_keyed_upsert_ingest,
    )

    land = tmp_path / "land"
    land.mkdir()
    spark.createDataFrame(
        [(1, 10, "s", None), (5, None, None, "delete"), (30_001, 7, "new", None)],
        "k long, v long, tag string, op string",
    ).coalesce(1).write.json(str(land / "b0"))
    stream = (
        spark.readStream.schema("k long, v long, tag string, op string")
        .option("maxFilesPerTrigger", 1)
        .json(str(land / "*"))
    )
    stream_keyed_upsert_ingest(
        stream, marker, str(tmp_path / "ckpt"), op_col="op", compact_every=4
    )
    got = read_keyed_table(spark, marker)
    assert got.count() == 2_000  # -1 +1
    assert got.filter("k = 1").first().v == 10
    assert got.filter("k = 5").count() == 0
    assert got.filter("k = 30001").first().tag == "new"


def test_marker_gc_grace_keeps_previous_generation_readable(spark, ranged):
    """An in-flight reader that resolved the PREVIOUS manifest just
    before a flip must still find every dir it lists: superseded dirs
    survive exactly one more publish, then go."""
    marker = ranged

    def publish(v, tag):  # one compacted batch = one manifest flip
        upsert_keyed_table(spark, marker, _ups(spark, [(1, v, tag)]))
        compact_keyed_table(spark, marker)

    publish(-1, "g1")
    cm_prev = K._current_commit(spark, marker)  # the manifest a reader might hold
    publish(-2, "g2")
    # every dir the held manifest references still exists (grace)
    for d in cm_prev["buckets"].values():
        assert os.path.exists(f"{marker}/{d}"), f"grace violated for {d}"
    # ...and a read through that held manifest still answers
    dirs = [f"{marker}/{d}" for d in cm_prev["buckets"].values()]
    assert spark.read.parquet(*dirs).count() == 2_000
    # one more publish retires the old generation
    publish(-3, "g3")
    cm_now = K._current_commit(spark, marker)
    live_and_prev = set(cm_now["buckets"].values())
    gone = [
        d for d in cm_prev["buckets"].values()
        if d not in live_and_prev and os.path.exists(f"{marker}/{d}")
    ]
    # dirs superseded two generations ago and re-superseded since are gone
    retired = [d for d in cm_prev["buckets"].values() if d not in live_and_prev]
    # the bucket holding k=1 was rewritten twice more; its g1-era dir is retired
    assert any(not os.path.exists(f"{marker}/{d}") for d in retired) or not retired
    assert read_keyed_table(spark, marker).filter("k = 1").first().v == -3


def test_lease_release_is_ownership_checked(spark, marker):
    """Round-12 review: a writer that outlived its TTL must not delete
    its successor's fresh lease on exit; a live lease blocks the public
    recovery sweep (which GCs dirs a mid-publish writer still needs)."""
    import time

    lock = os.path.join(marker, K._WRITER_LOCK)
    old_token = K._acquire_writer_lock(spark, marker, 60.0)
    # TTL passes; a successor breaks the lease and takes its own
    past = time.time() - 120
    os.utime(lock, (past, past))
    new_token = K._acquire_writer_lock(spark, marker, 60.0)
    assert os.path.exists(lock)
    # the zombie's release presents its stale token: must be a no-op
    K._release_writer_lock(spark, marker, old_token)
    assert os.path.exists(lock), "successor's lease survived the zombie release"
    # recovery refuses while the lease is live
    with pytest.raises(K.KeyedTableLockedError):
        K.recover_keyed_table(spark, marker)
    K._release_writer_lock(spark, marker, new_token)
    assert not os.path.exists(lock)
    K.recover_keyed_table(spark, marker)  # lease free: sweep runs


def test_marker_reload_meta_flips_atomically(spark, marker, monkeypatch):
    """A re-load that changes the layout embeds the NEW meta in the
    commit manifest PUT: even when the root-meta cache write crashes,
    readers resolve the new buckets through the new bucketing math."""
    fresh = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"), F.lit("n").alias("tag")
    )
    real = K._write_meta

    def boom(*a, **kw):
        raise RuntimeError("crash before root-meta cache write")

    monkeypatch.setattr(K, "_write_meta", boom)
    with pytest.raises(RuntimeError, match="root-meta"):
        write_keyed_table(fresh, marker, ["k"], num_buckets=2)
    monkeypatch.setattr(K, "_write_meta", real)
    meta = K.read_keyed_meta(spark, marker)
    assert meta["num_buckets"] == 2, "embedded meta wins over the stale root cache"
    got = read_keyed_table(spark, marker)
    assert got.count() == 50 and got.filter("k = 7").first().v == 21
    found = lookup_keys(spark, marker, [7, 49, 1_999])
    assert {r.k for r in found.collect()} == {7, 49}  # old keys gone


@pytest.mark.parametrize("legacy", [None, "rename"])
def test_legacy_rename_table_refused_untouched(spark, tmp_path, legacy):
    """A table in the retired rename protocol's on-disk form (plain
    kb=<b> partition dirs, meta without a commit tag or tagged
    "rename") is refused at read_keyed_meta with a message naming the
    protocol and the conversion — by reads, upserts and compactions
    alike — and nothing on disk changes."""
    path = str(tmp_path / "legacy")
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("old").alias("tag")
    )
    df.withColumn(K.BUCKET_COL, F.pmod(F.xxhash64("k"), F.lit(4)).cast("int")).write.partitionBy(
        K.BUCKET_COL
    ).parquet(path)
    meta = {
        "key_cols": ["k"], "num_buckets": 4, "data_cols": df.columns,
        "schema_json": df.schema.json(), "layout": "hash", "range_step": None,
        "sort_cols": [],
    }
    if legacy is not None:
        meta["commit"] = legacy
    with open(os.path.join(path, K._META), "w") as f:
        json.dump(meta, f)

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(path):
            for name in files:
                if name.endswith(".parquet") or name == K._META:
                    full = os.path.join(root, name)
                    with open(full, "rb") as f:
                        out[full] = f.read()
        return out

    before = snapshot()
    assert sum(p.endswith(".parquet") for p in before) >= 4
    refusal = "retired per-bucket rename commit protocol.*write_keyed_table into a new path"
    with pytest.raises(ValueError, match=refusal):
        read_keyed_table(spark, path)
    with pytest.raises(ValueError, match=refusal):
        upsert_keyed_table(spark, path, _ups(spark, [(1, -1, "x")]))
    with pytest.raises(ValueError, match=refusal):
        delete_from_keyed_table(spark, path, spark.createDataFrame([(1,)], "k long"))
    with pytest.raises(ValueError, match=refusal):
        compact_keyed_table(spark, path)
    assert snapshot() == before
    # no lease, staging, delta or commit dir left behind either
    assert not [
        n for n in os.listdir(path)
        if n.startswith(("_writer", "_staging", "_delta", "_commits", "_b"))
    ]


def test_reload_retires_old_deltas_atomically(spark, marker, monkeypatch):
    """Second review pass: a re-load over a table with pending deltas
    must not lose them on a crash BEFORE the flip (old generation stays
    whole) nor let them override the new rows AFTER it (delta_floor in
    the flipped meta hides them); seq numbering continues past the
    floor so feed checkpoints never alias across re-loads."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import read_keyed_changes

    upsert_keyed_table(spark, marker, _ups(spark, [(1, -1, "old-delta")]))
    fresh = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0).alias("v"), F.lit("g2").alias("tag")
    )
    real = K._write_commit

    def boom(*a, **kw):
        raise RuntimeError("crash before manifest flip")

    monkeypatch.setattr(K, "_write_commit", boom)
    with pytest.raises(RuntimeError):
        write_keyed_table(fresh, marker, ["k"], num_buckets=2)
    # old generation intact INCLUDING its pending delta
    assert read_keyed_table(spark, marker).filter("k = 1").first().v == -1
    monkeypatch.setattr(K, "_write_commit", real)
    write_keyed_table(fresh, marker, ["k"], num_buckets=2)
    got = read_keyed_table(spark, marker)
    assert got.count() == 10 and got.filter("k = 1").first().v == 0, \
        "old delta retired by the flip, not resurrected over the new table"
    # seq numbering continues past the retired generation
    out = upsert_keyed_table(spark, marker, _ups_small(spark, [(3, 33, "n")]))
    assert out["seq"] >= 2, "floor keeps seqs monotonic across re-loads"
    with pytest.raises(ValueError, match="compacted into the base"):
        read_keyed_changes(spark, marker, since_seq=0)


def _ups_small(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, tag string")


def test_reader_meta_and_buckets_from_one_commit(spark, marker):
    """read_keyed_meta stashes the commit manifest it resolved, and
    _base_df lists THAT commit's dirs — a concurrent re-load between
    the two reads cannot mismatch bucketing math and dir set."""
    meta = K.read_keyed_meta(spark, marker)
    assert meta.get("_commit"), "marker meta carries its commit snapshot"
    # a re-load lands a new generation; the OLD snapshot still resolves
    # (grace retention) and serves the OLD table, consistently
    fresh = spark.range(7).select(
        F.col("id").alias("k"), F.lit(9).alias("v"), F.lit("g2").alias("tag")
    )
    write_keyed_table(fresh, marker, ["k"], num_buckets=2)
    old_view = K._base_df(spark, marker, meta)
    assert old_view.count() == 2_000, "snapshot reads stay on their generation"
    assert K.read_keyed_table(spark, marker).count() == 7
    # private snapshot never leaks into serialized metadata
    import json as _json

    root_meta = _json.loads(open(os.path.join(marker, "_keyed_meta.json")).read())
    assert not any(k.startswith("_") for k in root_meta)


def test_schema_evolution_marker_protocol(spark, marker):
    """Evolution on a marker table is one commit-manifest PUT (same
    buckets, evolved embedded meta): old rows read NULL, the evolved
    column survives compaction, and the root meta cache may lag without
    affecting readers."""
    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        apply_changes_keyed_table,
        compact_keyed_table,
        read_keyed_meta,
        read_keyed_table,
    )

    wide = spark.createDataFrame(
        [(5, 55, "e", True)], "k long, v long, tag string, flag boolean"
    )
    n_before = len(os.listdir(f"{marker}/_commits"))
    apply_changes_keyed_table(spark, marker, wide, evolve_schema=True)
    assert read_keyed_meta(spark, marker)["data_cols"] == ["k", "v", "tag", "flag"]
    tab = read_keyed_table(spark, marker)
    assert tab.filter("k = 5").first().flag is True
    assert tab.filter("k = 6").first().flag is None
    compact_keyed_table(spark, marker)
    tab2 = read_keyed_table(spark, marker)
    assert tab2.filter("k = 5").first().flag is True and tab2.count() == 2_000
